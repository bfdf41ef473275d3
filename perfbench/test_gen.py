"""The seeded generators: the same seed gives byte-identical inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import io

import pyarrow.parquet as pq

import gen


def _digest(table) -> str:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return hashlib.sha256(buf.getvalue()).hexdigest()


def _probe_digests(seed: int, out_dir) -> list[str]:
    out_dir.mkdir()
    paths, rows, bad = gen.probe_files(seed, 3, 500, 60, str(out_dir), stream_offset=1)
    assert rows == 1500 and 0 < bad < rows
    return [hashlib.sha256(open(p, "rb").read()).hexdigest() for p in paths]


def test_probe_files_repeat_byte_for_byte(tmp_path) -> None:
    a = _probe_digests(7, tmp_path / "a")
    assert a == _probe_digests(7, tmp_path / "b")
    assert a != _probe_digests(8, tmp_path / "c")


def test_customer_table_repeats(tmp_path) -> None:
    assert _digest(gen.customer_table(7, 50)) == _digest(gen.customer_table(7, 50))


def test_index_corpus_repeats_and_differs_per_seed() -> None:
    docs = gen.index_corpus(7, 300)
    assert _digest(docs) == _digest(gen.index_corpus(7, 300))
    assert _digest(gen.index_corpus(8, 300)) != _digest(docs)
    assert docs.schema == gen.DOCS_SCHEMA and docs.num_rows == 300


def test_query_sets_repeat_and_mix_head_and_tail() -> None:
    sets = gen.query_sets(7, 3, 5)
    assert sets == gen.query_sets(7, 3, 5)
    assert sets != gen.query_sets(8, 3, 5)
    head = set(gen.COMMON_WORDS)
    for qs in sets:
        assert sorted(qs) == list(range(5))
        for terms in qs.values():
            assert 2 <= len(terms) <= 4 and len(set(terms)) == len(terms)
            assert any(t in head for t in terms) and any(t not in head for t in terms)
