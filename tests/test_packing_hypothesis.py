"""Property-based packing tests: for arbitrary token-count corpora the SQL
window-assignment core (evaluated by DuckDB, the oracle engine) must match a
pure-Python reference packer exactly — coverage, boundaries, and window ids.
Spark-vs-SQL parity is covered separately (tests/test_extensions.py), so
the engine under test here is the shared arithmetic itself."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from nqs_console_flink_window_spark.functions import dialect as X
from nqs_console_flink_window_spark.operators.packing import pack_assignment_sql
from tests import bpe_reference as BPE_REF

L = 256


def python_pack(n_toks: list[int], length: int = L):
    rows = []
    off = 0
    for doc_id, n in enumerate(n_toks):
        if n <= 0:
            continue
        for w in range(off // length, (off + n - 1) // length + 1):
            start = max(off, w * length)
            end = min(off + n, (w + 1) * length)
            rows.append((w, doc_id, start - off, end - start, start - w * length))
        off += n
    return sorted(rows)


# heavy tail: many tiny docs, some window-sized, some spanning many windows
_NTOKS = st.lists(
    st.one_of(
        st.integers(min_value=1, max_value=30),
        st.sampled_from([L - 1, L, L + 1, 2 * L, 5 * L + 3]),
        st.integers(min_value=0, max_value=3),  # incl. zero-token rows
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=80, deadline=None)
@given(n_toks=_NTOKS)
def test_pack_assignment_matches_python_reference(n_toks) -> None:
    con = duckdb.connect()
    vals = ", ".join(f"({i}, {n})" for i, n in enumerate(n_toks))
    sized = f"(SELECT * FROM (VALUES {vals}) AS t(doc_id, n_toks))"
    got = sorted(
        tuple(r) for r in con.execute(pack_assignment_sql(X.DUCK, sized, L)).fetchall()
    )
    want = python_pack(n_toks)
    assert got == want

    # invariants the training loader relies on
    by_window: dict[int, int] = {}
    for w, _doc, _from, n_in, w_off in got:
        assert 0 < n_in <= L and 0 <= w_off < L
        by_window[w] = by_window.get(w, 0) + n_in
    if by_window:
        last = max(by_window)
        for w, tot in by_window.items():
            assert tot == L or w == last
        # windows are dense: every id up to the last exists
        assert set(by_window) == set(range(last + 1))


@settings(max_examples=25, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=2, max_size=8), min_size=1, max_size=12
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
def test_bpe_fold_matches_python_on_random_words(spark, words, n_merges) -> None:
    """Property: the aggregate-HOF merge fold and the pure-Python trainer
    agree on arbitrary small vocabularies — including degenerate ones
    (every word identical, overlapping pairs like 'aaaa')."""
    from nqs_console_flink_window_spark.operators import selection as SEL

    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    got = SEL.bpe_train(spark, docs, n_merges=n_merges)
    from collections import Counter

    freqs = Counter(w for w in words if len(w) >= 2)
    assert got == BPE_REF.bpe_train_reference(dict(freqs), n_merges=n_merges)
