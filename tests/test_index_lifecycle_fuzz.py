"""Index lifecycle FUZZ (round 9): the individual maintenance transitions
(ingest, delete, compact) are each pytest-pinned, but their INTERLEAVINGS
were not — a randomized (seeded, shrinking) op sequence now drives each
index and asserts the standing invariants after every step:

- text index (whose ops include batch appends): stats is exactly
  f(doclen) at all times; the maintained
  index answers BM25 identically to a fresh build on the live corpus
  (scores INCLUDING N/T/df reconverge after any op mix); no leftover
  maintenance machinery (the rewrite's staging dir or manifest) after a
  completed verb.
- IVF-PQ index: the maintained codes index answers identically to a fresh
  ingest of the live corpus through the SAME persisted quantizers (the
  maintenance == rebuild-with-frozen-quantizers contract); the codes row
  count tracks the live set exactly.

Example counts are small (each op is a Spark job) — hypothesis's value is
the interleaving coverage and shrinking, not volume."""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nqs_console_flink_window_spark.operators import retrieval as RT
from nqs_console_flink_window_spark.operators import similarity as SIM
from nqs_console_flink_window_spark.sinks import writers as W

# an op is (verb, selector); the selector picks which ids a delete targets
# or which slice an ingest lands, so shrinking finds minimal failing mixes
def _ops(*verbs):
    return st.lists(
        st.tuples(st.sampled_from(list(verbs)),
                  st.integers(min_value=0, max_value=9)),
        min_size=2,
        max_size=6,
    )


_OPS = _ops("ingest", "delete", "compact")
# the text index also takes batch appends, which land below the build
_TEXT_OPS = _ops("ingest", "append", "delete", "compact")

_VOCAB = ["query", "window", "dup", "fast", "merge", "scan", "sort", "agg"]


def _doc_text(i: int) -> str:
    # deterministic, varied, includes the BM25 query terms
    return " ".join(_VOCAB[(i + j) % len(_VOCAB)] for j in range(3 + i % 5))


def _docs_df(spark, ids):
    return spark.createDataFrame(
        [(int(i), _doc_text(int(i))) for i in sorted(ids)],
        "doc_id long, text string",
    )


def _stats_is_f_of_doclen(spark, path: str) -> None:
    srow = spark.read.parquet(f"{path}.stats").collect()
    assert len(srow) == 1
    import pathlib

    if any(pathlib.Path(f"{path}.doclen").rglob("*.parquet")):
        dl = spark.read.parquet(f"{path}.doclen")
        n, t = dl.count(), (dl.agg(F.sum("dl")).first()[0] or 0)
    else:
        n, t = 0, 0
    assert (srow[0]["n_docs"], srow[0]["t_tok"]) == (n, t)


def _no_maintenance_leftovers(path: str) -> None:
    """No rewrite staging dir or manifest (nor its tmp file) is left
    anywhere under ``path`` once a verb has returned."""
    import pathlib

    root = pathlib.Path(path)
    if not root.exists():
        return
    leftovers = [
        p
        for p in root.rglob("*")
        if p.name.startswith((W.REWRITE_STAGING, W.REWRITE_MANIFEST))
    ]
    assert not leftovers, leftovers


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_TEXT_OPS)
def test_text_index_lifecycle_interleavings(spark, ops) -> None:
    base = tempfile.mkdtemp(prefix="fuzz_text_idx_")
    try:
        idx = f"{base}/index"
        live: set[int] = set()
        next_batch = 0
        next_id = 0
        for verb, sel in [("ingest", 0), *ops]:  # always start landed
            if verb in ("ingest", "append"):
                new_ids = list(range(next_id, next_id + 4 + sel % 3))
                next_id = new_ids[-1] + 1
                if verb == "ingest":
                    RT.text_index_ingest_batch(
                        spark, _docs_df(spark, new_ids), next_batch, idx
                    )
                    next_batch += 1
                else:
                    RT.text_index_append(spark, idx, _docs_df(spark, new_ids))
                live |= set(new_ids)
            elif verb == "delete":
                if live:
                    victims = sorted(live)[:: (sel % 3) + 1][: 1 + sel % 4]
                    RT.text_index_delete(spark, idx, victims)
                    live -= set(victims)
            else:  # compact everything committed so far
                RT.compact_streamed_text_index(spark, idx, next_batch - 1)
            spark.catalog.refreshByPath(f"{idx}.doclen")
            _stats_is_f_of_doclen(spark, idx)
            _no_maintenance_leftovers(base)

        if live:
            fresh = f"{base}/fresh"
            RT.build_text_index(spark, _docs_df(spark, live), fresh)
            got = [
                tuple(r) for r in RT.bm25_topk_indexed(spark, idx).collect()
            ]
            want = [
                tuple(r) for r in RT.bm25_topk_indexed(spark, fresh).collect()
            ]
            assert got == want
        else:
            # emptied text index stays queryable too (zero results)
            assert RT.bm25_topk_indexed(spark, idx).count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _vecs_df(spark, ids):
    # deterministic low-dim-structured vectors in the fixture's 64-dim space
    rows = [
        (
            int(i),
            [float(((i * 37 + d * 11) % 19) - 9) / 9.0 for d in range(64)],
        )
        for i in sorted(ids)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_ivfpq_index_lifecycle_interleavings(spark, ops) -> None:
    base = tempfile.mkdtemp(prefix="fuzz_ivfpq_idx_")
    try:
        idx = f"{base}/index"
        seed_ids = list(range(40))
        SIM.ivfpq_fit(_vecs_df(spark, seed_ids), idx)
        live: set[int] = set()
        next_batch = 0
        next_id = 0
        qvec = [float(x) for x in _vecs_df(spark, [999]).first()["embedding"]]
        for verb, sel in [("ingest", 0), *ops]:
            if verb == "ingest":
                new_ids = list(range(next_id, next_id + 5 + sel % 4))
                next_id = new_ids[-1] + 1
                SIM.ivfpq_index_ingest_batch(
                    spark, _vecs_df(spark, new_ids), next_batch, idx
                )
                live |= set(new_ids)
                next_batch += 1
            elif verb == "delete":
                if live:
                    victims = sorted(live)[:: (sel % 3) + 1][: 1 + sel % 4]
                    SIM.ivf_index_delete(spark, idx, victims)
                    live -= set(victims)
            else:
                SIM.compact_streamed_ivf_index(spark, idx, next_batch - 1)
            spark.catalog.refreshByPath(idx)
            assert (
                SIM._read_index_or_empty(
                    spark, idx, "vec_id bigint, pq_code array<int>, cell int"
                ).count()
                == len(live)
            )
            _no_maintenance_leftovers(base)

        if not live:
            # a fully-emptied index must stay QUERYABLE (zero results),
            # not raise on schema inference — the fuzz-found round-9 bug
            vecs0 = _vecs_df(spark, range(3))
            assert (
                SIM.ivfpq_topk_indexed(spark, idx, vecs0, qvec, k=5).count()
                == 0
            )
        if live:
            # rebuild-with-frozen-quantizers: re-ingest the live set into a
            # fresh path carrying COPIES of the same persisted quantizers
            fresh = f"{base}/fresh"
            shutil.copytree(f"{idx}.centroids", f"{fresh}.centroids")
            shutil.copytree(f"{idx}.codebooks", f"{fresh}.codebooks")
            SIM.ivfpq_index_ingest_batch(spark, _vecs_df(spark, live), 0, fresh)
            vecs = _vecs_df(spark, live)
            got = [
                tuple(r)
                for r in SIM.ivfpq_topk_indexed(
                    spark, idx, vecs, qvec, k=5
                ).collect()
            ]
            want = [
                tuple(r)
                for r in SIM.ivfpq_topk_indexed(
                    spark, fresh, vecs, qvec, k=5
                ).collect()
            ]
            assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _media_df(spark, ids):
    """Deterministic mixed-format images via the fixture adapter — the
    texts vary enough that distinct ids are nowhere near Hamming-3."""
    from nqs_console_flink_window_spark.operators import multimodal as MM

    rows = [
        (int(i), " ".join(_VOCAB[(i + j) % len(_VOCAB)] + str(i * 7 + j) for j in range(9)))
        for i in sorted(ids)
    ]
    return MM.documents_as_images(
        spark.createDataFrame(rows, "doc_id long, text string")
    )


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_image_index_lifecycle_interleavings(spark, ops) -> None:
    """The third index family (round 10) under the same randomized
    interleaving gate: band rows track the live set exactly (DHASH_BANDS
    per image) after every verb, no maintenance leftovers, maintained ==
    fresh-re-ingest parity at the end, and an emptied index stays
    probe-able through the dedup gate."""
    from nqs_console_flink_window_spark.operators import image_index as II
    from nqs_console_flink_window_spark.operators.multimodal import DHASH_BANDS

    base = tempfile.mkdtemp(prefix="fuzz_image_idx_")
    try:
        idx = f"{base}/index"
        live: set[int] = set()
        next_batch = 0
        next_id = 0
        for verb, sel in [("ingest", 0), *ops]:
            if verb == "ingest":
                new_ids = list(range(next_id, next_id + 4 + sel % 3))
                next_id = new_ids[-1] + 1
                II.image_index_ingest_batch(
                    spark, _media_df(spark, new_ids), next_batch, idx
                )
                live |= set(new_ids)
                next_batch += 1
            elif verb == "delete":
                if live:
                    victims = sorted(live)[:: (sel % 3) + 1][: 1 + sel % 4]
                    II.image_index_delete(spark, idx, victims)
                    live -= set(victims)
            else:
                II.compact_streamed_image_index(spark, idx, next_batch)
            spark.catalog.refreshByPath(idx)
            assert (
                II.read_image_index(spark, idx).count()
                == DHASH_BANDS * len(live)
            )
            _no_maintenance_leftovers(base)

        probe = _media_df(spark, [100000])
        if live:
            # maintained == fresh re-ingest of the live set: identical
            # band ROWS (the probe surface is a pure function of them)
            fresh = f"{base}/fresh"
            II.image_index_ingest_batch(spark, _media_df(spark, live), 0, fresh)
            got = sorted(
                (r["doc_id"], r["band"], r["bv"], r["bband"])
                for r in II.read_image_index(spark, idx).collect()
            )
            want = sorted(
                (r["doc_id"], r["band"], r["bv"], r["bband"])
                for r in II.read_image_index(spark, fresh).collect()
            )
            assert got == want
        else:
            # emptied index stays probe-able: the gate keeps everything
            kept, _ = II.incremental_image_dedup(
                spark, probe, II.read_image_index(spark, idx)
            )
            assert [r["doc_id"] for r in kept.collect()] == [100000]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _video_fuzz_text(i: int) -> str:
    """The image fuzz text rule (varied, far beyond Hamming-3 across ids),
    long enough that most clips carry 2-3 content frames."""
    return " ".join(
        _VOCAB[(i + j) % len(_VOCAB)] + str(i * 7 + j) for j in range(16)
    )


def _video_media_df(spark, ids):
    from nqs_console_flink_window_spark.operators import multimodal as MM

    rows = [(int(i), _video_fuzz_text(i)) for i in sorted(ids)]
    return MM.documents_as_videos(
        spark.createDataFrame(rows, "doc_id long, text string")
    )


def _video_rows_of(text: str) -> int:
    """Expected band rows for one clip — DHASH_BANDS per CONTENT frame
    (the uniqueness contract under variable rows per doc)."""
    from nqs_console_flink_window_spark.operators import multimodal as MM

    return sum(
        MM.DHASH_BANDS
        for f in range(MM.VIDEO_FRAMES)
        if any(
            MM.dhash_bands_from_grid(
                MM._fixture_grid_at(text, f * MM.VIDEO_FRAME_STRIDE)
            )
        )
    )


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_video_index_lifecycle_interleavings(spark, ops) -> None:
    """The fourth index family (round 10 — the image verbs over the
    frame-augmented band space) under the same randomized interleaving
    gate: band rows track the live set's CONTENT FRAMES exactly after
    every verb (variable rows per doc), no maintenance leftovers,
    maintained == fresh-re-ingest parity at the end, and an emptied index
    stays probe-able through the aligned-frame dedup gate."""
    from nqs_console_flink_window_spark.operators import video_index as VI

    base = tempfile.mkdtemp(prefix="fuzz_video_idx_")
    try:
        idx = f"{base}/index"
        live: set[int] = set()
        next_batch = 0
        next_id = 0
        for verb, sel in [("ingest", 0), *ops]:
            if verb == "ingest":
                new_ids = list(range(next_id, next_id + 4 + sel % 3))
                next_id = new_ids[-1] + 1
                VI.video_index_ingest_batch(
                    spark, _video_media_df(spark, new_ids), next_batch, idx
                )
                live |= set(new_ids)
                next_batch += 1
            elif verb == "delete":
                if live:
                    victims = sorted(live)[:: (sel % 3) + 1][: 1 + sel % 4]
                    VI.video_index_delete(spark, idx, victims)
                    live -= set(victims)
            else:
                VI.compact_streamed_video_index(spark, idx, next_batch)
            spark.catalog.refreshByPath(idx)
            assert VI.read_video_index(spark, idx).count() == sum(
                _video_rows_of(_video_fuzz_text(i)) for i in live
            )
            _no_maintenance_leftovers(base)

        if live:
            fresh = f"{base}/fresh"
            VI.video_index_ingest_batch(
                spark, _video_media_df(spark, live), 0, fresh
            )
            got = sorted(
                (r["doc_id"], r["band"], r["bv"], r["bband"])
                for r in VI.read_video_index(spark, idx).collect()
            )
            want = sorted(
                (r["doc_id"], r["band"], r["bv"], r["bband"])
                for r in VI.read_video_index(spark, fresh).collect()
            )
            assert got == want
        else:
            # emptied index stays probe-able: the gate keeps everything
            kept, _ = VI.incremental_video_dedup(
                spark,
                _video_media_df(spark, [100000]),
                VI.read_video_index(spark, idx),
            )
            assert [r["doc_id"] for r in kept.collect()] == [100000]
    finally:
        shutil.rmtree(base, ignore_errors=True)
