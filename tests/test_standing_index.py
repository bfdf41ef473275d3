"""The shared standing-index core (operators/standing_index.py) and the
sinks' maintenance verbs as every family sees them: a remote path fails
loudly instead of finding nothing while a ``file:`` URI works, a crashed
fold or delete is finished by whichever verb runs next on the index, and
the image family holds the text index's doc_id contract at any batch
size."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from nqs_console_flink_window_spark.operators import audio_index as AI
from nqs_console_flink_window_spark.operators import image_index as II
from nqs_console_flink_window_spark.operators import multimodal as MM
from nqs_console_flink_window_spark.operators import retrieval as RT
from nqs_console_flink_window_spark.operators import similarity as SIM
from nqs_console_flink_window_spark.operators import standing_index as SI
from nqs_console_flink_window_spark.operators import video_index as VI
from nqs_console_flink_window_spark.sinks import versioned as V
from nqs_console_flink_window_spark.sinks import writers as W
from tests.crash_points import crash_at

_MAINTENANCE = {
    "ivf_index_delete": lambda s, p: SIM.ivf_index_delete(s, p, [1]),
    "image_index_delete": lambda s, p: II.image_index_delete(s, p, [1]),
    "audio_index_delete": lambda s, p: AI.audio_index_delete(s, p, [1]),
    "video_index_delete": lambda s, p: VI.video_index_delete(s, p, [1]),
    "compact_ivf_index": SIM.compact_ivf_index,
    "compact_image_index": II.compact_image_index,
    "compact_streamed_ivf_index": lambda s, p: SIM.compact_streamed_ivf_index(s, p, 1),
    "compact_streamed_image_index": lambda s, p: II.compact_streamed_image_index(s, p, 1),
    "drop_expired_partitions": lambda s, p: W.drop_expired_partitions(p, "d"),
    "compact_partition": lambda s, p: W.compact_partition(
        s, p, "d", "2024-01-01", target_files=1
    ),
    "compact_batch_landings": lambda s, p: W.compact_batch_landings(s, p, 1),
    "latest_version": lambda s, p: V.latest_version(p),
}


@pytest.mark.parametrize("remote", ["hdfs://nn/idx", "s3a://bucket/idx"])
@pytest.mark.parametrize("verb", sorted(_MAINTENANCE))
def test_maintenance_verbs_reject_remote_paths(spark, verb, remote) -> None:
    """A local listing of a remote index sees nothing, so a compliance
    delete would return having deleted nothing and a compaction would
    report no dirs; the path must raise, naming itself."""
    with pytest.raises(ValueError, match=remote):
        _MAINTENANCE[verb](spark, remote)


def test_sink_maintenance_acts_on_file_uris(spark, tmp_path) -> None:
    """The same verbs given a ``file://`` URI act on the local table: an
    expired day partition is dropped, two landed batches and a
    fragmented day partition each fold to one file, and a table at
    version 0 reports version 0 (each of them found nothing before)."""
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    ttl = tmp_path / "ttl"
    for day in ("2000-01-01", "2024-01-01"):
        rows.write.mode("append").parquet(str(ttl / f"d={day}"))
    assert W.drop_expired_partitions(
        ttl.as_uri(), "d", keep_months=3, today=date(2024, 2, 1)
    ) == ["d=2000-01-01"]
    assert [p.name for p in ttl.iterdir()] == ["d=2024-01-01"]

    landed = tmp_path / "landed"
    for b in range(2):
        W.idempotent_batch_write(rows, str(landed), b)
    assert W.compact_batch_landings(spark, landed.as_uri(), 2) == 1
    assert [p.name for p in landed.iterdir()] == ["batch_id=-1"]
    assert spark.read.parquet(str(landed)).count() == 4

    facts = tmp_path / "facts"
    for _ in range(3):
        W.write_facts(rows.withColumn("d", F.lit("2024-01-01")), str(facts), "d")
    assert W.compact_partition(
        spark, facts.as_uri(), "d", "2024-01-01", target_files=1
    ) == 1
    assert spark.read.parquet(str(facts)).count() == 6

    table = tmp_path / "versioned"
    V.commit_version(rows, table.as_uri())
    assert V.latest_version(table.as_uri()) == 0
    assert V.read_version(spark, table.as_uri()).count() == 2


_VOCAB = ["query", "window", "dup", "fast", "merge", "scan", "sort", "agg"]


def _docs(spark, ids):
    return spark.createDataFrame(
        [
            (i, " ".join(_VOCAB[(i + j) % len(_VOCAB)] + str(i % 3)
                         for j in range(3 + i % 5)))
            for i in ids
        ],
        "doc_id long, text string",
    )


def _text_state(spark, idx):
    """Postings, doclen and stats, without the batch ids that say which
    landing wrote a row."""
    for p in (idx, f"{idx}.doclen", f"{idx}.stats"):
        spark.catalog.refreshByPath(p)
    return (
        sorted(tuple(r) for r in spark.read.parquet(idx)
               .select("tbucket", "token", "doc_id", "tf").collect()),
        sorted(tuple(r) for r in spark.read.parquet(f"{idx}.doclen")
               .select("doc_id", "dl").collect()),
        [tuple(r) for r in spark.read.parquet(f"{idx}.stats").collect()],
    )


def _image_state(spark, idx):
    spark.catalog.refreshByPath(idx)
    return sorted(
        (r["doc_id"], r["band"], r["bv"], r["bband"])
        for r in II.read_image_index(spark, idx).collect()
    )


_FAMILIES = {
    # name: (build, ingest, compact, delete, state)
    "text": (
        lambda s, ids, p: RT.build_text_index(s, _docs(s, ids), p),
        lambda s, ids, p: RT.text_index_ingest_batch(s, _docs(s, ids), 0, p),
        RT.compact_text_index,
        RT.text_index_delete,
        _text_state,
    ),
    "image": (
        lambda s, ids, p: II.build_image_index(
            s, MM.documents_as_images(_docs(s, ids)), p
        ),
        lambda s, ids, p: II.image_index_ingest_batch(
            s, MM.documents_as_images(_docs(s, ids)), 0, p
        ),
        II.compact_image_index,
        II.image_index_delete,
        _image_state,
    ),
}


@pytest.mark.parametrize("first", ["fold", "delete"])
@pytest.mark.parametrize(
    "family, root", [("text", ""), ("text", ".doclen"), ("image", "")]
)
def test_fold_and_delete_finish_each_others_crash(
    spark, tmp_path, family, root, first
) -> None:
    """One verb crashes on one root of an index (the postings or image
    bands at the index root, or the doclen sidecar), and the other verb
    runs next:

    - ``fold``: a compaction dies after moving its new generation in,
      before unlinking its inputs; then a delete runs.  The delete must
      finish the fold first, or every other row of a folded slice stays
      on disk twice;
    - ``delete``: a delete dies just past its manifest commit; then a
      compaction runs, and the delete is retried.  The compaction must
      finish the delete first, or the delete's staged pre-fold slices
      come back beside the fold's output, duplicating rows and bringing
      deleted ids back.

    Either way the index must equal a fresh build of the surviving docs."""
    build, ingest, compact, delete, state = _FAMILIES[family]
    idx = str(tmp_path / "idx")
    build(spark, range(6), idx)
    ingest(spark, range(6, 12), idx)
    gone = [1, 2, 4]  # build-slice docs only: a batch slice stays untouched
    where = f"{idx}{root}/"
    if first == "fold":
        with crash_at("before_unlink", where):
            compact(spark, idx)
        delete(spark, idx, gone)
    else:
        with crash_at("after_commit", where):
            delete(spark, idx, gone)
        compact(spark, idx)
        delete(spark, idx, gone)
    fresh = str(tmp_path / "fresh")
    build(spark, [i for i in range(12) if i not in gone], fresh)
    assert state(spark, idx) == state(spark, fresh)


def test_image_index_rejects_bool_and_null_doc_ids(spark, tmp_path) -> None:
    """The image twin of ``test_text_index_rejects_bool_and_null_doc_ids``:
    a boolean media id (the band extractor would cast it to 0/1) and a
    NULL doc_id on either side of ``_FRESH_PROBE_INLIST`` raise the
    contract error before anything lands."""
    idx = str(tmp_path / "imgidx_bad_ids")
    bad = "NULL or non-integer doc_id"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    bools = MM.documents_as_images(docs).withColumn(
        "media_id", F.col("media_id") == 1
    )
    with pytest.raises(ValueError, match=bad):
        II.image_index_ingest_batch(spark, bools, 0, idx)
    for n in (3, SI._FRESH_PROBE_INLIST + 1):
        bands = spark.range(n).selectExpr(
            f"CASE WHEN id = {n // 2} THEN NULL ELSE id END AS doc_id",
            "0 AS band",
            "CAST(id AS BIGINT) AS bv",
            "0 AS bband",
        )
        with pytest.raises(ValueError, match=bad):
            II._assert_fresh_image_ids(bands, idx, "image_index_ingest_batch")
    assert not (tmp_path / "imgidx_bad_ids").exists()
