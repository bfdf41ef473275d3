"""The streaming micro-batch driver's edges: zero-row micro-batches, the
first-batch read of a batch_id landing table, and the crash-safe
partition compaction."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
from nqs_console_flink_window_spark.sinks import writers as W
from nqs_console_flink_window_spark.sources.batch import load_table, normalize_event_ts
from nqs_console_flink_window_spark.streaming import jobs as J

_DISPATCH = "CAST(value AS DOUBLE)"


def _one_file(df, dest: Path, mtime: float) -> None:
    """Land ``df`` as the single parquet file ``dest`` with mtime
    ``mtime`` (the file source takes files oldest first)."""
    tmp = dest.with_suffix(".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    (part,) = tmp.glob("*.parquet")
    shutil.move(part, dest)
    shutil.rmtree(tmp)
    os.utime(dest, (mtime, mtime))


def _docs_with_empty_middle_batch(spark, src: Path):
    """Three single-file micro-batches over the documents fixture: the
    lower doc_ids, a zero-row file, the upper doc_ids."""
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    cut = docs.count() // 2
    src.mkdir()
    _one_file(docs.filter(F.col("doc_id") < cut), src / "b0.parquet", 1e9)
    _one_file(docs.filter("false"), src / "b1.parquet", 1e9 + 60)
    _one_file(docs.filter(F.col("doc_id") >= cut), src / "b2.parquet", 1e9 + 120)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return docs, cut, stream


def _rows(spark, path) -> list[tuple]:
    return sorted(tuple(r) for r in spark.read.parquet(str(path)).drop("batch_id").collect())


def _committed(cp: Path) -> list[str]:
    return sorted(p.name for p in (cp / "commits").iterdir() if not p.name.startswith("."))


def test_incremental_dedup_stream_skips_empty_micro_batch(spark, tmp_path) -> None:
    docs, cut, stream = _docs_with_empty_middle_batch(spark, tmp_path / "src")
    kept, index, cp = tmp_path / "kept", tmp_path / "index", tmp_path / "cp"
    J.run_incremental_dedup_stream(spark, stream, str(kept), str(index), str(cp))

    assert _committed(cp) == ["0", "1", "2"]  # the empty batch ran and committed
    for landed in (kept, index):
        assert (landed / "batch_id=0").is_dir() and (landed / "batch_id=2").is_dir()
        assert not (landed / "batch_id=1").exists()

    # same rows as ingesting the two real batches back to back
    ref_kept, ref_index = tmp_path / "ref_kept", tmp_path / "ref_index"
    J.ingest_dedup_batch(spark, docs.filter(F.col("doc_id") < cut), 0, str(ref_kept), str(ref_index))
    J.ingest_dedup_batch(spark, docs.filter(F.col("doc_id") >= cut), 1, str(ref_kept), str(ref_index))
    assert _rows(spark, kept) == _rows(spark, ref_kept)
    assert _rows(spark, index) == _rows(spark, ref_index)


def test_packing_stream_skips_empty_micro_batch(spark, tmp_path) -> None:
    from nqs_console_flink_window_spark.functions import dialect as X
    from nqs_console_flink_window_spark.operators import packing as PK
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    _, _, stream = _docs_with_empty_middle_batch(spark, tmp_path / "src")
    out, cp = tmp_path / "packed", tmp_path / "cp"
    J.run_packing_stream(spark, stream, str(out), str(cp), length=PK.WINDOW_TOKENS)

    assert _committed(cp) == ["0", "1", "2"]
    assert (out / "batch_id=2").is_dir() and not (out / "batch_id=1").exists()
    register_temp_views(spark, SMOKE_SF_DIR, ("documents",))
    batch = sorted(tuple(r) for r in spark.sql(PK.pack_sequences_sql(X.SPARK)).collect())
    assert _rows(spark, out) == batch


def test_fact_stream_drains_empty_micro_batch(spark, tmp_path) -> None:
    """run_fact_stream does not probe for emptiness: a zero-row
    micro-batch runs its body, commits, and the next batch lands."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SMOKE_SF_DIR}/events.parquet")
    halves = [raw.filter(F.col("event_id") % 2 == i) for i in (0, 1)]
    sf = tmp_path / "sf"
    (sf / "events.parquet").mkdir(parents=True)
    shutil.copy(f"{SMOKE_SF_DIR}/customer.parquet", sf / "customer.parquet")
    out, cp = tmp_path / "out", tmp_path / "cp"
    # one run per file on one checkpoint: each file is its own micro-batch
    for i, df in enumerate([halves[0], raw.filter("false"), halves[1]]):
        _one_file(df, sf / "events.parquet" / f"part-{i}.parquet", 1e9 + 60 * i)
        J.run_fact_stream(spark, str(sf), str(out), str(cp), _DISPATCH)

    assert _committed(cp) == ["0", "1", "2"]
    cust = load_table(spark, SMOKE_SF_DIR, "customer")
    want = sorted(
        tuple(r)
        for h in halves
        for r in J.fact_transform(normalize_event_ts(h), cust, _DISPATCH).collect()
    )
    got = spark.read.parquet(str(out)).drop("batch_id", "w_date").collect()
    assert sorted(tuple(r) for r in got) == want


def test_read_prior_batches_missing_table_is_first_batch(spark, tmp_path) -> None:
    missing = tmp_path / "never_landed"
    assert J._read_prior_batches(spark, str(missing), 3) is None
    assert J._read_prior_batches(spark, missing.as_uri(), 3) is None


def test_read_prior_batches_raises_on_corrupt_landing(spark, tmp_path) -> None:
    """Only a missing table means "first batch": a corrupt file must raise,
    not silently reset the derived state."""
    bad = tmp_path / "landed" / "batch_id=0"
    bad.mkdir(parents=True)
    (bad / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        J._read_prior_batches(spark, str(tmp_path / "landed"), 1).collect()


def test_compact_partition_crash_recovery_never_duplicates(spark, tmp_path) -> None:
    """A compaction killed after moving the new file in but before
    unlinking its inputs leaves both copies and the committed rewrite
    manifest; the next compact_partition must settle that to the original
    rows, not fold the duplicates in for good."""
    from tests.crash_points import crash_at

    ev = load_table(spark, SMOKE_SF_DIR, "events").withColumn("d", F.to_date("ts"))
    out = str(tmp_path / "facts")
    for i in range(3):
        W.write_facts(ev.filter(F.col("event_id") % 3 == i), out, "d")
    day = "2024-01-03"
    part = Path(out) / f"d={day}"
    rows = spark.read.parquet(str(part)).count()
    assert len(list(part.glob("*.parquet"))) >= 3

    with crash_at("before_unlink"):
        W.compact_partition(spark, out, "d", day, target_files=1)
    assert (Path(out) / W.REWRITE_MANIFEST).exists()
    spark.catalog.refreshByPath(str(part))
    assert spark.read.parquet(str(part)).count() == 2 * rows  # the crash window

    assert W.compact_partition(spark, out, "d", day, target_files=1) == 1
    assert spark.read.parquet(str(part)).count() == rows
    assert not (Path(out) / W.REWRITE_MANIFEST).exists()


def test_compacting_only_empty_landings_keeps_the_table_readable(
    spark, tmp_path
) -> None:
    """An empty micro-batch lands a 0-row file that carries the schema.
    A table landed only from empty batches has no row to fold: compaction
    must leave it readable (zero rows, same schema), and fold the empty
    slices away once a batch with rows joins them."""
    rows = spark.createDataFrame([(1, "a")], "k int, v string")
    out = tmp_path / "landed"
    for b in range(2):
        W.idempotent_batch_write(rows.limit(0), str(out), b)
    W.compact_batch_landings(spark, str(out), 2)
    assert spark.read.parquet(str(out)).drop("batch_id").schema == rows.schema
    assert spark.read.parquet(str(out)).count() == 0

    W.idempotent_batch_write(rows, str(out), 2)
    assert W.compact_batch_landings(spark, str(out), 3) == 1
    assert [p.name for p in out.iterdir()] == ["batch_id=-1"]
    spark.catalog.refreshByPath(str(out))
    assert spark.read.parquet(str(out)).count() == 1
