"""Sinks (SURVEY §2.1 S2-S7): partitioned columnar writes with the reference
storage semantics mapped onto parquet.

ClickHouse semantics -> Spark:
- ``PARTITION BY test_time_d`` day partitions  -> ``partitionBy(date_col)``
- ``sipHash64(key)`` shard routing             -> ``repartition(n, key)``
  before write (co-locates a key's rows in one file; at cluster scale this
  is the shuffle that replaces CH's distributed-table fan-out)
- ReplacingMergeTree(create_time) dedup        -> ``dedup_last_write_wins``
  applied on read or on compaction (A5)
- 3-month TTL                                  -> ``drop_expired_partitions``
- per-record JDBC insert (S3)                  -> deliberately NOT mapped:
  batch-append only (per-row writes are an anti-pattern in Spark)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid
from datetime import date, timedelta
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_facts(
    df: DataFrame,
    out_dir: str,
    date_col: str,
    shard_key: str | None = None,
    shards: int = 0,
    mode: str = "append",
) -> None:
    """S2 — day-partitioned bulk append (ProbeWindowSink et al.).

    ``shards`` > 0 re-shuffles on ``shard_key`` first — the sipHash64 shard
    analogue; leave 0 to keep the upstream partitioning (no extra shuffle).
    """
    if shards > 0 and shard_key:
        df = df.repartition(shards, F.col(shard_key))
    df.write.mode(mode).partitionBy(date_col).parquet(out_dir)


def write_facts_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str | None = None,
    batchsize: int = 10_000,
    max_connections: int | None = None,
) -> None:
    """S3/S5 — the reference's relational landing path (MySQL/ClickHouse via
    MyBatis ``insertList`` — sink/ProbeHeartbeatSink.java:41-51,
    nqs-gen GwDataServiceImpl.java:32-51) behind the same facts API.

    Spark-first shape: ONE ``format('jdbc')`` batch write, not per-record
    inserts (the S3 anti-pattern stays unmapped).  ``batchsize`` is the
    executor-side addBatch/executeBatch chunk — the ``insertList`` analogue;
    ``max_connections`` maps to the JDBC writer's ``numPartitions`` option,
    which caps concurrent connections so a 1000-executor cluster cannot
    open 1000 sessions against one database (the classic JDBC-sink scale
    failure) — the option form confines the narrowing to the write stage,
    where an explicit ``coalesce`` could propagate reduced parallelism
    upstream into the preceding computation.  Day-partitioning/TTL are the
    database's job on this path (the reference's ClickHouse DDL), not the
    writer's."""
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "READ_COMMITTED")
    )
    if max_connections and max_connections > 0:
        w = w.option("numPartitions", str(max_connections))
    if driver:
        w = w.option("driver", driver)
    w.mode(mode).save()


def idempotent_batch_write(
    df: DataFrame, base_dir: str, batch_id: int, partition_cols: tuple[str, ...] = ()
) -> None:
    """S2 exactly-once-ish landing for foreachBatch sinks: each micro-batch
    owns (and overwrites) the ``batch_id=<id>`` subpath, so an at-least-once
    replay of the same batch cannot double-append.  Readers see batch_id as
    a discovered partition column and project it away."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(f"{base_dir}/batch_id={batch_id}")


def local_fs_path(path: str) -> Path:
    """``path`` as a local ``pathlib.Path`` (a ``file:`` URI is accepted).
    Any other URI scheme (``hdfs://``, ``s3a://``...) raises, naming the
    path: every listing and file move in ``sinks`` is a local filesystem
    call, which would find nothing there and silently do nothing."""
    u = urlparse(path)
    if u.scheme == "":
        return Path(path)
    if u.scheme == "file":
        return Path(unquote(u.path))
    raise ValueError(
        f"{path!r}: only local filesystem paths are supported (a local "
        f"listing cannot see a {u.scheme}:// filesystem)"
    )


def drop_expired_partitions(out_dir: str, date_col: str, keep_months: int = 3,
                            today: date | None = None) -> list[str]:
    """TTL enforcement as a partition-drop job (DDL `TTL ... + INTERVAL 3
    MONTH`) — metadata-only deletes, no data rewrite."""
    today = today or date.today()
    cutoff = today - timedelta(days=math.ceil(keep_months * 30.44))
    dropped = []
    root = local_fs_path(out_dir)
    if not root.exists():
        return dropped
    for part in root.glob(f"{date_col}=*"):
        val = part.name.split("=", 1)[1]
        try:
            part_date = date.fromisoformat(val)
        except ValueError:
            continue
        if part_date < cutoff:
            shutil.rmtree(part)
            dropped.append(part.name)
    return dropped


def kafka_payload(df: DataFrame) -> DataFrame:
    """S6 — the outbound "data saved" message: whole row as JSON `value`
    (AbstractDataParser.java:146-159).  Attach to
    ``.writeStream.format('kafka')`` in a real deployment."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


COMPACTED_GEN = -1  # reserved batch_id for compacted history
_FOLD_BYTES = 128 * 1024 * 1024  # a rewrite writes one file per this much input
# The one staged-commit protocol's names under a dataset root (``_rewrite``).
# Both are hidden from Spark's listing (a leading "." or "_").
REWRITE_STAGING = ".rewrite-staging"
REWRITE_MANIFEST = "_rewrite-manifest.json"


def _settle(root: Path) -> None:
    """Settle whatever rewrite a crash left under ``root``.  Every fold and
    delete runs this before it lists anything, so each verb finishes the
    others' crashed work, whichever verb crashed.

    A readable manifest was committed only after its staging was
    complete, so it is re-applied: always a roll forward.  None, or an
    unreadable one, means nothing was applied; only the staging dir and
    the manifest go.  The staging dir of a concurrent dynamic-overwrite
    landing (``.spark-staging-*``) is not this protocol's and is left
    alone."""
    man = root / REWRITE_MANIFEST
    if man.is_file():
        try:
            spec = json.loads(man.read_text())
        except ValueError:  # torn: the commit never happened
            spec = None
        if spec:
            _apply(root, spec)
    shutil.rmtree(root / REWRITE_STAGING, ignore_errors=True)
    man.unlink(missing_ok=True)
    Path(f"{man}.tmp").unlink(missing_ok=True)


def _apply(root: Path, spec: dict) -> None:
    """Apply a committed manifest.  Each step is idempotent, so a crash
    anywhere is finished by running it again: move the staged files in
    under their stamped names, unlink exactly the listed inputs (a file
    that landed after the snapshot survives), and remove the dirs this
    left empty.  A staged file found neither in staging nor at its
    destination raises before anything is unlinked."""
    staging = root / REWRITE_STAGING
    lost = [
        dst
        for src, dst in spec["staged"]
        if not (staging / src).exists() and not (root / dst).exists()
    ]
    if lost:
        raise RuntimeError(
            f"rewrite manifest {root / REWRITE_MANIFEST}: staged files "
            f"{lost} are neither staged nor in place; no input was unlinked"
        )
    for src, dst in spec["staged"]:
        if (staging / src).exists():
            (root / dst).parent.mkdir(parents=True, exist_ok=True)
            (staging / src).rename(root / dst)
    for rel in spec["inputs"]:
        f = root / rel
        f.unlink(missing_ok=True)
        (f.parent / f".{f.name}.crc").unlink(missing_ok=True)
        # a dir holding only Spark's write residue is gone for readers:
        # remove it, and each parent it leaves empty, up to the root
        d = f.parent
        while root in d.parents and d.is_dir():
            rest = list(d.iterdir())
            if not all(p.name == "_SUCCESS" or p.suffix == ".crc" for p in rest):
                break
            for p in rest:
                p.unlink()
            d.rmdir()
            d = d.parent


def _read_snapshot(spark, root: Path, files: list[Path]) -> DataFrame:
    """Exactly ``files``, carrying the partition columns of their dirs
    under ``root``: a file that lands later is not read."""
    return spark.read.option("basePath", str(root)).parquet(*map(str, files))


def _num_rows(f: Path) -> int:
    """A parquet file's row count, from its footer alone."""
    import pyarrow.parquet as pq

    return pq.read_metadata(f).num_rows


def _rewrite(
    spark,
    root: Path,
    inputs: list[Path],
    df: DataFrame,
    partition_cols: list[str],
    target_bytes: float,
) -> list[str]:
    """THE crash-safe rewrite behind every fold and delete: replace the
    parquet files ``inputs`` under ``root`` with ``df``'s rows,
    partitioned by ``partition_cols`` as the inputs are, with about one
    file per ``target_bytes`` of input (at least one) in each partition.
    The caller settles ``root`` before listing ``inputs``.  Returns the
    new files' paths, relative to ``root``.

    1. Stage: ``df`` is written under ``REWRITE_STAGING``, which Spark
       never lists.
    2. Commit: ``REWRITE_MANIFEST`` lists each staged file with its
       destination, and each input to unlink, all relative to ``root``.
       It is written to a tmp file, fsynced, then renamed into place.
       An empty staged list is a valid commit: a delete that empties
       every partition it touches.
    3. Apply: ``_settle`` runs the committed manifest exactly as a
       restart after a crash would (``_apply``).

    A crash before the rename leaves the dataset as it was; a crash after
    it is rolled forward by the next fold or delete on ``root``."""
    staging = root / REWRITE_STAGING
    nbytes = sum(f.stat().st_size for f in inputs)
    rows = sum(_num_rows(f) for f in inputs)
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max(1, math.ceil(rows * target_bytes / nbytes)))
        .partitionBy(*partition_cols)
        .parquet(str(staging))
    )
    stamp = uuid.uuid4().hex[:12]
    staged = sorted(p.relative_to(staging) for p in staging.rglob("*.parquet"))
    spec = {
        "staged": [
            [str(s), str(s.parent / f"compact-{stamp}-{i:05d}.parquet")]
            for i, s in enumerate(staged)
        ],
        "inputs": [str(f.relative_to(root)) for f in inputs],
    }
    man = root / REWRITE_MANIFEST
    tmp = Path(f"{man}.tmp")
    with open(tmp, "w") as fh:
        json.dump(spec, fh)
        fh.flush()
        os.fsync(fh.fileno())  # content durable BEFORE the rename commits it
    tmp.rename(man)  # the commit point
    _settle(root)
    spark.catalog.refreshByPath(str(root))
    return [dst for _, dst in spec["staged"]]


def compact_partition(
    spark, out_dir: str, date_col: str, part_value: str, target_files: int = 1
) -> int:
    """Small-file compaction for one day partition: streaming appends leave
    one file per micro-batch; periodic compaction rewrites the partition to
    ``target_files`` files — the ClickHouse background-merge analogue,
    scheduled instead of implicit.

    Safe next to a live streaming writer: the input file list is
    snapshotted before the rewrite, which reads and unlinks exactly that
    snapshot, so a file appended concurrently is never read, never
    deleted, and the partition directory never disappears.  Crash-safe
    through ``_rewrite``.

    Returns the number of files after compaction.
    """
    import glob as _glob

    root = local_fs_path(out_dir)
    part = root / f"{date_col}={part_value}"
    # settle a crashed rewrite BEFORE the snapshot: its roll-forward
    # unlinks files the listing would include
    _settle(root)
    inputs = sorted(Path(f) for f in _glob.glob(f"{part}/*.parquet"))
    if len(inputs) > target_files:
        # a byte target that the rewrite turns into target_files files
        nbytes = sum(f.stat().st_size for f in inputs)
        _rewrite(
            spark, root, inputs, _read_snapshot(spark, root, inputs),
            [date_col], nbytes / (target_files - 0.5),
        )
    return len(list(part.glob("*.parquet")))


def _below(slice_dir: Path, upto_batch_id: int) -> bool:
    v = slice_dir.name.split("=", 1)[1]
    return v.lstrip("-").isdigit() and int(v) < upto_batch_id


def fold_landings(
    spark, root: str, upto_batch_id: int, key: str | None
) -> dict[str, int]:
    """Fold every ``batch_id=N`` slice below ``upto_batch_id`` into the
    reserved ``batch_id=-1`` generation beside it: under ``root`` itself
    when ``key`` is None, else under each ``<key>=K`` dir, all in one
    ``_rewrite``.  A dir whose slices are already folded, or hold no
    row, is left as it is, so a fold with nothing to do rewrites nothing.
    Returns each dir's file count in its generation, by dir name."""
    base = local_fs_path(root)
    # settle BEFORE listing: a roll-forward unlinks files a listing
    # would otherwise hand to this fold
    _settle(base)
    dirs = sorted(d for d in base.glob(f"{key}=*") if d.is_dir()) if key else [base]
    gen = f"batch_id={COMPACTED_GEN}"
    inputs: list[Path] = []
    for d in dirs:
        files = sorted(
            f
            for s in d.glob("batch_id=*")
            if _below(s, upto_batch_id)
            for f in s.glob("*.parquet")
        )
        folded = all(f.parent.name == gen for f in files) and len(files) <= max(
            1, math.ceil(sum(f.stat().st_size for f in files) / _FOLD_BYTES)
        )
        # an empty micro-batch lands a 0-row file; a dir of nothing else
        # would fold to no file at all, and the table would lose its schema
        if not folded and any(_num_rows(f) for f in files):
            inputs += files
    if inputs:
        df = _read_snapshot(spark, base, inputs).withColumn(
            "batch_id", F.lit(COMPACTED_GEN)
        )
        _rewrite(
            spark, base, inputs, df, [key, "batch_id"] if key else ["batch_id"],
            _FOLD_BYTES,
        )
    return {d.name: len(list((d / gen).glob("*.parquet"))) for d in dirs}


def compact_batch_landings(spark, base_dir: str, upto_batch_id: int) -> int:
    """Small-file maintenance for batch_id-keyed landing tables (the dedup
    index / curation output, the standing indexes' sidecars): fold every
    ``batch_id`` subpath below ``upto_batch_id`` into the reserved
    ``batch_id=-1`` compacted generation (folding any previous generation
    in, and the standing indexes' append slices at -2, -3, ...); the
    merged subpaths disappear.  One file per ~128 MB of merged data.

    Correctness contract (couples to streaming/jobs._read_prior_batches):
    - The ``batch_id < current`` exclusion rule keeps working unchanged —
      the -1 generation is below every real batch id, so derived state
      (index reads, token carries) sees identical rows before and after.
    - ``upto_batch_id`` MUST be at or below the stream's committed
      watermark: a batch the checkpoint might replay must keep owning its
      subpath (a replay overwrites ``batch_id=N``; if N were already folded
      into -1 the replay would double-count).  Passing the max batch id
      that a RUNNING query has committed is safe; the simplest safe call
      site is "while the stream is stopped, compact everything landed".
    - Fresh-checkpoint restarts that intentionally re-ingest from batch 0
      must reset the landing table too (same rule as before compaction —
      re-owning subpaths cannot reclaim rows folded into -1).

    Crash-safe through ``_rewrite``: a fold that dies at any step is
    settled by the next fold or delete on ``base_dir``, and no row is
    ever folded twice.

    Returns the number of files in the compacted generation.
    """
    (n,) = fold_landings(spark, base_dir, upto_batch_id, None).values()
    return n


# max ids inlined as a pushed-down IN filter; above this the delete
# switches to semi/anti joins against a distributed id frame (same
# threshold role as retrieval._FRESH_PROBE_INLIST)
_DELETE_INLIST = 10_000


def delete_rows_partitioned(
    spark, path: str, key_col: str, ids, partition_cols: list[str]
) -> tuple[int, int]:
    """Compliance deletion core — remove every row whose ``key_col`` is in
    ``ids`` from a partitioned parquet dataset by TARGETED rewrite: only
    the partitions holding a hit are read back, and their files are
    replaced with the kept rows through ``_rewrite`` (crash-safe; a file
    that lands in an affected partition after the snapshot survives).  A
    partition left with no row disappears.  ``partition_cols`` names the
    dataset's partition columns, outermost first; an empty list raises.
    Returns (affected, emptied) partition counts.  Readers racing the
    apply step can see a partition mid-swap: deletion is an offline
    maintenance operation, exactly like compaction.

    Cost model: up to ``_DELETE_INLIST`` ids inline as an IN-list the
    scan pushes down to find hits (row-group min/max pruning — the
    right-to-be-forgotten shape, cost tracks the id batch); above it,
    the same ids become a distributed frame and every hit/keep filter
    switches to a semi/anti join (a 10M-literal IN would blow up the
    expression tree and defeat pushdown anyway — the bulk-delete
    shape).  Both forms rewrite only affected partitions.
    """
    if not partition_cols:
        raise ValueError(
            "delete_rows_partitioned: partition_cols is empty — the delete "
            "rewrites whole partitions, so the dataset must be partitioned"
        )
    # ids pass through as-is: isin() takes any literal type, so string
    # doc ids work unchanged (coercing via int() would silently constrain
    # the compliance key to integers)
    ids = list(ids)
    if len(ids) > _DELETE_INLIST:
        # distinct: a repeated id must not repeat semi-join hit rows
        # (affected-partition discovery would still dedup, but the keep
        # anti-join is cheaper against a deduped build side)
        ids_df = (
            spark.createDataFrame([(i,) for i in ids], [key_col]).distinct()
        )

        def _hits(d):
            return d.join(ids_df, key_col, "left_semi")

        def _keep(d):
            return d.join(ids_df, key_col, "left_anti")

    else:

        def _hits(d):
            return d.filter(F.col(key_col).isin(ids))

        def _keep(d):
            return d.filter(~F.col(key_col).isin(ids))

    root = local_fs_path(path)
    _settle(root)
    # a settle moves files behind Spark's FileIndex cache — refresh, or
    # the hit scan would plan against a stale listing
    spark.catalog.refreshByPath(str(root))
    hits = _hits(spark.read.parquet(str(root))).select(*partition_cols)
    dirs = [
        root.joinpath(*(f"{c}={v}" for c, v in zip(partition_cols, r)))
        for r in hits.distinct().collect()
    ]
    inputs = sorted(f for d in dirs for f in d.glob("*.parquet"))
    if not inputs:
        return (0, 0)
    kept = {
        str(Path(f).parent)
        for f in _rewrite(
            spark, root, inputs, _keep(_read_snapshot(spark, root, inputs)),
            partition_cols, _FOLD_BYTES,
        )
    }
    return (len(dirs), sum(str(d.relative_to(root)) not in kept for d in dirs))
