"""The standing-index core: one lifecycle for every key-partitioned index.

Three index families persist as parquet partitioned by one key column:
the text inverted index by token bucket ``tbucket`` (retrieval.py), the
IVF / IVF-PQ vector indexes by ``cell`` (similarity.py), and the
image/audio/video band tables by ``bband`` (image_index.py, with
audio_index.py and video_index.py riding the image verbs).  Each family
keeps its own build, extraction and query code; the maintenance verbs
below are shared, parameterized by the partition-key name and the id
column.

Every index has one layout, ``<key>=K/batch_id=M/``: data lands in
(key, batch) slices, and a sidecar in ``batch_id=M`` slices.  The batch
id says who wrote a slice:

- a build lands ``batch_id=-1``, the compacted generation, with a static
  overwrite that replaces everything the path held (``land_build``);
- an append lands one below the lowest landed id: -2, -3, ...
  (``append_batch_id``);
- a stream lands its own micro-batch ids, from 0 up, with dynamic
  partition overwrite, so an at-least-once replay overwrites exactly
  its own slices instead of double-appending (``land_batch``).

A build is thus one landed batch and an append one more; each family's
append is a short caller of its ingest.  ``<key>`` is the top-level
partition, so a probe's key filter prunes at the file listing.

Every fold and delete commits through the one crash-safe rewrite in
``sinks.writers`` (``_rewrite``): its manifest lives at the index root,
and each sidecar's at the sidecar's own root, so a fold and a delete on
one index always see, and first finish, each other's crashed work.
Compaction (``compact_streamed``) folds every key dir's slices below the
committed watermark (the build, the appends and the committed stream
batches) into their ``batch_id=-1`` generation in one rewrite, and
inherits ``compact_batch_landings``' watermark-coupling and
replay-ownership contract; ``compact_all`` folds everything landed.
Deletion (``delete``) rewrites only the (key, batch) slices holding a
hit.  Both are pure layout changes: rows, the key encoding and pruning
hold.

Sidecars (the text index's ``<path>.doclen``) are per-row side tables,
folded and deleted from like a one-key index.

Every listing goes through ``sinks.writers.local_fs_path``: the listings
are local filesystem calls, which see nothing on a remote filesystem, so
a remote path raises instead of reading as an empty index (and a delete
silently deleting nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks.writers import (
    COMPACTED_GEN,
    compact_batch_landings,
    delete_rows_partitioned,
    fold_landings,
    local_fs_path,
)

_FRESH_PROBE_INLIST = 10_000  # max ids inlined as a pushed-down IN filter


def index_parquet_files(path: str) -> list:
    """Parquet files Spark's FileIndex would actually list under ``path``:
    underscore/dot-prefixed path segments (the rewrite's staging dir,
    metadata dirs) are invisible to Spark, so a crashed rewrite's
    staged files must not make an otherwise-emptied index look
    non-empty (the read would then fail schema inference at query
    time)."""
    root = local_fs_path(path)
    return [
        p
        for p in root.rglob("*.parquet")
        if not any(
            seg.startswith(("_", "."))
            for seg in p.relative_to(root).parts
        )
    ]


def _read_index_or_empty(spark, path: str, empty_schema: str) -> DataFrame:
    """Read an index, tolerating the FULLY-EMPTIED state: a delete of
    every row removes every partition dir, so spark.read cannot infer a
    schema from the bare root — an emptied index must stay queryable
    (zero results), not raise (the lifecycle fuzz's [ingest, delete-all,
    query] case).  Only the columns the readers consume need to exist on
    the empty frame."""
    if not index_parquet_files(path):
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(path)


def _key_dirs(path: str, key: str) -> list:
    """The ``<key>=<int>`` partition dirs under ``path``, sorted; a dir
    whose value is no integer is no partition and is skipped."""
    out = []
    for sub in sorted(local_fs_path(path).glob(f"{key}=*")):
        try:
            int(sub.name.split("=", 1)[1])
        except ValueError:
            continue
        out.append(sub)
    return out


def landed_batches(path: str) -> set[int] | None:
    """The batch ids with landed parquet under ``path/batch_id=*`` — a
    directory listing, never a data scan.  None when a slice dir is not
    batch_id-shaped (a foreign layout)."""
    ids: set[int] = set()
    for d in local_fs_path(path).glob("batch_id=*"):
        if not any(d.glob("*.parquet")):
            continue
        try:
            ids.add(int(d.name.split("=", 1)[1]))
        except ValueError:
            return None
    return ids


def _landed_ids(path: str, key: str, sidecars) -> set[int]:
    """Every batch id landed in any key dir or sidecar of the index."""
    ids: set[int] = set()
    for d in _key_dirs(path, key) + [f"{path}.{s}" for s in sidecars]:
        ids |= landed_batches(str(d)) or set()
    return ids


def append_batch_id(path: str, key: str, sidecars) -> int:
    """The id an append lands at: one below the lowest landed id, so -2
    after a build, then -3, ...  Stream ids start at 0, so an append and
    a running stream on one path never own the same slice."""
    return min(_landed_ids(path, key, sidecars) | {COMPACTED_GEN}) - 1


def compact_streamed(
    spark, path: str, key: str, upto_batch_id: int, sidecars=()
) -> dict[str, int]:
    """Fold each key dir's (and each sidecar's) landings below
    ``upto_batch_id`` (at or below the committed watermark) into the
    ``batch_id=-1`` generation: one rewrite for the key dirs, one per
    sidecar.  Returns ``{dir: file_count}``."""
    counts = fold_landings(spark, path, upto_batch_id, key)
    for s in sidecars:
        counts[s] = compact_batch_landings(spark, f"{path}.{s}", upto_batch_id)
    return counts


def compact_all(spark, path: str, key: str, sidecars=()) -> dict[str, int]:
    """``compact_streamed`` over everything landed: the build, every
    append and every stream batch.  Run it while no stream writes to
    ``path`` — a batch the checkpoint may still replay must keep its
    slice (``compact_batch_landings``)."""
    upto = max(_landed_ids(path, key, sidecars), default=COMPACTED_GEN) + 1
    return compact_streamed(spark, path, key, upto, sidecars)


def delete(spark, path: str, key: str, id_col: str, ids, sidecars=()) -> bool:
    """Compliance deletion: remove every row whose ``id_col`` is in
    ``ids`` by targeted rewrite of only the (key, batch_id) partitions
    (a sidecar's batch_id partitions) holding them; an emptied partition's
    dir disappears.  Idempotent and crash-convergent: each root's rewrite
    first settles any crashed fold or delete there.  Returns False when
    the index holds no data (nothing deleted)."""
    if not _landed_ids(path, key, ()):
        return False
    delete_rows_partitioned(spark, path, id_col, ids, [key, "batch_id"])
    for s in sidecars:
        delete_rows_partitioned(spark, f"{path}.{s}", id_col, ids, ["batch_id"])
    return True


def _writer(df: DataFrame, batch_id: int, key: str | None):
    """``df`` tagged with ``batch_id`` as an overwrite partitioned by
    ``key`` (when given) and ``batch_id``.  The write is key-aligned, one
    file per (key, batch) slice: unaligned, every shuffle task would
    write a sliver into every key dir, and every later pruned read and
    probe would list tasks x batches files per key."""
    df = df.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    if key:
        df = df.repartition(key)
    return df.write.mode("overwrite").partitionBy(
        *([key] if key else []), "batch_id"
    )


def land_build(df: DataFrame, path: str, key: str | None) -> None:
    """A build: ``df`` lands as the compacted generation
    ``<key>=<k>/batch_id=-1`` (``batch_id=-1`` for a sidecar, key None)
    with a static overwrite, which replaces everything ``path`` held."""
    _writer(df, COMPACTED_GEN, key).parquet(path)


def land_batch(df: DataFrame, batch_id: int, path: str, key: str | None) -> None:
    """One batch's replay-idempotent landing under
    ``<key>=<k>/batch_id=<n>`` (``batch_id=<n>`` for a sidecar, key None)
    with dynamic partition overwrite.  A sidecar slice is one file: the
    sidecar is read back every micro-batch, so its listing stays at one
    file per batch."""
    (
        _writer(df if key else df.coalesce(1), batch_id, key)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def _bad_id(where: str) -> ValueError:
    return ValueError(
        f"{where}: batch carries a NULL or non-integer doc_id — doc_id is "
        "the index's BIGINT key by contract (a NULL id cannot be "
        "freshness-probed and would land an unmatchable row)"
    )


def require_integer_ids(df: DataFrame, col: str, where: str) -> None:
    """The id column must be an integer type (BooleanType is not one:
    Python's bool is an int subclass, a boolean column is no key)."""
    from pyspark.sql.types import IntegralType

    if not isinstance(df.schema[col].dataType, IntegralType):
        raise _bad_id(where)


def assert_fresh_ids(
    batch: DataFrame,
    existing: DataFrame,
    where: str,
    exclude_batch_id: int | None = None,
    head: list | None = None,
) -> None:
    """The index's doc_id contract on an append/ingest ``batch`` (the
    family has already applied its own intra-batch duplicate rule): ids
    are non-NULL integers at any batch size, and none is in ``existing``
    — a re-ingested id would land its rows twice and double-count them
    in every later score or probe.

    For a bounded batch (<= ``_FRESH_PROBE_INLIST`` distinct ids) the ids
    collect into an IN-list predicate the parquet scan pushes down and
    prunes with row-group min/max stats, so the probe cost tracks the
    batch, not the index; above it, a semi-join.  ``head`` is the
    batch's first ``_FRESH_PROBE_INLIST + 1`` ids when the caller has
    collected them already.  ``exclude_batch_id`` exempts rows the caller
    is about to overwrite (a replay re-lands its own slices)."""
    require_integer_ids(batch, "doc_id", where)
    ids = batch.select("doc_id")
    if head is None:
        head = [
            r[0] for r in ids.distinct().limit(_FRESH_PROBE_INLIST + 1).collect()
        ]
    bounded = len(head) <= _FRESH_PROBE_INLIST
    if (
        None in head if bounded
        else not ids.filter(F.isnull("doc_id")).isEmpty()
    ):
        raise _bad_id(where)
    if exclude_batch_id is not None and "batch_id" in existing.columns:
        existing = existing.filter(F.col("batch_id") != int(exclude_batch_id))
    if bounded:
        if not head:
            return
        # one SQL string, not Column.isin(list): isin builds one py4j
        # literal per id (measured 2.2 s vs 0.3 s at 2500 ids for the
        # identical pushed-down In plan); every id is an int by now
        clash = existing.filter(
            f"doc_id IN ({', '.join(str(i) for i in head)})"
        )
    else:
        clash = ids.join(existing.select("doc_id"), "doc_id", "left_semi")
    if not clash.isEmpty():
        raise ValueError(
            f"{where}: batch re-ingests an already-indexed doc_id — the "
            "index would hold its rows twice and double-count it in every "
            "score and probe; anti-join the batch against the index before "
            "ingesting"
        )
