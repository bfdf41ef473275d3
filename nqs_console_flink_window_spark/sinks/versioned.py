"""Manifest-based versioned table: snapshot isolation + time travel on
plain parquet, zero external dependencies.

The reference keeps history implicitly (ReplacingMergeTree keeps superseded
rows until merge; operators re-read "the table as of now").  A lakehouse
deployment wants that explicit: every commit is a *version* whose manifest
lists exactly the data files visible in it, so

- readers pin a manifest and get snapshot isolation for free (a concurrent
  commit writes new files + a new manifest; it never touches files a
  pinned reader is scanning),
- ``read_version(spark, dir, v)`` is time travel,
- compaction/vacuum become manifest operations: rewrite small files into
  one, commit a manifest pointing at the compacted file, then delete data
  directories no live manifest references.

This is the mechanism Delta/Iceberg productionize (optimistic concurrency
on the manifest create, snapshot reads from a pinned file list) — those
systems are the right answer on a real cluster; this module demonstrates
the same semantics on bare parquet for environments without them, and
documents the contract the rest of the repo's sinks compose with
(``idempotent_batch_write`` for per-batch idempotency *within* a stream,
this for table-level history *across* jobs).

Scale notes (100 TB): a manifest lists file paths, not row data — even a
million-file table is a few hundred MB of JSON read once by the driver;
per-version data directories keep commits from ever renaming/moving data
files (rename-free, object-store friendly).  The optimistic version-number
claim (O_EXCL manifest create, retry on collision) is the same protocol
Delta uses on its _delta_log.
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .writers import local_fs_path


def _manifest_dir(table_dir: str) -> Path:
    return local_fs_path(table_dir) / "_manifests"


def _manifest_path(table_dir: str, version: int) -> Path:
    return _manifest_dir(table_dir) / f"v{version:010d}.json"


def latest_version(table_dir: str) -> int | None:
    md = _manifest_dir(table_dir)
    if not md.is_dir():
        return None
    vs = sorted(int(p.stem[1:]) for p in md.glob("v*.json"))
    return vs[-1] if vs else None


def _load_manifest(table_dir: str, version: int) -> dict:
    return json.loads(_manifest_path(table_dir, version).read_text())


def commit_version(
    df: DataFrame, table_dir: str, mode: str = "append", max_retries: int = 20
) -> int:
    """Write ``df`` as a new table version and return its number.

    Data lands under ``data/<uuid>/`` (never touched again); the manifest
    is the commit point, claimed with an exclusive create so two
    concurrent writers race on the version number, one loses, and the
    loser retries against the next number — its data directory is simply
    referenced by a later manifest (append) or orphaned (overwrite wins
    races by definition).  ``mode='append'`` folds the parent's file list
    in; ``mode='overwrite'`` starts fresh.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    chunk = f"data/{uuid.uuid4().hex}"
    out = str(local_fs_path(table_dir) / chunk)
    df.write.mode("error").parquet(out)
    new_files = sorted(
        str(Path(chunk) / p.name)
        for p in Path(out).glob("*.parquet")
    )
    _manifest_dir(table_dir).mkdir(parents=True, exist_ok=True)
    for _ in range(max_retries):
        parent = latest_version(table_dir)
        version = 0 if parent is None else parent + 1
        files = new_files
        if mode == "append" and parent is not None:
            files = sorted(_load_manifest(table_dir, parent)["files"] + new_files)
        body = json.dumps(
            {
                "version": version,
                "parent": parent,
                "mode": mode,
                "files": files,
                "schema": df.schema.jsonValue(),
            },
            indent=1,
        )
        try:
            fd = os.open(
                _manifest_path(table_dir, version),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            continue  # lost the race: recompute against the new parent
        with os.fdopen(fd, "w") as f:
            f.write(body)
        return version
    raise RuntimeError(f"could not claim a version after {max_retries} retries")


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: the table exactly as of ``version`` (latest if None).
    An empty file list yields an empty DataFrame with the committed schema."""
    from pyspark.sql.types import StructType

    if version is None:
        version = latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no versions committed at {table_dir}")
    m = _load_manifest(table_dir, version)
    if not m["files"]:
        return spark.createDataFrame([], StructType.fromJson(m["schema"]))
    paths = [str(local_fs_path(table_dir) / f) for f in m["files"]]
    return spark.read.parquet(*paths)


def versions(table_dir: str) -> list[dict]:
    """Commit log, oldest first: version, mode, parent, file count."""
    md = _manifest_dir(table_dir)
    out = []
    for p in sorted(md.glob("v*.json")):
        m = json.loads(p.read_text())
        out.append(
            {
                "version": m["version"],
                "mode": m["mode"],
                "parent": m["parent"],
                "n_files": len(m["files"]),
            }
        )
    return out


def compact_version(spark: SparkSession, table_dir: str, target_files: int = 1) -> int:
    """Rewrite the latest snapshot into ``target_files`` files and commit it
    as a new overwrite version.  Readers pinned to older versions keep
    their file lists; nothing is deleted until ``vacuum``."""
    df = read_version(spark, table_dir).coalesce(max(target_files, 1))
    return commit_version(df, table_dir, mode="overwrite")


def vacuum(table_dir: str, keep_versions: int = 2) -> list[str]:
    """Delete data directories referenced by NO manifest among the newest
    ``keep_versions`` manifests, then drop the older manifests.  Returns
    the deleted data-directory names.  Safe order: compute liveness from
    the kept manifests only, delete orphaned data dirs, then prune
    manifests — a crash mid-way only leaves extra files, never a manifest
    pointing at deleted data."""
    import shutil

    md = _manifest_dir(table_dir)
    all_versions = sorted(int(p.stem[1:]) for p in md.glob("v*.json"))
    keep = all_versions[-keep_versions:]
    live_chunks: set[str] = set()
    for v in keep:
        for f in _load_manifest(table_dir, v)["files"]:
            live_chunks.add(str(Path(f).parent))
    deleted = []
    data_root = local_fs_path(table_dir) / "data"
    if data_root.is_dir():
        for chunk in sorted(data_root.iterdir()):
            rel = str(Path("data") / chunk.name)
            if chunk.is_dir() and rel not in live_chunks:
                shutil.rmtree(chunk)
                deleted.append(rel)
    for v in all_versions:
        if v not in keep:
            _manifest_path(table_dir, v).unlink()
    return deleted
