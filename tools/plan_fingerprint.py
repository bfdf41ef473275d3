"""Print a JSON fingerprint of registered queries' Spark plans, one entry
per query.

Each entry gives the query's name, the sha256 of its optimized logical
plan folded after the optimized plans of the frames it stages, the
number of those staged frames, the Spark jobs it takes to build the frame and collect it (counted
under a job group, after one warm-up call so standing-index builds and
first-call caches are not counted) and that call's wall time.  Before
hashing, the plan text is normalised: expression ids, RDD ids, the uuid
suffixes of ``__staged_*`` and other per-call view names, and temp-dir
paths are replaced by fixed tokens, so two runs of one tree hash the same.
A staged frame (``DataFrame.localCheckpoint``) is a bare ``LogicalRDD``
leaf in the plan that reads it, so each frame the query checkpoints while
it is built is hashed too, in call order: two queries that differ only
before a checkpoint hash apart.
Diff the output of two checkouts to show that a refactor left the engine
plans unchanged:

    python3 tools/plan_fingerprint.py [sf_dir] [query ...] > after.json

``sf_dir`` defaults to the oracle fixture; the queries default to every
registered query.  Prints to stdout only; writes no file.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import re
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

# the classic (non-Connect) frame defines its own localCheckpoint
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from nqs_console_flink_window_spark.config import ORACLE_SF_DIR  # noqa: E402
from nqs_console_flink_window_spark.plans import all as _all  # noqa: E402,F401
from nqs_console_flink_window_spark.plans.registry import REGISTRY  # noqa: E402
from nqs_console_flink_window_spark.session import get_spark  # noqa: E402

_NORMALISE = [
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"(RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"(__[a-z][a-z0-9_]*?_)[0-9a-f]{8,32}\b"), r"\1*"),
    (re.compile(r"(/tmp/|/var/tmp/)[^\s,\]\)]*"), r"\1*"),
]


def normalise(plan: str) -> str:
    for pattern, repl in _NORMALISE:
        plan = pattern.sub(repl, plan)
    return plan


def _optimized(df: DataFrame) -> str:
    return normalise(df._jdf.queryExecution().optimizedPlan().toString())


@contextmanager
def staged_plans():
    """Record the optimized plan of every frame checkpointed inside the
    block, in call order."""
    plans: list[str] = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(_optimized(self))
        return checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    try:
        yield plans
    finally:
        DataFrame.localCheckpoint = checkpoint


def fingerprint(spark, name: str, sf_dir: str) -> dict:
    q = REGISTRY[name]
    q.spark(spark, sf_dir).collect()  # warm-up
    sc = spark.sparkContext
    group = f"plan_fingerprint_{name}"
    t0 = time.perf_counter()
    sc.setJobGroup(group, name)
    try:
        with staged_plans() as plans:
            df = q.spark(spark, sf_dir)
        plans.append(_optimized(df))
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    wall = time.perf_counter() - t0
    digest = hashlib.sha256()
    for plan in plans:
        digest.update(plan.encode() + b"\0")
    return {
        "name": name,
        "plan_sha256": digest.hexdigest(),
        "staged": len(plans) - 1,
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "wall_s": round(wall, 3),
    }


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and "/" in args[0] else ORACLE_SF_DIR
    names = args or list(REGISTRY)
    spark = get_spark("nqs-plan-fingerprint")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps([fingerprint(spark, n, sf_dir) for n in names], indent=1))


if __name__ == "__main__":
    main()
