"""Queries that overlap their driver-side reads in a thread pool run those
reads' Spark jobs under the caller's job group, so a per-call job count
(or a cancel of the group) covers them."""

from __future__ import annotations

import pytest

from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
from nqs_console_flink_window_spark.plans import all as _all  # noqa: F401
from nqs_console_flink_window_spark.plans.registry import REGISTRY


@pytest.mark.parametrize("name", ["ann_ivf_indexed", "hybrid_dense_sparse_ann"])
def test_pooled_reads_join_the_callers_job_group(spark, name: str) -> None:
    q = REGISTRY[name]
    q.spark(spark, SMOKE_SF_DIR)  # warm-up: builds the standing indexes
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"pool_job_group_{name}"
    sc.setJobGroup(group, name)
    try:
        q.spark(spark, SMOKE_SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup(group)
