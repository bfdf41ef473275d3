"""index_query: one client issuing a seeded query set against a standing
text index.

Setup builds the inverted index over a generated long-tail corpus with
``build_text_index`` and calls ``hybrid_rrf_multi_indexed`` WARM_CALLS
times on the run's query set.  The timed loop then calls it on the same
set, one call at a time, collecting each result to the driver, until
``--seconds`` have passed and at least MIN_CALLS calls were made.  Every
result is then checked, outside the clock, against the online form on the
same query set.

One function and one query set: each more adds a warm-up call and an
online check to every run, and the runs must fit the benchmark's time
budget.  The hybrid runs the BM25 leg as well as the query-likelihood leg.
"""

from __future__ import annotations

import time

import gen
from common import Ctx, Result, latency_stats, median

N_DOCS = 2_000
N_QUERIES = 4  # queries per set
MIN_CALLS = 3
# The first calls after the index build ran 1-2 s slower than later ones, so
# with one warm-up call the tail (the slowest timed call) was the first one.
WARM_CALLS = 3
# Event-log fields summed per layer in the traced run.
FOLDED = {"operators": ("jobs", "stages", "tasks", "job_span_s", "driver_gap_s", "executor_cpu_s")}


def run(ctx: Ctx) -> Result:
    tr = ctx.tracer
    docs_p = ctx.path("documents.parquet")
    gen.write_parquet(gen.index_corpus(ctx.seed, N_DOCS), docs_p)
    [queries] = gen.query_sets(ctx.seed, 1, N_QUERIES)

    t_setup = time.time()
    spark = ctx.start_spark()
    from nqs_console_flink_window_spark.operators import retrieval as RT

    with tr.span("sources.load_corpus"):
        spark.read.parquet(docs_p).createOrReplaceTempView("documents")
    idx = ctx.path("textidx")
    with tr.span("operators.build_text_index"):
        RT.build_text_index(spark, spark.table("documents"), idx)
    with tr.span("operators.warmup"):
        for _ in range(WARM_CALLS):
            RT.hybrid_rrf_multi_indexed(spark, idx, queries=queries).collect()
    setup_s = time.time() - t_setup

    calls: list[dict] = []
    t0 = time.time()
    while time.time() < t0 + ctx.seconds or len(calls) < MIN_CALLS:
        op = len(calls)
        with tr.span("operators.hybrid_rrf_multi_indexed", op=op) as t_call:
            with tr.span("operators.retrieval_build", op=op) as t_build:
                df = RT.hybrid_rrf_multi_indexed(spark, idx, queries=queries)
            with tr.span("operators.retrieval_collect", op=op) as t_collect:
                rows = [tuple(r) for r in df.collect()]
        calls.append(
            {
                "s": t_call.seconds,
                "build_s": t_build.seconds,
                "collect_s": t_collect.seconds,
                "rows": rows,
            }
        )
    loop_s = time.time() - t0

    # correctness, outside the clock: every result equals the online
    # form's, row for row
    want = [tuple(r) for r in RT.hybrid_rrf_multi_df(spark, queries=queries).collect()]
    failed = sum(1 for c in calls if not c["rows"] or c["rows"] != want)
    problems = []
    if failed:
        problems.append(f"{failed} of {len(calls)} results differ from the online form's")

    lat = latency_stats([c["s"] for c in calls])
    res = Result(
        attempted=len(calls),
        failed=failed,
        correct=not problems,
        e2e={
            "setup_s": setup_s,
            "throughput_per_s": len(calls) * N_QUERIES / loop_s,
            "latency_p50_s": lat["p50"],
            "latency_tail_s": lat["tail"],
        },
        problems=problems,
        detail={
            "query_latency_p50_s": lat["p50"],
            "query_latency_tail_s": lat["tail"],
            "query_latency": lat,
            "queries_per_s": len(calls) * N_QUERIES / loop_s,
            "calls": len(calls),
            "call_s": [c["s"] for c in calls],
        },
    )
    if ctx.trace:
        res.layer.update(
            {
                "operators.retrieval_build_s": median([c["build_s"] for c in calls]),
                "operators.retrieval_collect_s": median([c["collect_s"] for c in calls]),
            }
        )
        res.detail["index_path"] = idx
        res.detail["loop_window"] = (t0, t0 + loop_s)
    return res


def from_log(res: Result, log) -> dict[str, float]:
    """Postings files the timed calls' scans read, per call (pruning)."""
    lo, hi = res.detail["loop_window"]
    files = log.scan_totals(res.detail["index_path"] + "]", lo, hi).get(
        "number of files read", 0
    )
    return {"operators.postings_files_read_per_query": files / res.detail["calls"]}
