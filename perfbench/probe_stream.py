"""probe_stream: the task-data topology on a file stream of probe reports.

Phase 1 (closed) drains a staged backlog in one availableNow run.  Phase 2
(open loop) renames pre-rendered report files into the landing directory
on a seeded Poisson schedule while an as-soon-as-possible trigger runs;
each file is timed from when it was due until the micro-batch that read it
committed.
Both phases make the calls ``run_fact_stream`` makes: read_events_stream
-> fact_transform -> idempotent_batch_write, plus the parse.invalid
rejects branch.
"""

from __future__ import annotations

import os
import time

import duckdb

import gen
from common import (
    Ctx,
    Result,
    durations,
    file_batches,
    latency_stats,
    log_times,
    median,
    progress_layer,
)

N_CUSTOMERS = 200
N_USERS = 240  # user ids past the dimension enrich to NULL segments
BACKLOG_FILES = 20
BACKLOG_ROWS = 5_000  # per file
# One file every 2 s: a micro-batch of one file takes 0.7-1.7 s on a
# quiet 4-vCPU machine, so each file finds the query idle and lands in a
# batch of its own, and its latency is that batch's.  At 3 files/s files
# shared batches, each batch waited on the one before it, and on a machine
# running 10-15 % slower the backlog grew all through the run.
LIVE_RATE = 0.5  # files per second
LIVE_ROWS = 600  # per file
# A new query's first batches run slower, even after the warm-up stream:
# files due in the live query's first LIVE_WARM_S seconds land and are
# checked but are not timed.
LIVE_WARM_S = 4.0
# Set-up streams this many report files, one micro-batch each, through the
# same per-batch calls: after a single warm-up batch, the backlog drain and
# the live batches ran slower while the JVM compiled the driver's per-batch
# code.
WARM_BATCHES = 4
DRAIN_GRACE_S = 20.0
REQUIRED = ["event_type", "user_id"]
# Event-log fields summed per layer in the traced run.
_ALL = (
    "jobs",
    "stages",
    "tasks",
    "job_span_s",
    "driver_gap_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)
# Only the sinks' spans run whole jobs; the others' figures that always
# read 0 (operators build plans, the streaming spans wait) are left out.
FOLDED = {
    "streaming": ("jobs", "job_span_s", "driver_gap_s"),
    "operators": ("jobs", "driver_gap_s"),
    "sinks": _ALL,
    "functions": ("jobs", "job_span_s", "driver_gap_s", "executor_cpu_s"),
    "sources": ("jobs", "job_span_s", "driver_gap_s"),
    "session": ("jobs", "job_span_s", "driver_gap_s"),
}


def run(ctx: Ctx) -> Result:
    tr = ctx.tracer
    landing = ctx.dir("landing")
    staged = ctx.dir("staged")
    dims = ctx.dir("dims")
    gen.write_parquet(gen.customer_table(ctx.seed, N_CUSTOMERS), f"{dims}/customer.parquet")
    backlog, backlog_rows, backlog_bad = gen.probe_files(
        ctx.seed, BACKLOG_FILES, BACKLOG_ROWS, N_USERS, landing, stream_offset=0
    )
    n_warm = round(LIVE_RATE * LIVE_WARM_S)
    n_live = n_warm + round(LIVE_RATE * ctx.seconds)
    live, live_rows, live_bad = gen.probe_files(
        ctx.seed, n_live, LIVE_ROWS, N_USERS, staged, stream_offset=1
    )
    warm_dir = ctx.dir("warm")
    gen.probe_files(ctx.seed, WARM_BATCHES, LIVE_ROWS, N_USERS, warm_dir, stream_offset=2)

    t_setup = time.time()
    spark = ctx.start_spark()
    from pyspark.sql import functions as F

    with tr.span("plans.import"):
        from nqs_console_flink_window_spark.plans.queries import (
            _DISPATCH_SQL_ENGINE,
            _FACT_ORACLE,
        )
    from nqs_console_flink_window_spark.operators import parse as P
    from nqs_console_flink_window_spark.sinks import writers as W
    from nqs_console_flink_window_spark.sources.batch import load_table
    from nqs_console_flink_window_spark.sources.streams import read_events_stream
    from nqs_console_flink_window_spark.streaming.jobs import fact_transform

    with tr.span("sources.load_table"):
        customer = load_table(spark, dims, "customer")
    with tr.span("sources.read_events_stream") as t_read:
        events = read_events_stream(spark, landing)

    out_dir, cp = ctx.path("out"), ctx.path("cp")
    batch_spans: dict[int, dict[str, float]] = {}
    phase = [None]  # span of the running phase; batches run on Spark's thread

    def process(batch_df, batch_id: int, out: str = out_dir) -> None:
        rec = batch_spans.setdefault(batch_id, {})
        with tr.span("streaming.batch", op=batch_id, parent=phase[0]):
            batch_df = batch_df.persist()
            try:
                with tr.span("operators.fact_transform", op=batch_id) as t:
                    facts = fact_transform(batch_df, customer, _DISPATCH_SQL_ENGINE)
                rec["build"] = t.seconds
                with tr.span("sinks.fact_landing", op=batch_id) as t:
                    W.idempotent_batch_write(
                        facts.withColumn("w_date", F.to_date("w_start")),
                        out,
                        batch_id,
                        partition_cols=("w_date",),
                    )
                rec["facts"] = t.seconds
                with tr.span("sinks.rejects", op=batch_id) as t:
                    rejects = P.invalid(batch_df, REQUIRED)
                    if rejects.limit(1).count() > 0:
                        W.idempotent_batch_write(rejects, f"{out}_rejects", batch_id)
                rec["rejects"] = t.seconds
            finally:
                batch_df.unpersist()

    def start(stream, process, checkpoint: str, **trigger):
        return (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .trigger(**trigger)
            .start()
        )

    # warm-up: a stream of its own over WARM_BATCHES report files, one
    # micro-batch each, through the same per-batch calls, off to the side
    with tr.span("streaming.warmup"):
        warm_out = ctx.path("warm_out")
        q = start(
            read_events_stream(spark, warm_dir, max_files_per_trigger=1),
            lambda df, b: process(df, b, warm_out),
            ctx.path("warm_cp"),
            availableNow=True,
        )
        q.awaitTermination()
        warm_batch_s = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in q.recentProgress]
    batch_spans.clear()
    setup_s = time.time() - t_setup

    # phase 1: closed drain of the backlog
    with tr.span("streaming.catchup") as t_phase:
        phase[0] = t_phase.id
        t0 = time.time()
        q = start(events, process, cp, availableNow=True)
        q.awaitTermination()
        progress = list(q.recentProgress)
    commits = log_times(cp, "commits")
    catchup_s = max(commits.values()) - t0
    n_catchup_batches = len(commits)

    # phase 2: open loop, each file renamed into place when it is due
    due, late = {}, []
    with tr.span("streaming.live") as t_phase:
        phase[0] = t_phase.id
        q = start(events, process, cp, processingTime="0 seconds")
        t1 = time.time() + 0.5
        for i, path in enumerate(live):
            name = os.path.basename(path)
            due[name] = t1 + i / LIVE_RATE
            wait = due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(path, os.path.join(landing, name))
            late.append(time.time() - due[name])
        deadline = time.time() + DRAIN_GRACE_S
        while time.time() < deadline:
            fb, commits = file_batches(cp), log_times(cp, "commits")
            if all(n in fb and fb[n] in commits for n in due):
                break
            time.sleep(0.1)
        q.stop()
        live_progress = list(q.recentProgress)
        progress += live_progress

    fb, commits = file_batches(cp), log_times(cp, "commits")
    timed = list(due)[n_warm:]
    lat = [commits[fb[n]] - due[n] for n in timed if n in fb and fb[n] in commits]
    landed = {n for n in fb if fb[n] in commits}
    names = [os.path.basename(p) for p in backlog] + list(due)
    failed = sum(1 for n in names if n not in landed)

    # correctness, outside the clock: landed facts re-summed per window key
    # must equal the fact oracle over every generated row; rejects must equal
    # the generated invalid rows
    problems = check(landing, dims, out_dir, _FACT_ORACLE, backlog_bad + live_bad)
    if not lat:  # nothing landed: no latency to report, and run.py fails the run
        lat = [float("nan")] * 2
    stats = latency_stats(lat)
    res = Result(
        attempted=len(names),
        failed=failed,
        correct=not problems and failed == 0,
        e2e={
            "setup_s": setup_s,
            "throughput_per_s": backlog_rows / catchup_s,
            "latency_p50_s": stats["p50"],
            "latency_tail_s": stats["tail"],
        },
        problems=problems,
        detail={
            "catchup_rows_per_s": backlog_rows / catchup_s,
            "catchup_rows": backlog_rows,
            "catchup_batches": n_catchup_batches,
            "live_latency_p50_s": stats["p50"],
            "live_latency_tail_s": stats["tail"],
            "live_latency": stats,
            # a backlog that grows shows as a slower second half of the files
            "live_latency_halves_p50_s": [
                median(lat[: len(lat) // 2]),
                median(lat[len(lat) // 2 :]),
            ],
            "warm_batch_s": warm_batch_s,
            # (rows, seconds) of each live micro-batch that read input
            "live_batches": [
                (p.numInputRows, p.durationMs.get("triggerExecution", 0) / 1e3)
                for p in live_progress
                if p.numInputRows > 0
            ],
            "live_files": len(due),
            "live_files_timed": len(timed),
            "live_rows": live_rows,
            "generator_late_max_s": max(late),  # how late the renames ran
            "generator_late_p50_s": median(late),
        },
    )
    if ctx.trace:
        live_batches = sorted({fb[n] for n in timed if n in fb})
        rec = [batch_spans[b] for b in live_batches if b in batch_spans] or [{}]
        res.layer.update(progress_layer([p for p in progress if p.batchId in live_batches]))
        res.layer.update(
            {
                "sources.read_events_stream_s": t_read.seconds,
                "operators.fact_transform_build_ms": 1e3 * median([r.get("build", 0) for r in rec]),
                "sinks.fact_landing_s": median([r.get("facts", 0) for r in rec]),
                "sinks.rejects_s": median([r.get("rejects", 0) for r in rec]),
                "sinks.files_per_batch": files_per_batch(out_dir, live_batches),
                "functions.score_ns_per_row": score_ns_per_row(
                    ctx, backlog, backlog_rows, _DISPATCH_SQL_ENGINE
                ),
            }
        )
        res.detail["durations"] = durations(progress)
    return res


def score_ns_per_row(ctx: Ctx, files, rows: int, dispatch_sql: str) -> float:
    """The dispatch score expression alone over the backlog, to a noop sink."""
    from pyspark.sql import functions as F

    from nqs_console_flink_window_spark.sources.batch import normalize_event_ts

    df = normalize_event_ts(ctx.spark.read.parquet(*files))
    with ctx.tracer.span("functions.dispatch_score") as t:
        df.select(F.expr(dispatch_sql).alias("score")).write.format("noop").mode(
            "overwrite"
        ).save()
    return 1e9 * t.seconds / rows


def files_per_batch(out_dir: str, batches) -> float:
    counts = []
    for b in batches:
        n = 0
        for d in (f"{out_dir}/batch_id={b}", f"{out_dir}_rejects/batch_id={b}"):
            for _, _, fs in os.walk(d):
                n += sum(1 for f in fs if f.endswith(".parquet"))
        counts.append(n)
    return median(counts) if counts else 0.0


def check(landing: str, dims: str, out_dir: str, oracle_sql: str, n_bad: int) -> list[str]:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{landing}/*.parquet')")
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{dims}/customer.parquet')")
        expect = con.execute(
            f"SELECT w_start, protocol, c_mktsegment, cnt, "
            f"CAST(round(sum_score * 1e6) AS BIGINT) FROM ({oracle_sql})"
        ).fetchall()
        got = con.execute(
            f"SELECT CAST(w_start AS TIMESTAMP), protocol, c_mktsegment, SUM(cnt), "
            f"SUM(CAST(round(sum_score * 1e6) AS BIGINT)) "
            f"FROM read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true) "
            f"GROUP BY ALL"
        ).fetchall()
        rejects = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out_dir}_rejects/**/*.parquet', "
            f"hive_partitioning = true)"
        ).fetchone()[0]
    finally:
        con.close()
    problems = []
    key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
    if sorted(map(key, expect)) != sorted(map(key, got)):
        problems.append(
            f"landed facts differ from the fact oracle ({len(got)} vs {len(expect)} groups)"
        )
    if rejects != n_bad:
        problems.append(f"rejects {rejects} != generated invalid rows {n_bad}")
    return problems
