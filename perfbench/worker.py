"""One measured run of one workload, in its own process.

``run.py`` starts this with stdout and stderr going to the run's log file
and reads the result back from ``<run-dir>/result.json``.  The process
imports the program, starts Spark, runs the workload, folds the event log
when tracing, and writes the result.

The result's ``e2e`` holds the end-to-end metrics under their names in
BENCHMARK.json; with tracing on, ``layer`` holds the per-layer metrics,
each named ``<workload>.<layer>.<what>``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())  # the program, from the checkout root

import common  # noqa: E402
import eventlog  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("probe_stream", "index_query")


class RunCtx(common.Ctx):
    eventlog_dir: str = ""

    def start_spark(self):
        with self.tracer.span("session.get_spark"):
            from nqs_console_flink_window_spark.session import get_spark

            self.spark = get_spark(f"perfbench-{os.path.basename(self.run_dir)}")
            self.spark.range(1).count()  # first job: executor and codegen start
        self.tracer.bind(self.spark.sparkContext)
        return self.spark


def per_layer(ctx: RunCtx, mod, res: common.Result) -> dict[str, float]:
    """The traced run's layer numbers: the workload's own counters, the
    event log folded per span and summed per layer (the fields the
    workload's ``FOLDED`` names), and the traced run's end-to-end numbers."""
    out = dict(res.layer)
    logs = [
        os.path.join(ctx.eventlog_dir, f)
        for f in os.listdir(ctx.eventlog_dir)
        if not f.startswith(".")
    ]
    log = eventlog.Log(ev for p in logs for ev in eventlog.read_events(p))
    records = eventlog.fold(log, ctx.tracer.spans)
    agg = eventlog.by_layer(records, common.LAYERS)
    for layer, fields in mod.FOLDED.items():
        for k in fields:
            out[f"{layer}.{k}"] = agg[layer][k]
    if hasattr(mod, "from_log"):
        out.update(mod.from_log(res, log))
    for name, v in res.e2e.items():
        out[f"traced.{name}"] = v
    # the spans, for ``eventlog.py <log> <spans.json>``, and their records
    with open(os.path.join(ctx.run_dir, "spans.json"), "w") as f:
        json.dump(ctx.tracer.spans, f)
    with open(os.path.join(ctx.run_dir, "folded.json"), "w") as f:
        json.dump(list(records.values()), f)
    return {f"{ctx.workload}.{k}": v for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--eventlog-dir", default="")
    a = ap.parse_args()

    ctx = RunCtx(
        workload=a.workload,
        seed=a.seed,
        seconds=a.seconds,
        trace=bool(a.trace),
        run_dir=a.run_dir,
        tracer=Tracer(bool(a.trace)),
    )
    ctx.eventlog_dir = a.eventlog_dir
    mod = __import__(a.workload)
    with common.RssSampler() as rss:
        res = mod.run(ctx)
    # the JVM's heap grows with its collector's sizing, from run to run by a
    # fifth or more: too unsteady for a bound, so it is a per-layer figure
    res.layer["peak_rss_mb"] = res.detail["peak_rss_mb"] = rss.peak_mb
    t0 = time.time()
    ctx.spark.stop()
    res.detail["spark_stop_s"] = time.time() - t0
    out = {
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "e2e": res.e2e,
        "detail": res.detail,
        "problems": res.problems,
    }
    if ctx.trace:
        out["layer"] = per_layer(ctx, mod, res)
    with open(os.path.join(a.run_dir, "result.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
