"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Starts one worker process for the run
(its stdout and stderr, Spark's and the JVM's logs included, go to
``.perfbench_run/<run>/worker.log``), waits for it, and prints two lines:
a detail line with the workload's own numbers under the names the
workload gives them, then the result as one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics.  Exits non-zero, printing no
result, when the run fails or a metric is missing, and with code 1 after
printing the result when a correctness check fails.  See NOTES.md for what
each metric measures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "nqs_console_flink_window_spark"
# A run must end within 180 s: the worker gets 170 s, the last 10 s are
# for stopping it.  The slower workload needs about 55 s besides its timed
# part, so a measured part of up to 60 s fits.
TIMEOUT_S = 170
MAX_SECONDS = 60


def spark_submit_args(run_dir: str, eventlog_dir: str | None) -> str:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if eventlog_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = []
    for k, v in conf.items():
        args += ["--conf", f"'{k}={v}'"]
    return " ".join(args + ["pyspark-shell"])


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(pgid: int) -> None:
    """Terminate every process left in the worker's process group (the
    JVM) and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + grace
        while time.time() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def cpu_times() -> list[int]:
    """The machine's CPU jiffies: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def pick_metrics(spec: dict, workload: str, trace: int, res: dict) -> dict | None:
    """The metrics of BENCHMARK.json with their values from the worker's
    result, or None (with the reason on stderr) when one is missing.

    End-to-end metrics are reported by every workload.  Per-layer metrics
    are named ``<workload>.<layer>.<what>``: this workload must report all
    of its own, and another workload's read 0 (that layer was not run)."""
    workloads = {w["name"] for w in spec["workloads"]}
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        values = res["layer"] if trace else res["e2e"]
        owner = name.split(".", 1)[0] if trace else workload
        if owner != workload and owner in workloads:
            value = 0.0
        elif name in values and math.isfinite(values[name]):
            value = float(values[name])
        else:
            print(f"perfbench: {workload} reported no value for {name}", file=sys.stderr)
            return None
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not 1 <= a.seconds <= MAX_SECONDS:
        print(f"perfbench: --seconds must be 1..{MAX_SECONDS}", file=sys.stderr)
        return 2

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from a checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {a.workload}", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        root, ".perfbench_run", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "data"):
        os.makedirs(os.path.join(run_dir, d))
    eventlog_dir = os.path.join(run_dir, "eventlog") if a.trace else None
    if eventlog_dir:
        os.makedirs(eventlog_dir)
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1), os.cpu_count() or 1)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYSPARK_SUBMIT_ARGS=spark_submit_args(run_dir, eventlog_dir),
        PYTHONDONTWRITEBYTECODE="1",
        # no JVM performance-data file under the system temp directory
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", a.workload,
        "--seed", str(a.seed),
        "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--run-dir", run_dir,
        "--eventlog-dir", eventlog_dir or "",
    ]
    log_path = os.path.join(run_dir, "worker.log")
    cpu0 = cpu_times()
    # stopped from outside: unwind so the ``finally`` below stops the worker
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda *_: sys.exit(1))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        why = "timed out" if rc is None else f"exited {rc}"
        print(f"perfbench: worker {why}; log: {log_path}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1
    with open(result_path) as f:
        res = json.load(f)
    shutil.rmtree(os.path.join(run_dir, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)

    metrics = pick_metrics(spec, a.workload, a.trace, res)
    if metrics is None:
        print(f"perfbench: log: {log_path}", file=sys.stderr)
        return 1
    # CPU time the hypervisor gave to other guests during the run: the
    # timings rise with it, so it is reported beside them
    spent = [b - a for a, b in zip(cpu0, cpu_times())]
    detail = dict(
        res["detail"],
        workload=a.workload,
        seed=a.seed,
        run_dir=run_dir,
        cpu_steal_share=spent[7] / max(1, sum(spent)),
    )
    if res["problems"]:
        detail["problems"] = res["problems"]
    if a.trace:
        detail["traced_e2e"] = res["e2e"]
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
