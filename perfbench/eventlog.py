"""Fold an uncompressed Spark event log into per-span records.

Stdlib JSON only.  Each Spark job is attributed to one span: the span
named by the job's ``perfbench.span`` local property when it carries one,
else the innermost span whose interval holds the job's submission time.
A span's record counts the jobs attributed to it (not to its children):

- jobs, stages, tasks;
- job_span_s: the union of those jobs' intervals, clipped to the span;
- driver_gap_s: the span's self time minus job_span_s;
- executor_run_s, executor_cpu_s;
- shuffle_read_bytes, shuffle_write_bytes, spill_bytes, input_bytes.

Scan nodes of SQL executions are also folded: for every file scan, the
driver-side "number of files read" and "size of files read" metrics, keyed
by the scanned location and the execution's start time, so a caller can
count what one table's scans read in a time window.

Run as a script to print the per-span records of a log and a span file:
``python3 perfbench/eventlog.py <eventlog> <spans.json>``.
"""

from __future__ import annotations

import json
import sys

from spans import SPAN_PROPERTY, covered, self_times

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "job_span_s",
    "driver_gap_s",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)

_SQL = "org.apache.spark.sql.execution.ui."


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


class Log:
    """The parts of an event log the fold needs."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        # accumulator id -> (scanned location, metric name, execution start)
        self.scan_metric: dict[int, tuple[str, str, float]] = {}
        self.accum: dict[int, int] = {}
        exec_start: dict[int, float] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                self.jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "span": props.get(SPAN_PROPERTY),
                    "stages": list(ev.get("Stage IDs", [])),
                }
                for sid in ev.get("Stage IDs", []):
                    self.stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self.stage_tasks.setdefault(ev["Stage ID"], []).append(
                    ev.get("Task Metrics") or {}
                )
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                exec_start[ev["executionId"]] = ev["time"] / 1000.0
                self._scan_nodes(ev.get("sparkPlanInfo") or {}, ev["time"] / 1000.0)
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                t = exec_start.get(ev["executionId"], 0.0)
                self._scan_nodes(ev.get("sparkPlanInfo") or {}, t)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for aid, val in ev.get("accumUpdates", []):
                    self.accum[aid] = self.accum.get(aid, 0) + int(val)

    def _scan_nodes(self, node: dict, t: float) -> None:
        loc = (node.get("metadata") or {}).get("Location")
        if loc and node.get("nodeName", "").startswith("Scan"):
            for m in node.get("metrics", []):
                self.scan_metric.setdefault(m["accumulatorId"], (loc, m["name"], t))
        for child in node.get("children", []):
            self._scan_nodes(child, t)

    def scan_totals(self, location_part: str, lo: float, hi: float) -> dict[str, int]:
        """Driver-side scan metrics summed over the scans of executions
        started in [lo, hi] whose location string contains
        ``location_part`` (e.g. {"number of files read": 12})."""
        out: dict[str, int] = {}
        for aid, (loc, name, t) in self.scan_metric.items():
            if location_part in loc and lo <= t <= hi and aid in self.accum:
                out[name] = out.get(name, 0) + self.accum[aid]
        return out


def _task_sums(tasks: list[dict]) -> dict[str, float]:
    s = dict.fromkeys(
        (
            "executor_run_s",
            "executor_cpu_s",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
            "input_bytes",
        ),
        0.0,
    )
    for m in tasks:
        rd = m.get("Shuffle Read Metrics") or {}
        s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return s


def attribute(log: Log, spans: list[dict]) -> dict[int, list[int]]:
    """span id -> ids of the jobs attributed to it."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for jid, job in log.jobs.items():
        sid = job["span"]
        if sid is not None and int(sid) in by_id:
            out[int(sid)].append(jid)
            continue
        inner = None
        for s in spans:
            if s["start"] <= job["start"] <= s["end"] and (
                inner is None or s["end"] - s["start"] < inner["end"] - inner["start"]
            ):
                inner = s
        if inner is not None:
            out[inner["id"]].append(jid)
    return out


def fold(log: Log, spans: list[dict]) -> dict[int, dict]:
    """One record per span id, with the FIELDS above plus wall_s/self_s."""
    selfs = self_times(spans)
    owned = attribute(log, spans)
    out = {}
    for s in spans:
        jids = owned[s["id"]]
        stages = [st for j in jids for st in log.jobs[j]["stages"] if st in log.stage_tasks]
        tasks = [t for st in stages for t in log.stage_tasks[st]]
        intervals = [
            (log.jobs[j]["start"], log.jobs[j]["end"] or s["end"]) for j in jids
        ]
        span_s = covered(intervals, s["start"], s["end"])
        rec = {
            "name": s["name"],
            "wall_s": s["end"] - s["start"],
            "self_s": selfs[s["id"]],
            "jobs": len(jids),
            "stages": len(stages),
            "tasks": len(tasks),
            "job_span_s": span_s,
            "driver_gap_s": max(0.0, selfs[s["id"]] - span_s),
        }
        rec.update(_task_sums(tasks))
        out[s["id"]] = rec
    return out


def by_layer(records: dict[int, dict], layers) -> dict[str, dict[str, float]]:
    """Sum span records per layer; a span's layer is its name's prefix."""
    out = {L: dict.fromkeys(("calls", "self_s") + FIELDS, 0.0) for L in layers}
    for rec in records.values():
        layer = rec["name"].split(".", 1)[0]
        if layer not in out:
            continue
        agg = out[layer]
        agg["calls"] += 1
        agg["self_s"] += rec["self_s"]
        for k in FIELDS:
            agg[k] += rec[k]
    return out


def main(argv: list[str]) -> None:
    log = Log(read_events(argv[1]))
    with open(argv[2]) as f:
        spans = json.load(f)
    for rec in fold(log, spans).values():
        print(json.dumps(rec))


if __name__ == "__main__":
    main(sys.argv)
