"""Shared pieces of the workloads: run context, statistics, resident
memory sampling and the streaming checkpoint readers."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from spans import Tracer

# Layers of the program, named after its packages.
LAYERS = ("session", "sources", "streaming", "operators", "functions", "sinks", "plans")


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: int
    trace: bool
    run_dir: str
    tracer: Tracer
    spark: object = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, "data", *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        p = self.path(*parts)
        os.makedirs(p, exist_ok=True)
        return p


@dataclass
class Result:
    attempted: int
    failed: int
    correct: bool
    e2e: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, with its percentile level.  Below 21 samples that
    sample is not above the median (at 11 it is the minimum), so the
    maximum stands in (level 1.0)."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return float(s[-1]), 1.0
    return float(s[n - 11]), (n - 10) / n


def latency_stats(xs) -> dict:
    t, level = tail(xs)
    return {"p50": median(xs), "tail": t, "tail_level": round(level, 4), "n": len(xs)}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident memory of this process plus its descendants (the JVM),
    sampled every 50 ms on a daemon thread; the child list is refreshed
    once a second."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        pids, refreshed = [me], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - refreshed > 1.0:
                pids, refreshed = [me] + _descendants(me), now
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# streaming checkpoint readers (outside the timed path: no Spark job)
# ---------------------------------------------------------------------------


def _log_entries(path: str):
    with open(path) as f:
        lines = f.read().splitlines()
    for line in lines[1:]:  # first line is the log version
        if line.strip():
            yield json.loads(line)


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> micro-batch id, from the file source's log."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        for e in _log_entries(os.path.join(d, name)):
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def log_times(checkpoint: str, kind: str) -> dict[int, float]:
    """Batch id -> mtime of its ``offsets`` (planned) or ``commits``
    (committed) log file."""
    d = os.path.join(checkpoint, kind)
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out


DURATION_KEYS = {
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
}


def progress_layer(progress: list) -> dict[str, float]:
    """Median per-batch ``durationMs`` phases and input rows of a query's
    progress reports (batches that read input only)."""
    ps = [p for p in progress if p.numInputRows > 0]
    out = {}
    if not ps:
        return dict.fromkeys(
            list(DURATION_KEYS.values()) + ["streaming.commit_ms", "streaming.rows_per_batch"],
            0.0,
        )
    for k, name in DURATION_KEYS.items():
        out[name] = median([p.durationMs.get(k, 0) for p in ps])
    out["streaming.commit_ms"] = median(
        [p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0) for p in ps]
    )
    out["streaming.rows_per_batch"] = median([p.numInputRows for p in ps])
    return out


def durations(progress: list) -> list[dict]:
    return [
        {"batch": p.batchId, "rows": p.numInputRows, "durationMs": dict(p.durationMs)}
        for p in progress
    ]
