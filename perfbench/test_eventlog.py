"""The event-log fold, over a small uncompressed event log written here.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

import eventlog
from spans import SPAN_PROPERTY, Tracer, covered

_SQL = "org.apache.spark.sql.execution.ui."
T0 = 1_700_000_000.0


def _ms(s: float) -> int:
    return int(round((T0 + s) * 1000))


def _job(jid, start, end, stages, span=None):
    props = {SPAN_PROPERTY: str(span)} if span is not None else {}
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": _ms(start),
            "Stage IDs": stages,
            "Properties": props,
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": _ms(end)},
    ]


def _task(stage, run_ms, cpu_ns, read=0, write=0, spill=0, inp=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": inp},
        },
    }


def _scan(exec_id, start, location, accum):
    return {
        "Event": _SQL + "SparkListenerSQLExecutionStart",
        "executionId": exec_id,
        "time": _ms(start),
        "sparkPlanInfo": {
            "nodeName": "Project",
            "children": [
                {
                    "nodeName": "Scan parquet ",
                    "metadata": {"Location": location},
                    "metrics": [{"name": "number of files read", "accumulatorId": accum}],
                    "children": [],
                }
            ],
        },
    }


# Span 1 "operators.outer" covers 0-10 s; its child span 2 "sinks.inner"
# covers 2-6 s.  Job 1 carries span 2's property; jobs 2 and 3 carry none
# and fall inside span 1 only; job 4 starts after every span.
SPANS = [
    {"id": 1, "name": "operators.outer", "parent": None, "op": None, "start": T0, "end": T0 + 10},
    {"id": 2, "name": "sinks.inner", "parent": 1, "op": 0, "start": T0 + 2, "end": T0 + 6},
]


def _events():
    evs = [{"Event": "SparkListenerApplicationStart", "Timestamp": _ms(0)}]
    evs += _job(1, 3.0, 5.0, [10, 11], span=2)
    evs += _job(2, 7.0, 8.0, [12])
    evs += _job(3, 7.5, 8.5, [13])
    evs += _job(4, 20.0, 21.0, [14])
    evs += [
        _task(10, 1500, 1_000_000_000, write=100),
        _task(10, 500, 250_000_000, write=50),
        _task(11, 700, 500_000_000, read=150, spill=7),
        _task(12, 900, 800_000_000, inp=4096),
        _task(13, 100, 100_000_000, inp=1024),
        _task(14, 100, 100_000_000),
    ]
    evs.append(_scan(0, 3.0, "InMemoryFileIndex(1 paths)[file:/x/idx]", 501))
    evs.append(_scan(1, 7.0, "InMemoryFileIndex(1 paths)[file:/x/idx.doclen]", 502))
    evs.append(_scan(2, 30.0, "InMemoryFileIndex(1 paths)[file:/x/idx]", 503))
    evs.append(
        {
            "Event": _SQL + "SparkListenerDriverAccumUpdates",
            "executionId": 0,
            "accumUpdates": [[501, 3], [502, 1], [503, 64]],
        }
    )
    return evs


@pytest.fixture
def log(tmp_path):
    path = tmp_path / "app-eventlog"
    with open(path, "w") as f:
        for ev in _events():
            f.write(json.dumps(ev) + "\n\n")  # blank lines are skipped
    return eventlog.Log(eventlog.read_events(str(path)))


def test_fold_attributes_jobs_and_splits_driver_gap(log) -> None:
    recs = eventlog.fold(log, SPANS)
    inner, outer = recs[2], recs[1]

    assert inner["jobs"] == 1 and inner["stages"] == 2 and inner["tasks"] == 3
    assert inner["wall_s"] == pytest.approx(4.0)
    assert inner["self_s"] == pytest.approx(4.0)
    assert inner["job_span_s"] == pytest.approx(2.0)
    assert inner["driver_gap_s"] == pytest.approx(2.0)
    assert inner["executor_run_s"] == pytest.approx(2.7)
    assert inner["executor_cpu_s"] == pytest.approx(1.75)
    assert inner["shuffle_write_bytes"] == 150
    assert inner["shuffle_read_bytes"] == 150
    assert inner["spill_bytes"] == 7
    assert inner["input_bytes"] == 0

    # jobs 2 and 3 overlap (7-8 and 7.5-8.5): the union is 1.5 s; the
    # outer span's self time excludes its child's 4 s
    assert outer["jobs"] == 2 and outer["stages"] == 2 and outer["tasks"] == 2
    assert outer["self_s"] == pytest.approx(6.0)
    assert outer["job_span_s"] == pytest.approx(1.5)
    assert outer["driver_gap_s"] == pytest.approx(4.5)
    assert outer["input_bytes"] == 5120
    assert outer["executor_cpu_s"] == pytest.approx(0.9)


def test_by_layer_sums_records_by_name_prefix(log) -> None:
    agg = eventlog.by_layer(eventlog.fold(log, SPANS), ("operators", "sinks", "plans"))
    assert agg["sinks"]["calls"] == 1 and agg["sinks"]["jobs"] == 1
    assert agg["operators"]["jobs"] == 2
    assert agg["operators"]["driver_gap_s"] == pytest.approx(4.5)
    assert agg["plans"]["calls"] == 0 and agg["plans"]["jobs"] == 0


def test_scan_totals_filter_by_location_and_time(log) -> None:
    assert log.scan_totals("/x/idx]", T0, T0 + 10) == {"number of files read": 3}
    assert log.scan_totals("/x/idx", T0, T0 + 10) == {"number of files read": 4}
    assert log.scan_totals("/x/idx]", T0, T0 + 60) == {"number of files read": 67}


def test_covered_is_the_clipped_union() -> None:
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert covered([], 0, 1) == 0.0


def test_tracer_records_parents_and_nothing_when_off() -> None:
    tr = Tracer(True)
    with tr.span("streaming.a") as a:
        with tr.span("sinks.b", op=3) as b:
            pass
    with tr.span("sinks.c", parent=a.id):
        pass
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["sinks.b"]["parent"] == a.id and by_name["sinks.b"]["op"] == 3
    assert by_name["sinks.c"]["parent"] == a.id
    assert by_name["streaming.a"]["parent"] is None and b.seconds >= 0

    off = Tracer(False)
    with off.span("streaming.a") as t:
        pass
    assert off.spans == [] and t.seconds >= 0 and t.id is None
