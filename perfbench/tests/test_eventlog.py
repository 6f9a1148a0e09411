"""Event-log attribution on a hand-written log."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.trace import Span  # noqa: E402
from perfbench.traced import Attribution, iteration_metrics  # noqa: E402


def _task(stage, launch_ms, finish_ms, cpu_ns=0, shuffle=0, ok=True, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms,
                      "Accumulables": [{"ID": i, "Update": str(u), "Metadata": "sql"} for i, u in accums]},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 10,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                         "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0},
    }


def _plan(name, metrics=None, location="", children=(), text=None):
    return {"nodeName": name, "simpleString": text or name,
            "metrics": [{"name": k, "accumulatorId": v} for k, v in (metrics or {}).items()],
            "metadata": {"Location": location} if location else {}, "children": list(children)}


def _log():
    scan = _plan("Scan parquet ", {"number of output rows": 101},
                 "InMemoryFileIndex(1 paths)[file:/in/calls_v1.parquet]")
    filt = _plan("Filter", {"number of output rows": 102}, children=[_plan("ColumnarToRow", children=[scan])])
    other = _plan("Filter", {"number of output rows": 103}, children=[
        _plan("Scan parquet ", {"number of output rows": 104}, "InMemoryFileIndex(1 paths)[file:/in/mdm.parquet]")])
    exch = _plan("Exchange", {"shuffle bytes written": 105}, children=[filt, other])
    window = _plan("Window", text="Window [sum(reach#1) windowspecdefinition(...)]",
                   children=[_plan("Sort", children=[exch])])
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.job.description": "span:2"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.job.description": "span:2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {"spark.job.description": "span:1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.job.description": "span:1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
        {"Event": eventlog.SQL_START, "executionId": 0, "description": "span:2", "sparkPlanInfo": window},
        _task(0, 1000, 2000, cpu_ns=int(5e8), shuffle=64,
              accums=[(101, 1000), (102, 400), (103, 7), (104, 9), (105, 64)]),
        _task(0, 1500, 3000, cpu_ns=int(5e8), accums=[(101, 1000), (102, 600)]),
        _task(1, 6000, 7000, ok=False, accums=[(101, 999)]),
        _task(2, 8000, 9000),
        {"Event": eventlog.DRIVER_ACCUM, "executionId": 0, "accumUpdates": [[105, 36]]},
    ]
    return eventlog.parse(json.dumps(e) for e in events)


def test_work_is_charged_to_the_submitting_span():
    log = _log()
    work = eventlog.span_work(log)
    assert work[2]["jobs"] == 1 and work[2]["tasks"] == 2
    assert abs(work[2]["executor_cpu_s"] - 1.0) < 1e-9
    assert work[2]["shuffle_write_bytes"] == 64
    assert work[1]["failed_tasks"] == 1 and work[1]["tasks"] == 1
    # a job outside every span is not charged
    assert set(work) == {1, 2}
    # accumulator updates of failed tasks are dropped
    assert log.accum[101] == 2000


def test_sql_metrics_vintage_and_allocation_exchange():
    log = _log()
    read, kept = eventlog.vintage_rows(log, {"calls_v1.parquet"}, {0})
    assert (read, kept) == (2000, 1000)
    assert eventlog.window_exchange_bytes(log, {0}, "sum(reach") == 100
    assert eventlog.window_exchange_bytes(log, {0}, "sum(cost") == 0


def test_iteration_metrics_inclusive_work_idle_and_self_time():
    log = _log()
    root = Span(1, "iteration", None, 0.5, 10.0)
    child = Span(2, "pipelines.jobs.run_tam_job", 1, 0.5, 4.0)
    att = Attribution([child, root], log)
    values, merges = iteration_metrics(att, root)
    assert values["iteration.jobs"] == 2 and values["iteration.tasks"] == 3
    assert values["pipelines.jobs.run_tam_job.jobs"] == 1
    # tasks run over [1, 3], [6, 7] and [8, 9]: root idle 9.5 - 4
    assert abs(values["iteration.idle_s"] - 5.5) < 1e-9
    assert abs(values["pipelines.jobs.run_tam_job.idle_s"] - 1.5) < 1e-9
    assert abs(values["iteration.self_s"] - 6.0) < 1e-9
    assert values["ops.vintage.rows_scanned"] == 2000
    assert values["ops.vintage.kept_ratio"] == 0.5
    assert merges == []
