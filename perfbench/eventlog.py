"""Read a Spark event log and attribute its work to benchmark spans.

Jobs carry the job description that was set when they were submitted;
the tracer sets it to ``span:<id>`` while a span is open, so every job,
stage and task can be charged to the innermost open span. SQL plan
nodes (from the SQL execution start and adaptive-update events) give the
per-operator metrics, keyed by accumulator id.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from .trace import DESC_PREFIX

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    failed: bool
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class PlanNode:
    name: str
    text: str
    metrics: dict[str, int]  # metric name -> accumulator id
    location: str
    children: list["PlanNode"] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[tuple[int, int | None]] = field(default_factory=list)  # (job id, span id)
    stage_span: dict[int, int | None] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    plans: dict[int, list[PlanNode]] = field(default_factory=lambda: defaultdict(list))
    exec_span: dict[int, int | None] = field(default_factory=dict)
    accum: dict[int, int] = field(default_factory=lambda: defaultdict(int))

    def metric(self, node: PlanNode, name: str) -> int:
        acc = node.metrics.get(name)
        return self.accum.get(acc, 0) if acc is not None else 0


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    if desc.startswith(DESC_PREFIX):
        return int(desc[len(DESC_PREFIX):])
    return None


def _number(value) -> int | None:
    """An accumulator update: internal metrics log numbers, SQL metrics
    log them as strings."""
    if isinstance(value, int):
        return value
    if isinstance(value, str) and value.lstrip("-").isdigit():
        return int(value)
    return None


def _node(info: dict) -> PlanNode:
    return PlanNode(
        name=info["nodeName"],
        text=info["simpleString"],
        metrics={m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
        location=(info.get("metadata") or {}).get("Location", ""),
        children=[_node(c) for c in info.get("children", [])],
    )


def event_files(log_dir: str) -> list[str]:
    """Event log files under log_dir, single-file or rolling layout."""
    out = []
    for root, _, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in sorted(files)
                if not f.startswith(("appstatus", ".")) and not f.endswith(".crc")]
    return sorted(out)


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            log.jobs.append((e["Job ID"], _span_of(e.get("Properties"))))
        elif kind == "SparkListenerStageSubmitted":
            log.stage_span[e["Stage Info"]["Stage ID"]] = _span_of(e.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            ok = e.get("Task End Reason", {}).get("Reason") == "Success"
            log.tasks.append(Task(
                stage=e["Stage ID"],
                launch=info["Launch Time"] / 1000.0,
                finish=info["Finish Time"] / 1000.0,
                failed=not ok,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))
            if ok:
                for a in info.get("Accumulables", []):
                    update = _number(a.get("Update"))
                    if update is not None:
                        log.accum[a["ID"]] += update
        elif kind == SQL_START:
            log.exec_span[e["executionId"]] = _span_of({"spark.job.description": e.get("description")})
            log.plans[e["executionId"]].append(_node(e["sparkPlanInfo"]))
        elif kind == SQL_UPDATE:
            log.plans[e["executionId"]].append(_node(e["sparkPlanInfo"]))
        elif kind == DRIVER_ACCUM:
            for acc, value in e["accumUpdates"]:
                log.accum[acc] += value
    return log


def read(log_dir: str) -> EventLog:
    def lines():
        for path in event_files(log_dir):
            with open(path) as fh:
                yield from fh
    return parse(lines())


def walk(node: PlanNode):
    yield node
    for c in node.children:
        yield from walk(c)


def vintage_rows(log: EventLog, vintage_files: set[str], execs: set[int]) -> tuple[int, int]:
    """(rows read by vintage-table scans, rows passing the filter above
    each scan) over the given SQL executions. A cached plan shows up in
    every execution that reads the cache, so each operator counts once."""
    pairs: set[tuple[int | None, int | None]] = set()
    nodes = {}
    for ex in execs:
        for root in log.plans.get(ex, [])[-1:]:
            for filt in walk(root):
                if filt.name != "Filter":
                    continue
                for scan in _scans_below(filt):
                    name = scan.location.rstrip("]").split("/")[-1]
                    if name in vintage_files:
                        key = (scan.metrics.get("number of output rows"),
                               filt.metrics.get("number of output rows"))
                        pairs.add(key)
                        nodes[key] = (scan, filt)
    read = sum(log.metric(nodes[k][0], "number of output rows") for k in pairs)
    kept = sum(log.metric(nodes[k][1], "number of output rows") for k in pairs)
    return read, kept


def _scans_below(node: PlanNode):
    """File scans reached from a Filter through row-conversion wrappers
    only (the scan the filter reads directly)."""
    for c in node.children:
        if c.name.startswith("Scan"):
            yield c
        elif c.name in ("ColumnarToRow", "InputAdapter"):
            yield from _scans_below(c)


def window_exchange_bytes(log: EventLog, execs: set[int], marker: str) -> int:
    """Shuffle bytes written by the exchanges that feed Window operators
    whose expression mentions ``marker``, each exchange counted once."""
    accs: set[int] = set()
    for ex in execs:
        for root in log.plans.get(ex, [])[-1:]:
            for win in walk(root):
                if win.name == "Window" and marker in win.text:
                    for exch in _first_exchanges(win):
                        acc = exch.metrics.get("shuffle bytes written")
                        if acc is not None:
                            accs.add(acc)
    return sum(log.accum.get(a, 0) for a in accs)


def _first_exchanges(node: PlanNode):
    for c in node.children:
        if c.name == "Exchange":
            yield c
        else:
            yield from _first_exchanges(c)


def span_work(log: EventLog) -> dict[int, dict]:
    """Per span id: jobs, tasks, failed tasks, executor CPU, GC, shuffle
    write and spill, charged to the span that submitted them."""
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for _, sid in log.jobs:
        if sid is not None:
            out[sid]["jobs"] += 1
    for t in log.tasks:
        sid = log.stage_span.get(t.stage)
        if sid is None:
            continue
        w = out[sid]
        w["tasks"] += 1
        w["failed_tasks"] += t.failed
        w["executor_cpu_s"] += t.cpu_s
        w["gc_s"] += t.gc_s
        w["shuffle_write_bytes"] += t.shuffle_write_bytes
        w["spill_bytes"] += t.spill_bytes
    return out


def busy_intervals(log: EventLog) -> list[tuple[float, float]]:
    return [(t.launch, t.finish) for t in log.tasks]
