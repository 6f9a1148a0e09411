"""The traced run: per-layer metrics and the tracing overhead.

One process, one JVM. The first half of the window runs untraced (the
same loop as an end-to-end run, giving the untraced ``run_s``); then a
new Spark context with the event log on runs the second half with every
layer wrapped. Per-layer metrics are medians over the traced iterations
(over the merges, for per-merge metrics). Tracing overhead is traced
``run_s`` minus untraced ``run_s``.
"""

from __future__ import annotations

import os
from collections import defaultdict

from . import eventlog, stats
from .trace import Span, Tracer, union_length, self_time
from .workloads import VINTAGE_FILES

UPSERT = "streaming.upsert.upsert_bucketed"

# The per-layer metrics of the benchmark definition, in the order they
# are reported; a layer the workload does not call reports 0.
PER_LAYER = [
    ("session.get_spark.wall_s", "s"),
    ("iteration.wall_s", "s"),
    ("iteration.idle_s", "s"),
    ("iteration.jobs", "count"),
    ("iteration.tasks", "count"),
    ("iteration.executor_cpu_s", "s"),
    ("iteration.gc_s", "s"),
    ("iteration.spill_bytes", "B"),
    ("iteration.failed_tasks", "count"),
    ("trace.overhead_s", "s"),
    ("pipelines.jobs.run_tam_job.wall_s", "s"),
    ("pipelines.jobs.run_tam_job.executor_cpu_s", "s"),
    ("pipelines.jobs.run_tam_job.shuffle_write_bytes", "B"),
    ("pipelines.jobs.run_digital_job.wall_s", "s"),
    ("pipelines.jobs.run_digital_job.idle_s", "s"),
    ("pipelines.jobs.run_digital_job.jobs", "count"),
    ("pipelines.jobs.run_digital_job.tasks", "count"),
    ("pipelines.tam.nvs_tam.wall_s", "s"),
    ("pipelines.digital.nvs_digital.wall_s", "s"),
    ("sources.io.write_snapshot.wall_s", "s"),
    ("sources.io.write_versioned_history.wall_s", "s"),
    ("sources.io.read_max_version.wall_s", "s"),
    ("sources.io.append_audit.wall_s", "s"),
    ("sources.io.bytes_written", "B"),
    ("sources.io.files_written", "count"),
    ("ops.vintage.rows_scanned", "count"),
    ("ops.vintage.kept_ratio", "ratio"),
    ("ops.allocate.shuffle_write_bytes", "B"),
    (f"{UPSERT}.narrow_wall_s", "s"),
    (f"{UPSERT}.wide_wall_s", "s"),
    (f"{UPSERT}.idle_s", "s"),
    (f"{UPSERT}.shuffle_write_bytes", "B"),
    ("streaming.upsert.touched_bucket_frac", "ratio"),
    ("streaming.upsert.rows_rewritten_per_change", "ratio"),
    ("streaming.upsert.read_bucketed_snapshot.wall_s", "s"),
    ("streaming.upsert.live_files", "count"),
]

class Attribution:
    """Spans joined with the event log: inclusive work per span, idle
    time (no task running), self time."""

    def __init__(self, spans: list[Span], log: eventlog.EventLog):
        self.spans = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        self.own = eventlog.span_work(log)
        self.busy = sorted(eventlog.busy_intervals(log))
        self.log = log

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children.get(s.id, [])
        return out

    def generic(self, span: Span) -> dict[str, float]:
        m = {"wall_s": span.wall, "self_s": self_time(span, self.children.get(span.id, []))}
        m["idle_s"] = span.wall - union_length(
            [(max(a, span.start), min(b, span.end)) for a, b in self.busy
             if b > span.start and a < span.end])
        for key in ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                    "spill_bytes", "failed_tasks"):
            m[key] = sum(self.own.get(s.id, {}).get(key, 0) for s in self.subtree(span))
        return m


def iteration_metrics(att: Attribution, root: Span) -> tuple[dict, list[dict]]:
    """Per-layer values of one traced iteration, plus one record per merge."""
    out: dict[str, float] = {}
    spans = att.subtree(root)
    for s in spans:
        name = "iteration" if s is root else s.name
        for k, v in att.generic(s).items():
            out[f"{name}.{k}"] = out.get(f"{name}.{k}", 0.0) + v
        for k in ("bytes_written", "files_written"):
            if k in s.attrs:
                out[f"sources.io.{k}"] = out.get(f"sources.io.{k}", 0.0) + s.attrs[k]
    ids = {s.id for s in spans}
    execs = {ex for ex, sid in att.log.exec_span.items() if sid in ids}
    read, kept = eventlog.vintage_rows(att.log, VINTAGE_FILES, execs)
    if read:
        out["ops.vintage.rows_scanned"] = read
        out["ops.vintage.kept_ratio"] = kept / read
    out["ops.allocate.shuffle_write_bytes"] = eventlog.window_exchange_bytes(att.log, execs, "sum(reach")
    merges = [{"kind": s.attrs.get("kind"), "rows": s.attrs.get("rows", 0), **att.generic(s),
               "touched": s.attrs.get("touched_buckets", 0), "rewritten": s.attrs.get("rows_rewritten", 0)}
              for s in spans if s.name == UPSERT]
    if merges:
        n_buckets = root.attrs.get("n_buckets", 1)
        out["streaming.upsert.touched_bucket_frac"] = (
            sum(m["touched"] for m in merges) / (len(merges) * n_buckets))
        out["streaming.upsert.rows_rewritten_per_change"] = (
            sum(m["rewritten"] for m in merges) / max(1, sum(m["rows"] for m in merges)))
    return out, merges


def layer_metrics(tracer: Tracer, log: eventlog.EventLog, extras: list[dict]) -> dict[str, float]:
    att = Attribution(tracer.spans, log)
    roots = [s for s in tracer.spans if s.name == "iteration"]
    per_iter, merges = [], []
    for root, extra in zip(roots, extras):
        values, ms = iteration_metrics(att, root)
        values.update(extra)
        per_iter.append(values)
        merges += ms
    keys = sorted({k for v in per_iter for k in v})
    out = {k: stats.median([v.get(k, 0.0) for v in per_iter]) for k in keys}
    for kind, key in (("n", "narrow_wall_s"), ("w", "wide_wall_s")):
        walls = [m["wall_s"] for m in merges if m["kind"] == kind]
        if walls:
            out[f"{UPSERT}.{key}"] = stats.median(walls)
    for key in ("idle_s", "shuffle_write_bytes"):
        if merges:
            out[f"{UPSERT}.{key}"] = stats.median([m[key] for m in merges])
    setup = next((s for s in tracer.spans if s.name == "session.get_spark"), None)
    if setup is not None:
        out["session.get_spark.wall_s"] = setup.wall
    return out


def run(args, wl, h: dict, end_to_end):
    from .run import Loop, start_spark, stop_spark

    tracer = Tracer()
    tracer.wrap("session", "get_spark")
    # one warm iteration at least on each side: the per-merge tail is not
    # reported here, so the untraced side needs no more than run_s
    e2e, untraced = end_to_end(args, wl, h, args.seconds / 2, 1, keep_jvm=True)
    ev_dir = os.path.join(h["run_dir"], "eventlog")
    os.makedirs(ev_dir)
    spark = start_spark(h["run_dir"], h, event_log=ev_dir)
    try:
        tracer.sc = spark.sparkContext
        for module, attr, probe in wl.trace_targets():
            name = UPSERT if attr == "upsert_batch_into_bucketed_snapshot" else None
            tracer.wrap(module, attr, probe, span_name=name)
        h["bindings"] = tracer.bindings()
        wl.open(spark, h["inputs"], h["run_dir"], h["summary"])
        tracer.context.clear()
        loop = Loop(wl, tracer)
        if "n_buckets" in wl.params:
            tracer.context["n_buckets"] = wl.params["n_buckets"]
        loop.warm(args.seconds / 2, 1)
    finally:
        wl.close()
        tracer.unwrap_all()
        stop_spark(spark)
    values = layer_metrics(tracer, eventlog.read(ev_dir), loop.extra)
    values["trace.overhead_s"] = stats.median(loop.iter_s) - e2e["run_s"][0]
    h["traced_iterations"] = len(loop.iter_s)
    h["untraced_run_s"] = e2e["run_s"][0]
    metrics = {name: (values.get(name, 0.0), unit) for name, unit in PER_LAYER}
    # every span's generic set, for the printed report only
    h["_all_layers"] = {k: v for k, v in values.items() if k not in metrics}
    loop.attempted += untraced.attempted
    loop.failed += untraced.failed
    loop.failures = untraced.failures + loop.failures
    return metrics, loop
