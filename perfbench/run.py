"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_run_all --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout that holds the package. Inputs are
generated from the seed (and cached under .bench_work/inputs); the
package only receives the generated parquet. Every iteration's output
is checked with DuckDB. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones
from a traced run, which also reports its own overhead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEM_MB = 2048
# the end-to-end metrics, in BENCHMARK.json order
E2E_UNITS = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s": "s",
    "rows_per_s": "1/s",
    "merge_p50_s": "s",
    "merge_tail_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}


def host() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {"cpus": cpus, "mem_mb": mem_kb // 1024,
            "driver_mem_mb": min(DRIVER_MEM_MB, mem_kb // 1024 // 2),
            "python": platform.python_version()}


def cpu_times() -> list[int]:
    """The aggregate CPU line of /proc/stat (user ... steal) in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def ensure_inputs(wl, seed: int) -> tuple[str, dict]:
    """Generated inputs for (workload, seed, size), made once per checkout."""
    key = hashlib.sha1(json.dumps(wl.params, sort_keys=True).encode()).hexdigest()[:10]
    d = os.path.join(WORK, "inputs", f"{wl.name}-s{seed}-{key}")
    marker = os.path.join(d, "summary.json")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        summary = wl.generate(d, seed)
        with open(marker + ".tmp", "w") as fh:
            json.dump(summary, fh)
        os.replace(marker + ".tmp", marker)
    with open(marker) as fh:
        return d, json.load(fh)


def spark_conf(run_dir: str, h: dict, event_log: str | None) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    # the heap is sized once at start (-Xms = the driver memory, which
    # sets -Xmx), so the JVM's resident peak does not depend on when the
    # collector chose to grow the heap
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{h['driver_mem_mb']}m -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(run_dir: str, h: dict, event_log: str | None = None):
    from gcp_dataengineering_spark import session

    spark = session.get_spark(f"perfbench-{os.getpid()}", cpus=h["cpus"],
                              extra_conf=spark_conf(run_dir, h, event_log))
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Loop:
    """The closed loop: iterations back to back, each from identical
    on-disk state, every output checked."""

    def __init__(self, wl, tracer=None):
        self.wl, self.tracer = wl, tracer
        self.iter_s: list[float] = []
        self.ops: list[tuple[str, float]] = []
        self.write_amp: list[float] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.last_checks: list = []
        self.extra: list[dict] = []
        self.i = 0

    def one(self) -> tuple[float, list[tuple[str, float]] | None]:
        """One iteration: (wall seconds, its client operations), or None
        for the operations when it raised."""
        wl, i = self.wl, self.i
        self.i += 1
        wl.prepare(i)
        t = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span("iteration", iteration=i):
                    ops = wl.iterate(i, self.tracer)
            else:
                ops = wl.iterate(i, None)
        except Exception:
            self.attempted += 1
            self.failed += 1
            self.failures.append(f"iteration {i} raised:\n{traceback.format_exc()}")
            return time.perf_counter() - t, None
        dt = time.perf_counter() - t
        self.attempted += len(ops)
        self.last_checks = wl.check(i)
        bad = [f"{name}: {detail}" for name, ok, detail in self.last_checks if not ok]
        if bad:
            self.failed += len(ops)
            self.failures.append(f"iteration {i} check failed: " + "; ".join(bad))
        if self.tracer is not None:
            self.extra.append(wl.trace_extra(i, self.tracer))
        return dt, ops

    def warm(self, seconds: float, min_iters: int) -> None:
        """Warm iterations until ``seconds`` have passed and at least
        ``min_iters`` ran."""
        start = time.perf_counter()
        while len(self.iter_s) < min_iters or time.perf_counter() - start < seconds:
            dt, ops = self.one()
            self.iter_s.append(dt)
            if ops is not None:
                self.ops += ops
                self.write_amp.append(self.wl.write_amp(self.i - 1))


def end_to_end(args, wl, h: dict, seconds: float, min_iters: int, keep_jvm: bool = False) -> tuple[dict, Loop]:
    """The untraced run: set-up, the cold iteration, then warm ones."""
    run_dir = h["run_dir"]
    t = time.perf_counter()
    spark = start_spark(run_dir, h)
    setup_s = time.perf_counter() - t
    try:
        wl.open(spark, h["inputs"], run_dir, h["summary"])
        loop = Loop(wl)
        cold_s, _ = loop.one()
        loop.warm(seconds, min_iters)
        h["spark"] = spark.version
        h["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        peak = jvm_peak_rss_mb(spark)
    finally:
        wl.close()
        if keep_jvm:
            spark.stop()
        else:
            stop_spark(spark)
    run_s = stats.median(loop.iter_s)
    merges = [s for kind, s in loop.ops if kind != "scan"] or loop.iter_s
    tail = stats.tail_percentile(merges)
    values = {
        "setup_s": setup_s,
        "cold_run_s": cold_s,
        "run_s": run_s,
        "rows_per_s": wl.units() / run_s,
        "merge_p50_s": stats.median(merges),
        "merge_tail_s": tail[1] if tail else max(merges),
        "write_amp": stats.median(loop.write_amp) if loop.write_amp else 0.0,
        "peak_rss_mb": peak,
    }
    metrics = {name: (values[name], unit) for name, unit in E2E_UNITS.items()}
    h["merge_tail"] = (f"p{tail[0]} of {len(merges)} merges ({tail[2]} beyond)" if tail
                       else f"max of {len(merges)} (too few for a percentile with 10 beyond)")
    h["iterations_s"] = [round(cold_s, 3)] + [round(x, 3) for x in loop.iter_s]
    h["work_per_iteration"] = f"{wl.units()} {wl.unit}"
    kinds = sorted({kind for kind, _ in loop.ops})
    h["op_median_s"] = {k: round(stats.median([s for kd, s in loop.ops if kd == k]), 4) for k in kinds}
    return metrics, loop


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import gcp_dataengineering_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]()
    h = host()
    h["seed"] = args.seed
    h["workload"] = wl.name
    h["params"] = wl.params
    run_dir = os.path.join(WORK, f"run-{wl.name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": f"{h['driver_mem_mb']}m",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile
    tempfile.tempdir = os.path.join(run_dir, "tmp")
    h["run_dir"] = run_dir
    cpu_start = cpu_times()
    try:
        h["inputs"], h["summary"] = ensure_inputs(wl, args.seed)
        if args.trace:
            from perfbench import traced
            metrics, loop = traced.run(args, wl, h, end_to_end)
        else:
            metrics, loop = end_to_end(args, wl, h, args.seconds, wl.min_warm)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    # CPU time the hypervisor gave to other guests during the run: a
    # high share explains a slow run without any change to the program
    delta = [b - a for a, b in zip(cpu_start, cpu_times())]
    h["cpu_steal_frac"] = round(delta[7] / max(1, sum(delta)), 4)

    for f in loop.failures:
        print(f"FAILED {f}")
    for name, ok, detail in loop.last_checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    info = {k: v for k, v in h.items() if k not in ("summary", "inputs", "run_dir") and not k.startswith("_")}
    print("host " + json.dumps(info, sort_keys=True))
    print(f"error_rate {loop.failed / max(loop.attempted, 1):.6f} ratio "
          f"({loop.failed} failed of {loop.attempted} operations)")
    for name, value in sorted(h.get("_all_layers", {}).items()):
        print(f"span {name} {value:.6g}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
