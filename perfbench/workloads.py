"""The benchmark's workloads.

Each workload is a closed loop with one client: an iteration starts only
after the previous one finished. ``prepare`` (untimed) puts the on-disk
state back to the same starting point, ``iterate`` is the timed client
work, ``check`` (untimed) verifies the output with DuckDB.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, gen
from .trace import Probe, Tracer

def _tree_bytes(d: str) -> int:
    return sum(checks.dir_files(d).values()) if os.path.isdir(d) else 0


def _logical_bytes(d: str) -> int:
    """Uncompressed in-memory (Arrow) size of the parquet dataset in d."""
    return pq.read_table(d).nbytes


class NewFiles(Probe):
    """Bytes and files a call created or rewrote under its path argument."""

    def __init__(self, path_arg: int):
        self.path_arg = path_arg

    def _path(self, args, kwargs):
        return kwargs.get("path", args[self.path_arg] if len(args) > self.path_arg else None)

    def before(self, args, kwargs):
        return checks.dir_files(self._path(args, kwargs))

    def after(self, args, kwargs, result, state):
        now = checks.dir_files(self._path(args, kwargs))
        new = {p: s for p, s in now.items() if state.get(p) != s}
        return {"bytes_written": sum(new.values()), "files_written": len(new)}


class UpsertProbe(Probe):
    """Buckets a merge rewrote and the rows their new files hold."""

    def before(self, args, kwargs):
        return self._manifest(args[1])

    @staticmethod
    def _manifest(snapshot_dir):
        path = os.path.join(snapshot_dir, "_upsert_manifest.json")
        if not os.path.exists(path):
            return {}
        with open(path) as fh:
            return json.load(fh)["buckets"]

    def after(self, args, kwargs, result, state):
        snapshot_dir = args[1]
        now = self._manifest(snapshot_dir)
        touched = [b for b, fs in now.items() if state.get(b) != fs]
        rewritten = sum(pq.ParquetFile(os.path.join(snapshot_dir, f)).metadata.num_rows
                        for b in touched for f in now[b])
        return {"touched_buckets": len(touched), "rows_rewritten": rewritten}


class Workload:
    name = ""
    unit = ""
    params: dict = {}
    # warm iterations a run makes at least, whatever its window
    min_warm = 1

    def generate(self, out_dir: str, seed: int) -> dict:
        raise NotImplementedError

    def open(self, spark, inputs: str, work: str, summary: dict) -> None:
        self.spark, self.inputs, self.work, self.summary = spark, inputs, work, summary

    def prepare(self, i: int) -> None:
        pass

    def iterate(self, i: int, tracer: Tracer | None) -> list[tuple[str, float]]:
        """Run one iteration; returns (operation kind, seconds) per client
        operation the loop performed."""
        raise NotImplementedError

    def check(self, i: int) -> checks.Result:
        raise NotImplementedError

    def units(self) -> int:
        raise NotImplementedError

    def write_amp(self, i: int) -> float:
        raise NotImplementedError

    def trace_targets(self) -> list[tuple[str, str, Probe | None]]:
        return []

    def trace_extra(self, i: int, tracer: Tracer) -> dict:
        """Counters taken after a traced iteration, outside its spans."""
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------- ETL

HISTORY_DEPTH = 3
_STR, _DBL = pa.string(), pa.float64()
HISTORY_SCHEMAS = {
    "mars_tam_nvs": pa.schema(
        [(c, _STR) for c in ("product_brand_name", "source")] + [("year_month", pa.int64())]
        + [(c, _STR) for c in ("zip", "audience", "channel")] + [(c, _DBL) for c in ("reach", "engage", "cost")]),
    "mars_combined_nvs_data": pa.schema(
        [(c, _STR) for c in ("brand", "channel", "audience", "year", "month", "zip_code", "dma", "state",
                             "country")] + [(c, _DBL) for c in ("reach", "engage", "cost")]),
}
VINTAGE_FILES = {f"{t}.parquet" for t in
                 ["calls_v1", "calls_v2", "calls_v3", "calls_v4", "display_v1", "display_v2",
                  "display_v3", "search_v1", "search_v2", "search_v3", "poc_v1", "poc_v2",
                  "poc_v3", "social_v1", "social_v2"]}


class EtlRunAll(Workload):
    name = "etl_run_all"
    unit = "input rows"
    params = {"n_npi": 5000, "calls_per_npi_month": 0.75}
    # run_s and the merge latencies are medians over these. A run (set-up,
    # cold iteration, 2 warm ones) takes about 65 s on 4 cores: a third
    # warm iteration would leave no margin in the run budget
    min_warm = 2

    def generate(self, out_dir, seed):
        return gen.gen_etl(out_dir, seed, **self.params)

    def open(self, spark, inputs, work, summary):
        from pyspark.sql.pandas.types import from_arrow_schema

        super().open(spark, inputs, work, summary)
        # the schema is given, not inferred: inference runs a Spark job per
        # file, 27 of them before every run
        self.tables = {os.path.basename(p)[:-len(".parquet")]:
                       spark.read.schema(from_arrow_schema(pq.read_schema(p))).parquet(p)
                       for p in sorted(glob.glob(os.path.join(inputs, "*.parquet")))}

    def _root(self, i):
        return os.path.join(self.work, f"etl_out_{i}")

    def _seed_root(self) -> str:
        """An output root holding HISTORY_DEPTH earlier history versions of
        both tables, so the version probe has a history to read."""
        root = os.path.join(self.work, "etl_seed_root")
        if not os.path.exists(root):
            for table, schema in HISTORY_SCHEMAS.items():
                for v in range(1, HISTORY_DEPTH + 1):
                    d = os.path.join(root, f"{table}_historical", f"version={v}")
                    os.makedirs(d)
                    pq.write_table(pa.table({f.name: pa.array([None], f.type) for f in schema},
                                            schema=schema), os.path.join(d, "part-00000.parquet"))
        return root

    def prepare(self, i):
        # every iteration starts from the same pre-seeded root: reusing one
        # root would grow the history (and the version probe's listing)
        shutil.rmtree(self._root(i - 1), ignore_errors=True)
        shutil.rmtree(self._root(i), ignore_errors=True)
        shutil.copytree(self._seed_root(), self._root(i))

    def iterate(self, i, tracer):
        from gcp_dataengineering_spark.pipelines import jobs

        t = time.perf_counter()
        jobs.run_all(self.spark, self.tables, self._root(i), batch_id=f"iter{i}")
        return [("run_all", time.perf_counter() - t)]

    def check(self, i):
        return checks.check_etl(self.inputs, self._root(i), f"iter{i}")

    def units(self):
        return sum(self.summary.values())

    def write_amp(self, i):
        root = self._root(i)
        logical = sum(_logical_bytes(os.path.join(root, f"{t}_staging"))
                      for t in ("mars_tam_nvs", "mars_combined_nvs_data"))
        return (_tree_bytes(root) - _tree_bytes(self._seed_root())) / logical

    def trace_targets(self):
        return [
            ("pipelines.jobs", "run_all", None),
            ("pipelines.jobs", "run_tam_job", None),
            ("pipelines.jobs", "run_digital_job", None),
            ("pipelines.tam", "nvs_tam", None),
            ("pipelines.digital", "nvs_digital", None),
            ("sources.io", "write_snapshot", NewFiles(1)),
            ("sources.io", "write_versioned_history", NewFiles(2)),
            ("sources.io", "read_max_version", None),
            ("sources.io", "append_audit", NewFiles(1)),
            ("ops.vintage", "union_vintages", None),
        ]


# ---------------------------------------------------------------- CDC

class CdcUpsert(Workload):
    name = "cdc_upsert"
    unit = "change rows"
    # 'n' narrow batch, 'w' wide batch, applied in this order
    params = {"n_keys": 100000, "n_buckets": 16, "pattern": "nwnnwnw",
              "narrow_keys": 32, "narrow_buckets": 2, "wide_keys": 4000, "insert_frac": 0.1}
    # 4 x 7 merges: 16 narrow and 12 wide, so the median falls among the
    # narrow merges and the tail percentile (p64 of 28) among the wide
    min_warm = 4
    KEYS, VERSION = ["id"], ["version"]

    def generate(self, out_dir, seed):
        return gen.gen_cdc(out_dir, seed, **self.params)

    def open(self, spark, inputs, work, summary):
        from gcp_dataengineering_spark.streaming import upsert

        super().open(spark, inputs, work, summary)
        self.pristine = os.path.join(work, "cdc_pristine")
        self.snap = os.path.join(work, "cdc_snapshot")
        if not os.path.exists(self.pristine):
            upsert.upsert_batch_into_bucketed_snapshot(
                spark.read.parquet(os.path.join(inputs, "base.parquet")), self.pristine,
                self.KEYS, self.VERSION, self.params["n_buckets"])
        self.batches = summary["batches"]
        self.change_bytes = sum(pq.read_table(os.path.join(inputs, b["path"])).nbytes
                                for b in self.batches)
        self.duck = duckdb.connect()
        checks.expected_cdc(self.duck, inputs, [b["path"] for b in self.batches])
        self.scanned = None
        self.written = 0

    def prepare(self, i):
        shutil.rmtree(self.snap, ignore_errors=True)
        shutil.copytree(self.pristine, self.snap)

    def iterate(self, i, tracer):
        from pyspark.sql import functions as F

        from gcp_dataengineering_spark.streaming import upsert

        ops = []
        seen = checks.dir_files(self.snap)
        self.written = 0
        for b in self.batches:
            if tracer is not None:
                tracer.context.update(kind=b["kind"], rows=b["rows"])
            t = time.perf_counter()
            upsert.upsert_batch_into_bucketed_snapshot(
                self.spark.read.parquet(os.path.join(self.inputs, b["path"])), self.snap,
                self.KEYS, self.VERSION, self.params["n_buckets"])
            ops.append((b["kind"], time.perf_counter() - t))
            now = checks.dir_files(self.snap)
            self.written += sum(s for p, s in now.items() if seen.get(p) != s)
            seen = now
        if tracer is not None:
            tracer.context.pop("kind")
            tracer.context.pop("rows")
        t = time.perf_counter()
        df = upsert.read_bucketed_snapshot(self.spark, self.snap)
        row = df.agg(F.count("*"), F.sum("id"), F.sum("version"), F.sum("qty"),
                     F.round(F.sum("amount"), 2)).collect()[0]
        ops.append(("scan", time.perf_counter() - t))
        self.scanned = tuple(row)
        return ops

    def check(self, i):
        return checks.check_cdc(self.duck, self.snap, self.scanned)

    def units(self):
        return sum(b["rows"] for b in self.batches)

    def write_amp(self, i):
        return self.written / self.change_bytes

    def trace_targets(self):
        return [
            ("streaming.upsert", "upsert_batch_into_bucketed_snapshot", UpsertProbe()),
            ("streaming.upsert", "read_bucketed_snapshot", None),
        ]

    def trace_extra(self, i, tracer):
        return {"streaming.upsert.live_files": len(checks.live_files(self.snap))}

    def close(self):
        if getattr(self, "duck", None) is not None:
            self.duck.close()


WORKLOADS = {w.name: w for w in (EtlRunAll, CdcUpsert)}
