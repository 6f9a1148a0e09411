"""The DuckDB output checks accept correct outputs and reject broken ones,
and the generator's bucket function is the engine's."""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402


def _write_etl_outputs(inputs, root, corrupt=False):
    con = duckdb.connect()
    tam = con.execute(checks._tam_oracle_sql(inputs)).arrow()
    if corrupt:
        cost = tam.column("cost").to_pylist()
        cost[0] = (cost[0] or 0.0) + 1000.0
        tam = tam.set_column(tam.schema.get_field_index("cost"), "cost", pa.array(cost))
    digital = pa.table({"brand": ["XOLAIR"] * 3, "cost": [1.0, 2.0, 3.0]})
    audit = []
    for name, table in (("mars_tam_nvs", tam), ("mars_combined_nvs_data", digital)):
        os.makedirs(os.path.join(root, f"{name}_staging"))
        pq.write_table(table, os.path.join(root, f"{name}_staging", "part-0.parquet"))
        for v, t in ((1, table.slice(0, 1)), (2, table)):
            d = os.path.join(root, f"{name}_historical", f"version={v}")
            os.makedirs(d)
            pq.write_table(t, os.path.join(d, "part-0.parquet"))
        audit.append((f"{name}_staging", table.num_rows))
    audit.append(("job", sum(n for _, n in audit)))
    os.makedirs(os.path.join(root, "audit_job_info"))
    pq.write_table(pa.table({
        "table_name": [t for t, _ in audit], "rows_updated": [n for _, n in audit],
        "log_id_status": ["COMPLETED"] * len(audit), "batch_id": ["b1"] * len(audit),
    }), os.path.join(root, "audit_job_info", "part-0.parquet"))


def test_etl_check_accepts_oracle_and_rejects_changed_cost(tmp_path):
    inputs = str(tmp_path / "in")
    gen.gen_etl(inputs, seed=3, n_npi=300, calls_per_npi_month=0.2)
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _write_etl_outputs(inputs, good)
    _write_etl_outputs(inputs, bad, corrupt=True)
    assert all(ok for _, ok, _ in checks.check_etl(inputs, good, "b1"))
    results = {name: ok for name, ok, _ in checks.check_etl(inputs, bad, "b1")}
    assert not results["tam_matches_duckdb"] and not results["tam_cost_sums_to_pot"]
    assert results["mars_tam_nvs_counts_agree"]
    # an audit for another batch does not count
    assert not all(ok for _, ok, _ in checks.check_etl(inputs, good, "other"))


def test_cdc_check(tmp_path):
    inputs = str(tmp_path / "in")
    summary = gen.gen_cdc(inputs, seed=5, n_keys=500, n_buckets=4, pattern="nw", narrow_keys=8,
                          narrow_buckets=1, wide_keys=100, insert_frac=0.2)
    con = duckdb.connect()
    checks.expected_cdc(con, inputs, [b["path"] for b in summary["batches"]])
    want = checks.expected_aggregates(con)
    assert want[0] == 500 + 20

    def snapshot(d, drop):
        os.makedirs(os.path.join(d, "_ub=0"))
        t = con.execute("SELECT * FROM expected ORDER BY id").arrow()
        pq.write_table(t.slice(drop), os.path.join(d, "_ub=0", "part-0.parquet"))
        with open(os.path.join(d, "_upsert_manifest.json"), "w") as fh:
            json.dump({"generation": 1, "buckets": {"0": ["_ub=0/part-0.parquet"]}}, fh)

    snapshot(str(tmp_path / "ok"), 0)
    assert all(ok for _, ok, _ in checks.check_cdc(con, str(tmp_path / "ok"), want))
    snapshot(str(tmp_path / "short"), 1)
    res = {n: ok for n, ok, _ in checks.check_cdc(con, str(tmp_path / "short"), want[:1] + (0,) * 4)}
    assert not res["snapshot_equals_latest_per_key"] and not res["scan_matches_expected"]


def test_narrow_batches_stay_in_their_buckets(tmp_path):
    summary = gen.gen_cdc(str(tmp_path), seed=1, n_keys=2000, n_buckets=16, pattern="nnn",
                          narrow_keys=32, narrow_buckets=2, wide_keys=10, insert_frac=0.0)
    for b in summary["batches"]:
        ids = pq.read_table(os.path.join(str(tmp_path), b["path"])).column("id").to_numpy()
        assert len(set(gen.spark_bucket(ids, 16).tolist())) <= 2


def test_generators_are_deterministic(tmp_path):
    args = dict(n_keys=300, n_buckets=4, pattern="nw", narrow_keys=8, narrow_buckets=1,
                wide_keys=50, insert_frac=0.1)
    a = gen.gen_cdc(str(tmp_path / "a"), 7, **args)
    b = gen.gen_cdc(str(tmp_path / "b"), 7, **args)
    assert a == b
    for f in ["base.parquet"] + [x["path"] for x in a["batches"]]:
        assert pq.read_table(str(tmp_path / "a" / f)).equals(pq.read_table(str(tmp_path / "b" / f)))
    assert gen.gen_etl(str(tmp_path / "c"), 7, 40, 0.75) == gen.gen_etl(str(tmp_path / "d"), 7, 40, 0.75)
    for f in sorted(os.listdir(tmp_path / "c")):
        assert pq.read_table(str(tmp_path / "c" / f)).equals(pq.read_table(str(tmp_path / "d" / f)))


def test_spark_bucket_matches_the_engine():
    """pmod(xxhash64(id), n) as Spark computes it (needs a local JVM)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        keys = np.array([0, 1, -1, 42, 2**40 + 7, -(2**62), 123456789], dtype=np.int64)
        rows = spark.createDataFrame([(int(k),) for k in keys], "id long").select(
            F.pmod(F.xxhash64("id"), F.lit(16)).alias("b")).collect()
        assert [r.b for r in rows] == gen.spark_bucket(keys, 16).tolist()
    finally:
        spark.stop()
