"""Output checks computed without the package: DuckDB reads the generated
inputs and the files the package wrote. Each check returns a list of
(name, passed, detail)."""

from __future__ import annotations

import json
import os

import duckdb

from .gen import CALL_VINTAGES, TAM_POTS

Result = list[tuple[str, bool, str]]


def _pq(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _files(d: str) -> str:
    return _pq(os.path.join(d, "*.parquet"))


# ---------------------------------------------------------------- ETL

def _tam_oracle_sql(inputs: str) -> str:
    branches = []
    for name, lo, hi in CALL_VINTAGES:
        pred = f"yrmo BETWEEN {lo} AND {hi}" if name != "calls_v4" else f"yrmo >= {lo}"
        branches.append(f"SELECT * FROM read_parquet({_pq(os.path.join(inputs, name + '.parquet'))}) WHERE {pred}")
    pots = ", ".join(f"('XOLAIR', {cost}, '{year}')" for year, cost in TAM_POTS.items())
    return f"""
    WITH raw AS ({' UNION ALL '.join(branches)}),
    norm AS (
      SELECT h.mdm_zip AS zip, r.yrmo AS year_month,
        CASE WHEN r.call_p1 = '1' OR r.lunch_n_learn_calls = '1' THEN 1
             WHEN r.call_p2 = '1' THEN 2 WHEN r.call_p3 = '1' THEN 3 END AS display_order
      FROM raw r
      JOIN read_parquet({_pq(os.path.join(inputs, 'mdm.parquet'))}) m ON r.npi_num = m.npi_number
      JOIN read_parquet({_pq(os.path.join(inputs, 'hcp_org.parquet'))}) h
        ON m.mdm_id = h.mdm_id AND list_contains(h.product_brand_name, 'XOLAIR')
      WHERE r.npi_num IS NOT NULL),
    pots(brand, cost, year) AS (VALUES {pots}),
    hc AS (
      SELECT n.year_month, n.zip, 1.0 / n.display_order AS reach, p.cost
      FROM norm n JOIN pots p ON substr(CAST(n.year_month AS VARCHAR), 1, 4) = p.year),
    fa AS (
      SELECT year_month, zip, reach,
        cost * reach / sum(reach) OVER (PARTITION BY substr(CAST(year_month AS VARCHAR), 1, 4)) AS cost
      FROM hc)
    SELECT 'XOLAIR' AS product_brand_name, 'NVS' AS source, year_month, zip,
      'CE' AS audience, 'tam_hd' AS channel, sum(reach) AS reach, sum(cost) AS cost
    FROM fa GROUP BY year_month, zip"""


def check_etl(inputs: str, root: str, batch_id: str) -> Result:
    con = duckdb.connect()
    try:
        return _check_etl(con, inputs, root, batch_id)
    finally:
        con.close()


def _close(a: str, b: str, rel: float) -> str:
    return f"(({a} IS NULL AND {b} IS NULL) OR abs({a} - {b}) <= {rel} * greatest(1.0, abs({b})))"


def _check_etl(con, inputs: str, root: str, batch_id: str) -> Result:
    out: Result = []
    snap = os.path.join(root, "mars_tam_nvs_staging")
    keys = ["product_brand_name", "source", "year_month", "zip", "audience", "channel"]
    on = " AND ".join(f"o.{k} = s.{k}" for k in keys)
    bad, n_oracle, n_snap = con.execute(f"""
        WITH o AS ({_tam_oracle_sql(inputs)}),
             s AS (SELECT * FROM read_parquet({_files(snap)}))
        SELECT count(*) FILTER (WHERE o.zip IS NULL OR s.zip IS NULL
                                 OR NOT {_close('s.reach', 'o.reach', 1e-9)}
                                 OR NOT {_close('s.cost', 'o.cost', 1e-6)}),
               count(o.zip), count(s.zip)
        FROM o FULL OUTER JOIN s ON {on}""").fetchone()
    out.append(("tam_matches_duckdb", bad == 0 and n_oracle > 0,
                f"{bad} mismatched of {n_oracle} oracle / {n_snap} snapshot rows"))

    rows = con.execute(f"""
        SELECT substr(CAST(year_month AS VARCHAR), 1, 4) AS y, sum(cost)
        FROM read_parquet({_files(snap)}) GROUP BY y ORDER BY y""").fetchall()
    off = [(y, c) for y, c in rows if abs(c - TAM_POTS[y]) > 1e-6 * TAM_POTS[y]]
    out.append(("tam_cost_sums_to_pot", bool(rows) and not off,
                f"{len(rows)} (brand, year) pots, off: {off}"))

    audit = con.execute(f"""
        SELECT table_name, rows_updated FROM read_parquet({_files(os.path.join(root, 'audit_job_info'))})
        WHERE log_id_status = 'COMPLETED' AND batch_id = '{batch_id}'""").fetchall()
    audit_rows = {t: n for t, n in audit}
    total = 0
    for table in ("mars_tam_nvs", "mars_combined_nvs_data"):
        n_snap = con.execute(
            f"SELECT count(*) FROM read_parquet({_files(os.path.join(root, table + '_staging'))})").fetchone()[0]
        n_hist = con.execute(f"""
            WITH h AS (SELECT * FROM read_parquet({_pq(os.path.join(root, table + '_historical', '*', '*.parquet'))},
                                                  hive_partitioning = true))
            SELECT count(*) FROM h WHERE version = (SELECT max(version) FROM h)""").fetchone()[0]
        n_audit = audit_rows.get(f"{table}_staging")
        total += n_snap
        out.append((f"{table}_counts_agree", n_snap == n_hist == n_audit and n_snap > 0,
                    f"snapshot {n_snap}, latest history {n_hist}, audit {n_audit}"))
    out.append(("job_audit_total", audit_rows.get("job") == total,
                f"job audit {audit_rows.get('job')}, tables {total}"))
    return out


# ---------------------------------------------------------------- CDC

def expected_cdc(con, inputs: str, batch_files: list[str]) -> None:
    """Create table ``expected``: the latest row per key over the base
    and every change batch."""
    files = ", ".join(_pq(os.path.join(inputs, f)) for f in ["base.parquet", *batch_files])
    con.execute(f"""
        CREATE OR REPLACE TABLE expected AS
        SELECT id, version, amount, status, qty FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY version DESC) AS rn
          FROM read_parquet([{files}])) WHERE rn = 1""")


def expected_aggregates(con) -> tuple:
    return con.execute(
        "SELECT count(*), sum(id), sum(version), sum(qty), round(sum(amount), 2) FROM expected").fetchone()


def live_files(snapshot_dir: str) -> list[str]:
    with open(os.path.join(snapshot_dir, "_upsert_manifest.json")) as fh:
        manifest = json.load(fh)
    return [os.path.join(snapshot_dir, f) for fs in manifest["buckets"].values() for f in fs]


def check_cdc(con, snapshot_dir: str, scanned: tuple) -> Result:
    files = ", ".join(_pq(f) for f in live_files(snapshot_dir))
    missing, extra = con.execute(f"""
        WITH s AS (SELECT id, version, amount, status, qty FROM read_parquet([{files}]))
        SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM s)),
               (SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM expected))""").fetchone()
    want = expected_aggregates(con)
    return [
        ("snapshot_equals_latest_per_key", missing == 0 and extra == 0,
         f"{missing} expected rows missing, {extra} unexpected rows"),
        ("scan_matches_expected", tuple(scanned) == tuple(want), f"scan {tuple(scanned)}, expected {want}"),
    ]


def dir_files(d: str) -> dict[str, int]:
    """path -> size of every file under d."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out

