"""Seeded input generators for the workloads.

Every generator is a pure function of (seed, size parameters): the same
arguments write byte-identical parquet. Inputs are written with pyarrow
only, so the package under test never sees anything but the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ETL

# (table, first yrmo kept by nvs_tam, last yrmo kept or None) — each
# vintage file also holds rows up to OVERLAP months on either side of
# its kept range, which the vintage predicates must drop.
CALL_VINTAGES = [
    ("calls_v1", 202201, 202206),
    ("calls_v2", 202207, 202212),
    ("calls_v3", 202301, 202312),
    ("calls_v4", 202401, 202412),
]
OVERLAP = 2
TAM_POTS = {"2022": 32000000.0, "2023": 32000000.0, "2024": 36583323.0}
N_DMA = 210
WEEKLY_ZIPS = 40
OLD_CHANNELS = ["EHR", "3RD_PARTY_EMAIL", "POC", "DISPLAY", "VIDEO", "CUSTOM", "ENDEMIC_SOCIAL"]
# no Custom/Video monthly reach in 2024, so the missing-cost path runs
NEW_CHANNELS = ["EHR", "3rd Party Email", "Digital Display"]


def _months(lo: int, hi: int) -> list[int]:
    out, y, m = [], lo // 100, lo % 100
    while y * 100 + m <= hi:
        out.append(y * 100 + m)
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _shift(yrmo: int, k: int) -> int:
    idx = (yrmo // 100) * 12 + (yrmo % 100 - 1) + k
    return (idx // 12) * 100 + idx % 12 + 1


def _strs(prefix: str, ids: np.ndarray, width: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(ids.astype(str), width))


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def gen_etl(out_dir: str, seed: int, n_npi: int, calls_per_npi_month: float) -> dict:
    """TAM call vintages + MDM/HCP-org dims at HCP scale, and the digital
    feeds and cost sheets at DMA x month grain. Returns the row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}
    npis = _strs("N", np.arange(n_npi), 7)
    zips = _strs("", rng.integers(10000, 99999, n_npi), 5)
    npi_arr, zip_arr = pa.array(npis), pa.array(zips)
    city_arr = pa.array(np.char.add("C", (np.arange(n_npi) % 977).astype(str)))
    state_arr = pa.array(np.char.add("S", (np.arange(n_npi) % 50).astype(str)))
    flags = pa.array(["0", "1"])
    small = pa.array([str(i) for i in range(6)])
    for name, lo, hi in CALL_VINTAGES:
        months = np.array(_months(_shift(lo, -OVERLAP), min(_shift(hi, OVERLAP), 202412)))
        n = int(n_npi * len(months) * calls_per_npi_month)
        who = rng.integers(0, n_npi, n)
        flag = rng.choice(4, n, p=[0.4, 0.3, 0.2, 0.1])
        npi_null = pa.array(rng.random(n) < 0.005)
        t = pa.table({
            "npi_num": pc.if_else(npi_null, pa.scalar(None, pa.string()), npi_arr.take(who)),
            "zip_cd": zip_arr.take(who),
            "city": city_arr.take(who),
            "state": state_arr.take(who),
            "brand": pa.array(["XOLAIR"]).take(np.zeros(n, np.int64)),
            "yrmo": np.sort(months[rng.integers(0, len(months), n)]).astype(np.int64),
            "call_p1": flags.take((flag == 0).astype(np.int64)),
            "call_p2": flags.take((flag == 1).astype(np.int64)),
            "call_p3": flags.take((flag == 2).astype(np.int64)),
            "calls": small.take(rng.integers(1, 6, n)),
            "lunch_n_learn_calls": flags.take((rng.random(n) < 0.05).astype(np.int64)),
        })
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = n
    in_mdm = rng.random(n_npi) < 0.97
    mdm_ids = _strs("M", np.arange(n_npi), 7)
    _write(pa.table({
        "npi_number": npis[in_mdm],
        "mdm_id": mdm_ids[in_mdm],
        "mdm_zip": zips[in_mdm],
    }), os.path.join(out_dir, "mdm.parquet"))
    xolair = rng.random(n_npi) < 0.7
    brands = [["XOLAIR", "OTHER"] if x else ["OTHER"] for x in xolair]
    _write(pa.table({
        "mdm_id": mdm_ids,
        "mdm_zip": _strs("", rng.integers(10000, 99999, n_npi), 5),
        "product_brand_name": pa.array(brands, pa.list_(pa.string())),
    }), os.path.join(out_dir, "hcp_org.parquet"))
    counts["mdm"] = int(in_mdm.sum())
    counts["hcp_org"] = n_npi

    counts.update(_gen_digital(out_dir, rng))
    return counts


def _gen_digital(out_dir: str, rng: np.random.Generator) -> dict[str, int]:
    counts = {}
    codes = np.arange(500, 500 + N_DMA)
    names = np.char.add("DMA_", (codes - 500).astype(str))

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows

    # demographics: one row per zip, so (dma_code, dma_name) repeats
    per = rng.integers(5, 30, N_DMA)
    dm = np.repeat(np.arange(N_DMA), per)
    put("demographics", {
        "dma_code": codes[dm].astype(str),
        "dma_name": names[dm],
        "zip": _strs("", np.arange(len(dm)) + 10000, 5),
    })

    def feed(name: str, lo: int, hi: int, dma_col: str, clicks: bool = True) -> None:
        months = np.array(_months(lo, hi))
        mm, dd = np.meshgrid(months, np.arange(N_DMA), indexing="ij")
        mm, dd = mm.ravel(), dd.ravel()
        cols = {
            "year_mth": mm.astype(np.int64),
            dma_col: names[dd],
            "dma_code": codes[dd].astype(str),
            "impressions": rng.integers(100, 99999, len(mm)).astype(str),
        }
        if clicks:
            cols["clicks"] = rng.integers(1, 999, len(mm)).astype(str)
        put(name, cols)

    # each vintage overlaps the next by a month its predicate drops
    for base, col, clicks in (("display", "dma_region", True), ("search", "dma_name", True),
                              ("poc", "dma", False)):
        feed(f"{base}_v1", 202201, 202301, col, clicks)
        feed(f"{base}_v2", 202212, 202401, col, clicks)
        feed(f"{base}_v3", 202312, 202412, col, clicks)
    feed("social_v1", 202201, 202301, "dma_name")
    feed("social_v2", 202212, 202412, "dma_name")

    days = np.arange(np.datetime64("2022-01-01"), np.datetime64("2023-01-08"))
    dd, dm_ = np.meshgrid(days, np.arange(N_DMA), indexing="ij")
    put("hcp_search_daily", {
        "dma_code": codes[dm_.ravel()].astype(str),
        "activity_date": np.datetime_as_string(dd.ravel(), unit="D"),
        "impressions": rng.integers(50, 999, dd.size).astype(str),
        "clicks": rng.integers(1, 99, dd.size).astype(str),
    })
    for name, lo, hi in (("hcp_search_m1", 202212, 202401), ("hcp_search_m2", 202312, 202412)):
        months = np.array(_months(lo, hi))
        mm, dx = np.meshgrid(months, np.arange(N_DMA), indexing="ij")
        put(name, {
            "dma_code": codes[dx.ravel()].astype(str),
            "year_mth": mm.ravel().astype(np.int64),
            "impressions": rng.integers(100, 9999, mm.size).astype(str),
            "clicks": rng.integers(1, 999, mm.size).astype(str),
        })

    # weekly tall feed: channel x week x zip x metric; weeks >= 49 wrap
    # months, null zips and 2024 weeks are dropped by the pipeline
    weeks = np.array([y * 100 + w for y in (2022, 2023) for w in range(1, 53)] + [202401, 202402])
    ch, wk, zp, me = np.meshgrid(np.arange(len(OLD_CHANNELS)), weeks, np.arange(WEEKLY_ZIPS),
                                 np.arange(2), indexing="ij")
    zip_vals = _strs("Z", zp.ravel(), 4).astype(object)
    zip_vals[zp.ravel() == 0] = None
    put("hcp_all_weekly", {
        "channel": np.array(OLD_CHANNELS)[ch.ravel()],
        "yrwk": wk.ravel().astype(np.int64),
        "zip_cd": pa.array(zip_vals, pa.string()),
        "metric": np.array(["REACH", "ENGAGEMENT"])[me.ravel()],
        "value": rng.integers(10, 500, ch.size).astype(str),
    })

    def monthly(name: str, chans: list[str] | None, clicks: bool) -> None:
        months = np.array(_months(202311, 202412))
        nch = len(chans) if chans else 1
        mm, cc, dx = np.meshgrid(months, np.arange(nch), np.arange(N_DMA), indexing="ij")
        cols = {
            "dma_code": codes[dx.ravel()].astype(np.int64),
            "year_mth": mm.ravel().astype(np.int64),
            "impressions": rng.integers(100, 999, mm.size).astype(np.float64),
        }
        if chans:
            cols["ipmm_channel"] = np.array(chans)[cc.ravel()]
        if clicks:
            cols["clicks"] = rng.integers(1, 99, mm.size).astype(np.float64)
        put(name, cols)

    monthly("hcp_all_monthly", NEW_CHANNELS, True)
    monthly("hcp_poc_monthly", None, False)
    monthly("hcp_social_monthly", None, True)

    months = _months(202201, 202412)

    def money(lo: int, hi: int) -> list[str]:
        return [f"{v:,}" for v in rng.integers(lo, hi, len(months))]

    put("costs_wide", {
        "date_month_": [f"{m // 100}-{m % 100:02d}" for m in months],
        "dtc_display_": money(10000, 99999),
        "dtc_search": money(10000, 99999),
        "dtc_poc": money(10000, 99999),
        "dtc_social": money(10000, 99999),
        "npp": money(100000, 999999),
    })
    rows = [
        (ym, aud, ch)
        for ym in _months(202401, 202412)
        for aud, chans in (
            ("DTC", ["Digital Display", "Paid Search", "POC", "Endemic Social"]),
            ("HCP", ["Digital Display", "Paid Search", "POC", "3rd Party Email",
                     "Endemic Social", "Online Video", "Video", "Custom", "EHR"]),
        )
        for ch in chans
    ]
    put("costs_unpivot", {
        "year_month": np.array([r[0] for r in rows], np.int64),
        "audience": [r[1] for r in rows],
        "channel": [r[2] for r in rows],
        "cost": rng.integers(5000, 50000, len(rows)).astype(np.float64),
    })
    return counts


# ---------------------------------------------------------------- CDC

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def spark_bucket(keys: np.ndarray, n_buckets: int) -> np.ndarray:
    """Spark's ``pmod(xxhash64(key), n)`` for a bigint key column (XXH64 of
    the 8-byte value, seed 42): lets the generator aim a batch at chosen
    buckets without asking the engine."""
    with np.errstate(over="ignore"):
        k = keys.astype(np.int64).view(np.uint64)
        h = np.uint64(42) + _P5 + np.uint64(8)
        h = h ^ (_rotl(k * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return np.mod(h.view(np.int64), n_buckets)


CDC_SCHEMA = pa.schema([
    ("id", pa.int64()), ("version", pa.int64()), ("amount", pa.float64()),
    ("status", pa.string()), ("qty", pa.int64()),
])


def _cdc_rows(rng: np.random.Generator, ids: np.ndarray, versions: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.table({
        "id": ids.astype(np.int64),
        "version": versions.astype(np.int64),
        "amount": np.round(rng.random(n) * 1000, 2),
        "status": np.array(["new", "open", "paid", "void"])[rng.integers(0, 4, n)],
        "qty": rng.integers(0, 1000, n).astype(np.int64),
    }, schema=CDC_SCHEMA)


def gen_cdc(out_dir: str, seed: int, n_keys: int, n_buckets: int, pattern: str,
            narrow_keys: int, narrow_buckets: int, wide_keys: int, insert_frac: float) -> dict:
    """A base snapshot of n_keys rows and a change stream of batches in
    the order given by pattern ('n' narrow, 'w' wide). Narrow batches pick
    their keys from narrow_buckets buckets; wide ones from all keys.
    Versions increase along the stream, with repeated keys inside a batch,
    so latest-version-wins has work to do."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    base_ids = np.arange(n_keys, dtype=np.int64)
    _write(_cdc_rows(rng, base_ids, rng.integers(1, 100, n_keys)), os.path.join(out_dir, "base.parquet"))
    by_bucket = [base_ids[spark_bucket(base_ids, n_buckets) == b] for b in range(n_buckets)]
    next_new = n_keys
    version = 100
    batches = []
    for i, kind in enumerate(pattern):
        if kind == "n":
            buckets = rng.choice(n_buckets, narrow_buckets, replace=False)
            pool = np.concatenate([by_bucket[b] for b in buckets])
            ids = rng.choice(pool, narrow_keys)
        else:
            ids = rng.integers(0, n_keys, wide_keys)
            n_new = int(wide_keys * insert_frac)
            ids[:n_new] = np.arange(next_new, next_new + n_new)
            next_new += n_new
        versions = version + rng.permutation(len(ids))
        version += len(ids)
        path = os.path.join(out_dir, f"batch_{i:03d}.parquet")
        _write(_cdc_rows(rng, ids, versions), path)
        batches.append({"path": os.path.basename(path), "kind": kind, "rows": len(ids)})
    return {"base_rows": n_keys, "batches": batches}
