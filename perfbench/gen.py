"""Seeded benchmark inputs.

Two families, both written as plain parquet so Spark and DuckDB read the
same bytes:

- ``tpch``: the ten star-schema tables the registry queries read
  (``catalog.TABLES``), at a scale factor ``sf`` (lineitem = 6M x sf
  rows), with the shapes of the FIXTURES.md section A tables: uniform
  keys, 2-dp money, midnight dates, tz-naive microsecond timestamps,
  5% near-duplicate documents (an earlier text plus `` dup``) and unit
  64-dim embeddings.
- ``taxi``: yellow-taxi monthly files following FIXTURES.md section B,
  plus a late month and a corrections set for the versioned-IO round.

The same (family, scale, seed) gives byte-identical files. Inputs are
cached per key under ``<checkout>/.perfbench_cache/inputs``; a finished
set carries ``meta.json`` (rows, bytes, sha256), written last.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

_EPOCH = datetime(1970, 1, 1)
_US = 1_000_000
_DAY_US = 86_400 * _US


def _us(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- tpch

_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
_ADJ = "large hot blue old cold small red green".split()
_NOUN = "ring bolt plate gear widget nut pipe valve".split()


def _tpch(out: str, sf: float, rng: np.random.Generator) -> dict[str, int]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part)
    price = np.round(900.0 + (keys % 1000) / 10.0, 2)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    d0, d1 = _us(datetime(1995, 1, 1)) // _DAY_US, _us(datetime(2001, 8, 1)) // _DAY_US
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord) * _DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    lpart = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    s1 = _us(datetime(2001, 11, 4)) // _DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(d0 + 1, s1 + 1, n_li) * _DAY_US),
    })
    e0 = _us(datetime(2024, 1, 1))
    span = 30 * _DAY_US
    ts = np.sort(rng.choice(span, n_ev, replace=False)) + e0
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.5, (10, 64))
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in t.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


# ---------------------------------------------------------------- taxi

TAXI_YEAR = 2023
LATE_MONTH = (2024, 1)
TOLERANCE_HOURS = 1
_HOUR_US = 3600 * _US


def _month_start(y: int, m: int) -> int:
    return _us(datetime(y, m, 1))


def _next_month(y: int, m: int) -> tuple[int, int]:
    return (y + 1, 1) if m == 12 else (y, m + 1)


def _taxi_file(rng: np.random.Generator, y: int, m: int, n: int) -> pa.Table:
    """One month file: ``n`` in-month rows plus the section B outliers.

    The first ``n`` rows are the in-month ones, with distinct pickup
    times; pickup time is the merge key of the versioned round.
    """
    lo = _month_start(y, m)
    hi = _month_start(*_next_month(y, m))
    slots = rng.choice((hi - lo) // 1000, n, replace=False)  # distinct ms
    regular = lo + slots * 1000 + rng.integers(0, 1000, n)
    k = max(4, n // 500)

    def within(start, width):
        return start + rng.integers(0, width, k)

    outliers = np.concatenate([
        within(lo - TOLERANCE_HOURS * _HOUR_US, TOLERANCE_HOURS * _HOUR_US),  # kept
        within(lo - 3 * _HOUR_US, 2 * _HOUR_US),  # beyond tolerance: dropped
        within(_us(datetime(2008, 6, 1)), 30 * _DAY_US),  # far past: dropped
        within(hi, 5 * _DAY_US),  # next month (Dec -> next Jan): dropped
        [lo - TOLERANCE_HOURS * _HOUR_US, hi],  # the exact bounds: kept, dropped
    ])
    pickup = np.concatenate([regular, outliers]).astype("int64")
    total = len(pickup)
    dropoff = pickup + rng.integers(60, 90 * 60 + 1, total) * _US
    fare = np.round(rng.gamma(2.0, 8.0, total) + 2.5, 2)
    neg = rng.random(total) < 0.01  # refunds
    fare[neg] = -fare[neg]
    extra = rng.choice([0.0, 0.5, 1.0, 2.5], total)
    mta = np.where(neg, -0.5, 0.5)
    imp = np.where(neg, -1.0, 1.0)
    tip = np.round(np.where(neg, 0.0, rng.gamma(1.0, 2.0, total)), 2)
    tolls = np.where(rng.random(total) < 0.05, 6.55, 0.0)
    cong = np.where(rng.random(total) < 0.7, 2.5, 0.0)
    airport = np.where(rng.random(total) < 0.1, 1.25, 0.0)
    total_amt = np.round(fare + extra + mta + imp + tip + tolls + cong + airport, 2)
    pax = rng.integers(0, 7, total).astype("float64")
    rate = rng.choice([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 99.0], total)

    def nulls(values, share, type_):
        mask = rng.random(total) < share
        return pa.array(values, type_, mask=mask)

    return pa.table({
        "VendorID": pa.array(rng.choice([1, 2, 6], total), pa.int64()),
        "tpep_pickup_datetime": _ts(pickup),
        "tpep_dropoff_datetime": _ts(dropoff),
        "Passenger_count": nulls(pax, 0.03, pa.float64()),
        "Trip_distance": np.round(np.clip(rng.lognormal(0.8, 0.9, total), 0.1, 40.0), 2),
        "PULocationID": pa.array(rng.integers(1, 266, total), pa.int64()),
        "DOLocationID": pa.array(rng.integers(1, 266, total), pa.int64()),
        "RateCodeID": nulls(rate, 0.03, pa.float64()),
        "Store_and_fwd_flag": pa.array(
            np.array(["N", "Y", None], dtype=object)[rng.choice(3, total, p=[0.9, 0.07, 0.03])]
        ),
        "Payment_type": pa.array(rng.integers(0, 6, total), pa.int64()),
        "Fare_amount": fare,
        "Extra": extra,
        "MTA_tax": mta,
        "Improvement_surcharge": imp,
        "Tip_amount": tip,
        "Tolls_amount": tolls,
        "Total_amount": total_amt,
        "congestion_Surcharge": cong,
        "Airport_fee": nulls(airport, 0.05, pa.float64()),
    })


GOLD_COLS = [
    "tpep_pickup_datetime", "tpep_dropoff_datetime", "Passenger_count",
    "Trip_distance", "Total_amount",
]


def _corrections(rng, files: list[pa.Table], n_regular: int, n: int) -> pa.Table:
    """Gold-shaped MERGE updates: ``n`` re-priced existing in-month trips
    (their pickup time is the key) plus ``n`` new trips in June."""
    src = files[int(rng.integers(0, len(files)))]
    idx = rng.choice(n_regular, n, replace=False)
    upd = src.take(pa.array(idx)).select(GOLD_COLS)
    upd = upd.set_column(4, "Total_amount", pa.array(np.round(rng.uniform(5, 80, n), 2)))
    lo = _month_start(TAXI_YEAR, 6)
    new_pick = lo + rng.choice(29 * _DAY_US // 1000, n, replace=False) * 1000
    new = pa.table({
        "tpep_pickup_datetime": _ts(new_pick),
        "tpep_dropoff_datetime": _ts(new_pick + 600 * _US),
        "Passenger_count": pa.array(rng.integers(1, 5, n).astype("float64")),
        "Trip_distance": np.round(rng.uniform(0.5, 10, n), 2),
        "Total_amount": np.round(rng.uniform(5, 80, n), 2),
    })
    return pa.concat_tables([upd, new.cast(upd.schema)])


def _taxi(out: str, rows_per_month: int, rng: np.random.Generator) -> dict[str, int]:
    src = os.path.join(out, "source")
    os.makedirs(src)
    os.makedirs(os.path.join(out, "late"))
    rows = {}
    files = []
    for m in range(1, 13):
        tab = _taxi_file(rng, TAXI_YEAR, m, rows_per_month)
        files.append(tab)
        name = f"yellow_tripdata_{TAXI_YEAR}-{m:02d}.parquet"
        _write(tab, os.path.join(src, name))
        rows[name] = tab.num_rows
    late = _taxi_file(rng, *LATE_MONTH, max(100, rows_per_month // 10))
    name = "yellow_tripdata_%d-%02d.parquet" % LATE_MONTH
    _write(late, os.path.join(out, "late", name))
    rows["late/" + name] = late.num_rows
    corr = _corrections(rng, files, rows_per_month, max(10, rows_per_month // 200))
    _write(corr, os.path.join(out, "corrections.parquet"))
    rows["corrections"] = corr.num_rows
    return rows


# ---------------------------------------------------------------- cache

def input_hash(path: str) -> str:
    """sha256 over every data file (relative name + bytes), sorted."""
    h = hashlib.sha256()
    for dirpath, dirnames, names in os.walk(path):
        dirnames.sort()
        for name in sorted(names):
            if name == "meta.json":
                continue
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, names in os.walk(path) for f in names
    )


def ensure(family: str, scale: float, seed: int, cache: str = CACHE) -> tuple[str, dict]:
    """Return (dir, meta) of the input set, generating it on first use."""
    out = os.path.join(cache, "inputs", f"{family}-{scale:g}-seed{seed}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, 0 if family == "tpch" else 1])
    if family == "tpch":
        rows = _tpch(out, scale, rng)
    elif family == "taxi":
        rows = _taxi(out, int(scale), rng)
    else:
        raise ValueError(f"unknown input family {family!r}")
    meta = {"rows": rows, "bytes": dir_bytes(out), "sha256": input_hash(out)}
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    os.rename(meta_path + ".tmp", meta_path)
    return out, meta
