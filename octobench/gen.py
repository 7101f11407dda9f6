"""Seeded input generator for the benchmark.

Every input is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files, another seed writes different ones. The
program under test only ever sees these files.

- ``star/``: the TPC-H-shaped star schema the workload registry reads
  (region, nation, customer, supplier, part, orders, lineitem), with
  the columns, types and value domains of the registry's test data.
- ``docs/documents.parquet``: a text corpus with a skewed vocabulary
  (so corpus heavy hitters exist) and planted exact and near
  duplicates (so the dedup operators have pairs to find).
- ``files/taxi.csv``: a taxi-trip CSV in the shape of the published
  OctoSQL group-by benchmark.
- ``files/events.json``: nested JSON-lines events (object, list and
  mixed-type fields) for the dialect's ``->``, ``::`` and ``~``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ["data", "spark", "query", "join", "scan", "filter", "group", "sort",
         "hash", "key", "value", "table", "column", "row", "window", "stream",
         "merge", "batch", "vector", "order", "part", "line", "customer",
         "fast", "slow", "big", "small", "agg", "the", "a"]
LANGS = ["en", "fr", "de", "es", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
TAGS = ["alpha", "beta", "gamma", "delta", "omega"]

_EPOCH_1995 = dt.datetime(1995, 1, 1)


def _write(table: pa.Table, path: str) -> None:
    # one row group, snappy, no statistics-dependent layout choices:
    # the file bytes depend on the data only
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _days(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> np.ndarray:
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(lo, "us") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def star_schema(root: str, seed: int, lineitems: int) -> dict[str, int]:
    """Registry star schema scaled so ``lineitem`` has ``lineitems``
    rows (the registry's test data: 600k rows at sf 0.1)."""
    rng = np.random.default_rng([seed, 1])
    sf = lineitems / 6_000_000
    n_ord = max(1500, int(1_500_000 * sf))
    # five orders per customer (TPC-H has ten): at these small scales
    # TPC-H's ratio leaves Q22's "no recent orders" pool near empty
    n_cust = n_ord // 5
    n_supp = max(50, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    os.makedirs(root, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": REGIONS}), f"{root}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{root}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{root}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        # every nation has suppliers: Q11/Q20/Q21 select one nation's
        "s_nationkey": pa.array(rng.permutation(np.arange(n_supp) % 25), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{root}/supplier.parquet")
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    _write(pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900 + (pk % 1000) / 10.0}),
        f"{root}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, _EPOCH_1995, dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{root}/orders.parquet")
    n = lineitems
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n)}),
        f"{root}/lineitem.parquet")
    return {"lineitem": n, "orders": n_ord, "part": n_part,
            "customer": n_cust, "supplier": n_supp}


def documents(root: str, seed: int, n_docs: int) -> dict[str, int]:
    """Corpus with a Zipf-skewed vocabulary; ~4% of documents are
    exact copies and ~6% near copies (one word appended, Jaccard of
    word 3-shingles >= 0.9) of an earlier document."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(root, exist_ok=True)
    w = 1.0 / np.arange(1, len(WORDS) + 1) ** 0.8
    w /= w.sum()
    texts: list[str] = []
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        if i >= 10 and kinds[i] < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and kinds[i] < 0.10:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " " + WORDS[int(rng.integers(0, len(WORDS)))])
        else:
            n = int(rng.integers(12, 90))
            texts.append(" ".join(np.array(WORDS)[rng.choice(len(WORDS), n, p=w)]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{root}/documents.parquet")
    return {"documents": n_docs}


def taxi_csv(path: str, seed: int, rows: int) -> int:
    """NYC-taxi-shaped trips (18 columns, mostly numeric) with
    RFC3339 pickup/dropoff times. No quote characters appear."""
    rng = np.random.default_rng([seed, 3])
    pick = (np.datetime64("2021-04-01T00:00:00", "s")
            + rng.integers(0, 30 * 86400, rows).astype("timedelta64[s]"))
    drop = pick + rng.integers(60, 3600, rows).astype("timedelta64[s]")
    fare = rng.integers(250, 9000, rows) / 100.0
    tip = rng.integers(0, 2000, rows) / 100.0
    tolls = np.where(rng.random(rows) < 0.05, 6.55, 0.0)
    total = np.round(fare + tip + tolls + 0.5 + 0.5 + 0.3 + 2.5, 2)
    cols = {
        "VendorID": rng.integers(1, 3, rows),
        "tpep_pickup_datetime": np.datetime_as_string(pick),
        "tpep_dropoff_datetime": np.datetime_as_string(drop),
        "passenger_count": rng.integers(0, 7, rows),
        "trip_distance": rng.integers(10, 3000, rows) / 100.0,
        "RatecodeID": rng.integers(1, 6, rows),
        "store_and_fwd_flag": np.array(["N", "Y"])[(rng.random(rows) < 0.02).astype(int)],
        "PULocationID": rng.integers(1, 266, rows),
        "DOLocationID": rng.integers(1, 266, rows),
        "payment_type": rng.integers(1, 5, rows),
        "fare_amount": fare,
        "extra": np.array([0.0, 0.5, 1.0])[rng.integers(0, 3, rows)],
        "mta_tax": np.full(rows, 0.5),
        "tip_amount": tip,
        "tolls_amount": tolls,
        "improvement_surcharge": np.full(rows, 0.3),
        "total_amount": total,
        "congestion_surcharge": np.full(rows, 2.5),
    }
    cols["tpep_pickup_datetime"] = np.char.add(cols["tpep_pickup_datetime"], "Z")
    cols["tpep_dropoff_datetime"] = np.char.add(cols["tpep_dropoff_datetime"], "Z")
    with open(path, "wb") as f:
        f.write((",".join(cols) + "\n").encode())
        # money and distances always carry two decimals, so the
        # 100-row sampled inference types them Float, never Int
        table = pa.table({k: (pa.array(v).cast(pa.decimal128(12, 2))
                              if v.dtype == np.float64 else v)
                          for k, v in cols.items()})
        pacsv.write_csv(table, f, pacsv.WriteOptions(
            include_header=False, quoting_style="none"))
    return rows


def events_json(path: str, seed: int, rows: int) -> int:
    """Nested JSON-lines events: an object field (``user``), a list
    (``tags``) and a field that is an int on some lines and a string
    on others (``code``), plus an RFC3339 ``ts``."""
    rng = np.random.default_rng([seed, 4])
    t0 = dt.datetime(2024, 1, 1)
    secs = np.sort(rng.integers(0, 3 * 86400, rows))
    uid = rng.integers(1, 200, rows)
    etype = rng.integers(0, len(EVENT_TYPES), rows)
    value = rng.integers(0, 100000, rows) / 100.0
    ntag = rng.integers(0, 4, rows)
    code = rng.integers(100, 600, rows)
    code_str = rng.random(rows) < 0.3
    with open(path, "w", encoding="ascii", newline="\n") as f:
        for i in range(rows):
            tags = [TAGS[int(t)] for t in rng.integers(0, len(TAGS), int(ntag[i]))]
            rec = {"event_id": i,
                   "ts": (t0 + dt.timedelta(seconds=int(secs[i]))).strftime("%Y-%m-%dT%H:%M:%SZ"),
                   "user": {"id": int(uid[i]), "name": f"user{int(uid[i]):03d}",
                            "tier": int(uid[i]) % 3},
                   "type": EVENT_TYPES[int(etype[i])],
                   "value": float(value[i]),
                   "tags": tags,
                   "code": str(int(code[i])) if code_str[i] else int(code[i])}
            f.write(json.dumps(rec, separators=(",", ":")) + "\n")
    return rows
