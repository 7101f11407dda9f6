"""The benchmark's three workloads: inputs, operations and oracles.

An operation is what one closed-loop client request does: build a
DataFrame and run its action (``tpch_library``, ``corpus_pipeline``),
or run one CLI command end to end (``cli_files``). ``run`` is timed;
``check`` compares the output with a DuckDB oracle and is not.
"""

from __future__ import annotations

import contextlib
import csv
import io
import json
import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import gen

# Input sizes. They are small on purpose: every run pays a JVM launch
# and a cold warm-up pass, and a run of each workload has to stay
# well under a minute, so the per-operation fixed costs (build,
# Catalyst, job scheduling, Python workers) dominate, as they do for
# interactive queries over small and medium files.
LINEITEMS = 30_000
DOCUMENTS = 250
TAXI_ROWS = 60_000
EVENT_ROWS = 12_000

# The registry's TPC-H shapes, plus two entries built through
# ``octosql_spark.operators`` (an anti join and an ORDER BY ... LIMIT),
# so the operators layer is measured too.
TPCH_OPS = [
    "tpch_q2_min_cost_supplier", "tpch_q4_priority_check",
    "tpch_q8_market_share", "tpch_q11_important_stock",
    "tpch_q12_late_priority", "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue", "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts", "tpch_q17_small_quantity",
    "tpch_q18_large_volume", "tpch_q20_excess_stock",
    "tpch_q21_waiting_supplier", "tpch_q22_sales_opportunity",
    "join_anti", "order_by_limit",
]

# The registry entries that round a sum of sub-cent doubles to cents
# (ROUND(SUM(price * (1 - discount)), 2) and the like). When a group's
# exact sum ends in half a cent, the program's answer and the oracle's
# can differ by one cent, because the engines add and round doubles
# differently: the program's known defect "exact money sums" (ROADMAP).
# The exact check counts those as failed operations, on about half the
# seeds, so they run as a workload of their own, which reports the
# defect, rather than in ``tpch_library``.
MONEY_SUM_OPS = [
    "pricing_summary", "join_multiway_revenue",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
    "tpch_q9_product_profit", "tpch_q10_returned_items",
    "tpch_q19_disjunctive",
]

CORPUS_OPS = [
    "dedup_exact", "dedup_minhash_lsh", "text_quality",
    "text_winnowing_arrow", "text_heavy_hitters", "curate_pack_bins",
    "dedup_edit_distance", "cluster_connected_components",
]

# DuckDB views over the generated files, typed as the CLI's sampled
# inference types them (RFC3339 strings are times, 2-decimal numbers
# are floats, the mixed int/string ``code`` is a union read as text).
_TAXI_TYPES = {
    "VendorID": "BIGINT", "tpep_pickup_datetime": "TIMESTAMP",
    "tpep_dropoff_datetime": "TIMESTAMP", "passenger_count": "BIGINT",
    "trip_distance": "DOUBLE", "RatecodeID": "BIGINT",
    "store_and_fwd_flag": "VARCHAR", "PULocationID": "BIGINT",
    "DOLocationID": "BIGINT", "payment_type": "BIGINT",
    "fare_amount": "DOUBLE", "extra": "DOUBLE", "mta_tax": "DOUBLE",
    "tip_amount": "DOUBLE", "tolls_amount": "DOUBLE",
    "improvement_surcharge": "DOUBLE", "total_amount": "DOUBLE",
    "congestion_surcharge": "DOUBLE",
}
_EVENT_TYPES = {
    "event_id": "BIGINT", "ts": "TIMESTAMP",
    "user": "STRUCT(id BIGINT, name VARCHAR, tier BIGINT)",
    "type": "VARCHAR", "value": "DOUBLE", "tags": "VARCHAR[]",
    "code": "VARCHAR",
}
_TS = "'%Y-%m-%dT%H:%M:%SZ'"

# (name, output format, OctoSQL-dialect query, ANSI oracle, ordered).
# Together they cover every front-end rewrite family: ``->``, ``::``,
# ``~``, ``len``/``int``, ``range()``/``tumble()`` and FROM file.ext.
CLI_QUERIES = [
    ("taxi_groupby", "table",
     "SELECT passenger_count, COUNT(*) AS n, AVG(total_amount) AS avg_total "
     "FROM taxi.csv GROUP BY passenger_count",
     "SELECT passenger_count, COUNT(*) AS n, AVG(total_amount) AS avg_total "
     "FROM taxi GROUP BY passenger_count", False),
    ("taxi_tips", "csv",
     "SELECT payment_type, ROUND(SUM(tip_amount), 2) AS tips, COUNT(*) AS n "
     "FROM taxi.csv WHERE trip_distance > 10.0 GROUP BY payment_type "
     "ORDER BY payment_type",
     "SELECT payment_type, ROUND(SUM(tip_amount), 2) AS tips, COUNT(*) AS n "
     "FROM taxi WHERE trip_distance > 10.0 GROUP BY payment_type "
     "ORDER BY payment_type", True),
    ("taxi_regex", "json",
     "SELECT VendorID, COUNT(*) AS n FROM taxi.csv "
     "WHERE store_and_fwd_flag ~ 'Y' GROUP BY VendorID",
     "SELECT VendorID, COUNT(*) AS n FROM taxi "
     "WHERE regexp_matches(store_and_fwd_flag, 'Y') GROUP BY VendorID", False),
    ("taxi_int_miles", "table",
     "SELECT int(trip_distance) AS miles, COUNT(*) AS n, "
     "MAX(fare_amount) AS max_fare FROM taxi.csv WHERE trip_distance < 6.0 "
     "GROUP BY int(trip_distance)",
     "SELECT CAST(trunc(trip_distance) AS BIGINT) AS miles, COUNT(*) AS n, "
     "MAX(fare_amount) AS max_fare FROM taxi WHERE trip_distance < 6.0 "
     "GROUP BY 1", False),
    ("taxi_tumble_day", "csv",
     "SELECT window_end, COUNT(*) AS trips, ROUND(SUM(total_amount), 2) AS revenue "
     "FROM tumble(source => TABLE(SELECT * FROM taxi.csv), "
     "window_length => INTERVAL 1 DAY, "
     "time_field => DESCRIPTOR(tpep_pickup_datetime)) "
     "GROUP BY window_end ORDER BY window_end",
     f"SELECT strftime(time_bucket(INTERVAL 1 DAY, tpep_pickup_datetime) "
     f"+ INTERVAL 1 DAY, {_TS}) AS window_end, COUNT(*) AS trips, "
     f"ROUND(SUM(total_amount), 2) AS revenue FROM taxi "
     f"GROUP BY 1 ORDER BY 1", True),
    ("taxi_top_zones", "table",
     "SELECT PULocationID, COUNT(*) AS n FROM taxi.csv "
     "WHERE total_amount > 60.0 GROUP BY PULocationID "
     "ORDER BY n DESC, PULocationID LIMIT 15",
     "SELECT PULocationID, COUNT(*) AS n FROM taxi "
     "WHERE total_amount > 60.0 GROUP BY PULocationID "
     "ORDER BY n DESC, PULocationID LIMIT 15", True),
    ("events_tier", "json",
     "SELECT e.user->tier AS tier, COUNT(*) AS n, ROUND(SUM(e.value), 2) AS total "
     "FROM events.json e GROUP BY e.user->tier",
     "SELECT e.user.tier AS tier, COUNT(*) AS n, ROUND(SUM(e.value), 2) AS total "
     "FROM events e GROUP BY 1", False),
    ("events_tags", "csv",
     "SELECT type, SUM(len(tags)) AS n_tags, COUNT(*) AS n "
     "FROM events.json GROUP BY type ORDER BY type",
     "SELECT type, CAST(SUM(len(tags)) AS BIGINT) AS n_tags, COUNT(*) AS n "
     "FROM events GROUP BY type ORDER BY type", True),
    ("events_code", "table",
     "SELECT code::Int AS code, COUNT(*) AS n FROM events.json "
     "WHERE code::Int >= 550 GROUP BY code::Int",
     "SELECT TRY_CAST(code AS BIGINT) AS code, COUNT(*) AS n FROM events "
     "WHERE TRY_CAST(code AS BIGINT) >= 550 GROUP BY 1", False),
    ("events_users", "json",
     "SELECT e.user->name AS name, COUNT(*) AS n FROM events.json e "
     "WHERE e.type ~ '^(click|purchase)$' GROUP BY e.user->name "
     "ORDER BY n DESC, name LIMIT 10",
     "SELECT e.user.name AS name, COUNT(*) AS n FROM events e "
     "WHERE regexp_matches(e.type, '^(click|purchase)$') GROUP BY 1 "
     "ORDER BY n DESC, name LIMIT 10", True),
    ("events_tumble", "csv",
     "SELECT window_end, type, COUNT(*) AS n "
     "FROM tumble(source => TABLE(SELECT * FROM events.json), "
     "window_length => INTERVAL 6 HOUR) "
     "GROUP BY window_end, type ORDER BY window_end, type",
     f"SELECT strftime(time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR, "
     f"{_TS}) AS window_end, type, COUNT(*) AS n FROM events "
     f"GROUP BY 1, 2 ORDER BY 1, 2", True),
    ("range_sum", "table",
     "SELECT COUNT(*) AS n, SUM(i) AS s, MAX(i) AS m FROM range(1, 200001)",
     "SELECT COUNT(*) AS n, CAST(SUM(i) AS BIGINT) AS s, MAX(i) AS m "
     "FROM range(1, 200001) t(i)", False),
    ("events_name_len", "csv",
     "SELECT len(e.user->name) AS l, COUNT(*) AS n FROM events.json e "
     "GROUP BY len(e.user->name) ORDER BY l",
     "SELECT CAST(length(e.user.name) AS BIGINT) AS l, COUNT(*) AS n "
     "FROM events e GROUP BY 1 ORDER BY 1", True),
]


@dataclass
class Op:
    name: str
    build: Callable[[], Any] | None     # timed: DataFrame build
    action: Callable[[Any], Any]        # timed: action or CLI command
    check: Callable[[Any], list[str]]   # untimed: problems, [] when right


# Timed passes over each workload's operations, fixed so every run has
# the same samples. op_tail_s needs more than 10 samples, and more
# passes would put it higher, but 22 runs of each workload have to fit
# the benchmark's time budget.
PASSES = 2

# why each workload exists is in BENCHMARK.json and README.md
WORKLOADS = {
    "tpch_library": TPCH_OPS,
    "tpch_money_sums": MONEY_SUM_OPS,
    "cli_files": [q[0] for q in CLI_QUERIES],
    "corpus_pipeline": CORPUS_OPS,
}


def generate(workload: str, root: str, seed: int) -> dict[str, Any]:
    """Write the workload's inputs under ``root``; return their sizes."""
    if workload.startswith("tpch_"):
        return gen.star_schema(os.path.join(root, "star"), seed, LINEITEMS)
    if workload == "corpus_pipeline":
        return gen.documents(os.path.join(root, "docs"), seed, DOCUMENTS)
    files = os.path.join(root, "files")
    os.makedirs(files, exist_ok=True)
    return {"taxi_csv_rows": gen.taxi_csv(os.path.join(files, "taxi.csv"), seed, TAXI_ROWS),
            "events_json_rows": gen.events_json(os.path.join(files, "events.json"),
                                                seed, EVENT_ROWS)}


def data_dir(workload: str, root: str) -> str:
    return os.path.join(root, {"tpch_library": "star", "tpch_money_sums": "star",
                               "corpus_pipeline": "docs", "cli_files": "files"}[workload])


def duckdb_connect(workload: str, root: str, threads: int):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    d = data_dir(workload, root)
    if workload == "cli_files":
        cols = ", ".join(f"'{k}': '{v}'" for k, v in _TAXI_TYPES.items())
        con.execute(f"CREATE VIEW taxi AS SELECT * FROM read_csv('{d}/taxi.csv', "
                    f"header = true, columns = {{{cols}}}, "
                    f"timestampformat = '%Y-%m-%dT%H:%M:%SZ')")
        cols = ", ".join(f"'{k}': '{v}'" for k, v in _EVENT_TYPES.items())
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_json('{d}/events.json', "
                    f"format = 'newline_delimited', columns = {{{cols}}}, "
                    f"timestampformat = '%Y-%m-%dT%H:%M:%SZ')")
    else:
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{d}/{f}'")
    return con


def oracles(workload: str, root: str, threads: int) -> dict[str, Any]:
    """Expected output of every operation, from DuckDB. An operation
    whose oracle is empty would be trivially fast, so that is an
    error: the generator has drifted."""
    con = duckdb_connect(workload, root, threads)
    out: dict[str, Any] = {}
    try:
        if workload == "cli_files":
            for name, _fmt, _q, oracle_sql, _ordered in CLI_QUERIES:
                cur = con.execute(oracle_sql)
                out[name] = ([d[0] for d in cur.description], cur.fetchall())
        else:
            from octosql_spark import workloads as registry
            for name in WORKLOADS[workload]:
                out[name] = con.execute(registry.REGISTRY[name].oracle).df()
    finally:
        con.close()
    empty = [n for n, v in out.items() if len(v[1] if isinstance(v, tuple) else v) == 0]
    if empty:
        raise RuntimeError(f"empty oracle result on the generated data: {empty}")
    return out


# ------------------------------------------------------------ operations

def make_ops(workload: str, spark, root: str, expected: dict[str, Any]) -> list[Op]:
    if workload == "cli_files":
        return [_cli_op(q, data_dir(workload, root), expected) for q in CLI_QUERIES]
    from octosql_spark import workloads as registry
    d = data_dir(workload, root)
    ops = []
    for name in WORKLOADS[workload]:
        build = registry.REGISTRY[name].build
        ops.append(Op(name, lambda build=build: build(spark, d),
                      lambda df: df.toPandas(),
                      lambda pdf, name=name: compare_registry(name, pdf, expected[name])))
    return ops


def compare_registry(name: str, pdf, oracle_pdf) -> list[str]:
    """The registry gate's own comparison (tools/check_correctness)."""
    from tools.check_correctness import compare
    return compare(name, pdf, oracle_pdf)


def _cli_op(q, files_dir: str, expected) -> Op:
    name, fmt, query, _oracle, ordered = q
    from octosql_spark import cli

    def run(_df):
        buf = io.StringIO()
        cwd = os.getcwd()
        os.chdir(files_dir)   # FROM taxi.csv resolves against the cwd
        try:
            with contextlib.redirect_stdout(buf):
                rc = cli.main([query, "--output", fmt])
        finally:
            os.chdir(cwd)
        return rc, buf.getvalue()

    def check(out) -> list[str]:
        rc, text = out
        if rc != 0:
            return [f"exit code {rc}"]
        cols, rows = parse_sink(fmt, text)
        exp_cols, exp_rows = expected[name]
        return compare_rows(cols, rows, exp_cols, exp_rows, ordered)

    return Op(name, None, run, check)


def sink_rows(name: str, out) -> int:
    """Data rows in a CLI command's captured output."""
    fmt = next(q[1] for q in CLI_QUERIES if q[0] == name)
    return len(parse_sink(fmt, out[1])[1])


def _cell(text: str | None):
    """A rendered cell as a comparable value: number, string or None."""
    if text is None or text == "" or text == "<null>":
        return None
    if len(text) >= 2 and text[0] == text[-1] == "'":
        return text[1:-1]
    try:
        return float(text)
    except ValueError:
        return text


def parse_sink(fmt: str, text: str) -> tuple[list[str], list[tuple]]:
    """Parse the CLI's table, csv or json output into header + rows."""
    lines = text.splitlines()
    if fmt == "csv":
        recs = list(csv.reader(lines))
        return recs[0], [tuple(_cell(c) for c in r) for r in recs[1:]]
    if fmt == "json":
        objs = [json.loads(ln) for ln in lines if ln.strip()]
        cols = list(objs[0]) if objs else []
        return cols, [tuple(_canon(o.get(c)) for c in cols) for o in objs]
    body = [ln for ln in lines if ln.startswith("|")]
    split = [[c.strip() for c in ln.strip()[1:-1].split("|")] for ln in body]
    return split[0], [tuple(_cell(c) for c in r) for r in split[1:]]


def _canon(v):
    import datetime
    import decimal
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%SZ")
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_rows(cols, rows, exp_cols, exp_rows, ordered: bool) -> list[str]:
    if list(cols) != list(exp_cols):
        return [f"columns {cols} != oracle {exp_cols}"]
    exp = [tuple(_canon(v) for v in r) for r in exp_rows]
    got = list(rows)
    if len(got) != len(exp):
        return [f"rowcount {len(got)} != oracle {len(exp)}"]
    if not ordered:
        key = lambda r: tuple(  # noqa: E731
            (v is None, f"{v:.6g}" if isinstance(v, float) else str(v)) for v in r)
        got, exp = sorted(got, key=key), sorted(exp, key=key)
    for i, (g, e) in enumerate(zip(got, exp)):
        if len(g) != len(e) or not all(_same(x, y) for x, y in zip(g, e)):
            return [f"row {i}: {g} != oracle {e}"]
    return []


def plant_wrong(out):
    """The same output with one value changed, for the self-test that
    proves the check counts a wrong answer as a failure."""
    if isinstance(out, tuple):
        rc, text = out
        lines = text.splitlines()
        for i in range(len(lines) - 1, -1, -1):
            digits = [j for j, c in enumerate(lines[i]) if c.isdigit()]
            if digits:
                j = digits[0]   # a leading digit: beyond any float tolerance
                lines[i] = (lines[i][:j] + str((int(lines[i][j]) + 1) % 10)
                            + lines[i][j + 1:])
                break
        return rc, "\n".join(lines) + "\n"
    import numpy as np
    pdf = out.copy()
    v = pdf.iloc[0, 0]
    if isinstance(v, (bool, np.bool_)):
        new = not v
    elif isinstance(v, (int, float, np.integer, np.floating)):
        new = v + 1 + abs(v)   # differs from v for every finite v
    else:
        new = f"{v}x"
    pdf[pdf.columns[0]] = pdf[pdf.columns[0]].astype(object)
    pdf.iloc[0, 0] = new
    return pdf


if __name__ == "__main__":
    # python3 ops.py WORKLOAD DATA_ROOT THREADS OUT: write the workload's
    # expected outputs to the pickle OUT (run.py runs this as a child).
    import pickle
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    workload_, root_, threads_, out_ = sys.argv[1:]
    result = oracles(workload_, root_, int(threads_))
    with open(out_, "wb") as f:
        pickle.dump(result, f)
