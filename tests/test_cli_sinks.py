"""CLI / sinks / docs.* tests (cmd/root.go surface + outputs/*)."""

from __future__ import annotations

import io
import json
import subprocess
import sys

from octosql_spark import sinks
from octosql_spark.sql import run_query


def test_write_csv_json_stream(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "x int, s string")
    buf = io.StringIO()
    sinks.write_csv(df, buf)
    assert buf.getvalue().splitlines()[0] == "x,s"
    buf = io.StringIO()
    sinks.write_json(df, buf)
    lines = [json.loads(line) for line in buf.getvalue().splitlines()]
    assert lines[0] == {"x": 1, "s": "a"}
    assert lines[1] == {"x": 2, "s": None}
    buf = io.StringIO()
    sinks.write_stream_native(df, buf)
    # reference native format (execution/execution.go:73-91)
    assert buf.getvalue().splitlines() == [
        "{+0001-01-01T00:00:00Z| 1, 'a' |}",
        "{+0001-01-01T00:00:00Z| 2, <null> |}",
    ]


def test_describe(spark):
    # reference type names (varying_object_fields_describe.out shape)
    df = spark.createDataFrame(
        [(1, "a", 1.5, [1], {"f": 2})],
        "x int, s string, f double, l array<int>, o struct<f: int>")
    d = sinks.describe(df)
    rows = {(r.name, r.type) for r in d.collect()}
    assert rows == {("x", "Int"), ("s", "String"), ("f", "Float"),
                    ("l", "[Int]"), ("o", "{f: Int}")}


def test_table_value_sort_binary_collation(spark, capsys):
    """The table sink's value-sort uses plain byte order, matching the
    reference's Value.Compare (whose lowercase-first branch at
    values.go:146-154 is unreachable): 'Alice' (A=0x41) sorts before
    'bob' (b=0x62). A lowercase-first emulation would reverse them."""
    from octosql_spark.sinks import write_table
    df = spark.createDataFrame(
        [("bob",), ("Alice",), ("ZED",), ("ann",)], "name string")
    write_table(df)
    out = capsys.readouterr().out
    order = [ln for ln in out.splitlines() if "'" in ln]
    names = [ln.strip("| ").strip().strip("'") for ln in order]
    assert names == ["Alice", "ZED", "ann", "bob"]


# The §2.7 catalog exactly as docs.* serves it, in table order. The
# docs_functions / docs_function_names workload oracles are built from
# the FUNCTIONS dict they check, so a dropped, renamed or retyped
# overload can only fail here.
DOCS_FUNCTION_NAMES = [
    "<", "<=", "=", "!=", ">=", ">", "is null", "is not null", "not",
    "in", "not in", "+", "-", "*", "/", "string_concat",
    "string_repeat", "abs", "sqrt", "ceil", "floor", "log2", "log",
    "log10", "pow", "like", "~", "~*", "!~", "!~*", "upper", "lower",
    "reverse", "substr", "replace", "position", "len", "now",
    "time_from_unix", "time_to_unix", "parse_time", "int", "float",
    "string", "[]", "panic",
]

DOCS_FUNCTION_SIGNATURES = [
    ("<", "(T, T) -> Boolean"),
    ("<=", "(T, T) -> Boolean"),
    ("=", "(T, T) -> Boolean"),
    ("!=", "(T, T) -> Boolean"),
    (">=", "(T, T) -> Boolean"),
    (">", "(T, T) -> Boolean"),
    ("is null", "(T) -> Boolean"),
    ("is not null", "(T) -> Boolean"),
    ("not", "(Boolean) -> Boolean"),
    ("in", "(T, List) -> Boolean"),
    ("not in", "(T, List) -> Boolean"),
    ("+", "(Int, Int) -> Int"),
    ("+", "(Float, Float) -> Float"),
    ("+", "(Duration, Duration) -> Duration"),
    ("+", "(Time, Duration) -> Time"),
    ("+", "(String, String) -> String"),
    ("-", "(Int, Int) -> Int"),
    ("-", "(Float, Float) -> Float"),
    ("-", "(Time, Duration) -> Time"),
    ("-", "(Int) -> Int"),
    ("*", "(Int, Int) -> Int"),
    ("*", "(Float, Float) -> Float"),
    ("*", "(Duration, Int) -> Duration"),
    ("*", "(String, Int) -> String"),
    ("/", "(Int, Int) -> Int"),
    ("/", "(Float, Float) -> Float"),
    ("/", "(Duration, Int) -> Duration"),
    ("string_concat", "(String, String) -> String"),
    ("string_repeat", "(String, Int) -> String"),
    ("abs", "(Int) -> Int"),
    ("abs", "(Float) -> Float"),
    ("abs", "(Duration) -> Duration"),
    ("sqrt", "(Int) -> Float"),
    ("sqrt", "(Float) -> Float"),
    ("ceil", "(Float) -> Float"),
    ("floor", "(Float) -> Float"),
    ("log2", "(Float) -> Float"),
    ("log", "(Float) -> Float"),
    ("log10", "(Float) -> Float"),
    ("pow", "(Float, Float) -> Float"),
    ("like", "(String, String) -> Boolean"),
    ("~", "(String, String) -> Boolean"),
    ("~*", "(String, String) -> Boolean"),
    ("!~", "(String, String) -> Boolean"),
    ("!~*", "(String, String) -> Boolean"),
    ("upper", "(String) -> String"),
    ("lower", "(String) -> String"),
    ("reverse", "(String) -> String"),
    ("substr", "(String, Int) -> String"),
    ("substr", "(String, Int, Int) -> String"),
    ("replace", "(String, String, String) -> String"),
    ("position", "(String, String) -> Int | NULL"),
    ("len", "(String) -> Int"),
    ("len", "(List) -> Int"),
    ("len", "(Struct) -> Int"),
    ("now", "() -> Time"),
    ("time_from_unix", "(Int) -> Time"),
    ("time_from_unix", "(Float) -> Time"),
    ("time_to_unix", "(Time) -> Int"),
    ("parse_time", "(String) -> Time | NULL"),
    ("parse_time", "(String, String) -> Time | NULL"),
    ("int", "(Boolean) -> Int"),
    ("int", "(Float) -> Int"),
    ("int", "(String) -> Int | NULL"),
    ("int", "(Duration) -> Int"),
    ("float", "(Int) -> Float"),
    ("float", "(String) -> Float | NULL"),
    ("string", "(T) -> String"),
    ("[]", "(List, Int) -> T | NULL"),
    ("panic", "(String) -> !"),
]


def test_docs_tables(spark):
    fns = run_query(spark, "SELECT name FROM docs.functions").df
    assert [r.name for r in fns.collect()] == DOCS_FUNCTION_NAMES
    sigs = run_query(
        spark, "SELECT name, signature FROM docs.function_signatures").df
    assert [tuple(r) for r in sigs.collect()] == DOCS_FUNCTION_SIGNATURES
    aggs = run_query(spark, "SELECT name FROM docs.aggregates").df
    assert {"count", "sum_distinct", "array_agg"} <= {r.name for r in aggs.collect()}


def test_plugins_tables(spark, tmp_path, monkeypatch):
    """plugins.* catalog (reference datasources/plugins/database.go:
    31-184): five tables, reference column names/order, installed_*
    driven by the octosql.yml config."""
    from octosql_spark.sources.plugins import plugins_table
    schemas = {
        "repositories": ["slug", "name", "description"],
        "available_plugins": ["name", "description", "file_extensions",
                              "website", "contact_email", "license",
                              "readme_url", "repo_slug"],
        "available_versions": ["version", "prerelease", "plugin_name",
                               "repo_slug"],
        "installed_plugins": ["name", "repo_slug"],
        "installed_versions": ["version", "prerelease", "plugin_name",
                               "repo_slug"],
    }
    for t, cols in schemas.items():
        assert plugins_table(spark, t).columns == cols
    # SQL front door, like docs.*
    repos = run_query(spark, "SELECT slug FROM plugins.repositories").df
    assert [r.slug for r in repos.collect()] == ["core"]
    avail = run_query(
        spark, "SELECT name FROM plugins.available_plugins "
               "WHERE name LIKE 'p%'").df
    assert [r.name for r in avail.collect()] == ["postgres"]
    # no config → nothing installed
    monkeypatch.chdir(tmp_path)
    assert plugins_table(spark, "installed_plugins").count() == 0
    # configured databases surface as installed plugins
    (tmp_path / "octosql.yml").write_text(
        "databases:\n"
        "  - name: mydb\n"
        "    type: postgres\n"
        "    config:\n"
        "      host: localhost\n"
        "      database: d\n")
    inst = {(r.name, r.repo_slug)
            for r in plugins_table(spark, "installed_plugins").collect()}
    assert inst == {("postgres", "core")}
    vers = plugins_table(spark, "installed_versions").collect()
    assert [(r.plugin_name, r.prerelease) for r in vers] == \
        [("postgres", False)]


def test_cli_end_to_end(tmp_path):
    p = tmp_path / "people.csv"
    p.write_text("name,age\nalice,30\nbob,25\n")
    out = subprocess.run(
        [sys.executable, "-m", "octosql_spark.cli",
         f"SELECT name, age FROM `{p}` ORDER BY age DESC", "--output", "csv"],
        capture_output=True, text=True, cwd="/root/repo", timeout=180,
        env={"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin",
             "HOME": "/root", "JAVA_HOME": "/usr/lib/jvm/java-17-openjdk-amd64"})
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[0] == "name,age"
    assert out.stdout.splitlines()[1] == "alice,30"


def test_malformed_json_errors(spark, tmp_path, capsys):
    """Golden error parity (tests/scenarios/datasources/json/error1:
    'couldn't parse line 1123'): a malformed JSON line is a query
    error + nonzero exit, not a silent NULL row."""
    from octosql_spark.cli import main
    p = tmp_path / "bad.json"
    lines = ['{"field1": "abc", "field2": 42}'] * 150
    lines.insert(120, "abcd")  # past the 100-line inference sample
    p.write_text("\n".join(lines) + "\n")
    rc = main([f"SELECT COUNT(*) AS n, SUM(field2) AS s FROM '{p}'",
               "--output", "json"])
    err = capsys.readouterr().err
    assert rc == 1
    assert err.startswith("error:")


def test_non_object_json_line_errors(spark, tmp_path, capsys):
    """error2 golden: a valid-JSON line that isn't an object errors."""
    from octosql_spark.cli import main
    p = tmp_path / "bad2.json"
    lines = ['{"field1": "abc", "field2": 42}'] * 150
    lines.insert(120, '"abcd"')
    p.write_text("\n".join(lines) + "\n")
    rc = main([f"SELECT COUNT(*) AS n FROM '{p}'", "--output", "json"])
    err = capsys.readouterr().err
    assert rc == 1
    assert err.startswith("error:")


def test_parse_error_reports_reference_line_number(spark, tmp_path,
                                                   capsys):
    """Malformed JSON fails with the reference's error shape AND the
    exact 1-based line number (error1/error2.err: 'couldn't parse
    line N'), not Spark's FAILFAST message."""
    from octosql_spark.cli import main
    p = tmp_path / "bad.json"
    p.write_text('{"a": 1}\n{"a": 2}\nnot json at all\n{"a": 3}\n')
    rc = main([f"SELECT COUNT(*) FROM '{p}'", "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    # aggregate query → two source wrappers (map + simple_group_by,
    # the reference fixture chain)
    assert "error: couldn't run query: couldn't run source: " \
           "couldn't run source: couldn't parse line 3" in err


def test_csv_wrong_field_count_reference_error(spark, tmp_path, capsys):
    """Malformed CSV fails with the reference's Go-csv error text and
    exact line number (datasources/csv/execution.go:57-60 wraps
    encoding/csv's 'record on line N: wrong number of fields'), not
    Spark's FAILFAST message. Line numbers are 1-based physical lines
    including the header."""
    from octosql_spark.cli import main
    p = tmp_path / "bad.csv"
    rows = ["name,age", "alice,3", "bob,5,EXTRA", "carol,7"]
    p.write_text("\n".join(rows) + "\n")
    rc = main([f"SELECT name, age FROM '{p}'", "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    assert ("error: couldn't run query: couldn't run source: "
            "couldn't decode message: record on line 3: "
            "wrong number of fields" in err)


def test_csv_quote_error_reference_text(spark, tmp_path, capsys):
    """Junk after a closing quote fails the scan (CSV reads set
    unescapedQuoteHandling=RAISE_ERROR — executor-side strictness, no
    driver pre-scan) and the CLI renders Go encoding/csv's exact
    ParseError with its 1-based byte column (goemu._GoCSVReader)."""
    from octosql_spark.cli import main
    p = tmp_path / "quote.csv"
    p.write_text('name,age\nalice,3\nbob,"ab"x\n')
    rc = main([f"SELECT name, age FROM '{p}'", "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    assert ("couldn't decode message: parse error on line 3, column 8: "
            'extraneous or missing " in quoted-field' in err)


def test_csv_multiline_quote_error_two_position_shape(spark, tmp_path,
                                                      capsys):
    """A stray quote on a later line of a quoted-newline record gets
    Go's two-position rendering ('record on line A; parse error on
    line B, column M')."""
    from octosql_spark.cli import main
    p = tmp_path / "ml.csv"
    p.write_text('a,b\n1,"x\ny"z,3\n')
    rc = main([f"SELECT a, b FROM '{p}'", "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    assert ("couldn't decode message: record on line 2; parse error on "
            'line 3, column 2: extraneous or missing " in quoted-field'
            in err)


def test_csv_too_few_fields_reference_error(spark, tmp_path, capsys):
    """The short-row shape (fewer fields than the header) errors with
    the same Go-csv text instead of NULL-padding the row — when the
    query decodes the full record width (CSV column pruning keeps the
    scan narrow, so rows damaged only in UNREAD fields pass;
    DEVIATIONS 9 residual — the reference always decodes full
    records)."""
    from octosql_spark.cli import main
    p = tmp_path / "short.csv"
    p.write_text("a,b,c\n1,2,3\n4,5\n")
    rc = main([f"SELECT a, b, c FROM '{p}'", "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    assert ("couldn't decode message: record on line 3: "
            "wrong number of fields" in err)


def test_cli_version_and_profile_flags(spark, capsys):
    """Reference CLI flag surface: -v/--version and --profile
    (cmd/root.go flags). cpu profiles the driver run, memory reports
    JVM heap, trace prints the formatted physical plan — all to
    stderr, never polluting the query output stream."""
    import pytest as _pytest
    from octosql_spark.cli import main
    with _pytest.raises(SystemExit) as e:
        main(["-v", "SELECT 1"])
    assert e.value.code == 0
    assert "octosql-spark" in capsys.readouterr().out

    rc = main(["SELECT 1 AS x FROM dual", "--output", "csv",
               "--profile", "trace"])
    cap = capsys.readouterr()
    assert rc == 0
    assert cap.out.strip().splitlines() == ["x", "1"]
    assert "Physical Plan" in cap.err

    rc = main(["SELECT 1 AS x FROM dual", "--output", "csv",
               "--profile", "memory"])
    cap = capsys.readouterr()
    assert rc == 0 and "driver JVM heap used" in cap.err

    rc = main(["SELECT 1 AS x FROM dual", "--output", "csv",
               "--profile", "cpu"])
    cap = capsys.readouterr()
    assert rc == 0 and "cumulative" in cap.err


def test_source_chain_ignores_keywords_in_string_literals(spark,
                                                          tmp_path,
                                                          capsys):
    """A WHERE/aggregate keyword INSIDE a string literal must not add
    a 'couldn't run source:' wrapper: node presence comes from the
    analyzed plan (advisor r5). This projection-only query mentions
    both in a literal — exactly ONE wrapper."""
    from octosql_spark.cli import main
    p = tmp_path / "bad.json"
    p.write_text('{"a": 1}\nnope\n')
    rc = main([
        f"SELECT a, 'WHERE count(x) GROUP BY' AS lit FROM '{p}'",
        "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    assert ("error: couldn't run query: couldn't run source: "
            "couldn't parse line 2" in err)
    assert "source: couldn't run source:" not in err


def test_parse_error_attributed_to_the_failing_file(spark, tmp_path,
                                                    capsys):
    """With several file views where MORE than one would fail Go's
    decoder, the diagnosis probes the view named in the exception
    text first (advisor r5) — the reported line must belong to the
    file Spark actually choked on, not whichever view iterates
    first."""
    from octosql_spark.cli import main
    # aaa is CLEAN and iterates first; zzz is malformed — the probe
    # must still surface zzz's line, and the exception-text ordering
    # means zzz is probed first rather than relying on aaa's probe
    # returning None
    a = tmp_path / "aaa.json"
    a.write_text('{"k": 1}\n{"k": 2}\n')
    z = tmp_path / "zzz.json"
    z.write_text('{"k": 1}\n###\n{"k": 3}\n')
    rc = main([
        f"SELECT COUNT(*) AS n FROM '{a}' x, '{z}' y",
        "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    assert "couldn't parse line 2" in err


def test_csv_headerless_first_record_error_not_header_wrapped():
    """gocsv_decode_error with header=False labels a first-record
    failure 'couldn't decode message', not 'couldn't decode csv
    header row' (the reference only reads a header when d.header is
    set — advisor r5)."""
    import tempfile

    from octosql_spark.goemu import gocsv_decode_error
    with tempfile.NamedTemporaryFile("w", suffix=".csv",
                                     delete=False) as f:
        f.write('alice,3\nbob,"x"y\n')
        p = f.name
    with_header = gocsv_decode_error(p, ",", header=True)
    without = gocsv_decode_error(p, ",", header=False)
    assert without.startswith("couldn't decode message:")
    assert with_header.startswith("couldn't decode message:")
    with tempfile.NamedTemporaryFile("w", suffix=".csv",
                                     delete=False) as f:
        f.write('na"me,age\nalice,3\n')
        p2 = f.name
    assert gocsv_decode_error(p2, ",", header=True).startswith(
        "couldn't decode csv header row:")
    assert gocsv_decode_error(p2, ",", header=False).startswith(
        "couldn't decode message:")


def test_csv_bare_quote_midfield_now_errors(spark, tmp_path, capsys):
    """A bare `"` mid-field (Go ErrBareQuote) parses as DATA under
    univocity (it only treats a field as quoted when it STARTS with
    one), so FAILFAST never fires — the r6 strict-quote replay
    rejects it at read time with Go's exact ParseError (reference
    errors on this input; DEVIATIONS 9 residual closed for ≤64 MB
    files)."""
    from octosql_spark.cli import main
    p = tmp_path / "bare.csv"
    p.write_text('name,age\nal"ice,3\nbob,5\n')
    rc = main([f"SELECT name, age FROM '{p}'", "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    assert ("error: couldn't run query: couldn't run source: "
            "couldn't decode message: parse error on line 2, column 3: "
            'bare " in non-quoted field' in err)


def test_csv_unterminated_quote_to_eof_now_errors(spark, tmp_path,
                                                  capsys):
    """An unterminated quoted field running to EOF parses as data
    under univocity; Go errors (ErrQuote/EOF-in-quote class) — the
    strict replay surfaces it."""
    from octosql_spark.cli import main
    p = tmp_path / "eof.csv"
    p.write_text('name,age\nbob,"unterminated\n')
    rc = main([f"SELECT name, age FROM '{p}'", "--output", "csv"])
    err = capsys.readouterr().err
    assert rc == 1
    assert "couldn't decode message:" in err


def test_csv_legit_quotes_still_read(spark, tmp_path, capsys):
    """Properly quoted fields (incl. escaped quotes and embedded
    newlines/commas) pass the strict replay and return rows."""
    from octosql_spark.cli import main
    p = tmp_path / "ok.csv"
    p.write_text('name,age\n"a,b",3\n"say ""hi""",5\n"two\nlines",7\n')
    rc = main([f"SELECT COUNT(*) AS n FROM '{p}'", "--output", "csv"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "3" in out


def test_csv_float_positional_form():
    """csv_format.go:55 uses FormatFloat('f', -1, 64): never an
    exponent (r8 review — the 'g' form emitted 1e+06)."""
    from octosql_spark.sinks import go_float_f

    assert go_float_f(1000000.0) == "1000000"
    assert go_float_f(0.00001) == "0.00001"
    assert go_float_f(-2.5) == "-2.5"
    assert go_float_f(1e21) == "1" + "0" * 21
    assert go_float_f(float("nan")) == "NaN"
    assert go_float_f(float("inf")) == "+Inf"
    assert go_float_f(0.0) == "0"
    # round-trips stay shortest
    assert go_float_f(0.1) == "0.1"


def test_json_sink_rfc3339_and_raw_utf8(spark, capsys):
    """json_format.go:78 renders Time via RFC3339; fastjson appends
    non-special string bytes raw (no \\uXXXX) — r8 review."""
    import io

    from octosql_spark.sinks import write_json

    df = spark.createDataFrame(
        [("żółć",)], ["s"]).selectExpr(
        "s", "timestamp'2021-03-04 05:06:07' AS t")
    buf = io.StringIO()
    write_json(df, buf)
    assert buf.getvalue() == \
        '{"s":"żółć","t":"2021-03-04T05:06:07Z"}\n'


def test_table_alignment_follows_tablewriter_decimal(spark):
    """tablewriter v0.0.5 right-aligns only cells matching its
    decimal regex: exponent-form floats / NaN / +Inf are LEFT-aligned
    by the reference (r8 review)."""
    import io

    from octosql_spark.sinks import write_table

    df = spark.createDataFrame(
        [(12345678901.5, 1)], ["big", "i"]).selectExpr(
        "cast(big * 1000 as double) AS f", "i")
    buf = io.StringIO()
    write_table(df, buf)
    body = buf.getvalue().splitlines()[3]
    # f renders 1.23456789015e+13 -> left-aligned; i right-aligned
    assert body.startswith("| 1.23456789015e+13")
    assert body.rstrip().endswith("1 |")


def test_table_prints_beyond_20k_rows(spark):
    """The reference's table sink prints the WHOLE result (r8 review:
    a silent 20k cap dropped rows)."""
    import io

    from octosql_spark.sinks import write_table

    df = spark.range(25_000).selectExpr("id")
    buf = io.StringIO()
    write_table(df, buf, sort=False)
    # 25k data lines + 3 border/header lines + final border
    assert sum(1 for ln in buf.getvalue().splitlines()
               if ln.startswith("| ")) == 25_001  # + header line


def test_stream_diff_writer_value_order(spark):
    """Retraction/addition batches print in Value.Compare order, not
    str order — (9,) before (10,) (r8 review)."""
    from octosql_spark.sinks import stream_native_diff_writer
    import io

    buf = io.StringIO()
    w = stream_native_diff_writer(buf)
    w(spark.createDataFrame([(9,), (10,), (2,)], ["v"]), 0)
    lines = buf.getvalue().splitlines()
    assert lines == ["{+0001-01-01T00:00:00Z| 2 |}",
                     "{+0001-01-01T00:00:00Z| 9 |}",
                     "{+0001-01-01T00:00:00Z| 10 |}"]


def test_rfc3339_non_utc_driver_tz():
    """Timestamps print as the real UTC instant even when the driver
    runs in a non-UTC timezone: collect() yields NAIVE driver-local
    datetimes, and the old hard-coded 'Z' mislabeled them (r8
    advice)."""
    import datetime
    import os
    import time as _time

    from octosql_spark.sinks import rfc3339

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        # naive 07:00 EST == 12:00 UTC (January: no DST)
        assert rfc3339(datetime.datetime(2021, 1, 2, 7, 0, 0)) \
            == "2021-01-02T12:00:00Z"
        # aware values convert directly
        est = datetime.timezone(datetime.timedelta(hours=-5))
        assert rfc3339(datetime.datetime(2021, 1, 2, 7, 0, 0,
                                         tzinfo=est)) \
            == "2021-01-02T12:00:00Z"
        assert rfc3339(datetime.datetime(
            2021, 1, 2, 7, 0, 0, tzinfo=datetime.timezone.utc)) \
            == "2021-01-02T07:00:00Z"
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()


def test_explain_dot_golden(spark, capsys):
    """--explain-dot emits the reference's graphviz record-node
    format (helpers/graph/graph.go: rankdir=LR, `<Name_N>` ids,
    `{{<f0> Name}|{fields}|{child ports}}` labels, port edges for
    join left/right; cmd/root.go:321-337 pipes this text to
    `dot -Tpng`). Golden-diffed for one join query — expression ids
    are stripped in the emitter, so the text is deterministic."""
    import os

    from octosql_spark import cli
    rc = cli.main([
        "SELECT n.n_name, r.r_name FROM nation n JOIN region r "
        "ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'EUROPE'",
        "--sf-dir", "/root/testdata/sf0.01", "--explain-dot"])
    out = capsys.readouterr().out
    assert rc == 0
    golden = os.path.join(os.path.dirname(__file__), "fixtures",
                          "explain_dot_join.dot")
    assert out == open(golden).read()


def test_plugin_shim_commands(capsys):
    """Reference-CLI muscle memory (r10 what's-missing #1): `plugin
    install` / `plugin repository add` don't error — they print the
    octosql.yml JDBC equivalent and exit 0."""
    from octosql_spark import cli
    assert cli.main(["plugin", "install", "postgres"]) == 0
    out = capsys.readouterr().out
    assert "octosql.yml" in out and "postgres" in out
    assert "jdbc" in out.lower()
    assert cli.main(["plugin", "repository", "add",
                     "https://example.com/plugins.json"]) == 0
    out = capsys.readouterr().out
    assert "octosql.yml" in out
    assert cli.main(["plugin"]) == 0
    out = capsys.readouterr().out
    assert "install" in out and "repository" in out
