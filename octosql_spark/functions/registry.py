"""Scalar function catalog (SURVEY.md §2.7), as data.

The reference registers 42 names in one map ``FunctionMap()``
(functions/functions.go), with per-overload argument types resolved at
typecheck (logical/function.go:24-132). Here the semantics of every
name live in the SQL front-end: ``sql/transpiler.py`` rewrites each
call into a Spark SQL builtin (no Python UDFs, so whole-stage codegen
holds). This module only lists each name with its overload signatures
and a description, which the ``docs.functions`` and
``docs.function_signatures`` tables read (sources/docs.py).

It also keeps ``go_layout_to_java``, the Go reference-time layout →
Java pattern translation the transpiler applies to ``parse_time``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class FunctionDef:
    name: str
    signatures: list[str]
    description: str


_CATALOG: list[tuple[str, list[str], str]] = [
    # comparisons, logic
    ("<", ["(T, T) -> Boolean"], ""),
    ("<=", ["(T, T) -> Boolean"], ""),
    ("=", ["(T, T) -> Boolean"], ""),
    ("!=", ["(T, T) -> Boolean"], ""),
    (">=", ["(T, T) -> Boolean"], ""),
    (">", ["(T, T) -> Boolean"], ""),
    ("is null", ["(T) -> Boolean"], ""),
    ("is not null", ["(T) -> Boolean"], ""),
    ("not", ["(Boolean) -> Boolean"], ""),
    ("in", ["(T, List) -> Boolean"], ""),
    ("not in", ["(T, List) -> Boolean"], ""),
    # arithmetic overload sets (functions.go:156-355)
    ("+", ["(Int, Int) -> Int", "(Float, Float) -> Float",
           "(Duration, Duration) -> Duration", "(Time, Duration) -> Time",
           "(String, String) -> String"], ""),
    ("-", ["(Int, Int) -> Int", "(Float, Float) -> Float",
           "(Time, Duration) -> Time", "(Int) -> Int"], ""),
    ("*", ["(Int, Int) -> Int", "(Float, Float) -> Float",
           "(Duration, Int) -> Duration", "(String, Int) -> String"], ""),
    ("/", ["(Int, Int) -> Int", "(Float, Float) -> Float",
           "(Duration, Int) -> Duration"], ""),
    ("string_concat", ["(String, String) -> String"], ""),
    ("string_repeat", ["(String, Int) -> String"], ""),
    # math
    ("abs", ["(Int) -> Int", "(Float) -> Float", "(Duration) -> Duration"], ""),
    ("sqrt", ["(Int) -> Float", "(Float) -> Float"], ""),
    ("ceil", ["(Float) -> Float"], ""),
    ("floor", ["(Float) -> Float"], ""),
    ("log2", ["(Float) -> Float"], ""),
    ("log", ["(Float) -> Float"], "natural log, like the reference"),
    ("log10", ["(Float) -> Float"], ""),
    ("pow", ["(Float, Float) -> Float"], ""),
    # strings
    ("like", ["(String, String) -> Boolean"],
     "SQL LIKE; the reference compiles %/_ to a cached regexp "
     "(functions.go:487-590)"),
    ("~", ["(String, String) -> Boolean"], "regex match"),
    ("~*", ["(String, String) -> Boolean"], "case-insensitive regex"),
    ("!~", ["(String, String) -> Boolean"], ""),
    ("!~*", ["(String, String) -> Boolean"], ""),
    ("upper", ["(String) -> String"], ""),
    ("lower", ["(String) -> String"], ""),
    ("reverse", ["(String) -> String"], ""),
    ("substr", ["(String, Int) -> String", "(String, Int, Int) -> String"],
     "0-based like the reference (functions.go:720-739)"),
    ("replace", ["(String, String, String) -> String"], ""),
    ("position", ["(String, String) -> Int | NULL"],
     "position(haystack, needle): 0-based index of needle, NULL when "
     "absent (functions.go:757-772)"),
    ("len", ["(String) -> Int", "(List) -> Int", "(Struct) -> Int"],
     "length of String/List/Struct (functions.go:774-831); dispatches "
     "on the column's Spark dtype"),
    # time
    ("now", ["() -> Time"], ""),
    ("time_from_unix", ["(Int) -> Time", "(Float) -> Time"], ""),
    ("time_to_unix", ["(Time) -> Int"], ""),
    ("parse_time", ["(String) -> Time | NULL",
                    "(String, String) -> Time | NULL"],
     "RFC3339 by default; unparsable → NULL (functions.go:846-862)"),
    # conversions
    ("int", ["(Boolean) -> Int", "(Float) -> Int", "(String) -> Int | NULL",
             "(Duration) -> Int"],
     "failure → NULL like the reference (functions.go:900-955)"),
    ("float", ["(Int) -> Float", "(String) -> Float | NULL"], ""),
    ("string", ["(T) -> String"], ""),
    # lists, debug
    ("[]", ["(List, Int) -> T | NULL"],
     "0-based indexing, out-of-range → NULL (functions.go:1014-1042); "
     "Spark get() matches both behaviors"),
    ("panic", ["(String) -> !"], "aborts the query (functions.go:1135-1147)"),
]

FUNCTIONS: dict[str, FunctionDef] = {
    name: FunctionDef(name, sigs, desc) for name, sigs, desc in _CATALOG}


_GO_TO_JAVA = [
    ("2006", "yyyy"), ("01", "MM"), ("02", "dd"), ("15", "HH"),
    ("04", "mm"), ("05", "ss"), ("Jan", "MMM"), ("Mon", "EEE"),
    ("-07:00", "XXX"), ("Z07:00", "XXX"), ("-0700", "Z"), (".000", ".SSS"),
]


def go_layout_to_java(layout: str) -> str:
    """Translate a Go reference-time layout (functions.go:846 uses Go
    time layouts) to a Java DateTimeFormatter pattern."""
    out = layout
    for go, java in _GO_TO_JAVA:
        out = out.replace(go, java)
    return out
