"""Catalyst-does-the-rewrites checks (SURVEY.md §4: the reference's
8 optimizer rules are Catalyst builtins — verify on physical plans of
plain DataFrames)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from octosql_spark.catalog import register_views


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    return register_views(spark, sf_dir)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_catalyst_pushes_filter_into_scan(spark):
    # rule 1/7 equivalents: predicate pushdown + column pruning
    df = (spark.table("lineitem").filter(F.col("l_quantity") > 10)
          .select("l_orderkey"))
    phys = _physical(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)" \
        in phys
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in phys


def test_catalyst_extracts_equi_join_keys(spark):
    # rule 4 equivalent: `l.x = r.y AND l.a > r.b` → hash join on x=y
    li = spark.table("supplier")
    c = spark.table("customer")
    df = li.join(c, (li["s_nationkey"] == c["c_nationkey"])
                 & (li["s_acctbal"] > c["c_acctbal"]))
    phys = _physical(df)
    assert "Join" in phys and "Cartesian" not in phys


def test_catalyst_merges_filters(spark):
    # rule 8 equivalent: Filter(Filter(x)) folds into one scan filter
    df = (spark.table("orders").filter(F.col("o_totalprice") > 100)
          .filter(F.col("o_orderstatus") == "F"))
    phys = _physical(df)
    assert phys.count("Filter (") <= 1
