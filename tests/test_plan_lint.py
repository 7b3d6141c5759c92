"""Unit tests for the plan lint's rules (tools/plan_lint.py::_jlint), each
on a tiny ``spark.range`` plan. The registry-wide sweep runs in
``tests/test_queries_vs_oracle.py`` (every face, before it executes) and
via ``python tools/plan_lint.py``; these pin that each detector still
fires, and still passes its bounded twin: a funnel the lint stops seeing
is a funnel the suite stops catching."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import session_conf
from tools.plan_lint import _jlint


def _lint(df) -> list[str]:
    return _jlint(df._jdf.queryExecution().executedPlan())


def _bnlj(left, build):
    """Non-equi inner join with ``build`` broadcast: a nested-loop join."""
    return left.join(F.broadcast(build), left.id > build.m)


def test_flags_single_partition_window_funnel(spark):
    found = _lint(spark.range(100).withColumn(
        "s", F.sum("id").over(Window.orderBy("id"))))
    assert found == ["SinglePartition->(Sort)"]


def test_accepts_grand_total_single_partition(spark):
    assert _lint(spark.range(100).agg(F.sum("id"))) == []


def test_accepts_one_row_statistic_bnlj(spark):
    stat = spark.range(10).agg(F.avg("id").alias("m"))
    assert _lint(_bnlj(spark.range(100), stat)) == []


def test_flags_keyed_build_bnlj(spark):
    keyed = spark.range(10).groupBy((F.col("id") % 3).alias("k")).agg(
        F.avg("id").alias("m"))
    assert _lint(_bnlj(spark.range(100), keyed)) == ["BroadcastNestedLoopJoin"]


def test_stream_side_grand_agg_does_not_excuse_bnlj(spark):
    """A grand aggregate on the STREAMED side must not excuse a build
    side that is a plain scan."""
    stat = spark.range(10).agg(F.max("id").alias("id"))
    build = spark.range(100).select(F.col("id").alias("m"))
    assert _lint(_bnlj(stat, build)) == ["BroadcastNestedLoopJoin"]


def test_flags_cartesian_and_python_udf(spark):
    with session_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        assert _lint(spark.range(3).crossJoin(spark.range(3))) == [
            "CartesianProduct"]
    plus_one = F.udf(lambda x: x + 1, "long")
    assert _lint(spark.range(3).select(plus_one("id"))) == ["BatchEvalPython"]

    @F.pandas_udf("long")
    def vec_plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    assert _lint(spark.range(3).select(vec_plus_one("id"))) == [
        "ArrowEvalPython"]


def _boundary():
    """min(struct(...)) over a string field: the sort-based aggregate,
    which prints the SINGULAR ``key=[]`` (x130's boundary statistic)."""
    return F.min(F.struct("id", F.col("id").cast("string"))).id.alias("m")


def test_accepts_one_row_sort_aggregate_bnlj(spark):
    """SortAggregate(key=[]) is exactly as one-row-bounded as
    HashAggregate(keys=[])."""
    stat = spark.range(10).agg(_boundary())
    assert _lint(_bnlj(spark.range(100), stat)) == []


def test_flags_keyed_sort_aggregate_bnlj(spark):
    keyed = spark.range(10).groupBy((F.col("id") % 3).alias("k")).agg(
        _boundary())
    assert _lint(_bnlj(spark.range(100), keyed)) == ["BroadcastNestedLoopJoin"]


def test_repeated_scan_is_checked_on_final_plans_only(spark, tmp_path):
    """Five unpersisted reads of one table: an initial AQE plan passes
    (exchange reuse happens only as AQE creates stages), and the same
    plan flags once it has run and no read was reused."""
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    t = spark.read.schema("id long").parquet(path)
    branches = [t.filter(F.col("id") % 5 == i) for i in range(5)]
    union = branches[0]
    for b in branches[1:]:
        union = union.unionByName(b)
    df = union.groupBy("id").count()
    assert _lint(df) == []
    df.collect()
    found = _lint(df)
    assert len(found) == 1 and found[0].startswith("RepeatedScan->(5x "), found
