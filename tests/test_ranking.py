"""Two-phase distributed ranking vs the native global window."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from thecrowler_spark.operators.ranking import (
    global_row_number,
    lag_range_partitioned,
    ntile_distributed,
)


def _nums(spark, n):
    return spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 37) % 11).alias("key"),  # heavy ties
    )


def test_global_row_number_matches_window(spark):
    df = _nums(spark, 1000)
    order = [F.desc("key"), F.asc("id")]
    got = {
        (r["id"], r["rn"])
        for r in global_row_number(df, order, num_partitions=7).collect()
    }
    w = Window.orderBy(*order)
    want = {
        (r["id"], r["rn"])
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


def test_ntile_matches_window_uneven(spark):
    # 1003 % 4 = 3 → three buckets of 251, one of 250
    df = _nums(spark, 1003)
    order = [F.desc("key"), F.asc("id")]
    got = {
        (r["id"], r["b"])
        for r in ntile_distributed(df, 4, order, out_col="b", num_partitions=5).collect()
    }
    w = Window.orderBy(*order)
    want = {
        (r["id"], r["b"])
        for r in df.select("id", F.ntile(4).over(w).alias("b")).collect()
    }
    assert got == want


def test_ntile_fewer_rows_than_buckets(spark):
    df = spark.range(3).select(F.col("id"))
    got = sorted(
        (r["id"], r["b"])
        for r in ntile_distributed(df, 4, [F.asc("id")], out_col="b").collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_global_row_number_no_global_sort(spark):
    df = _nums(spark, 100)
    plan = (
        global_row_number(df, [F.asc("key"), F.asc("id")], num_partitions=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only Sort nodes must be per-partition (global=false) or over
    # the O(#partitions) offsets frame; no full-width global sort
    for line in plan.splitlines():
        if "Sort [" in line and "true" in line.split("Sort [", 1)[1][:200]:
            raise AssertionError(f"global sort found: {line.strip()}")


def test_lag_range_partitioned_null_group_spans_partitions(spark):
    """A NULL group key is one group to the native window, so the lag
    carried across a range-partition boundary must reach the NULL
    group's next chunk too (the carry join is null-safe)."""
    df = spark.range(60).select(
        F.when(F.col("id") < 40, F.lit(None)).otherwise(F.col("id") % 2).cast("int").alias("g"),
        F.col("id").alias("t"),
        (F.col("id") * 10).alias("v"),
    )
    pids = {
        r["_p"]
        for r in df.repartitionByRange(4, "g", "t")
        .filter(F.col("g").isNull())
        .select(F.spark_partition_id().alias("_p"))
        .collect()
    }
    assert len(pids) >= 2, "the NULL group must span range partitions"
    got = lag_range_partitioned(df, ["g"], ["t"], ["v"], num_partitions=4)
    w = Window.partitionBy("g").orderBy("t")
    want = {
        (r["t"], r["lv"]) for r in df.select("t", F.lag("v").over(w).alias("lv")).collect()
    }
    assert {(r["t"], r["_lag_v"]) for r in got.collect()} == want
