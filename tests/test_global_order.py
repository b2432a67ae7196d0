"""Distributed global-order primitives: range-partitioned cumsum /
row-number / ntile — equivalence against the single-partition window
forms they replace (which are correct but unscalable)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from classification_pyspark_spark.operators.binning import ntile_bin
from classification_pyspark_spark.operators.windows import (
    global_cumsum,
    global_row_number,
)


def _frame(spark, n=500, dupes=True):
    df = spark.range(n).select(
        F.col("id"),
        # non-monotone order key with duplicates (id*37 % 101)
        ((F.col("id") * 37) % (101 if dupes else 10**9)).alias("k"),
        (F.col("id") % 7 + 1).cast("double").alias("v"),
    )
    return df.repartition(8)


def test_global_cumsum_matches_single_partition_window(spark):
    """Against ``Window.orderBy``'s single-partition form: unique keys;
    tied keys, where a tie group shares its last running value (the
    RANGE frame); NULL keys, which sort first; empty input; and a
    two-column order, itself with ties."""
    tied = _frame(spark)
    cases = {
        "unique": (_frame(spark, dupes=False), "k"),
        "tied": (tied, "k"),
        "null keys": (tied.withColumn("k", F.when(F.col("id") % 9 != 0, F.col("k"))), "k"),
        "empty": (spark.createDataFrame([], tied.schema), "k"),
        "two columns": (tied.withColumn("k2", F.col("id") % 3), ["k", "k2"]),
    }
    for name, (df, order) in cases.items():
        w = Window.orderBy(*([order] if isinstance(order, str) else order))
        want = {r["id"]: r["c"] for r in df.withColumn("c", F.sum("v").over(w)).collect()}
        for n in (1, 6):
            got = global_cumsum(df, order, ["v"], num_partitions=n).collect()
            assert {r["id"]: r["cum_v"] for r in got} == want, (name, n)


def test_shifted_layout_raises(spark, shifted_range_layout):
    """The layout witness: when the row counts recorded for the range
    partitions no longer match the partitions the prefix pass reads (a
    recomputed layout), the action fails instead of adding the recorded
    offsets to the wrong rows."""
    with pytest.raises(Exception, match="layout shifted"):
        global_cumsum(_frame(spark), "k", ["v"], num_partitions=6).collect()


def test_global_row_number_is_a_permutation_and_ordered(spark):
    df = _frame(spark, n=300, dupes=False)
    out = global_row_number(df, ["k"], row_col="rn", num_partitions=5).collect()
    rns = sorted(r["rn"] for r in out)
    assert rns == list(range(1, 301))
    by_rank = sorted(out, key=lambda r: r["rn"])
    ks = [r["k"] for r in by_rank]
    assert ks == sorted(ks)


def test_ntile_bin_matches_sql_ntile(spark):
    df = _frame(spark, n=103, dupes=False)  # 103 rows, 8 bins -> uneven
    got = {r["k"]: r["b"] for r in ntile_bin(df, "k", 8, "b").collect()}
    w = Window.orderBy(F.col("k").asc())
    want = {r["k"]: r["b"] for r in df.withColumn("b", F.ntile(8).over(w)).collect()}
    assert got == want


def test_ntile_bin_fewer_rows_than_bins(spark):
    df = _frame(spark, n=3, dupes=False)
    out = sorted(r["b"] for r in ntile_bin(df, "k", 8, "b").collect())
    assert out == [1, 2, 3]
