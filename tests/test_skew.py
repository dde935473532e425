"""Skew-salting utilities: result equivalence with the unsalted plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.skew import salted_sum_count


def test_salted_sum_count_matches_plain(spark):
    # zipf-ish: key 0 owns 80% of rows
    df = spark.range(0, 5000).select(
        F.when(F.col("id") % 5 != 0, 0).otherwise(F.col("id") % 7).alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    got = {
        r.k: (r.sum_v, r.cnt) for r in salted_sum_count(df, ["k"], "v", n_salts=8).collect()
    }
    want = {
        r.k: (r.s, r.c)
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == want


def test_identical_rows_spread_across_salts(spark):
    """The degenerate hot key: many IDENTICAL rows must still spread
    over multiple salts (a content hash gives them all ONE salt and the
    whole point of salting evaporates)."""
    from nomba_data_pipeline_spark.operators.skew import salted

    df = spark.createDataFrame([("hot", 1.0)] * 400, "k string, v double")
    n = salted(df, n_salts=16).select("__salt").distinct().count()
    assert n >= 8, f"identical rows collapsed onto {n} salts"
