"""Skew mitigation: key salting for hot-key aggregations.

AQE's skew-join handling (on in session.py) covers sort-merge joins at
runtime; salting covers the cases AQE cannot: skewed AGGREGATIONS
(one reducer owns the hot key) and hash-partitioned stateful ops. The
reference never needed this (ClickHouse shards internally); at 100 TB a
zipfian key distribution makes it mandatory.

Pattern: two-phase aggregate. Phase 1 groups on (key, salt) with salt =
hash(row) % n_salts, shrinking the hot key's partition by n_salts;
phase 2 re-aggregates the partials on key alone — by then the hot key
is n_salts small rows. Works for any algebraic aggregate (sum/count/
min/max); averages decompose into (sum, count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted(df: DataFrame, n_salts: int = 16, salt_col: str = "__salt") -> DataFrame:
    """Attach a per-ROW salt in [0, n_salts).

    Derived from monotonically_increasing_id, NOT a content hash: the
    canonical skew case is a hot key whose rows are near-identical
    (billions of ('click', 1.0) events), and hash(row content) maps all
    of them to ONE salt — zero spread exactly when salting matters
    most. The mono id is per-row-position, so identical rows land on
    different salts; its low bits cycle within a partition, so pmod is
    uniform by construction. Same nondeterminism class as the standard
    rand()-salt idiom: stable within a plan evaluation, safe for
    aggregation/join (a retried task recomputes its whole partition)."""
    # pmod, not abs(%): abs(Long.MIN_VALUE) is still negative and would
    # produce a salt outside [0, n_salts)
    return df.withColumn(
        salt_col,
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)).cast(
            "int"
        ),
    )


def salted_sum_count(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe sum+count by key. Output: key_cols, sum_v, cnt."""
    phase1 = (
        salted(df.select(*key_cols, value_col), n_salts)
        .groupBy(*key_cols, "__salt")
        .agg(F.sum(value_col).alias("__s"), F.count(F.lit(1)).alias("__c"))
    )
    return phase1.groupBy(*key_cols).agg(
        F.sum("__s").alias("sum_v"), F.sum("__c").alias("cnt")
    )
