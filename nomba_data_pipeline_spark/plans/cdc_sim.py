"""Deterministic CDC simulation — port of the reference's test harness.

Reference: setup/simulate_cdc.py:40-155 applies parameterized
insert/update profiles (light/medium/heavy :22-26) against Postgres and
Mongo, then the pipeline re-runs and results are inspected manually
(README.md:224-263). Here the simulation is seeded and returns modified
*source DataFrames*, so tests can assert the post-rerun invariants
mechanically:

  * run pipeline twice with no changes  -> byte-identical tables
  * apply updates + rerun               -> updated rows visible exactly once
  * SCD2: changed check-col             -> exactly one open version per key,
                                           old version closed
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def random_sample(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """O3/F10: `ORDER BY RANDOM() LIMIT n` sampling (reference
    simulate_cdc.py:89,111) as `orderBy(rand(seed)).limit(n)`.

    rand(seed) is seeded PER PARTITION, so the sample is reproducible
    within a session for a fixed input partitioning (the reference's
    RANDOM() gives even less — no seed at all). For cross-engine /
    cross-run determinism, prefer the seeded-hash picks the simulators
    below use; this surface exists for reference-shape parity and
    unbiased sampling (hash-order sampling is uniform only if the hash
    mixes well)."""
    return df.orderBy(F.rand(seed)).limit(n)


def simulate_user_updates(
    users: DataFrame, fraction: float = 0.1, seed: int = 42, new_segment: str = "CHANGED"
) -> DataFrame:
    """Deterministically flip `segment` for ~fraction of users
    (reference simulate_cdc.py:126-155 mutates Mongo user state)."""
    # pmod, not abs(%): abs(Int.MinValue) stays negative (non-ANSI), so
    # that row's remainder is < 0 and it would be "picked" even at
    # fraction=0 (same pitfall operators/skew.py documents)
    pick = F.pmod(F.hash(F.col("user_id"), F.lit(seed)), F.lit(100)) < int(fraction * 100)
    return users.withColumn(
        "segment", F.when(pick, F.lit(new_segment)).otherwise(F.col("segment"))
    )


def simulate_plan_updates(
    plans: DataFrame, fraction: float = 0.1, seed: int = 42
) -> DataFrame:
    """Bump target_amount and updated_at for ~fraction of plans
    (reference simulate_cdc.py:52-86 updates plan rows + updated_at)."""
    pick = F.pmod(F.hash(F.col("plan_id"), F.lit(seed)), F.lit(100)) < int(fraction * 100)
    # real CDC stamps updated_at = now(); model that as global-max + 1 day so
    # the rows clear the strict-'>' high-water-mark (SURVEY §7.4.3)
    max_ts = plans.agg(F.max("updated_at")).first()[0]
    return plans.withColumn(
        "target_amount",
        F.when(pick, F.col("target_amount") * 2).otherwise(F.col("target_amount")),
    ).withColumn(
        "updated_at",
        F.when(pick, F.lit(max_ts) + F.expr("INTERVAL 1 DAY")).otherwise(F.col("updated_at")),
    )
