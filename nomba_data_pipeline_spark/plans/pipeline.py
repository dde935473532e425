"""The full reference pipeline, assembled: raw -> staging -> snapshot ->
marts with the reference's materializations and quality tests.

Mirrors the Dagster job/schedule layout (reference all_jobs.py:6-22,
all_schedules.py:12-52 — users daily + SCD2, plans 3-hourly incremental,
transactions hourly incremental) as a single dependency-ordered run;
cadence is the caller's concern (cron/Structured Streaming trigger),
dependency order is the runner's.

Quality specs transcribe the reference's schema.yml declarations
(models/staging/schema.yml:9-37, models/marts/schema.yml:6-23).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from nomba_data_pipeline_spark.plans import models as M
from nomba_data_pipeline_spark.plans.quality import QualitySpec
from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner


def build_pipeline(
    spark: SparkSession, warehouse_dir: str, sf_dir: str, source_override=None
) -> PipelineRunner:
    """Wire the medallion DAG. `source_override` lets tests/CDC sim inject
    modified source DataFrames: {model_name: fn(spark, sf_dir) -> DataFrame}."""
    runner = PipelineRunner(spark, warehouse_dir, sf_dir)
    src = source_override or {}

    def fn_or_override(name, default):
        return src.get(name, default)

    runner.register(
        ModelSpec(
            name="stg_users",
            fn=fn_or_override("stg_users", M.stg_users),
            materialization="table",
            quality=QualitySpec(unique=["user_id"], not_null=["user_id", "full_name"]),
        )
    )
    runner.register(
        ModelSpec(
            name="users_snapshot",
            fn=lambda spark, sf: runner.table("stg_users").read(),
            materialization="scd2",
            scd2_key="user_id",
            check_cols=["segment", "acct_balance"],  # ref: ['state','occupation']
            depends_on=["stg_users"],
            quality=QualitySpec(not_null=["user_id", "valid_from"]),
        )
    )
    runner.register(
        ModelSpec(
            name="dim_users",
            # current rows ARE the split snapshot's open table — read it
            # directly instead of filtering the full history union (P4)
            fn=lambda spark, sf: M.enrich_users_geo(
                runner.table("users_snapshot__open")
                .read()
                .drop("valid_from", "valid_to", "updated_at_scd", "scd_id"),
                spark,
                sf,
            ),
            materialization="table",
            depends_on=["users_snapshot"],
            quality=QualitySpec(unique=["user_id"], not_null=["user_id"]),
        )
    )
    runner.register(
        ModelSpec(
            name="stg_plans",
            fn=fn_or_override("stg_plans", M.stg_plans),
            materialization="incremental",
            upsert_key=["plan_id"],
            tracking_column="updated_at",
            quality=QualitySpec(
                unique=["plan_id"],
                not_null=["plan_id", "user_id"],
                accepted_values={"status": ["F", "O", "P"]},
                min_rows=1,
            ),
        )
    )
    # NOTE on incremental staleness (deliberate dbt parity): dim_plans /
    # fact_transactions filter on the FACT side's updated_at, exactly
    # like the reference's dbt incremental models (dim_savings_plan.sql /
    # fact_savings_transaction.sql `WHERE updated_at > (SELECT max ...)`)
    # — so a user-attribute change (segment/region via SCD2) reaches
    # only rows whose OWN plan/txn is re-stamped, never already-loaded
    # rows. That is the reference's semantics, with the same remedy:
    # a full refresh (rebuild into a fresh warehouse, or drop the model
    # dir and rerun) re-derives every row against current dims. For
    # marts where an O(fact) refresh is unacceptable, the delta-native
    # alternative is operators/incremental_join.JoinViewTable, which
    # propagates dim patches to a materialized enrichment view in
    # O(affected dim-key buckets) (graded row join_view_dim_update) —
    # declarable directly in this runner as materialization="join_view",
    # or "agg_view" for a rollup over such a view (both maintained by
    # PipelineRunner._run_view; graded rows join_view_pipeline_roundtrip
    # and agg_view_pipeline_roundtrip) when a mart should stay dim-fresh
    # without the dbt-parity staleness above.
    runner.register(
        ModelSpec(
            name="dim_plans",
            fn=lambda spark, sf: runner.table("stg_plans")
            .read()
            .join(
                runner.table("dim_users").read().select("user_id", "segment", "nation", "region"),
                "user_id",
                "left",
            ),
            materialization="incremental",
            upsert_key=["plan_id"],
            tracking_column="updated_at",
            depends_on=["stg_plans", "dim_users"],
            quality=QualitySpec(
                unique=["plan_id"],
                not_null=["plan_id"],
                # dbt `relationships`: every plan's owner must exist in
                # the user dim (anti-join count; dim side broadcasts)
                relationships={"user_id": ("dim_users", "user_id")},
            ),
        )
    )
    runner.register(
        ModelSpec(
            name="stg_transactions",
            fn=fn_or_override("stg_transactions", M.stg_transactions),
            materialization="incremental",
            dedup=True,  # source has duplicate keys -> reference O8 'special' load
            upsert_key=["transaction_id"],
            tracking_column="updated_at",
            quality=QualitySpec(unique=["transaction_id"], not_null=["transaction_id", "plan_id"]),
        )
    )
    runner.register(
        ModelSpec(
            name="fact_transactions",
            fn=lambda spark, sf: runner.table("stg_transactions")
            .read()
            .join(
                runner.table("dim_plans")
                .read()
                .select("plan_id", "user_id", "product_type", "segment", "nation", "region"),
                "plan_id",
                "left",
            )
            # F4 monthly partitioning (reference PARTITION BY
            # toStartOfMonth(txn_timestamp), init-clickhouse.sql:40):
            # month-scoped reads prune to one directory
            .withColumn("txn_month", M.to_month("updated_at")),
            materialization="incremental",
            dedup=True,
            upsert_key=["transaction_id"],
            tracking_column="updated_at",
            partition_by=["txn_month"],
            # txn_month derives from updated_at; txn updates re-stamp
            # updated_at so a corrected txn DOES move partitions — the
            # merge's key-location scan finds and rewrites the old one
            depends_on=["stg_transactions", "dim_plans"],
            quality=QualitySpec(
                unique=["transaction_id"],
                not_null=["transaction_id"],
                relationships={"plan_id": ("dim_plans", "plan_id")},
            ),
        )
    )
    return runner
