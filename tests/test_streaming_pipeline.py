"""Streaming -> medallion integration: CDC parquet files stream into the
staging table via the checkpointed merge stream, then the downstream
mart models run incrementally off it — the full reference cadence
(extract job minutes before transform job, all_schedules.py:12-52)
expressed as stream-drain + dependent-subgraph run."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nomba_data_pipeline_spark.operators.merge import ParquetTable
from nomba_data_pipeline_spark.plans.quality import QualitySpec
from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner
from nomba_data_pipeline_spark.streaming.microbatch import run_incremental_merge_stream

SCHEMA = T.StructType(
    [
        T.StructField("txn_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)


def test_stream_feeds_incremental_marts(spark, tmp_path):
    src = os.path.join(tmp_path, "cdc")
    wh = os.path.join(tmp_path, "wh")
    ckpt = os.path.join(tmp_path, "ckpt")

    runner = PipelineRunner(spark, wh, sf_dir="unused")
    runner.register(
        ModelSpec(
            name="user_totals",
            fn=lambda s, sf: runner.table("stg_txns")
            .read()
            .groupBy("user_id")
            .agg(F.sum("amount").alias("total"), F.max("updated_at").alias("updated_at")),
            materialization="incremental",
            upsert_key=["user_id"],
            tracking_column="updated_at",
            quality=QualitySpec(unique=["user_id"]),
        )
    )

    def drain_and_run():
        run_incremental_merge_stream(
            spark, src, SCHEMA, os.path.join(wh, "stg_txns"), ["txn_id"], ckpt
        )
        return runner.run(only=["user_totals"])

    # batch 1: two txns for user 1, one for user 2
    spark.createDataFrame(
        [
            (1, 1, 10.0, datetime(2026, 1, 1)),
            (2, 1, 5.0, datetime(2026, 1, 1)),
            (3, 2, 7.0, datetime(2026, 1, 1)),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    drain_and_run()
    totals = {r.user_id: r.total for r in runner.table("user_totals").read().collect()}
    assert totals == {1: 15.0, 2: 7.0}

    # batch 2: txn 2 amount corrected (upsert), new txn for user 3
    spark.createDataFrame(
        [(2, 1, 50.0, datetime(2026, 1, 2)), (4, 3, 1.0, datetime(2026, 1, 2))], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    drain_and_run()
    totals = {r.user_id: r.total for r in runner.table("user_totals").read().collect()}
    assert totals == {1: 60.0, 2: 7.0, 3: 1.0}

    # stg table holds exactly one row per txn_id after the correction
    stg = ParquetTable(spark, os.path.join(wh, "stg_txns"))
    assert stg.duplicate_key_groups(["txn_id"]) == 0
    assert stg.read().count() == 4


def test_subgraph_run_only_touches_closure(spark, tmp_path):
    wh = os.path.join(tmp_path, "wh")
    runner = PipelineRunner(spark, wh, sf_dir="unused")
    calls = []

    def mk(name):
        def fn(s, sf):
            calls.append(name)
            return s.createDataFrame([(1,)], "id int")

        return fn

    runner.register(ModelSpec(name="a", fn=mk("a")))
    runner.register(ModelSpec(name="b", fn=mk("b"), depends_on=["a"]))
    runner.register(ModelSpec(name="c", fn=mk("c"), depends_on=["a"]))
    runner.run(only=["b"])
    assert calls == ["a", "b"]  # c untouched


def test_streaming_index_maintenance_stage_and_fold(spark, tmp_path):
    """Vector-firehose index maintenance: stream new embeddings into a
    persisted LSH index's incoming area, query the union, then fold.
    Pins (1) streamed+staged index == full rebuild, (2) staging is
    replay-idempotent (same batch id overwrites itself), (3) fold is
    replay-idempotent (second fold appends nothing), (4) after fold the
    lists alone carry the full corpus."""
    import os

    from pyspark.sql import functions as F

    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.operators.similarity import (
        lsh_index,
        lsh_index_fold_incoming,
        lsh_index_read,
        lsh_index_read_all,
        lsh_index_stage_batch,
    )
    from nomba_data_pipeline_spark.streaming.microbatch import (
        run_index_maintenance_stream,
    )
    from tests.conftest import SF_SMALL
    from nomba_data_pipeline_spark.operators.similarity import lsh_index_write

    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = emb.agg(F.expr("percentile(vec_id, 0.7)")).first()[0]
    base = emb.filter(F.col("vec_id") <= cut)
    extra = emb.filter(F.col("vec_id") > cut)

    path = str(tmp_path / "lshidx")
    lsh_index_write(base, path, n_tables=2)

    src = str(tmp_path / "src")
    extra.repartition(3).write.mode("overwrite").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    run_index_maintenance_stream(spark, src, extra.schema, path, ckpt, max_files=1)

    want = {r["vec_id"]: list(r["buckets"]) for r in lsh_index(emb, n_tables=2).collect()}
    got = {r["vec_id"]: list(r["buckets"]) for r in lsh_index_read_all(spark, path).collect()}
    assert got == want

    # replay-idempotent staging: a batch id restaged (same payload, as a
    # checkpoint replay would) overwrites itself — no growth; and a
    # vector re-delivered in a SECOND batch is deduped by read/fold
    redelivered = extra.orderBy("vec_id").limit(20)
    lsh_index_stage_batch(redelivered, path, 999)
    lsh_index_stage_batch(redelivered, path, 999)  # replay
    assert spark.read.parquet(path + "/incoming/batch=999").count() == 20
    assert lsh_index_read_all(spark, path).count() == emb.count()

    # fold: full corpus lands in lists exactly once; refold is a no-op
    folded = lsh_index_fold_incoming(spark, path)
    assert folded > 0
    assert not os.path.exists(path + "/incoming")
    lists_only = {r["vec_id"]: list(r["buckets"]) for r in lsh_index_read(spark, path).collect()}
    assert lists_only == want
    assert lsh_index_fold_incoming(spark, path) == 0
