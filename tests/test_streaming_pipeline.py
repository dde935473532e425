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
    assert stg.read().groupBy("txn_id").count().filter("count > 1").count() == 0
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


def test_streaming_index_maintenance_is_replay_safe(spark, tmp_path):
    """Vector-firehose index maintenance: stream new embeddings into a
    persisted LSH index. Pins (1) the streamed index == a full rebuild,
    every id once; (2) a checkpoint replay of the last batch (its commit
    log entry deleted, as a crash before the commit leaves it) appends
    nothing; (3) a source file that re-delivers already-indexed vectors
    appends nothing; (4) fresh vectors delivered twice inside ONE
    trigger (two source files, max_files=2) land once each."""
    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.operators.similarity import (
        lsh_index,
        lsh_index_read,
        lsh_index_write,
    )
    from nomba_data_pipeline_spark.streaming.microbatch import (
        run_index_maintenance_stream,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = emb.agg(F.expr("percentile(vec_id, 0.7)")).first()[0]
    base = emb.filter(F.col("vec_id") <= cut)
    late_cond = (F.col("vec_id") > cut) & (F.col("vec_id") % 10 == 1)
    late = emb.filter(late_cond)
    extra = emb.filter((F.col("vec_id") > cut) & ~late_cond)

    path = str(tmp_path / "lshidx")
    lsh_index_write(base, path, n_tables=2)
    src = str(tmp_path / "src")
    extra.repartition(3).write.mode("overwrite").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    commits = os.path.join(ckpt, "commits")

    def drain(max_files=1):
        run_index_maintenance_stream(
            spark, src, extra.schema, path, ckpt, max_files=max_files
        )

    def batch_ids():
        return sorted(int(f) for f in os.listdir(commits) if f.isdigit())

    def indexed():
        # a sorted list, not a dict: a duplicated vector must show
        return sorted(
            (r["vec_id"], list(r["buckets"])) for r in lsh_index_read(spark, path).collect()
        )

    drain()
    want_all = sorted(
        (r["vec_id"], list(r["buckets"])) for r in lsh_index(emb, n_tables=2).collect()
    )
    late_ids = {r["vec_id"] for r in late.select("vec_id").collect()}
    assert late_ids
    want = [row for row in want_all if row[0] not in late_ids]
    assert indexed() == want
    assert len(batch_ids()) == 3

    # replay: without its commit entry the last batch reruns on restart
    last = batch_ids()[-1]
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    drain()
    assert batch_ids()[-1] == last  # the batch ran again and committed
    assert indexed() == want

    # re-delivery: a new source file of vectors already in the index
    emb.filter(F.col("vec_id") % 10 == 0).coalesce(1).write.mode("append").parquet(src)
    drain()
    assert batch_ids()[-1] == last + 1
    assert indexed() == want

    # duplicate inside one trigger: the same fresh vectors in two files
    for _ in range(2):
        late.coalesce(1).write.mode("append").parquet(src)
    drain(max_files=2)
    assert batch_ids()[-1] == last + 2  # both files in one batch
    assert indexed() == want_all
