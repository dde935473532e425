"""Micro-batch streaming — the reference's polling cadence, Spark-first.

The reference has NO streaming operators (SURVEY §2.10): cron schedules
re-run batch extraction (hourly transactions, all_schedules.py:40-45),
the persisted MAX(updated_at) high-water-mark is the watermark
equivalent (base_loader.py:681-709), and late rows are upserted on
arrival (O7). The idiomatic Spark upgrade is Structured Streaming with
`Trigger.AvailableNow`: each invocation drains exactly the new files,
checkpointing replaces the hand-rolled hwm, and `foreachBatch` reuses
the SAME merge writers as batch — one code path for both.

Every runner here is reached from a registry row, the CLI or a named
test: the AvailableNow merge streams (O7, and the versioned form whose
txn commit gives exactly-once), the versioned change-feed consumer of a
maintained aggregate, complete-mode rollups graded against their batch
twins, streaming ANN index maintenance and streaming corpus dedup.

At scale: the file source lists incrementally (maxFilesPerTrigger
bounds batch size), stateful aggs are bounded by the watermark, and the
merge inside foreachBatch is the same broadcast-delta join as batch O7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nomba_data_pipeline_spark.catalog import read_parquet
from nomba_data_pipeline_spark.operators.merge import ParquetTable


def stream_events(
    spark: SparkSession, source_dir: str, schema: T.StructType, max_files: int = 100
) -> DataFrame:
    """File-source stream over staged event files (S4, streaming form)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(source_dir)
    )


def _run_merge_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    merge_fn,
) -> None:
    """Shared drain loop for the merge-stream runners: availableNow
    backlog drain, checkpointed, one `merge_fn(batch_df, batch_id)`
    per non-empty micro-batch. Blocks until consumed."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_fn(batch_df, batch_id)

    q = (
        stream_events(spark, source_dir, schema)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_merge_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
) -> None:
    """Drain all available new files and MERGE each micro-batch into the
    target (streaming O7). Blocks until the backlog is consumed."""
    target = ParquetTable(spark, target_path)
    _run_merge_stream(
        spark,
        source_dir,
        schema,
        checkpoint_dir,
        lambda df, bid: target.merge_upsert(df, keys),
    )


def run_versioned_merge_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    app: str = "stream",
    write_cdf: bool = False,
) -> None:
    """Streaming CDC into a VERSIONED table: each micro-batch commits
    as a file-level CoW upsert tagged txn=(app, batch_id), so the
    redelivered in-flight batch after a crash-between-commit-and-
    checkpoint is skipped by the manifest's writer-transaction map —
    exactly-once WITH full version history (every batch is a
    time-travelable, rollback-able commit). write_cdf=True additionally
    persists each commit's row-level feed, making the table itself a
    STREAM SOURCE for downstream consumers (the `versioned_cdf`
    format) — stream-to-stream composition with the table as the
    durable, replayable boundary. Blocks until the backlog is
    consumed."""
    from nomba_data_pipeline_spark.operators.versioned import VersionedTable

    target = VersionedTable(spark, target_path, write_cdf=write_cdf)
    _run_merge_stream(
        spark,
        source_dir,
        schema,
        checkpoint_dir,
        lambda df, bid: target.merge_upsert(df, keys, txn=(app, bid)),
    )


def run_agg_changes_stream(
    spark: SparkSession,
    table_path: str,
    agg_path: str,
    keys: list[str],
    measure,
    checkpoint_dir: str,
    starting_version: int | None = None,
    distinct: list[str] | None = None,
) -> None:
    """ALWAYS-ON maintenance of a PLAIN maintained aggregate
    (operators/incremental_agg.IncrementalAggTable) from a versioned
    fact's persisted change feed: the delete/update-capable
    `apply_changes` wired into the streaming lifecycle.
    `readStream.format("versioned_cdf")` with
    include_preimages=true (a group-moving update's OLD group is
    located from its 'update_preimage' twin) -> foreachBatch ->
    apply_changes per `_commit_version` ASCENDING: one micro-batch may
    span several commits, and the affected-group recompute's source
    frame must be the fact AS OF that commit, so each commit applies
    against `VersionedTable.read(version=v)` — the post-commit state
    the feed's changes produced.

    Replay idempotence: the COMMIT VERSION is the marker-ledger batch
    id (monotone under the committed chain walk), so the redelivered
    in-flight batch after a crash-between-apply-and-checkpoint is a
    per-commit no-op; a batch that died mid-span re-applies only the
    unmarked tail. (The ledger is per agg table — don't mix this
    runner with epoch-id apply_batch callers on the same path.)

    Cost per commit, stated for 100 TB: feed rows move executor-side
    (no table read by the SOURCE); insert-only commits fold at group
    cardinality with no source scan; a commit with retractions pays
    one broadcast semi-join of the versioned read at that commit
    against the CDC-sized affected key set — O(affected groups' rows)
    with clustered group keys, never a rescan of history. Vacuum
    retention must outlive the stream's checkpoint (the same contract
    as every versioned_cdf consumer). Blocks until the backlog is
    consumed (availableNow)."""
    from nomba_data_pipeline_spark.operators.incremental_agg import (
        IncrementalAggTable,
    )
    from nomba_data_pipeline_spark.operators.versioned import VersionedTable
    from nomba_data_pipeline_spark.sources.versioned_stream import register

    register(spark)
    agg = IncrementalAggTable(spark, agg_path, keys=keys, measure=measure,
                              distinct=distinct)
    fact = VersionedTable(spark, table_path)

    def _apply(batch: DataFrame, _bid: int) -> None:
        versions = sorted(
            r["_commit_version"]
            for r in batch.select("_commit_version").distinct().collect()
        )
        for v in versions:
            agg.apply_changes(
                batch.filter(F.col("_commit_version") == v)
                .drop("_commit_version"),
                batch_id=v,
                source=fact.read(version=v),
            )

    reader = (
        spark.readStream.format("versioned_cdf")
        .option("path", table_path)
        .option("include_preimages", "true")
    )
    if starting_version is not None:
        reader = reader.option("starting_version", str(starting_version))
    (
        reader.load()
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup within the watermark horizon
    (`dropDuplicatesWithinWatermark`): duplicates arriving within the
    watermark are dropped with bounded state — the streaming twin of the
    batch keep-latest dedup (O8), with state size O(keys in horizon)
    instead of O(all keys)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def sessionized_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    key_col: str = "user_id",
) -> DataFrame:
    """Event-time session windows — the streaming twin of the batch
    sessionize query, expressed with Spark's native `session_window`
    (merge-on-gap, watermark-finalized) instead of the lag+cumsum
    window: sessions close `gap` after their last event, state is
    bounded by the watermark horizon. Works on batch frames too, which
    the test suite uses to pin boundary-equivalence against the batch
    operator."""
    w = events
    if events.isStreaming:
        w = events.withWatermark(ts_col, watermark)
    return (
        w.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def minute_rollup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    query_name: str = "stream_minute_rollup",
) -> DataFrame:
    """The batch minute-rollup (queries.q_minute_rollup) computed by
    Structured Streaming: availableNow file-source micro-batches over
    the events directory, complete-mode aggregation into a memory sink,
    returning the final table. Complete mode emits every window (no
    watermark finality cutoff), so the result is exactly the batch
    GROUP BY — which is what makes this row gradeable against the same
    DuckDB oracle as the batch query.

    Scale note: the memory sink bounds driver memory by the AGGREGATE
    size (minutes x event_types), not the corpus; a production job
    would swap the sink for foreachBatch-merge (run_incremental_merge
    _stream) with update mode + watermark and keep the identical agg.
    """
    events = stream_events(spark, source_dir, schema)
    agg = (
        events.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")), 2
            ).cast("double").alias("total_value"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def paged_feed_rollup_stream(
    spark: SparkSession,
    feed_dir: str,
    since: int,
    query_name: str = "stream_paged_feed",
) -> DataFrame:
    """Per-type rollup over the custom `paged_json` STREAMING source
    (sources/pyds.py): the page directory is consumed as an
    offset-tracked change feed — one executor task per page planned
    since the checkpointed offset — with the incremental predicate
    (`event_id > since`, typed) applied INSIDE the reader, so
    below-HWM rows never leave the connector. This is the always-on
    form of the reference's cron-scheduled incremental extract
    (all_schedules.py:40-52 polling base_loader.py's fetchmany loop
    past the persisted hwm), graded against the plain batch GROUP BY.

    Complete-mode memory sink is bounded by |event types|; a
    production job keeps the identical agg and swaps the sink for
    foreachBatch-merge (run_incremental_merge_stream)."""
    from nomba_data_pipeline_spark.sources.pyds import register

    register(spark)
    feed = (
        spark.readStream.format("paged_json")
        .option("path", feed_dir)
        .option(
            "schema_ddl",
            "event_id bigint, user_id bigint, event_type string, value double",
        )
        .option("tracking_column", "event_id")
        .option("since", str(since))
        .load()
    )
    agg = feed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_value"),
        F.max("event_id").alias("max_event_id"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stream_static_enriched_counts(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dim: DataFrame,
    query_name: str = "stream_enriched",
) -> DataFrame:
    """Stream-static join: every micro-batch of the event stream is
    enriched against a STATIC dimension (left join, unmatched users
    bucketed 'unknown') before a complete-mode rollup. The static side
    is re-resolved per micro-batch by Structured Streaming — which is
    exactly the slowly-refreshing-dim deployment shape — and small
    enough that each batch plans a broadcast hash join: the stream
    never shuffles for the join, only for the aggregate. Complete-mode
    memory sink is bounded by |segments| x |event types|."""
    events = stream_events(spark, source_dir, schema)
    d = F.broadcast(dim.select("user_id", "segment"))
    agg = (
        events.join(d, "user_id", "left")
        .groupBy(
            F.coalesce(F.col("segment"), F.lit("unknown")).alias("segment"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_index_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    index_path: str,
    checkpoint_dir: str,
    max_files: int = 100,
) -> None:
    """Streaming ANN index maintenance — the vector firehose shape: a
    file stream of new embeddings keeps a persisted LSH index current
    without ever rebuilding it. Each micro-batch is signed under the
    index's frozen params and appended to `<index>/lists` by
    `lsh_index_append(..., skip_existing=True)`: the id dedup and
    anti-join make a checkpoint replay (or a source file that
    re-delivers vectors, in the same trigger or a later one) append
    nothing, and each append costs O(new rows) plus one column-pruned
    vec_id scan. Queries read `lsh_index_read` — there is
    no second tier to fold.
    Blocks until the available backlog drains (availableNow)."""
    from nomba_data_pipeline_spark.operators.similarity import lsh_index_append

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(source_dir)
    )

    def append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        lsh_index_append(batch_df, index_path, skip_existing=True)

    q = (
        stream.writeStream.foreachBatch(append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stage_ascending_chunks(
    df: DataFrame, order_col: str, dst_dir: str, n_chunks: int = 3
) -> None:
    """Stage `df` as `n_chunks` single-file parquet chunks covering
    ascending `order_col` ranges, with strictly ascending mtimes — a
    deterministic arrival order for file-source streams (the source
    drains oldest-first). Used where arrival order carries semantics
    (corpus dedup priority); pure aggregates don't need it. The global
    ntile sort is driver-visible staging of a stream DEMO slice, not a
    distributed-operator shape."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    os.makedirs(dst_dir, exist_ok=True)
    chunked = df.withColumn(
        "__chunk", F.ntile(n_chunks).over(Window.orderBy(order_col))
    )
    parts = tempfile.mkdtemp(prefix="stage_chunks_")
    now = time.time()
    try:
        for i in range(1, n_chunks + 1):
            part_dir = os.path.join(parts, f"p{i}")
            chunked.filter(F.col("__chunk") == i).drop("__chunk").coalesce(
                1
            ).write.mode("overwrite").parquet(part_dir)
            dst = os.path.join(dst_dir, f"{i:04d}.parquet")
            shutil.copyfile(glob.glob(part_dir + "/part-*.parquet")[0], dst)
            os.utime(dst, (now - 300 + i * 10, now - 300 + i * 10))
    finally:
        shutil.rmtree(parts, ignore_errors=True)


def corpus_dedup_apply_batch(
    batch_df: DataFrame, batch_id: int, index_path: str, flags_path: str
) -> None:
    """One micro-batch of streaming corpus dedup (the crawl-firehose
    shape): flag each incoming doc that near-dup-collides with the
    already-ingested corpus OR with an earlier arrival, then grow the
    persisted MinHash band index with this batch's bands.

    Arrival order IS the dedup priority: within a batch "earlier" means
    lower doc_id, and across batches the index itself encodes priority
    (batch N's bands are in the index before batch N+1 is checked).
    When batches drain in ascending doc_id order the result is
    batch-boundary-invariant — splitting the same docs into 1 or 10
    micro-batches yields identical flags, which is what makes the row
    oracle-checkable by a plain (non-recursive) SQL EXISTS pair.

    Flags are NON-transitive by design (matching dedup's "record what
    was novel at arrival" ledger semantics): a doc flagged dup still
    enters the index, so a later doc colliding only with a dup is still
    a dup of that cluster — the same policy GROUPS by cluster rather
    than chaining survivor-only comparisons, and the one that stays
    SQL-expressible.

    Replay safety, with zero bookkeeping beyond the checkpoint:
      * flags land in `<flags_path>/batch=<id>` with OVERWRITE — a
        checkpoint replay clobbers its own partial output;
      * the index append anti-joins on doc_id, so a replay after a
        completed append adds nothing;
      * the index side of the collision check anti-joins out the
        CURRENT batch's ids — a replay that finds its own rows already
        indexed (crash between append and checkpoint commit) computes
        the same flags as the first attempt, not all-dup self-matches.

    Cost shape at 100 TB: the corpus band table only STREAMS through a
    broadcast hash join (batch bands are broadcast; the corpus is never
    shuffled or re-signed), and the maintenance anti-join is a
    column-pruned doc_id scan riding the same per-batch cadence — both
    O(index) sequential reads, zero index rewrites. Cite: reference has
    no streaming dedup at all (SURVEY §2.10); the batch primitive this
    wraps is operators/dedup.py dedup_against_bands.
    """
    if batch_df.isEmpty():
        return
    from nomba_data_pipeline_spark.operators.dedup import (
        _append_bands,
        _not_indexed,
        minhash_bands,
    )
    from nomba_data_pipeline_spark.operators.merge import fs_and_path

    spark = batch_df.sparkSession
    ids = batch_df.select("doc_id").distinct()
    bands = minhash_bands(batch_df)
    # used three times (index probe, self-join both sides, append) —
    # micro-batch-sized, so cache instead of re-signing three times
    bands.cache()
    try:
        fs, jp = fs_and_path(spark, index_path)
        has_index = fs.exists(jp)
        if has_index:
            idx = (
                read_parquet(spark, index_path)
                .select("doc_id", "band", "band_sig")
                # replay determinism: a crashed prior attempt may have
                # appended THIS batch already — its rows must not count
                .join(F.broadcast(ids), "doc_id", "left_anti")
            )
            hit_index = (
                idx.withColumnRenamed("doc_id", "corpus_doc_id")
                .join(F.broadcast(bands), ["band", "band_sig"])
                .select("doc_id")
                .distinct()
            )
        else:
            hit_index = spark.createDataFrame([], "doc_id long")
        x, y = bands.alias("x"), bands.alias("y")
        hit_earlier = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.band_sig") == F.col("y.band_sig"))
                & (F.col("y.doc_id") < F.col("x.doc_id")),
            )
            .select(F.col("x.doc_id").alias("doc_id"))
            .distinct()
        )
        dup_ids = hit_index.unionByName(hit_earlier).distinct().withColumn(
            "is_dup", F.lit(True)
        )
        flags = ids.join(F.broadcast(dup_ids), "doc_id", "left").select(
            "doc_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
        )
        flags.write.mode("overwrite").parquet(f"{flags_path}/batch={batch_id}")
        if has_index:
            _append_bands(_not_indexed(bands, index_path), index_path)
        else:
            bands.repartition("band").write.mode("overwrite").partitionBy(
                "band"
            ).parquet(index_path)
    finally:
        bands.unpersist()


def run_corpus_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    index_path: str,
    flags_path: str,
    checkpoint_dir: str,
    max_files: int = 100,
) -> None:
    """Streaming corpus dedup over a document file stream: drains the
    available backlog (availableNow), one corpus_dedup_apply_batch per
    micro-batch. Read the verdicts from `<flags_path>/batch=*` (the
    `batch` partition column is the micro-batch id); the index at
    `index_path` is left current for the next drain."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: corpus_dedup_apply_batch(df, bid, index_path, flags_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
