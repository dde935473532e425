"""Structured Streaming micro-batch tests: availableNow drain + merge,
incremental pickup of new files."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from nomba_data_pipeline_spark.operators.merge import ParquetTable
from nomba_data_pipeline_spark.streaming.microbatch import run_incremental_merge_stream

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_merge_stream_drains_and_upserts(spark, tmp_path):
    src = os.path.join(tmp_path, "src")
    tgt = os.path.join(tmp_path, "tgt")
    ckpt = os.path.join(tmp_path, "ckpt")
    from datetime import datetime

    _write_batch(spark, src, [(1, datetime(2026, 1, 1, 0, 0), 1.0), (2, datetime(2026, 1, 1, 0, 1), 2.0)])
    run_incremental_merge_stream(spark, src, SCHEMA, tgt, ["id"], ckpt)
    t = ParquetTable(spark, tgt)
    assert sorted((r.id, r.v) for r in t.read().collect()) == [(1, 1.0), (2, 2.0)]

    # new file arrives: id 2 updated + id 3 new; checkpoint skips old files
    _write_batch(spark, src, [(2, datetime(2026, 1, 1, 0, 5), 20.0), (3, datetime(2026, 1, 1, 0, 6), 3.0)])
    run_incremental_merge_stream(spark, src, SCHEMA, tgt, ["id"], ckpt)
    assert sorted((r.id, r.v) for r in t.read().collect()) == [(1, 1.0), (2, 20.0), (3, 3.0)]

    # rerun with no new files: no-op (idempotent like O7)
    run_incremental_merge_stream(spark, src, SCHEMA, tgt, ["id"], ckpt)
    assert t.read().count() == 3


def test_dedup_stream_drops_watermark_duplicates(spark, tmp_path):
    from nomba_data_pipeline_spark.streaming.microbatch import dedup_stream, stream_events

    src = os.path.join(tmp_path, "src")
    out = os.path.join(tmp_path, "out")
    ckpt = os.path.join(tmp_path, "ckpt")
    from datetime import datetime

    rows = [
        (1, datetime(2026, 1, 1, 0, 0, 0), 1.0),
        (1, datetime(2026, 1, 1, 0, 0, 30), 1.5),  # dup id within watermark
        (2, datetime(2026, 1, 1, 0, 1, 0), 2.0),
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    q = (
        dedup_stream(stream_events(spark, src, SCHEMA), ["id"])
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, 1.0), (2, 2.0)]  # first occurrence kept, dup dropped


def test_session_window_stream_and_batch_equivalence(spark, tmp_path):
    """sessionized_counts: (a) runs as a real availableNow stream with
    watermark-finalized sessions; (b) on the batch events table its
    session boundaries agree with the lag+cumsum batch sessionize —
    same (user, session_start, n_events) partitioning."""
    import glob

    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.plans.queries import q_sessionize
    from nomba_data_pipeline_spark.streaming.microbatch import sessionized_counts
    from tests.conftest import SF_SMALL

    # (b) batch equivalence on real data
    events = load_table(spark, SF_SMALL, "events").select("user_id", "ts", "event_id")
    sw = {
        (r.user_id, r.session_start, r.n_events)
        for r in sessionized_counts(events, gap="30 minutes").collect()
    }
    batch = {
        (r.user_id, r.session_start, r.n_events)
        for r in q_sessionize(spark, SF_SMALL).collect()
    }
    assert sw == batch

    # (a) streaming execution: one drained availableNow run emits only
    # watermark-finalized sessions (append mode)
    import os
    from datetime import datetime

    src = os.path.join(tmp_path, "sess_src")
    out = os.path.join(tmp_path, "sess_out")
    ckpt = os.path.join(tmp_path, "sess_ckpt")
    rows = [
        (7, datetime(2026, 1, 1, 0, 0), 1.0),
        (7, datetime(2026, 1, 1, 0, 10), 1.0),  # same session (gap 30m)
        (7, datetime(2026, 1, 1, 2, 0), 1.0),  # new session
        (8, datetime(2026, 1, 1, 6, 0), 1.0),  # advances watermark far ahead
    ]
    spark.createDataFrame(
        [(u, ts) for u, ts, _ in rows], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    stream = (
        spark.readStream.schema(schema).parquet(src)
    )
    q = (
        sessionized_counts(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start.isoformat(), r.n_events)
        for r in spark.read.parquet(out).collect()
        if glob.glob(os.path.join(out, "*.parquet"))
    }
    # user 7's two sessions are watermark-finalized by user 8's late event
    assert ((7, "2026-01-01T00:00:00", 2) in got) and ((7, "2026-01-01T02:00:00", 1) in got)


def test_session_merges_across_micro_batches(spark, tmp_path):
    """A session whose events straddle a micro-batch boundary must merge
    in state: file 1 holds the session's first two events, file 2 (a
    later batch via maxFilesPerTrigger=1 + later mtime) holds a third
    event within the gap, plus a far-future row that advances the
    watermark and finalizes everything. The merged session must come
    out as ONE row of 3 events — the stateful-merge behavior the graded
    streaming_sessionize row's single-batch drain doesn't exercise."""
    import os
    import time
    from datetime import datetime

    src = os.path.join(tmp_path, "xsess_src")
    out = os.path.join(tmp_path, "xsess_out")
    ckpt = os.path.join(tmp_path, "xsess_ckpt")
    spark.createDataFrame(
        [(7, datetime(2026, 1, 1, 0, 0)), (7, datetime(2026, 1, 1, 0, 10))],
        "user_id long, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.05)  # file source orders batches by mtime
    spark.createDataFrame(
        [(7, datetime(2026, 1, 1, 0, 25)), (8, datetime(2026, 1, 1, 6, 0))],
        "user_id long, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)

    from nomba_data_pipeline_spark.streaming.microbatch import (
        sessionized_counts,
        stream_events,
    )

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    stream = stream_events(spark, src, schema, max_files=1)
    q = (
        sessionized_counts(stream, gap="30 minutes", watermark="0 seconds")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # one merged session: 00:00 -> 00:25, finalized end = last + gap
    assert (7, "2026-01-01T00:00:00", "2026-01-01T00:55:00", 3) in got
    # and NOT two fragments
    assert not any(u == 7 and n < 3 for u, _, _, n in got), got


def test_minute_rollup_stream_equals_batch(spark):
    """The graded streaming row: complete-mode availableNow rollup must
    equal the batch GROUP BY bit-for-bit (same oracle grades both)."""
    from nomba_data_pipeline_spark.plans.queries import REGISTRY
    from tests.conftest import SF_SMALL

    batch = {
        (r.minute, r.event_type, r.n, r.total_value)
        for r in REGISTRY["minute_rollup"].fn(spark, SF_SMALL).collect()
    }
    streamed = {
        (r.minute, r.event_type, r.n, r.total_value)
        for r in REGISTRY["streaming_minute_rollup"].fn(spark, SF_SMALL).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_dedup_stream_state_evicts_beyond_watermark(spark, tmp_path):
    """The other half of bounded-state dedup: a duplicate arriving AFTER
    the watermark horizon has passed its first occurrence finds the
    state evicted and is emitted again. This is the deliberate trade
    that keeps state O(keys in horizon) instead of O(all keys) — the
    graded streaming_dedup row sidesteps it with a horizon wider than
    the data span; this pins the eviction behavior itself."""
    from datetime import datetime

    from nomba_data_pipeline_spark.streaming.microbatch import dedup_stream, stream_events

    src = os.path.join(tmp_path, "src")
    out = os.path.join(tmp_path, "out")
    ckpt = os.path.join(tmp_path, "ckpt")

    def run_once():
        q = (
            dedup_stream(stream_events(spark, src, SCHEMA), ["id"], watermark="10 minutes")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: id=1 plus a row that advances the watermark to ~00:20
    spark.createDataFrame(
        [(1, datetime(2026, 1, 1, 0, 0, 0), 1.0), (99, datetime(2026, 1, 1, 0, 30, 0), 9.0)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    # batch 2 (new file, checkpoint carries the advanced watermark):
    # id=1 again at 00:40 — far past 00:00 + 10min, state evicted
    spark.createDataFrame(
        [(1, datetime(2026, 1, 1, 0, 40, 0), 1.1)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    ones = sorted(r.v for r in spark.read.parquet(out).filter("id = 1").collect())
    assert ones == [1.0, 1.1], "evicted key must be re-emitted, proving bounded state"
