"""Commit-time change feeds (VersionedTable write_cdf=True) and the
`versioned_cdf` Structured Streaming source over them: feed contents
per verb, FULL/EMPTY markers, vacuum + purge retention, streaming
offsets/ordering, and the end-to-end stream-maintained rollup."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.versioned import VersionedTable


def _mk(spark, tmp_path, n=100):
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ), cluster_by=["k"], target_files=4)
    return t


def _feed(df):
    return {
        (r["change_type"], r["k"], r["v"], r["_commit_version"])
        for r in df.collect()
    }


# -- write side ---------------------------------------------------------------
def test_merge_and_delete_write_row_feeds(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([(5, -5), (200, -200)], "k long, v long"), ["k"]
    )
    t.delete_where("k >= 90 and k < 93")
    got = _feed(t.changes_between(1))
    want = {("update", 5, -5, 2), ("insert", 200, -200, 2)} | {
        ("delete", k, 2 * k, 3) for k in (90, 91, 92)
    }
    assert got == want


def test_delete_keys_feed_and_empty_marker(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_keys(spark.createDataFrame([(7,), (9999,)], "k long"), ["k"])
    assert _feed(t.changes_between(1)) == {("delete", 7, 14, 2)}
    # a no-match delete is an EMPTY feed, not a missing one
    t.delete_where("k = 123456")
    assert _feed(t.changes_between(2)) == set()
    # checkpoint moves rows between files, values identical: empty feed
    t.checkpoint()
    assert _feed(t.changes_between(3)) == set()


def test_full_markers_refuse_and_ranges_before_them_still_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    t.overwrite(spark.range(3).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    ))  # v3: _CDF_FULL
    assert _feed(t.changes_between(1, 2)) == {("update", 5, -5, 2)}
    with pytest.raises(ValueError, match="wholesale"):
        t.changes_between(1)  # range crosses the overwrite
    t2 = VersionedTable(spark, t.path, write_cdf=True)
    t2.rollback(2)
    with pytest.raises(ValueError, match="wholesale"):
        t2.changes_between(3)


def test_changes_between_missing_feed_refuses(spark, tmp_path):
    t = VersionedTable(spark, os.path.join(str(tmp_path), "nocdf"))
    t.overwrite(spark.range(5).select(F.col("id").alias("k")))
    t.merge_upsert(spark.createDataFrame([(9,)], "k long"), ["k"])
    with pytest.raises(ValueError, match="no change feed"):
        VersionedTable(spark, t.path, write_cdf=True).changes_between(1)


def test_vacuum_reclaims_feeds_with_versions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    t.merge_upsert(spark.createDataFrame([(6, -6)], "k long, v long"), ["k"])
    t.vacuum(retain_last=1)
    assert not os.path.isdir(t._cdf_dir(2))
    assert os.path.isdir(t._cdf_dir(3))  # retained version keeps its feed
    # the committed-chain walk refuses as soon as a reclaimed manifest
    # makes the range unenumerable (loud, never a silent skip)
    with pytest.raises(ValueError, match="reclaimed by vacuum"):
        t.changes_between(1)


def test_purge_redacts_the_delete_feed(spark, tmp_path):
    """GDPR: the purge version's feed would otherwise retain the erased
    subject's OLD IMAGES on disk — it must become a _CDF_FULL marker."""
    import glob

    t = _mk(spark, tmp_path)
    t.purge_where("k < 10")
    v = t.latest_version()
    names = os.listdir(t._cdf_dir(v))
    assert "_CDF_FULL" in names
    assert not any(n.endswith(".parquet") for n in names)
    # and no parquet file anywhere under the table still holds k<10
    for f in glob.glob(os.path.join(t.path, "**", "*.parquet"),
                       recursive=True):
        import pyarrow.parquet as pq

        tbl = pq.read_table(f)
        if "k" in tbl.column_names:
            assert all(x is None or x >= 10 for x in tbl.column("k").to_pylist()), f
    with pytest.raises(ValueError, match="wholesale"):
        t.changes_between(v - 1)


def test_crash_orphan_feed_is_invisible_and_vacuumed(spark, tmp_path):
    """FAULT INJECTION: a crash between the feed STAGING write and the
    manifest CAS (_publish_manifest — since the create-exclusive commit
    protocol, feeds are staged to `_cdf/.tmp-*` and finalized to
    `_cdf/v<N>` only after the manifest rename) leaves staged feed
    residue no committed offset can reach; the commit never lands, the
    retry stages afresh and reuses the version number, and vacuum
    reclaims both the crashed writer's generation and the residue."""
    t = _mk(spark, tmp_path)
    real_publish = VersionedTable._publish_manifest

    def die_on_manifest(self, v, man):
        raise RuntimeError("crash after feed, before manifest")

    VersionedTable._publish_manifest = die_on_manifest
    try:
        with pytest.raises(RuntimeError, match="before manifest"):
            t.merge_upsert(
                spark.createDataFrame([(5, -5)], "k long, v long"), ["k"]
            )
    finally:
        VersionedTable._publish_manifest = real_publish
    cdf_root = os.path.join(t.path, "_cdf")
    residue = [n for n in os.listdir(cdf_root) if n.startswith(".tmp-")]
    assert residue                       # staged feed residue on disk
    assert not os.path.isdir(t._cdf_dir(2))  # nothing at the final name
    assert t.latest_version() == 1       # invisible: commit never landed
    # the retry re-allocates the orphan's version number (no manifest
    # was published) and commits cleanly
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    assert _feed(t.changes_between(1)) == {("update", 5, -5, 2)}
    res = t.vacuum(retain_last=2)
    assert res["dropped_files"] > 0  # the crashed writer's generation
    # staging residue left with it
    assert not [n for n in os.listdir(cdf_root) if n.startswith(".tmp-")]


# -- streaming source ---------------------------------------------------------
def _start_stream(spark, t, name, starting_version=1):
    from nomba_data_pipeline_spark.sources.versioned_stream import register

    register(spark)
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", t.path)
        .option("starting_version", str(starting_version))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"select * from {name}")


def test_stream_emits_feed_rows_with_versions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([(5, -5), (200, -200)], "k long, v long"), ["k"]
    )
    t.delete_where("k = 7")
    got = _feed(_start_stream(spark, t, "vcdf_a"))
    assert got == {
        ("update", 5, -5, 2), ("insert", 200, -200, 2), ("delete", 7, 14, 3),
    }


def test_stream_checkpoint_resumes_from_committed_offset(spark, tmp_path):
    """Two availableNow runs over one checkpoint: the second run must
    emit ONLY the commits that landed in between — offsets are table
    versions carried in the stream checkpoint."""
    from nomba_data_pipeline_spark.sources.versioned_stream import register

    register(spark)
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(1, -1)], "k long, v long"), ["k"])
    ckpt = os.path.join(str(tmp_path), "ckpt")
    sink = os.path.join(str(tmp_path), "sink")

    def run_once():
        (
            spark.readStream.format("versioned_cdf")
            .option("path", t.path).option("starting_version", "1").load()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start().awaitTermination(180)
        )

    run_once()
    first = _feed(spark.read.parquet(sink))
    assert first == {("update", 1, -1, 2)}
    t.merge_upsert(spark.createDataFrame([(2, -2)], "k long, v long"), ["k"])
    run_once()
    both = _feed(spark.read.parquet(sink))
    assert both == {("update", 1, -1, 2), ("update", 2, -2, 3)}


def test_stream_fails_loudly_on_full_marker(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _mk(spark, tmp_path)
    t.overwrite(spark.range(2).select(F.col("id").alias("k"),
                                      F.lit(0).cast("long").alias("v")))
    with pytest.raises(StreamingQueryException, match="wholesale"):
        _start_stream(spark, t, "vcdf_full", starting_version=1)


# -- r13 code-review regressions ----------------------------------------------
def test_orphan_feed_from_crashed_commit_is_never_replayed(spark, tmp_path):
    """FAULT INJECTION (review): a crash AFTER the feed+manifest writes
    but BEFORE the pointer swap leaves an orphan _cdf/vN AND an orphan
    manifest vN; the next successful commit allocates PAST it (v+1,
    parent = old head). changes_between and the stream must walk the
    COMMITTED chain and never emit the abandoned commit's rows."""
    t = _mk(spark, tmp_path)
    real_write_json = VersionedTable._write_json

    def die_on_pointer(self, p, d):
        if p.endswith("_latest"):
            raise RuntimeError("crash before pointer swap")
        return real_write_json(self, p, d)

    VersionedTable._write_json = die_on_pointer
    try:
        with pytest.raises(RuntimeError, match="before pointer swap"):
            t.delete_where("k < 50")  # abandoned delete: orphan feed v2
    finally:
        VersionedTable._write_json = real_write_json
    assert os.path.isdir(t._cdf_dir(2)) and t.latest_version() == 1
    # next successful commit lands at v3 with parent 1
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    assert t.latest_version() == 3 and t._manifest(3)["parent"] == 1
    # the orphan delete's old-image rows must NOT appear
    assert _feed(t.changes_between(1)) == {("update", 5, -5, 3)}
    # nor through the stream
    got = _feed(_start_stream(spark, t, "vcdf_orphan"))
    assert got == {("update", 5, -5, 3)}


def test_unreplayable_cursor_rebuilds_instead_of_failing_forever(spark, tmp_path):
    """REVIEW: when vacuum reclaimed the sidecar's cursor version, the
    mart run must pay one rebuild, not raise on every invocation."""
    from tests.test_versioned_cdf_view import _mk_runner, _seed_sources

    src = os.path.join(str(tmp_path), "src")
    wh = os.path.join(str(tmp_path), "wh")
    fact, dim = _seed_sources(spark, src)
    _mk_runner(spark, src, wh, "join_view").run()
    vt = VersionedTable(spark, os.path.join(wh, "f_v"))
    vt.delete_where("fk < 5")       # v2
    vt.checkpoint()                 # v3
    vt.vacuum(retain_last=1)        # reclaims v1 (the mart's cursor)
    r2 = _mk_runner(spark, src, wh, "join_view")
    r2.run()                        # must not raise
    got = {(r["fk"], r["grp"]) for r in r2.read_model("mart").collect()}
    want = {
        (r["fk"], r["grp"])
        for r in fact.filter("fk >= 5").join(dim, "dk", "left").collect()
    }
    assert got == want


def test_apply_fact_cdf_refuses_unknown_change_type(spark, tmp_path):
    from nomba_data_pipeline_spark.operators.incremental_join import (
        JoinViewTable,
    )

    fact = spark.range(20).select(
        F.col("id").alias("fk"), (F.col("id") % 4).alias("dk"),
        (F.col("id") * 1.0).alias("amt"),
    )
    dim = spark.range(4).select(
        F.col("id").alias("dk"), F.lit("g").alias("grp")
    )
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=2,
    )
    v.build(fact, dim)
    bad = spark.createDataFrame(
        [("DELETE", 3, 3, 0.0)], "change_type string, fk long, dk long, amt double"
    )
    with pytest.raises(ValueError, match="unrecognized"):
        v.apply_fact_cdf(bad, dim)
    assert v.read().count() == 20  # nothing was half-applied


def test_delta_stat_str_normalizes_session_timezone(spark):
    """REVIEW: delta key bounds collected under a non-UTC session must
    render UTC-naive like the manifest stats, or pruning could skip
    files that hold the delta's keys."""
    import datetime

    from nomba_data_pipeline_spark.operators.versioned import VersionedTable

    t = VersionedTable(spark, "/tmp/never-written-tz-probe")
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = t._delta_stat_str(
            datetime.datetime(2020, 6, 1, 12, 0, 0), "timestamp"
        )
        assert got == "2020-06-01 16:00:00"  # EDT is UTC-4
        # timestamp_ntz is wall time on both sides: unchanged
        got2 = t._delta_stat_str(
            datetime.datetime(2020, 6, 1, 12, 0, 0), "timestamp_ntz"
        )
        assert got2 == "2020-06-01 12:00:00"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_predicate_bounds_review_hardening():
    from nomba_data_pipeline_spark.operators.versioned import VersionedTable as VT

    dt = {"k": "bigint", "ts": "timestamp", "note": "string"}
    # 'and' INSIDE a string literal must not yield phantom bounds
    assert VT._predicate_bounds(
        "note = 'x and k > 100 and y' and k < 5", dt
    ) == {"k": (None, "5")}
    # date-grained literal against a timestamp column pads to midnight
    assert VT._predicate_bounds("ts <= date'2020-01-01'", dt) == {
        "ts": (None, "2020-01-01 00:00:00")
    }
    assert VT._predicate_bounds("ts >= '2020-01-01'", dt) == {
        "ts": ("2020-01-01 00:00:00", None)
    }
    # 'or' inside a literal does not disable extraction of real bounds
    assert VT._predicate_bounds("note = 'a or b' and k >= 3", dt) == {
        "k": ("3", None)
    }
    # unbalanced quote: refuse
    assert VT._predicate_bounds("note = 'oops and k > 1", dt) == {}


def test_delete_where_date_boundary_rows_are_deleted(spark, tmp_path):
    """REVIEW: midnight-boundary rows must not survive a pruned delete."""
    import datetime

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tsb"),
                       write_cdf=False)
    t.overwrite(
        spark.createDataFrame(
            [(i, datetime.datetime(2020, 1, 1 + i // 4, 6 * (i % 4)))
             for i in range(24)],
            "k long, ts timestamp",
        ),
        cluster_by=["ts"], target_files=6,
    )
    t.delete_where("ts <= date'2020-01-02'")
    # rows at exactly 2020-01-02 00:00:00 are gone too
    assert t.read().filter("ts <= timestamp'2020-01-02 00:00:00'").count() == 0
    assert t.read().count() == 24 - 5  # 4 on day 1 + the day-2 midnight row


def test_stream_to_stream_chain_through_versioned_table(spark, tmp_path):
    """STREAM-TO-STREAM composition with the versioned table as the
    durable boundary: file-source stream -> run_versioned_merge_stream
    (txn-idempotent commits, write_cdf=True) -> versioned_cdf stream ->
    run_agg_changes_stream (IncrementalAggTable). The rollup equals the
    declarative aggregate of everything ingested, across TWO drain
    cycles."""
    from pyspark.sql import types as T

    from nomba_data_pipeline_spark.operators.incremental_agg import (
        IncrementalAggTable,
    )
    from nomba_data_pipeline_spark.streaming.microbatch import (
        run_agg_changes_stream,
        run_versioned_merge_stream,
    )

    root = str(tmp_path)
    src = os.path.join(root, "incoming")
    os.makedirs(src)
    schema = T.StructType([
        T.StructField("fk", T.LongType()),
        T.StructField("dk", T.LongType()),
        T.StructField("amt", T.DoubleType()),
    ])
    b1 = spark.range(40).select(
        F.col("id").alias("fk"), (F.col("id") % 8).alias("dk"),
        (F.col("id") * 1.0).alias("amt"),
    )
    b1.write.mode("append").parquet(src)

    t = VersionedTable(spark, os.path.join(root, "fact_v"), write_cdf=True)
    t.overwrite(b1.limit(0))  # empty v1 (FULL marker — stream starts past it)
    agg_path = os.path.join(root, "agg")

    def ingest():
        run_versioned_merge_stream(
            spark, src, schema, t.path, ["fk"],
            checkpoint_dir=os.path.join(root, "ckpt_in"),
            app="ingest", write_cdf=True,
        )

    def drain():
        ingest()
        run_agg_changes_stream(
            spark, t.path, agg_path, keys=["dk"], measure=["amt"],
            checkpoint_dir=os.path.join(root, "ckpt_out"),
            starting_version=1,
        )

    def expect(facts):
        return {
            (r["dk"], r["cnt"], r["s"])
            for r in facts.groupBy("dk").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
                .cast("double").alias("s"),
            ).collect()
        }

    ingest()  # v2: batch1 ingested
    a = IncrementalAggTable(spark, agg_path, keys=["dk"], measure=["amt"])
    a.rebuild(t.read(), t.latest_version())
    # downstream starts at v1: the redelivered, already-built v2 feed is
    # a marker-ledger no-op — the replay-convergence contract
    drain()
    got1 = {(r["dk"], r["cnt"], r["sum_amt"]) for r in a.result().collect()}
    assert got1 == expect(b1)
    # second cycle: late corrections land (fk=5 moves group dk 5 -> 1),
    # both streams resume off their checkpoints and the rollup tracks
    b2 = spark.createDataFrame(
        [(5, 1, -50.0), (100, 2, 7.0)], "fk long, dk long, amt double"
    )
    b2.write.mode("append").parquet(src)
    drain()
    got2 = {(r["dk"], r["cnt"], r["sum_amt"]) for r in a.result().collect()}
    assert got2 == expect(b1.filter("fk <> 5").unionByName(b2))


def test_write_cdf_is_a_table_property_not_a_handle_flag(spark, tmp_path):
    """REVIEW r13-2: once a table commits with write_cdf=True, EVERY
    later writer keeps the feed going — a flagless ops handle must not
    punch a permanent hole that kills downstream streams."""
    t = _mk(spark, tmp_path)  # write_cdf=True
    flagless = VersionedTable(spark, t.path)  # default write_cdf=False
    flagless.merge_upsert(
        spark.createDataFrame([(5, -5)], "k long, v long"), ["k"]
    )
    flagless.delete_where("k = 7")
    # feeds exist for BOTH flagless commits
    assert _feed(t.changes_between(1)) == {
        ("update", 5, -5, 2), ("delete", 7, 14, 3),
    }
    got = _feed(_start_stream(spark, t, "vcdf_prop"))
    assert got == {("update", 5, -5, 2), ("delete", 7, 14, 3)}
    # purge through the flagless handle still redacts its feed
    flagless.purge_where("k < 3")
    names = os.listdir(t._cdf_dir(flagless.latest_version()))
    assert "_CDF_FULL" in names


# -- the Arrow read path over every feed shape --------------------------------
def _reader(t, preimages=False):
    from nomba_data_pipeline_spark.sources.versioned_stream import (
        VersionedCdfDataSource,
    )

    opts = {"path": t.path}
    if preimages:
        opts["include_preimages"] = "true"
    src = VersionedCdfDataSource(opts)
    return src.streamReader(src.schema())


def _arrow_rows(t, lo, hi, preimages=False):
    """Feed rows for versions (lo, hi] exactly as the stream source
    hands them to Spark: RecordBatches from `read`, one partition per
    feed file, in the stream schema (the LATEST manifest's columns)."""
    import datetime as dt

    import pyarrow as pa

    r = _reader(t, preimages)
    batches = [
        b for p in r.partitions({"version": lo}, {"version": hi})
        for b in r.read(p)
    ]
    names = [f.name for f in r.schema.fields]
    assert all(b.schema.names == names for b in batches)

    def utc_naive(v):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v

    rows = pa.Table.from_batches(batches).to_pylist() if batches else []
    return names, sorted(
        (tuple(utc_naive(row[n]) for n in names) for row in rows), key=repr
    )


def _spark_rows(spark, t, lo, hi, names, preimages=False):
    df = t.changes_between(lo, hi, include_preimages=preimages)
    have = set(df.columns)
    cols = [F.col(n) if n in have else F.lit(None).alias(n) for n in names]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def _assert_read_equals_changes_between(spark, t, lo, hi, preimages=False):
    names, got = _arrow_rows(t, lo, hi, preimages)
    assert got == _spark_rows(spark, t, lo, hi, names, preimages)
    return got


def test_read_matches_changes_between_with_and_without_preimages(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([(5, -5), (200, -200)], "k long, v long"), ["k"]
    )
    t.delete_where("k = 7")
    post = _assert_read_equals_changes_between(spark, t, 1, 3)
    pre = _assert_read_equals_changes_between(spark, t, 1, 3, preimages=True)
    assert ("update_preimage", 5, 10, 2) in pre
    assert not [r for r in post if r[0] == "update_preimage"]


def test_read_null_fills_columns_added_after_the_feed(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    t.evolve_schema_to(
        spark.createDataFrame([(0, 0, "x")], "k long, v long, w string")
    )
    t.merge_upsert(
        spark.createDataFrame([(6, -6, "six")], "k long, v long, w string"),
        ["k"],
    )
    got = _assert_read_equals_changes_between(
        spark, t, 1, t.latest_version()
    )
    assert ("update", 5, -5, None, 2) in got
    assert ("update", 6, -6, "six", t.latest_version()) in got


def test_read_widens_int_feed_to_promoted_bigint(spark, tmp_path):
    """Feeds written before an int -> bigint promotion are read under
    the stream's (latest) bigint schema."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("int").alias("x")
    ))
    t.merge_upsert(spark.createDataFrame([(3, -3)], "k long, x int"), ["k"])
    t.evolve_schema_to(spark.createDataFrame([(0, 0)], "k long, x bigint"))
    r = _reader(t)
    assert dict((f.name, f.dataType.simpleString())
                for f in r.schema.fields)["x"] == "bigint"
    got = _assert_read_equals_changes_between(spark, t, 1, 2)
    assert got == [("update", 3, -3, 2)]


def test_read_timestamps_match_changes_between(spark, tmp_path):
    """tz-aware (timestamp) and wall-clock (timestamp_ntz) columns
    cross the Arrow boundary with the instants changes_between reads."""
    import datetime as dt

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(spark.range(10).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-03-10 01:30:00' + make_interval(0, 0, 0, 0, id)")
        .alias("ts"),
        F.expr("timestamp_ntz'2024-03-10 01:30:00'").alias("wall"),
    ))
    t.merge_upsert(
        spark.createDataFrame(
            [(4, dt.datetime(2030, 1, 1, 12, tzinfo=dt.timezone.utc),
              dt.datetime(2030, 1, 1, 12))],
            "k long, ts timestamp, wall timestamp_ntz",
        ),
        ["k"],
    )
    got = _assert_read_equals_changes_between(spark, t, 1, 2)
    assert got == [("update", 4, dt.datetime(2030, 1, 1, 12),
                    dt.datetime(2030, 1, 1, 12), 2)]


def test_read_of_an_empty_feed_file_yields_no_rows(spark, tmp_path):
    import pyarrow.parquet as pq

    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    d = t._cdf_dir(2)
    part = [n for n in os.listdir(d) if n.endswith(".parquet")][0]
    empty = pq.read_table(os.path.join(d, part)).slice(0, 0)
    pq.write_table(empty, os.path.join(d, "part-99999-empty.parquet"))
    spark.catalog.refreshByPath(d)
    r = _reader(t)
    parts = [p for p in r.partitions({"version": 1}, {"version": 2})
             if p.value[1].endswith("part-99999-empty.parquet")]
    assert len(parts) == 1
    assert sum(b.num_rows for b in r.read(parts[0])) == 0
    got = _assert_read_equals_changes_between(spark, t, 1, 2)
    assert got == [("update", 5, -5, 2)]


def test_latest_version_skips_unreadable_pointer_copies(spark, tmp_path, monkeypatch):
    """Inside a writer's swap window the stream reads the pointer
    backup; crash residue among the backups, or a `_latest` caught
    mid-swap, is skipped and the committed version still answers."""
    import shutil

    from nomba_data_pipeline_spark.sources import versioned_stream as vs

    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    assert vs._latest_version(t.path) == 2
    shutil.move(t._latest_path(), f"{t.path}/_latest.old-00000001")
    os.makedirs(f"{t.path}/_latest.old-00000002")  # empty residue
    assert vs._latest_version(t.path) == 2

    real_listdir = os.listdir

    def swap_lands_damaged(p):
        names = real_listdir(p)
        os.makedirs(t._latest_path(), exist_ok=True)  # no part file yet
        return names

    monkeypatch.setattr(vs.os, "listdir", swap_lands_damaged)
    assert vs._latest_version(t.path) == 2
