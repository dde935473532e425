"""Change-data-feed on merge_upsert: insert / update_preimage /
update_postimage emission, no-change silence, replay idempotency."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.merge import ParquetTable

SCHEMA = "id int, v string, amt int"


def _feed(spark, cdf, batch):
    p = os.path.join(cdf, f"batch_id={batch}")
    if not os.path.exists(p):
        return []
    return sorted(
        (r._op, r.id, r.v, r.amt) for r in spark.read.parquet(p).collect()
    )


def test_cdf_emits_inserts_updates_and_skips_unchanged(spark, tmp_path):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    cdf = os.path.join(tmp_path, "cdf")
    t.overwrite(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, "c", 30)], SCHEMA)
    )
    # 2 changes, 3 unchanged (no emission), 4 new
    delta = spark.createDataFrame(
        [(2, "b", 99), (3, "c", 30), (4, "d", 40)], SCHEMA
    )
    n = t.merge_upsert_cdf(delta, ["id"], cdf, "b1")
    assert n == 3
    assert _feed(spark, cdf, "b1") == [
        ("insert", 4, "d", 40),
        ("update_postimage", 2, "b", 99),
        ("update_preimage", 2, "b", 20),
    ]
    # table state merged normally
    assert sorted((r.id, r.amt) for r in t.read().collect()) == [
        (1, 10),
        (2, 99),
        (3, 30),
        (4, 40),
    ]


def test_cdf_replay_preserves_published_feed(spark, tmp_path):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    cdf = os.path.join(tmp_path, "cdf")
    t.overwrite(spark.createDataFrame([(1, "a", 10)], SCHEMA))
    delta = spark.createDataFrame([(1, "a", 11), (2, "b", 20)], SCHEMA)
    t.merge_upsert_cdf(delta, ["id"], cdf, "b1")
    feed1 = _feed(spark, cdf, "b1")
    assert len(feed1) == 3  # 1 insert + pre/post pair
    # crash-replay: the merge already applied, so the diff is empty —
    # but the PUBLISHED feed is the batch's authoritative record and a
    # lagging replica still needs it: it must survive the replay intact
    n2 = t.merge_upsert_cdf(delta, ["id"], cdf, "b1")
    assert n2 == 0
    assert _feed(spark, cdf, "b1") == feed1
    # a replica consuming after the replay still gets the batch
    rep = ParquetTable(spark, os.path.join(tmp_path, "rep"))
    rep.apply_cdf(cdf, ["id"])
    assert sorted(map(tuple, rep.read().collect())) == sorted(
        map(tuple, t.read().collect())
    )


def test_cdf_replay_promotes_staged_feed_after_publish_crash(spark, tmp_path):
    """Crash window: the merge applied but the process died before the
    staging->final rename. The replay's diff vs post-state is empty, yet
    the staged feed is the batch's authoritative record — the replay
    must promote it so lagging replicas still receive the batch."""
    import shutil

    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    cdf = os.path.join(tmp_path, "cdf")
    t.overwrite(spark.createDataFrame([(1, "a", 10)], SCHEMA))
    delta = spark.createDataFrame([(1, "a", 11), (2, "b", 20)], SCHEMA)
    t.merge_upsert_cdf(delta, ["id"], cdf, "b1")
    feed1 = _feed(spark, cdf, "b1")
    # simulate the crash: un-publish the feed back to its staging name
    shutil.move(
        os.path.join(cdf, "batch_id=b1"),
        os.path.join(cdf, ".batch_id=b1.staging"),
    )
    assert _feed(spark, cdf, "b1") == []
    n2 = t.merge_upsert_cdf(delta, ["id"], cdf, "b1")
    assert n2 == 0  # merge already applied -> empty diff
    assert _feed(spark, cdf, "b1") == feed1  # but the feed is republished
    assert not os.path.exists(os.path.join(cdf, ".batch_id=b1.staging"))
    rep = ParquetTable(spark, os.path.join(tmp_path, "rep"))
    assert rep.apply_cdf(cdf, ["id"]) == ["b1"]


def test_apply_cdf_stops_at_first_uncommitted_batch(spark, tmp_path):
    """Commit-order guard: an in-flight (no _SUCCESS) batch must BLOCK
    later batches, or its older post-images would overwrite newer
    values when it finally commits."""
    src = ParquetTable(spark, os.path.join(tmp_path, "src"))
    rep = ParquetTable(spark, os.path.join(tmp_path, "rep"))
    cdf = os.path.join(tmp_path, "cdf")
    src.merge_upsert_cdf(
        spark.createDataFrame([(1, "a", 10)], SCHEMA), ["id"], cdf, "b0000"
    )
    src.merge_upsert_cdf(
        spark.createDataFrame([(2, "b", 20)], SCHEMA), ["id"], cdf, "b0002"
    )
    # simulate an in-flight batch BETWEEN the two committed ones
    os.makedirs(os.path.join(cdf, "batch_id=b0001"))
    assert rep.apply_cdf(cdf, ["id"]) == ["b0000"]  # stops at the gap
    # the in-flight batch commits -> everything after it now applies
    import shutil

    shutil.rmtree(os.path.join(cdf, "batch_id=b0001"))
    src.merge_upsert_cdf(
        spark.createDataFrame([(3, "c", 30)], SCHEMA), ["id"], cdf, "b0001"
    )
    assert rep.apply_cdf(cdf, ["id"]) == ["b0001", "b0002"]
    assert sorted(map(tuple, rep.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )


def test_cdf_bootstrap_all_inserts(spark, tmp_path):
    t = ParquetTable(spark, os.path.join(tmp_path, "fresh"))
    cdf = os.path.join(tmp_path, "cdf")
    delta = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], SCHEMA)
    n = t.merge_upsert_cdf(delta, ["id"], cdf, "b0")
    assert n == 2
    assert [op for op, *_ in _feed(spark, cdf, "b0")] == ["insert", "insert"]


def test_cdf_batches_accumulate_per_partition(spark, tmp_path):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    cdf = os.path.join(tmp_path, "cdf")
    t.merge_upsert_cdf(
        spark.createDataFrame([(1, "a", 10)], SCHEMA), ["id"], cdf, "b1"
    )
    t.merge_upsert_cdf(
        spark.createDataFrame([(1, "a", 11)], SCHEMA), ["id"], cdf, "b2"
    )
    allfeed = spark.read.parquet(cdf)
    assert allfeed.count() == 3  # b1 insert + b2 pre/post
    assert sorted(
        r.batch_id for r in allfeed.select("batch_id").distinct().collect()
    ) == ["b1", "b2"]


def test_apply_cdf_replicates_source(spark, tmp_path):
    src = ParquetTable(spark, os.path.join(tmp_path, "src"))
    replica = ParquetTable(spark, os.path.join(tmp_path, "replica"))
    cdf = os.path.join(tmp_path, "cdf")
    batches = [
        [(1, "a", 10), (2, "b", 20)],
        [(2, "b", 99), (3, "c", 30)],
        [(1, "a2", 10)],
    ]
    for i, rows in enumerate(batches):
        src.merge_upsert_cdf(
            spark.createDataFrame(rows, SCHEMA), ["id"], cdf, f"b{i:04d}"
        )
    applied = replica.apply_cdf(cdf, ["id"])
    assert applied == ["b0000", "b0001", "b0002"]
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )
    # nothing new -> no re-application
    assert replica.apply_cdf(cdf, ["id"]) == []


def test_apply_cdf_crash_between_merge_and_marker(spark, tmp_path):
    src = ParquetTable(spark, os.path.join(tmp_path, "src"))
    replica = ParquetTable(spark, os.path.join(tmp_path, "replica"))
    cdf = os.path.join(tmp_path, "cdf")
    src.merge_upsert_cdf(
        spark.createDataFrame([(1, "a", 10)], SCHEMA), ["id"], cdf, "b0000"
    )
    replica.apply_cdf(cdf, ["id"])
    # simulate the crash window: merge done, marker lost
    os.remove(
        os.path.join(tmp_path, "replica._cdf_applied", "_APPLIED-b0000")
    )
    assert replica.apply_cdf(cdf, ["id"]) == ["b0000"]  # replays
    assert sorted(map(tuple, replica.read().collect())) == [(1, "a", 10)]


def test_apply_cdf_catches_up_incrementally(spark, tmp_path):
    src = ParquetTable(spark, os.path.join(tmp_path, "src"))
    replica = ParquetTable(spark, os.path.join(tmp_path, "replica"))
    cdf = os.path.join(tmp_path, "cdf")
    src.merge_upsert_cdf(
        spark.createDataFrame([(1, "a", 10)], SCHEMA), ["id"], cdf, "b0000"
    )
    assert replica.apply_cdf(cdf, ["id"]) == ["b0000"]
    src.merge_upsert_cdf(
        spark.createDataFrame([(1, "a", 77)], SCHEMA), ["id"], cdf, "b0001"
    )
    assert replica.apply_cdf(cdf, ["id"]) == ["b0001"]  # only the new batch
    assert sorted(map(tuple, replica.read().collect())) == [(1, "a", 77)]


def test_apply_cdf_widens_replica_on_schema_drift(spark, tmp_path):
    """A column the primary gains must reach the replica, not be
    silently dropped by the align-to-target projection."""
    src = ParquetTable(spark, os.path.join(tmp_path, "src"))
    replica = ParquetTable(spark, os.path.join(tmp_path, "replica"))
    cdf = os.path.join(tmp_path, "cdf")
    src.merge_upsert_cdf(
        spark.createDataFrame([(1, "a", 10)], SCHEMA), ["id"], cdf, "b0000"
    )
    replica.apply_cdf(cdf, ["id"])
    # the primary's source drifts: a new column appears
    wide = spark.createDataFrame(
        [(2, "b", 20, "NG")], "id int, v string, amt int, country string"
    )
    # primary itself widens the same way a drifting upsert would
    src.overwrite(
        src.read().withColumn("country", F.lit(None).cast("string"))
    )
    src.merge_upsert_cdf(wide, ["id"], cdf, "b0001")
    replica.apply_cdf(cdf, ["id"])
    rows = {r.id: (r.v, r.amt, r.country) for r in replica.read().collect()}
    assert rows == {1: ("a", 10, None), 2: ("b", 20, "NG")}


def test_apply_cdf_promotes_replica_on_type_drift(spark, tmp_path):
    """A column the primary PROMOTED (int->bigint) must promote on the
    replica too — aligning the feed back to the replica's narrower type
    would silently diverge replica values from the primary."""
    src = ParquetTable(spark, os.path.join(tmp_path, "src"))
    replica = ParquetTable(spark, os.path.join(tmp_path, "replica"))
    cdf = os.path.join(tmp_path, "cdf")
    src.merge_upsert_cdf(
        spark.createDataFrame([(1, "a", 10)], SCHEMA), ["id"], cdf, "b0000"
    )
    replica.apply_cdf(cdf, ["id"])
    # the primary's amt column widened; a value exceeds int range
    big = spark.createDataFrame(
        [(2, "b", 5_000_000_000)], "id int, v string, amt bigint"
    )
    src.promote_types(big)
    src.merge_upsert_cdf(big, ["id"], cdf, "b0001")
    replica.apply_cdf(cdf, ["id"])
    assert dict(replica.read().dtypes)["amt"] == "bigint"
    rows = {r.id: r.amt for r in replica.read().collect()}
    assert rows == {1: 10, 2: 5_000_000_000}
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )


def test_apply_cdf_preserves_partitioned_replica_layout(spark, tmp_path):
    """A PARTITIONED replica must stay partitioned across apply_cdf: the
    layout is derived from the directory structure (the feed doesn't
    carry it), so the widen/promote/merge rewrites keep the hive dirs
    instead of silently flattening them (ADVICE r11)."""
    import glob as _glob

    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    cdf = os.path.join(tmp_path, "cdf")
    t.overwrite(spark.createDataFrame([(1, "a", 10), (2, "b", 20)], SCHEMA))

    rep = ParquetTable(spark, os.path.join(tmp_path, "rep"))
    rep.overwrite(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], SCHEMA),
        partition_by=["v"],
    )
    # batch 1: plain update; batch 2 introduces a NEW column (widen) and
    # a TYPE promotion (amt int -> bigint) — every rewrite path in one run
    t.merge_upsert_cdf(
        spark.createDataFrame([(2, "b", 99)], SCHEMA), ["id"], cdf, "b1"
    )
    t2 = ParquetTable(spark, os.path.join(tmp_path, "t"))
    wide = spark.createDataFrame(
        [(3, "c", 2**40, "new")], "id int, v string, amt bigint, extra string"
    )
    t2.widen_to(wide)
    t2.promote_types(wide)
    t2.merge_upsert_cdf(wide, ["id"], cdf, "b2")

    assert rep.apply_cdf(cdf, ["id"]) == ["b1", "b2"]
    # layout survived every rewrite
    assert _glob.glob(os.path.join(tmp_path, "rep", "v=*"))
    flat = [
        f for f in os.listdir(os.path.join(tmp_path, "rep"))
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(tmp_path, "rep", f))
    ]
    assert flat == []
    got = sorted((r.id, r.v, r.amt, r.extra) for r in rep.read().collect())
    assert got == [(1, "a", 10, None), (2, "b", 99, None), (3, "c", 2**40, "new")]
    assert dict(rep.read().dtypes)["amt"] == "bigint"
