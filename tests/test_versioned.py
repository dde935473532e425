"""VersionedTable: time travel, file-level CoW, rollback, vacuum,
manifest-stat pruning, and crash-safety of the commit protocol."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.versioned import VersionedTable


def _base(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 10).cast("int").alias("grp"),
    )


def _mk(spark, tmp_path, n=200, files=8, **kw):
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"), **kw)
    # explicit target_files: AQE would coalesce these tiny test tables
    # to one file, and the CoW/pruning assertions need a multi-file layout
    t.overwrite(_base(spark, n), cluster_by=["k"], target_files=files)
    return t


def _rows(df):
    return {tuple(r) for r in df.select("k", "v", "grp").collect()}


# -- time travel / CoW -------------------------------------------------------
def test_overwrite_and_read_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert _rows(t.read()) == _rows(_base(spark))
    assert t.latest_version() == 1
    assert t.history()[0]["op"] == "overwrite"


def test_merge_upsert_updates_inserts_and_time_travels(spark, tmp_path):
    t = _mk(spark, tmp_path)
    delta = spark.createDataFrame(
        [(10, -1, 0), (999, -2, 9)], "k long, v long, grp int"
    )
    v2 = t.merge_upsert(delta, ["k"])
    cur = {r["k"]: r["v"] for r in t.read().collect()}
    assert cur[10] == -1 and cur[999] == -2 and len(cur) == 201
    # version 1 is untouched by the upsert
    old = {r["k"]: r["v"] for r in t.read(1).collect()}
    assert old[10] == 20 and 999 not in old and len(old) == 200
    assert t.latest_version() == v2 == 2


def test_merge_upsert_is_file_level_cow(spark, tmp_path):
    """A narrow delta must CARRY most files by reference, not rewrite
    the table — the property that bounds a CDC batch at O(touched)."""
    t = _mk(spark, tmp_path, n=10_000)
    man1 = t._manifest(1)
    assert len(man1["files"]) > 3, "need a multi-file table for this test"
    t.merge_upsert(
        spark.createDataFrame([(5, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    man2 = t._manifest(2)
    carried = {f["path"] for f in man1["files"]} & {
        f["path"] for f in man2["files"]
    }
    assert man2["rewrote_files"] == 1
    assert len(carried) == len(man1["files"]) - 1


def test_merge_upsert_null_key_is_null_safe(spark, tmp_path):
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(
        spark.createDataFrame([(None, 1, 0), (2, 2, 0)], "k long, v long, grp int")
    )
    t.merge_upsert(
        spark.createDataFrame([(None, 99, 0)], "k long, v long, grp int"), ["k"]
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {None: 99, 2: 2}


def test_merge_upsert_aligns_drifted_delta(spark, tmp_path):
    """Source-only columns dropped, missing columns NULL-filled — the
    same _align_to_target contract as ParquetTable.merge_upsert."""
    t = _mk(spark, tmp_path, n=20)
    t.merge_upsert(
        spark.createDataFrame([(3, 77, "noise")], "k long, v long, extra string"),
        ["k"],
    )
    row = t.read().filter("k = 3").first()
    assert row["v"] == 77 and row["grp"] is None
    assert "extra" not in t.read().columns


def test_delete_where_cow_and_null_semantics(spark, tmp_path):
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 5, 0), (2, None, 0), (3, 50, 0)], "k long, v long, grp int"
        )
    )
    t.delete_where("v > 10")
    # NULL predicate keeps the row (SQL DELETE removes only TRUE rows)
    assert {r["k"] for r in t.read().collect()} == {1, 2}
    assert {r["k"] for r in t.read(1).collect()} == {1, 2, 3}


def test_delete_where_untouched_files_carried(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10_000)
    man1 = t._manifest(1)
    t.delete_where("k = 7")  # clustered by k -> one file holds it
    man2 = t._manifest(2)
    assert man2["rewrote_files"] == 1
    assert len({f["path"] for f in man1["files"]}
               & {f["path"] for f in man2["files"]}) == len(man1["files"]) - 1


def test_rollback_restores_and_preserves_history(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([(0, -999, 0)], "k long, v long, grp int"), ["k"]
    )
    v3 = t.rollback(1)
    assert _rows(t.read()) == _rows(_base(spark))
    # the bad version stays inspectable (Delta RESTORE semantics)
    assert t.read(2).filter("v = -999").count() == 1
    assert [h["version"] for h in t.history()] == [v3, 2, 1]
    assert t.history()[0]["rolled_back_to"] == 1


def test_checkpoint_compacts_without_changing_content(spark, tmp_path):
    t = _mk(spark, tmp_path, n=5_000)
    for i in range(3):
        t.merge_upsert(
            spark.createDataFrame([(i, -i, 0)], "k long, v long, grp int"), ["k"]
        )
    before = _rows(t.read())
    pre_files = len(t._manifest(t.latest_version())["files"])
    t.checkpoint(cluster_by=["k"])
    assert _rows(t.read()) == before
    assert len(t._manifest(t.latest_version())["files"]) < pre_files


def test_read_missing_version_refuses(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="does not exist"):
        t.read(41)


# -- vacuum ------------------------------------------------------------------
def test_vacuum_reclaims_and_rollback_refuses_after(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 100")          # v2 rewrites everything
    t.overwrite(_base(spark, 50))      # v3: fresh generation
    res = t.vacuum(retain_last=1)
    assert res["retained_versions"] == [3]
    assert res["dropped_manifests"] == 2 and res["dropped_files"] > 0
    assert t.read().count() == 50      # latest unaffected
    with pytest.raises(ValueError, match="does not exist|reclaimed"):
        t.rollback(1)


def test_vacuum_keeps_files_shared_with_retained_versions(spark, tmp_path):
    """A CoW-carried file is referenced by BOTH the old and new
    manifest; vacuuming the old version must not break the new one."""
    t = _mk(spark, tmp_path, n=10_000)
    t.merge_upsert(
        spark.createDataFrame([(5, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    t.vacuum(retain_last=1)
    assert t.read().count() == 10_000  # carried files survived


def test_vacuum_retain_zero_refuses(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="retain_last"):
        t.vacuum(retain_last=0)


# -- manifest-stat pruning ---------------------------------------------------
def test_read_range_equals_plain_filter(spark, tmp_path):
    t = _mk(spark, tmp_path, n=5_000)
    got = _rows(t.read_range("k", lo=100, hi=250))
    want = _rows(t.read().filter("k >= 100 and k <= 250"))
    assert got == want


def test_read_range_prunes_file_list(spark, tmp_path):
    """The range read must PLAN over fewer files than the table holds
    (manifest-level skipping, not just a parquet row-group filter)."""
    t = _mk(spark, tmp_path, n=50_000)
    man = t._manifest(1)
    assert len(man["files"]) > 3
    planned = t.read_range("k", lo=0, hi=10).inputFiles()
    assert 0 < len(planned) < len(man["files"])


def test_read_range_keeps_files_without_stats(spark, tmp_path):
    """Stats are an optimization: a manifest entry with stats stripped
    must still be scanned (pruning never changes semantics)."""
    t = _mk(spark, tmp_path, n=5_000)
    man = t._manifest(1)
    for f in man["files"]:
        f["stats"] = None
    t._write_json(t._manifest_dir(1), man)
    got = _rows(t.read_range("k", lo=100, hi=250))
    assert got == _rows(_base(spark, 5_000).filter("k >= 100 and k <= 250"))


def test_stats_cols_filter_limits_recorded_stats(spark, tmp_path):
    t = VersionedTable(
        spark, os.path.join(str(tmp_path), "tbl"), stats_cols=["k"]
    )
    t.overwrite(_base(spark, 100), cluster_by=["k"])
    for f in t._manifest(1)["files"]:
        if f["stats"] is not None:
            assert set(f["stats"]) <= {"k"}


# -- crash safety ------------------------------------------------------------
def test_crash_before_manifest_leaves_table_unchanged(spark, tmp_path):
    """FAULT INJECTION: die after writing the data generation but
    before the manifest — the table must still read as v1, the next
    write must commit normally, and vacuum must reclaim the orphan."""
    t = _mk(spark, tmp_path)
    boom = RuntimeError("crash before manifest")

    def _die(*a, **k):
        raise boom

    real_commit = t._commit
    t._commit = _die
    with pytest.raises(RuntimeError, match="crash before manifest"):
        t.merge_upsert(
            spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
        )
    t._commit = real_commit
    assert t.latest_version() == 1
    assert _rows(t.read()) == _rows(_base(spark))
    # recovery: the same upsert on a fresh handle commits as v2
    t2 = VersionedTable(spark, t.path)
    assert t2.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    ) == 2
    res = t2.vacuum(retain_last=2)
    assert res["dropped_files"] > 0  # the orphan generation


def test_crash_between_manifest_and_pointer_is_invisible(spark, tmp_path):
    """FAULT INJECTION: die after the manifest write but before the
    pointer swap — the orphan manifest must be invisible to history(),
    must not collide with the next committed version number, and must
    be reclaimed by vacuum."""
    t = _mk(spark, tmp_path)
    real_write = t._write_json

    def _die_on_pointer(p, d):
        if p == t._latest_path():
            raise RuntimeError("crash before pointer swap")
        real_write(p, d)

    t._write_json = _die_on_pointer
    with pytest.raises(RuntimeError, match="pointer swap"):
        t.delete_where("k < 10")
    t._write_json = real_write
    assert t.latest_version() == 1
    assert [h["version"] for h in t.history()] == [1]
    # orphan manifest v2 exists on disk but next commit takes v3
    assert t._versions_on_disk() == [1, 2]
    v = t.overwrite(_base(spark, 10))
    assert v == 3
    res = t.vacuum(retain_last=2)
    assert 2 not in res["retained_versions"]
    assert t._versions_on_disk() == [1, 3]


# -- model-based property test ----------------------------------------------
def test_random_op_sequences_match_dict_model(spark, tmp_path):
    """Random overwrite/upsert/delete/rollback/checkpoint sequences
    must equal a driver-side dict model at EVERY retained version —
    the same mirror-model style as the join-view property test."""
    import random

    rng = random.Random(4242)
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    model: dict[int, dict[int, int]] = {}  # version -> {k: v}
    cur: dict[int, int] = {}

    def snap(ver):
        model[ver] = dict(cur)

    ver = t.overwrite(
        spark.createDataFrame(
            [(k, k * 2, 0) for k in range(50)], "k long, v long, grp int"
        )
    )
    cur = {k: k * 2 for k in range(50)}
    snap(ver)
    for _ in range(12):
        op = rng.choice(["upsert", "delete", "rollback", "checkpoint"])
        if op == "upsert":
            ks = rng.sample(range(80), rng.randint(1, 6))
            rows = [(k, rng.randint(-99, 99), 0) for k in ks]
            ver = t.merge_upsert(
                spark.createDataFrame(rows, "k long, v long, grp int"), ["k"]
            )
            cur.update({k: v for k, v, _ in rows})
        elif op == "delete":
            cut = rng.randint(0, 80)
            ver = t.delete_where(f"k >= {cut} and k < {cut + 5}")
            cur = {k: v for k, v in cur.items() if not (cut <= k < cut + 5)}
        elif op == "rollback":
            target = rng.choice(sorted(model))
            ver = t.rollback(target)
            cur = dict(model[target])
        else:
            ver = t.checkpoint()
        snap(ver)
    for v_check, want in model.items():
        got = {r["k"]: r["v"] for r in t.read(v_check).collect()}
        assert got == want, f"version {v_check} diverged from model"


# -- transactional writer idempotency (txn) ----------------------------------
def test_txn_replayed_batch_is_skipped(spark, tmp_path):
    """Structured Streaming redelivers the in-flight batch on restart:
    a merge_upsert replayed with the same (app, batch) must be a no-op
    that returns the existing version — exactly-once convergence."""
    t = _mk(spark, tmp_path)
    delta = spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int")
    v2 = t.merge_upsert(delta, ["k"], txn=("stream-a", 7))
    assert t.txn_version("stream-a") == 7
    replay = t.merge_upsert(delta, ["k"], txn=("stream-a", 7))
    assert replay == v2 and t.latest_version() == v2
    # older batch ids are also skipped; newer ones commit
    assert t.merge_upsert(delta, ["k"], txn=("stream-a", 3)) == v2
    v3 = t.merge_upsert(delta, ["k"], txn=("stream-a", 8))
    assert v3 == v2 + 1


def test_txn_map_is_per_app_and_carried_forward(spark, tmp_path):
    t = _mk(spark, tmp_path)
    d = spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int")
    t.merge_upsert(d, ["k"], txn=("app-a", 5))
    t.delete_where("k = 199", txn=("app-b", 2))
    t.checkpoint()  # non-txn commit must carry the map forward
    assert t.txn_version("app-a") == 5
    assert t.txn_version("app-b") == 2
    assert t.txn_version("app-c") is None
    # app-b's guard doesn't block app-a
    v = t.merge_upsert(d, ["k"], txn=("app-a", 6))
    assert v == t.latest_version()


def test_txn_on_first_write_creates_and_guards(spark, tmp_path):
    import os

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    d = spark.createDataFrame([(1, 1, 0)], "k long, v long, grp int")
    v1 = t.merge_upsert(d, ["k"], txn=("s", 0))  # create via overwrite path
    assert v1 == 1 and t.txn_version("s") == 0
    assert t.merge_upsert(d, ["k"], txn=("s", 0)) == 1  # replay skipped


# -- CLI ----------------------------------------------------------------------
def test_cli_versioned_lifecycle(spark, tmp_path, capsys):
    import json as _json

    from nomba_data_pipeline_spark.__main__ import main

    t = _mk(spark, tmp_path, n=50)
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    )

    def run(*argv):
        rc = main(list(argv))
        assert rc == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    hist = run("versioned", "history", "--path", t.path)
    assert [h["version"] for h in hist["history"]] == [2, 1]
    shown = run("versioned", "show", "--path", t.path, "--version", "1")
    assert shown["rows"] == 50
    rb = run("versioned", "rollback", "--path", t.path, "--version", "1")
    assert rb["new_version"] == 3 and rb["rows"] == 50
    ck = run("versioned", "checkpoint", "--path", t.path, "--cluster-by", "k")
    assert ck["checkpointed"] == 4
    vac = run("versioned", "vacuum", "--path", t.path, "--retain-last", "2")
    assert vac["retained_versions"] == [4, 3]
    assert run("versioned", "show", "--path", t.path)["rows"] == 50


# -- streaming sink ------------------------------------------------------------
def test_versioned_merge_stream_exactly_once_with_history(spark, tmp_path):
    """Streaming CDC into a versioned table: each micro-batch is a
    time-travelable commit, a restart replays nothing (txn map), and
    rollback works over streamed history."""
    import os
    from datetime import datetime

    from pyspark.sql import types as T

    from nomba_data_pipeline_spark.streaming.microbatch import (
        run_versioned_merge_stream,
    )

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ])
    src = os.path.join(str(tmp_path), "src")
    tgt = os.path.join(str(tmp_path), "tgt")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_batch([(1, datetime(2026, 1, 1), 1.0), (2, datetime(2026, 1, 1), 2.0)])
    run_versioned_merge_stream(spark, src, schema, tgt, ["k"], ckpt)
    t = VersionedTable(spark, tgt)
    v_after_b0 = t.latest_version()
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, 1.0), (2, 2.0)}

    write_batch([(2, datetime(2026, 1, 2), 20.0), (3, datetime(2026, 1, 2), 3.0)])
    run_versioned_merge_stream(spark, src, schema, tgt, ["k"], ckpt)
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, 1.0), (2, 20.0), (3, 3.0),
    }
    # the pre-update state is still readable (streamed history)
    assert {(r.k, r.v) for r in t.read(v_after_b0).collect()} == {
        (1, 1.0), (2, 2.0),
    }
    # no new files: rerun commits nothing (checkpoint + txn guard)
    latest = t.latest_version()
    run_versioned_merge_stream(spark, src, schema, tgt, ["k"], ckpt)
    assert t.latest_version() == latest
    # manual replay of an already-committed batch id is also skipped
    replay = spark.createDataFrame(
        [(9, datetime(2026, 1, 3), 9.0)], schema
    )
    assert t.merge_upsert(replay, ["k"], txn=("stream", 0)) == latest
    assert t.read().filter("k = 9").count() == 0
    # rollback over streamed history
    t.rollback(v_after_b0)
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, 1.0), (2, 2.0)}


# -- GDPR purge -----------------------------------------------------------------
def test_purge_where_removes_subject_from_every_version(spark, tmp_path):
    """A plain delete keeps the subject readable via time travel; purge
    must leave NO retained version (and no on-disk file) holding it."""
    import glob as _glob
    import os

    t = _mk(spark, tmp_path, n=1000)
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    # plain delete: history still leaks the subject
    t.delete_where("k = 7")
    assert t.read(1).filter("k = 7").count() == 1
    # purge: subject gone from the only retained version and from disk
    res = t.purge_where("k >= 500")
    assert t.read().filter("k >= 500").count() == 0
    assert t.read().count() == 499  # 500 minus the k=7 delete
    assert t.history()[0]["version"] == res["purged_version"]
    assert len(t.history()) == 1  # history collapsed — that's the point
    with pytest.raises(ValueError, match="does not exist"):
        t.read(1)
    # no surviving parquet file contains a purged key
    import pyarrow.parquet as pq

    for f in _glob.glob(os.path.join(t.path, "_gen", "*", "*.parquet")):
        ks = pq.read_table(f, columns=["k"])["k"].to_pylist()
        assert all(k < 500 for k in ks), f


def test_purge_where_is_cow_not_full_rewrite(spark, tmp_path):
    """The purge must carry untouched files by reference — never an
    O(table) rewrite (the k-clustered layout localizes the subject)."""
    t = _mk(spark, tmp_path, n=10_000)
    files_before = {f["path"] for f in t._manifest(1)["files"]}
    t.purge_where("k < 10")  # one file's range under cluster_by=k
    files_after = {f["path"] for f in t._manifest(t.latest_version())["files"]}
    carried = files_before & files_after
    assert len(carried) == len(files_before) - 1


def test_cli_purge(spark, tmp_path, capsys):
    import json as _json

    from nomba_data_pipeline_spark.__main__ import main

    t = _mk(spark, tmp_path, n=100)
    rc = main(["versioned", "purge", "--path", t.path, "--where", "k >= 90"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 90
    assert len(t.history()) == 1


# -- runner materialization -----------------------------------------------------
def test_versioned_incremental_materialization(spark, tmp_path):
    """materialization='versioned_incremental': HWM-gated delta commits
    with full history — a bad batch is revertible in O(metadata)."""
    import os

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src = os.path.join(str(tmp_path), "src")
    wh = os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"),
        F.lit(1).alias("ver"),
    )
    base.write.parquet(src + "/m")

    def mk():
        r = PipelineRunner(spark, wh, src)
        r.register(ModelSpec(
            name="m", fn=lambda s, d: s.read.parquet(d + "/m"),
            materialization="versioned_incremental",
            upsert_key=["k"], tracking_column="ver", partition_by=["k"],
        ))
        return r

    mk().run()
    t = VersionedTable(spark, wh + "/m")
    assert t.latest_version() == 1 and t.read().count() == 50
    # HWM comes from manifest stats (no scan needed) and matches
    assert t.high_water_mark_str("ver") == "1"

    # delta past the HWM: k=3 updated, k=99 inserted (ver=2)
    base.unionByName(spark.createDataFrame(
        [(3, -1.0, 2), (99, 9.0, 2)], "k long, v double, ver int"
    ).withColumn("ver", F.col("ver").cast("int"))) \
        .filter("k <> 3 or ver = 2") \
        .write.mode("overwrite").parquet(src + "/m_new")
    import shutil

    shutil.rmtree(src + "/m"); shutil.move(src + "/m_new", src + "/m")
    r2 = mk()
    r2.run()
    assert t.latest_version() == 2
    got = {x["k"]: x["v"] for x in r2.read_model("m").collect()}
    assert got[3] == -1.0 and got[99] == 9.0 and len(got) == 51
    # no new data: rerun commits nothing (HWM gate)
    mk().run()
    assert t.latest_version() == 2
    # the bad-batch story: rollback restores run-1 state in O(metadata)
    t.rollback(1)
    assert {x["k"] for x in mk().read_model("m").collect()} == set(range(50))


def test_erasure_purges_versioned_marts(spark, tmp_path):
    """erase_subject on a versioned mart must purge: the subject gone
    from EVERY retained version, not just the head."""
    import os

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src = os.path.join(str(tmp_path), "src")
    wh = os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    spark.range(40).select(
        F.col("id").alias("txn"), (F.col("id") % 4).alias("user_id"),
        (F.col("id") * 1.0).alias("amt"), F.lit(1).alias("ver"),
    ).write.parquet(src + "/m")
    r = PipelineRunner(spark, wh, src)
    r.register(ModelSpec(
        name="vmart", fn=lambda s, d: s.read.parquet(d + "/m"),
        materialization="versioned_incremental",
        upsert_key=["txn"], tracking_column="ver",
    ))
    r.run()
    t = VersionedTable(spark, wh + "/vmart")
    assert t.read().filter("user_id = 1").count() == 10

    removed = r.erase_subject([1], "er-v1")
    assert removed["vmart"] == 10
    assert t.read().filter("user_id = 1").count() == 0
    # no retained version can time-travel back to the subject
    assert len(t.history()) == 1
    # replay is a no-op on rows
    assert r.erase_subject([1], "er-v2")["vmart"] == 0


# -- zero-rewrite schema evolution ------------------------------------------------
def test_evolve_schema_is_metadata_only(spark, tmp_path):
    """Adding a column must not move a byte: the widened manifest
    carries the UNCHANGED file list, old rows NULL-fill at read, and
    time travel keeps each version's own schema."""
    t = _mk(spark, tmp_path, n=1000)
    files_v1 = {f["path"] for f in t._manifest(1)["files"]}
    delta = spark.createDataFrame(
        [(5, -1, 0, "fresh")], "k long, v long, grp int, note string"
    )
    t.merge_upsert(delta, ["k"], evolve_schema=True)
    # v2 = the evolve commit: same files, wider schema
    man2 = t._manifest(2)
    assert man2["op"] == "evolve_schema" and man2["added_columns"] == ["note"]
    assert {f["path"] for f in man2["files"]} == files_v1
    # v3 = the merge: only the touched file rewritten
    man3 = t._manifest(3)
    assert man3["rewrote_files"] == 1
    cur = {r["k"]: r["note"] for r in t.read().filter("k in (5, 6)").collect()}
    assert cur == {5: "fresh", 6: None}
    # time travel: version 1 still reads with its own (narrow) schema
    assert "note" not in t.read(1).columns
    assert "note" in t.read().columns


def test_evolve_schema_refuses_type_change(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20)
    with pytest.raises(ValueError, match="changed type"):
        t.evolve_schema_to(
            spark.createDataFrame([(1.5,)], "v double")  # v is long
        )


def test_default_merge_still_drops_unknown_columns(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20)
    t.merge_upsert(
        spark.createDataFrame(
            [(3, -1, 0, "x")], "k long, v long, grp int, extra string"
        ),
        ["k"],
    )
    assert "extra" not in t.read().columns


def test_evolve_schema_promotes_widening_type_drift(spark, tmp_path):
    """Shared-column widening (int->bigint) promotes via one
    cast-rewrite, matching ParquetTable.promote_types; the add stays
    metadata-only on top of the promoted files."""
    import os

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(
        spark.range(100).select(
            F.col("id").alias("k"), F.lit(1).cast("int").alias("v")
        )
    )
    big = 5_000_000_000
    t.merge_upsert(
        spark.createDataFrame(
            [(1, big, "x")], "k long, v long, tag string"
        ),
        ["k"],
        evolve_schema=True,
    )
    assert dict(t.read().dtypes)["v"] == "bigint"
    row = t.read().filter("k = 1").first()
    assert row["v"] == big and row["tag"] == "x"
    assert t.read().filter("k = 2").first()["tag"] is None
    ops = [h["op"] for h in t.history()]
    assert "promote_types" in ops and "evolve_schema" in ops


def test_evolve_schema_refuses_narrowing(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20)  # v is long
    with pytest.raises(ValueError, match="not an exactly-representable"):
        t.evolve_schema_to(spark.createDataFrame([(1,)], "v int"))


def test_versioned_on_schema_change_policies(spark, tmp_path):
    """'fail' refuses drift loudly; 'ignore' (default) drops source-only
    columns — reference parity; 'append_new_columns' is graded by
    versioned_evolution_roundtrip."""
    import os
    import shutil

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src = os.path.join(str(tmp_path), "src")
    wh = os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("ver")
    ).write.parquet(src + "/m")

    def mk(policy, whx):
        r = PipelineRunner(spark, whx, src)
        r.register(ModelSpec(
            name="m", fn=lambda s, d: s.read.parquet(src + "/m"),
            materialization="versioned_incremental",
            upsert_key=["k"], tracking_column="ver",
            on_schema_change=policy,
        ))
        return r

    mk("fail", wh).run()
    mk("ignore", wh + "2").run()
    drifted = spark.range(10).select(
        F.col("id").alias("k"), F.lit(2).alias("ver"), F.lit("x").alias("new")
    )
    drifted.write.mode("overwrite").parquet(src + "/m_new")
    shutil.rmtree(src + "/m"); shutil.move(src + "/m_new", src + "/m")
    with pytest.raises(ValueError, match="drifted"):
        mk("fail", wh).run()
    mk("ignore", wh + "2").run()
    assert "new" not in VersionedTable(spark, wh + "2/m").read().columns


# -- version diff (manifest-derived CDF) ------------------------------------------
def test_diff_versions_insert_update_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame(
            [(10, -1, 0), (999, 9, 9)], "k long, v long, grp int"
        ),
        ["k"],
    )
    t.delete_where("k = 50")
    d = {(r["change_type"], r["k"]): r["v"]
         for r in t.diff_versions(1, None, ["k"]).collect()}
    assert d == {("update", 10): -1, ("insert", 999): 9, ("delete", 50): 100}


def test_diff_versions_scans_only_changed_files(spark, tmp_path):
    """Carried files hold byte-identical rows in both versions — the
    diff must not read them (manifest-level scoping)."""
    t = _mk(spark, tmp_path, n=10_000)
    t.merge_upsert(
        spark.createDataFrame([(5, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    df = t.diff_versions(1, 2, ["k"])
    n_table_files = len(t._manifest(2)["files"])
    # planned inputs = 1 rewritten old file + 1 new file << table files
    assert 0 < len(df.inputFiles()) <= 3 < n_table_files
    assert {(r["change_type"], r["k"]) for r in df.collect()} == {("update", 5)}


def test_diff_versions_ignores_pure_file_moves(spark, tmp_path):
    """checkpoint rewrites every file without changing a row — the diff
    across it must be empty (value compare, not file compare)."""
    t = _mk(spark, tmp_path, n=500)
    t.checkpoint(cluster_by=["k"])
    assert t.diff_versions(1, 2, ["k"]).count() == 0


def test_diff_versions_across_schema_evolution(spark, tmp_path):
    """A column added after v_old NULL-fills the old side: only rows
    where a real value arrived read as updates."""
    t = _mk(spark, tmp_path, n=100)
    t.merge_upsert(
        spark.createDataFrame([(7, 14, 0, "x")],
                              "k long, v long, grp int, note string"),
        ["k"], evolve_schema=True,
    )
    d = t.diff_versions(1, None, ["k"]).collect()
    assert {(r["change_type"], r["k"], r["note"]) for r in d} == {("update", 7, "x")}


# -- review-pass regressions -------------------------------------------------------
def test_interrupted_pointer_swap_self_heals(spark, tmp_path):
    """FAULT INJECTION: a crash between _swap_in's two renames leaves
    _latest missing but its .old backup present — the table must read
    as the PREVIOUS version (never as empty, which would let the next
    write fork history with parent=None and a reset txn map)."""
    import glob as _glob
    import os
    import shutil

    t = _mk(spark, tmp_path, n=50)
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"),
        ["k"], txn=("s", 5),
    )
    # simulate the crash window: pointer renamed away, new one not in
    shutil.move(t._latest_path(), t._latest_path() + ".old-deadbeef")
    t2 = VersionedTable(spark, t.path)
    assert t2.latest_version() == 2            # recovered, not empty
    assert t2.txn_version("s") == 5            # txn map survives
    assert t2.read().filter("v = -1").count() == 1
    # the restore is physical: _latest is back, backup gone
    assert os.path.exists(t._latest_path())
    assert not _glob.glob(t._latest_path() + ".old-*")
    # next write continues the chain, no fork
    v3 = t2.merge_upsert(
        spark.createDataFrame([(2, -2, 0)], "k long, v long, grp int"), ["k"]
    )
    assert v3 == 3 and t2._manifest(3)["parent"] == 2


def test_read_range_accepts_isoformat_bounds(spark, tmp_path):
    """isoformat()'s 'T' separator must not wrongly prune files whose
    stats render with a space separator."""
    import datetime
    import os

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(
        spark.createDataFrame(
            [(i, datetime.datetime(1996, 1 + i % 12, 1)) for i in range(48)],
            "k long, ts timestamp",
        ),
        cluster_by=["ts"], target_files=6,
    )
    got = t.read_range("ts", lo="1996-03-01T00:00:00", hi="1996-06-30T23:59:59")
    want = t.read().filter(
        "ts >= timestamp'1996-03-01 00:00:00' and ts <= timestamp'1996-06-30 23:59:59'"
    )
    assert got.count() == want.count() > 0


def test_evolve_schema_returns_only_added(spark, tmp_path):
    """Promotion-only evolution returns [] per the documented
    'added column names' contract (promotions live in history())."""
    import os

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).cast("int").alias("v")
    ))
    assert t.evolve_schema_to(
        spark.createDataFrame([(1, 2)], "k long, v long")
    ) == []
    assert t.history()[0]["op"] == "promote_types"


def test_recover_pointer_restores_max_version_backup(spark, tmp_path):
    """FAULT INJECTION (ADVICE r12): a crash in _swap_in between
    rename(tmp->target) and delete(old) leaves a STALE backup while
    _latest is valid; a later interrupted swap leaves TWO backups.
    Recovery must restore the MAX-version backup — resurrecting the
    stale one would silently revert the table several versions, after
    which vacuum would reclaim the newer committed manifests as
    orphans."""
    import glob as _glob
    import shutil

    t = _mk(spark, tmp_path, n=50)
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    t.merge_upsert(
        spark.createDataFrame([(2, -2, 0)], "k long, v long, grp int"), ["k"]
    )
    assert t.latest_version() == 3
    # stale residue from an old crash-after-rename-in (pointer v1) ...
    t._write_json(t._latest_path() + ".old-aaaaaaaa", {"version": 1})
    # ... plus a NEW interrupted swap: current pointer (v3) renamed away
    shutil.move(t._latest_path(), t._latest_path() + ".old-bbbbbbbb")
    t2 = VersionedTable(spark, t.path)
    assert t2.latest_version() == 3          # max backup, not backups[0]
    assert t2.read().filter("v = -2").count() == 1
    # the stale backup is residue and must be gone (at most one backup
    # can ever exist again)
    assert not _glob.glob(t._latest_path() + ".old-*")
    v4 = t2.merge_upsert(
        spark.createDataFrame([(3, -3, 0)], "k long, v long, grp int"), ["k"]
    )
    assert v4 == 4 and t2._manifest(4)["parent"] == 3


def test_commit_sweeps_pointer_backup_residue(spark, tmp_path):
    """A crash AFTER rename-in but before backup-delete leaves a
    `.old-*` copy while `_latest` is valid — the next successful commit
    must sweep it (so multi-backup recovery can never face more than
    one interrupted-swap backup)."""
    import glob as _glob
    import shutil

    t = _mk(spark, tmp_path, n=50)
    shutil.copytree(t._latest_path(), t._latest_path() + ".old-cccccccc")
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    assert not _glob.glob(t._latest_path() + ".old-*")
    assert t.latest_version() == 2


def test_timestamp_stats_are_tz_naive(spark, tmp_path):
    """ADVICE r12: pyarrow footer stats for Spark timestamps decode
    TZ-AWARE ('...+00:00') while read_range / HWM callers pass naive
    renderings — the manifest must store UTC-naive strings so the
    lexical comparison holds by construction, not by session config."""
    import datetime

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(
        spark.createDataFrame(
            [(i, datetime.datetime(1996, 1 + i % 12, 1)) for i in range(48)],
            "k long, ts timestamp",
        ),
        cluster_by=["ts"], target_files=6,
    )
    man = t._manifest(1)
    ts_stats = [f["stats"]["ts"] for f in man["files"] if f.get("stats")]
    assert ts_stats, "timestamp stats must be recorded"
    for lo, hi in ts_stats:
        assert "+" not in lo and "+" not in hi, (lo, hi)
    # the stats HWM round-trips as a naive rendering Spark can re-cast
    hwm = t.high_water_mark_str("ts")
    assert hwm == "1996-12-01 00:00:00"
    # and an exact-boundary read_range prunes without losing rows
    got = t.read_range("ts", lo="1996-12-01 00:00:00")
    assert got.count() == t.read().filter(
        "ts >= timestamp'1996-12-01 00:00:00'"
    ).count() > 0
    assert len(got.inputFiles()) < 6


def test_hwm_str_falls_back_on_unparseable_stats(spark, tmp_path):
    """ADVICE r12: a numeric column whose recorded stat string does not
    parse (e.g. undecoded-bytes repr from an older pyarrow) must fall
    back to the exact scan, not raise out of the stats fast path."""
    t = _mk(spark, tmp_path, n=50, files=4)
    man = t._read_json(t._manifest_dir(1))
    for f in man["files"]:
        if f.get("stats") and "v" in f["stats"]:
            f["stats"]["v"] = ["b'\\x01'", "b'\\xff'"]
    t._write_json(t._manifest_dir(1), man)
    spark.catalog.refreshByPath(t._manifest_dir(1))
    assert t.high_water_mark_str("v") == "98"  # exact scan: max(id*2), n=50



def test_hwm_str_compares_bigint_stats_exactly(spark, tmp_path):
    """Two bigint maxima above 2^53 tie under float(), so the manifest
    HWM must compare integer stats exactly — with the SMALLER value's
    file first in the manifest, a float compare returns the lower one
    and an incremental model re-reads the row it already loaded."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    rows = spark.sparkContext.parallelize(
        [(9007199254740992,), (9007199254740993,)], 2
    )
    t.overwrite(spark.createDataFrame(rows, "k long"))
    his = [f["stats"]["k"][1] for f in t._manifest(1)["files"]]
    assert his == ["9007199254740992", "9007199254740993"]  # smaller first
    scan = t.read().agg(F.max("k")).first()[0]
    assert t.high_water_mark_str("k") == str(scan) == "9007199254740993"


def test_recover_pointer_skips_unreadable_backups(spark, tmp_path):
    """A crash inside the pointer swap leaves `_latest.old-*` backups;
    crash residue among them (an empty directory, a part file that is
    not parquet) cannot be read and must never be restored — the table
    reads exactly as it did before the crash."""
    import shutil

    t = _mk(spark, tmp_path, n=50, files=2)
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    want = _rows(t.read())
    shutil.move(t._latest_path(), f"{t.path}/_latest.old-00000001")
    os.makedirs(f"{t.path}/_latest.old-00000002")
    garbage = f"{t.path}/_latest.old-00000003"
    os.makedirs(garbage)
    with open(f"{garbage}/part-00000.parquet", "w") as fh:
        fh.write("not parquet")
    open(f"{garbage}/_SUCCESS", "w").close()
    fresh = VersionedTable(spark, t.path)
    assert fresh.latest_version() == 2
    assert _rows(fresh.read()) == want
    assert not [n for n in os.listdir(t.path) if n.startswith("_latest.old-")]


def test_clone_registry_skips_crashed_registrations(spark, tmp_path):
    """A registration that crashed mid-write leaves a temp directory in
    `_clones/` (empty, or with a truncated part file and no _SUCCESS).
    The registry lists exactly the committed entries, as if the crashed
    write had never started."""
    src = _mk(spark, tmp_path, n=50, files=2)
    src.clone(os.path.join(str(tmp_path), "dev"))
    want = src._clone_registry()
    assert len(want) == 1
    name = want[0][0]
    os.makedirs(f"{src.path}/_clones/{name}.tmp-00000001")
    trunc = f"{src.path}/_clones/{name}.tmp-00000002"
    os.makedirs(trunc)
    part = [f for f in os.listdir(f"{src.path}/_clones/{name}")
            if f.endswith(".parquet")][0]
    with open(f"{src.path}/_clones/{name}/{part}", "rb") as fh:
        data = fh.read()
    with open(f"{trunc}/{part}", "wb") as fh:
        fh.write(data[: len(data) // 2])
    assert src._clone_registry() == want


def test_unresolvable_session_zone_contributes_no_bound(spark, tmp_path):
    """Spark accepts session zones Python's zoneinfo cannot resolve
    (offset ids like '+08:00'). Bounds that need the zone are then
    dropped — never guessed — so merges and deletes under that session
    still equal the unpruned result."""
    import datetime as dt

    from nomba_data_pipeline_spark.operators.versioned import (
        _norm_ts_literal,
        _session_to_utc,
    )

    assert _session_to_utc(dt.datetime(1, 1, 1), "Asia/Tokyo") is None  # < year 1
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(
        spark.range(40).select(
            F.col("id").alias("k"),
            F.expr("timestamp'2020-01-01 00:00:00' + make_interval(0, 0, 0, id)")
            .alias("ts"),
        ),
        cluster_by=["ts"], target_files=4,
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "+08:00")
        assert t._delta_stat_str(dt.datetime(2020, 1, 1), "timestamp") is None
        assert _norm_ts_literal("2020-01-02 00:00:00", "timestamp", "+08:00") is None
        day3 = dt.datetime(2020, 1, 4, tzinfo=dt.timezone.utc)
        t.merge_upsert(
            spark.createDataFrame([(103, day3)], "k long, ts timestamp"), ["ts"]
        )
        t.delete_where("ts >= timestamp'2020-01-30 08:00:00'")
        got = sorted(r["k"] for r in t.read().collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    # the upsert found day 3's row (no duplicate key), and
    # '2020-01-30 08:00:00 +08:00' is day 29 at 00:00 UTC
    assert got == sorted([k for k in range(29) if k != 3] + [103])

# -- stat-pruned key location (r13) ------------------------------------------
def _spy_read_files(monkeypatch, t):
    """Capture every file list handed to _read_files (the location
    scan AND the touched-file rewrite read both flow through it)."""
    calls = []
    real = VersionedTable._read_files

    def spy(self, man, rel_files):
        if rel_files:  # skip the schema-only alignment read ([])
            calls.append(list(rel_files))
        return real(self, man, rel_files)

    monkeypatch.setattr(VersionedTable, "_read_files", spy)
    return calls


def test_merge_upsert_location_scan_is_stat_pruned(spark, tmp_path, monkeypatch):
    """VERDICT r12 #1: on a key-clustered table, a small merge's
    key-location scan must READ only the files whose manifest key range
    intersects the delta's — never the whole table."""
    t = _mk(spark, tmp_path, n=50_000, files=8)
    n_total = len(t._manifest(1)["files"])
    assert n_total == 8
    calls = _spy_read_files(monkeypatch, t)
    delta = spark.createDataFrame(
        [(10, -1, 0), (60, -2, 0)], "k long, v long, grp int"
    )
    t.merge_upsert(delta, ["k"])
    # first _read_files call is the location scan over candidates only
    assert calls, "location scan must go through _read_files"
    assert 0 < len(calls[0]) < n_total
    # and the result is exactly the unpruned merge's
    got = _rows(t.read())
    want = _rows(
        _base(spark, 50_000).filter("k not in (10, 60)")
        .unionByName(delta)
    )
    assert got == want
    # untouched files were carried by reference
    assert t._manifest(t.latest_version())["carried_files"] >= n_total - 1


def test_merge_upsert_null_key_disables_pruning_but_stays_correct(
    spark, tmp_path, monkeypatch
):
    """NULL keys match null-safely and footer stats say nothing about
    null presence — a delta carrying a NULL key must scan ALL files."""
    t = _mk(spark, tmp_path, n=5_000, files=6)
    t.merge_upsert(
        spark.createDataFrame([(None, 0, 0)], "k long, v long, grp int"),
        ["k"],
    )  # seed a NULL-keyed stored row
    calls = _spy_read_files(monkeypatch, t)
    delta = spark.createDataFrame(
        [(None, -5, 0), (3, -6, 0)], "k long, v long, grp int"
    )
    t.merge_upsert(delta, ["k"])
    man = t._manifest(t.latest_version() - 1)
    assert len(calls[0]) == len(man["files"])  # no pruning with NULLs
    assert t.read().filter("k is null").count() == 1
    assert {tuple(r) for r in t.read().filter(
        "v in (-5, -6)"
    ).select("k", "v").collect()} == {(None, -5), (3, -6)}


def test_delete_keys_location_scan_is_stat_pruned(spark, tmp_path, monkeypatch):
    t = _mk(spark, tmp_path, n=50_000, files=8)
    calls = _spy_read_files(monkeypatch, t)
    t.delete_keys(spark.createDataFrame([(7,), (9,)], "k long"), ["k"])
    assert 0 < len(calls[0]) < 8
    assert t.read().filter("k in (7, 9)").count() == 0
    assert t.read().count() == 49_998


def test_delete_where_string_predicate_prunes_files(spark, tmp_path, monkeypatch):
    """A conjunctive comparison predicate on a stats column must scan
    only the files whose range can satisfy it."""
    t = _mk(spark, tmp_path, n=50_000, files=8)
    calls = _spy_read_files(monkeypatch, t)
    t.delete_where("k >= 100 and k < 200")
    assert 0 < len(calls[0]) < 8
    assert t.read().count() == 50_000 - 100
    assert t.read().filter("k >= 100 and k < 200").count() == 0


def test_delete_where_complex_predicate_scans_all_and_is_correct(
    spark, tmp_path, monkeypatch
):
    """OR / modulo predicates yield no bounds — all files scanned, same
    result as ever (pruning is never a correctness dependency)."""
    t = _mk(spark, tmp_path, n=5_000, files=6)
    calls = _spy_read_files(monkeypatch, t)
    t.delete_where("k % 9 = 0 or v = 2")
    assert len(calls[0]) == 6
    assert t.read().filter("k % 9 = 0 or v = 2").count() == 0


def test_predicate_bounds_extraction():
    from nomba_data_pipeline_spark.operators.versioned import VersionedTable as VT

    dt = {"k": "bigint", "ts": "timestamp", "name": "string"}
    assert VT._predicate_bounds("k >= 5 and k < 10", dt) == {"k": ("5", "10")}
    assert VT._predicate_bounds("k = 7", dt) == {"k": ("7", "7")}
    assert VT._predicate_bounds(
        "ts >= timestamp'2020-01-01 00:00:00'", dt
    ) == {"ts": ("2020-01-01 00:00:00", None)}
    # string columns, disjunctions, negations, functions: no bounds
    assert VT._predicate_bounds("name = 'bob'", dt) == {}
    assert VT._predicate_bounds("k = 1 or k = 2", dt) == {}
    assert VT._predicate_bounds("not k = 1", dt) == {}
    assert VT._predicate_bounds("abs(k) = 1", dt) == {}
    assert VT._predicate_bounds("k % 9 = 0", dt) == {}
    assert VT._predicate_bounds("k <> 3", dt) == {}


# -- r13: object-store stats, vacuum reader contract, conflict detection ----
def test_stats_readback_fallback_when_footers_unreachable(spark, tmp_path, monkeypatch):
    """When the pyarrow footer path is unavailable (object store), the
    write job computes per-file min/max itself — pruning and the stats
    HWM keep working instead of silently degrading to full scans."""
    monkeypatch.setattr(VersionedTable, "_file_stats",
                        lambda self, p, cols: None)
    t = _mk(spark, tmp_path, n=50_000, files=8)
    man = t._manifest(1)
    assert all(f.get("stats") and "k" in f["stats"] for f in man["files"])
    planned = t.read_range("k", lo=0, hi=10).inputFiles()
    assert 0 < len(planned) < len(man["files"])
    assert t.high_water_mark_str("k") == "49999"


def test_file_scheme_path_still_prunes(spark, tmp_path):
    """A `file:`-scheme table URI must record stats and prune."""
    t = VersionedTable(spark, "file://" + os.path.join(str(tmp_path), "tbl"))
    t.overwrite(_base(spark, 50_000), cluster_by=["k"], target_files=8)
    man = t._manifest(1)
    assert all(f.get("stats") and "k" in f["stats"] for f in man["files"])
    planned = t.read_range("k", lo=0, hi=10).inputFiles()
    assert 0 < len(planned) < 8


def test_read_of_vacuumed_version_refuses_loudly(spark, tmp_path):
    """VERDICT r12 #7: a reader holding a vacuumed version must get a
    loud, early refusal naming vacuum as the cause — not a mid-scan
    FileNotFoundException."""
    t = _mk(spark, tmp_path, n=500, files=4)
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    t.overwrite(_base(spark, 10))  # v3: drops every v1/v2 file reference
    t.vacuum(retain_last=1)
    # manifest itself reclaimed -> the resolve refuses
    with pytest.raises(ValueError, match="reclaimed by vacuum"):
        t.read(version=1)
    # manifest present but a data file hand-deleted (simulates a vacuum
    # racing an already-resolved manifest): the read-time existence
    # check refuses before any scan
    import glob as _glob
    import os as _os

    v3 = t._manifest(3)
    victim = _os.path.join(t.path, v3["files"][0]["path"])
    _os.remove(victim)
    with pytest.raises(ValueError, match="reclaimed by vacuum"):
        t.read(version=3)
    with pytest.raises(ValueError, match="reclaimed by vacuum"):
        t.read_range("k", lo=0, version=3)


def test_concurrent_writer_conflict_is_detected(spark, tmp_path):
    """VERDICT r12 #8 (stretch): two handles both snapshot, A commits,
    B must refuse with ConcurrentWriteError instead of silently
    publishing a manifest derived from the stale parent (lost update)."""
    from nomba_data_pipeline_spark.operators.versioned import (
        ConcurrentWriteError,
    )

    t_a = _mk(spark, tmp_path, n=200, files=4)
    t_b = VersionedTable(spark, t_a.path)

    # interleave: B's merge starts (snapshots v1) ... A commits v2 ...
    # B tries to commit. Injected via a _write_gen wrapper that lets A
    # slip in a commit while B is mid-write.
    real_write_gen = VersionedTable._write_gen
    state = {"fired": False}

    def interleave(self, df, cluster_by=None, target_files=None):
        files = real_write_gen(self, df, cluster_by=cluster_by,
                               target_files=target_files)
        if self is t_b and not state["fired"]:
            state["fired"] = True
            t_a.merge_upsert(
                spark.createDataFrame(
                    [(5, -50, 0)], "k long, v long, grp int"
                ),
                ["k"],
            )
        return files

    VersionedTable._write_gen = interleave
    try:
        with pytest.raises(ConcurrentWriteError,
                           match="stale parent|both writers rewrote"):
            t_b.merge_upsert(
                spark.createDataFrame(
                    [(6, -60, 0)], "k long, v long, grp int"
                ),
                ["k"],
            )
    finally:
        VersionedTable._write_gen = real_write_gen
    # A's commit is intact; B's orphan generation is vacuumable
    assert t_b.latest_version() == 2
    assert t_b.read().filter("v = -50").count() == 1
    assert t_b.read().filter("v = -60").count() == 0
    res = VersionedTable(spark, t_a.path).vacuum(retain_last=2)
    assert res["dropped_files"] > 0  # B's orphan generation reclaimed
    # and a clean retry of B's write now succeeds
    v3 = t_b.merge_upsert(
        spark.createDataFrame([(6, -60, 0)], "k long, v long, grp int"),
        ["k"],
    )
    assert v3 == 3 and t_b.read().filter("v = -60").count() == 1


def test_maybe_checkpoint_bounds_file_list(spark, tmp_path):
    """r13: bounded auto-compaction — many small CoW deltas grow the
    file list; maybe_checkpoint fires only past the bound and is a
    no-op (one manifest read) under it."""
    t = _mk(spark, tmp_path, n=2_000, files=4)
    for i in range(5):
        t.merge_upsert(
            spark.createDataFrame([(i, -i, 0)], "k long, v long, grp int"),
            ["k"],
        )
    n_files = len(t._manifest(t.latest_version())["files"])
    assert n_files > 6
    assert t.maybe_checkpoint(max_files=100) is None  # under bound: no-op
    v = t.maybe_checkpoint(max_files=6, cluster_by=["k"])
    assert v is not None
    assert len(t._manifest(v)["files"]) <= 6
    before = _rows(t.read(v - 1))
    assert _rows(t.read()) == before  # content identical
    with pytest.raises(ValueError, match="max_files"):
        t.maybe_checkpoint(0)


# -- r13: CHECK constraints ----------------------------------------------------
def test_check_constraints_enforced_on_writes(spark, tmp_path):
    from nomba_data_pipeline_spark.operators.versioned import (
        ConstraintViolation,
    )

    t = _mk(spark, tmp_path, n=100, files=4)
    t.add_constraint("v_nonneg", "v >= 0")
    assert t.constraints() == {"v_nonneg": "v >= 0"}
    assert t.history()[0]["op"] == "add_constraint"
    # a valid delta lands; an invalid one refuses with NOTHING committed
    t.merge_upsert(
        spark.createDataFrame([(5, 500, 0)], "k long, v long, grp int"), ["k"]
    )
    v_before = t.latest_version()
    import pytest as _pt

    with _pt.raises(ConstraintViolation, match="v_nonneg"):
        t.merge_upsert(
            spark.createDataFrame(
                [(6, -1, 0), (7, 7, 0)], "k long, v long, grp int"
            ),
            ["k"],
        )
    assert t.latest_version() == v_before        # nothing committed
    assert t.read().filter("k = 7").count() == 1  # the valid row of the
    # refused batch did NOT land either (all-or-nothing)... k=7 exists
    # from the BASE load (v=14), not from the refused batch
    assert t.read().filter("k = 7").first()["v"] == 14
    with _pt.raises(ConstraintViolation, match="overwrite"):
        t.overwrite(
            spark.createDataFrame([(1, -9, 0)], "k long, v long, grp int")
        )
    # constraints survive commits and FRESH handles (manifest-carried)
    t2 = VersionedTable(spark, t.path)
    assert t2.constraints() == {"v_nonneg": "v >= 0"}
    # NULL passes (SQL CHECK semantics)
    t2.merge_upsert(
        spark.createDataFrame([(8, None, 0)], "k long, v long, grp int"), ["k"]
    )
    # deletes never violate
    t2.delete_where("k = 8")


def test_add_constraint_refuses_when_existing_data_violates(spark, tmp_path):
    from nomba_data_pipeline_spark.operators.versioned import (
        ConstraintViolation,
    )

    t = _mk(spark, tmp_path, n=50, files=4)
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint("small", "k < 10")
    assert t.constraints() == {}
    t.add_constraint("k_nonneg", "k >= 0")
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("k_nonneg", "k >= 1")


def test_rollback_refuses_reinstating_constraint_violations(spark, tmp_path):
    """REVIEW r13-2: a rollback target may PREDATE an active CHECK —
    reinstating violating rows would silently break delta-only
    enforcement. Must refuse; rollback to a clean version still works."""
    from nomba_data_pipeline_spark.operators.versioned import (
        ConstraintViolation,
    )

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(spark.createDataFrame(
        [(1, -5), (2, 7)], "k long, price long"
    ))                                  # v1 holds a negative price
    t.delete_where("price < 0")         # v2 clean
    t.add_constraint("p_nonneg", "price >= 0")  # v3 validates v2 state
    with pytest.raises(ConstraintViolation, match="rollback"):
        t.rollback(1)
    assert t.latest_version() == 3      # nothing committed
    v4 = t.rollback(2)                  # clean target: fine
    assert v4 == 4 and t.read().count() == 1


def test_overwrite_dropping_constrained_column_is_governed(spark, tmp_path):
    """REVIEW r13-2: an overwrite whose schema cannot evaluate an
    active CHECK must raise ConstraintViolation naming the constraint,
    not an opaque unresolved-column AnalysisException."""
    from nomba_data_pipeline_spark.operators.versioned import (
        ConstraintViolation,
    )

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(spark.createDataFrame([(1, 5)], "k long, price long"))
    t.add_constraint("p_nonneg", "price >= 0")
    with pytest.raises(ConstraintViolation, match="cannot evaluate"):
        t.overwrite(spark.createDataFrame([(1, "a")], "k long, name string"))
    assert t.read().columns == ["k", "price"]  # nothing committed


# -- r14: ADVICE fixes — literal/stat rendering, purge feed, stream offset --
def test_predicate_bounds_normalizes_timestamp_literal_renderings():
    """ADVICE r13: a literal with an explicit zero fraction, a TZ
    offset, or a 'T' separator must compare against the UTC-naive
    canonical stat rendering — not lexically raw (which would prune
    files that HOLD matching rows, i.e. rows silently surviving
    delete_where/purge_where)."""
    from nomba_data_pipeline_spark.operators.versioned import VersionedTable as VT

    dt = {"ts": "timestamp", "d": "date", "k": "bigint"}
    # zero fraction normalizes away
    assert VT._predicate_bounds(
        "ts >= timestamp'2020-01-01 00:00:00.000000'", dt
    ) == {"ts": ("2020-01-01 00:00:00", None)}
    # explicit UTC offset normalizes away
    assert VT._predicate_bounds("ts >= '2020-01-01 00:00:00+00:00'", dt) == {
        "ts": ("2020-01-01 00:00:00", None)
    }
    # non-UTC offset shifts to UTC
    assert VT._predicate_bounds("ts < '2020-01-01 02:00:00+02:00'", dt) == {
        "ts": (None, "2020-01-01 00:00:00")
    }
    # 'T' separator normalizes to the stat form
    assert VT._predicate_bounds("ts <= '2020-06-01T12:30:00'", dt) == {
        "ts": (None, "2020-06-01 12:30:00")
    }
    # date-grained literal on a timestamp column promotes to midnight
    assert VT._predicate_bounds("ts >= '2020-01-01'", dt) == {
        "ts": ("2020-01-01 00:00:00", None)
    }
    # a naive literal under a non-UTC session is session wall time
    assert VT._predicate_bounds(
        "ts >= '2020-01-01 00:00:00'", dt, session_tz="America/New_York"
    ) == {"ts": ("2020-01-01 05:00:00", None)}
    # date column: canonical date rendering; garbage -> no bound
    assert VT._predicate_bounds("d = '2020-02-03'", dt) == {
        "d": ("2020-02-03", "2020-02-03")
    }
    assert VT._predicate_bounds("ts >= 'not-a-time'", dt) == {}
    # numeric bounds unaffected
    assert VT._predicate_bounds("k >= 5", dt) == {"k": ("5", None)}


def test_delete_where_fractional_literal_does_not_prune_matching_file(
    spark, tmp_path
):
    """End-to-end pin for the silent-survivor scenario: file stats say
    fmax '2020-01-02 00:00:00'; a delete predicate written with an
    explicit zero fraction must still rewrite that file."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2020, 1, 1) + dt.timedelta(hours=i)) for i in range(48)
    ]
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    t.overwrite(df, cluster_by=["ts"], target_files=4)
    t.delete_where("ts >= timestamp'2020-01-02 00:00:00.000000'")
    assert t.read().count() == 24
    assert t.read().filter("ts >= '2020-01-02'").count() == 0


def test_stats_readback_renders_timestamps_utc_naive(spark, tmp_path, monkeypatch):
    """ADVICE r13: the readback path (object-store fallback) collects
    SESSION-naive timestamps; its manifest stats must render UTC-naive
    like footer stats so delta-bound pruning compares like with like."""
    import datetime as dt

    monkeypatch.setattr(VersionedTable, "_file_stats",
                        lambda self, p, cols: None)
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
        df = spark.createDataFrame(
            [(1, dt.datetime(2020, 1, 1, 12, 0, 0))], "k long, ts timestamp"
        )
        t.overwrite(df.coalesce(1))
        st = t._manifest(1)["files"][0]["stats"]["ts"]
        # the parquet wall time was written under a NY session: the
        # stored instant is 2020-01-01 12:00 NY == 17:00 UTC
        assert st == ["2020-01-01 17:00:00", "2020-01-01 17:00:00"]
        # and a merge under the same session locates the file (no
        # silent duplicate key)
        t.merge_upsert(
            spark.createDataFrame(
                [(2, dt.datetime(2020, 1, 1, 12, 0, 0))], "k long, ts timestamp"
            ),
            ["ts"],
        )
        assert t.read().count() == 1
        assert t.read().first()["k"] == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)


def test_purge_writes_full_marker_directly_no_old_images(spark, tmp_path):
    """ADVICE r13: the purge delete commit must write its feed AS a
    _CDF_FULL marker — the erased rows' old images must never reach
    `_cdf/v<N>`, even in the window before vacuum runs."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 100), cluster_by=["k"], target_files=4)
    # simulate the crash window: the delete commit lands, vacuum never
    # runs — call the flagged delete directly
    v = t.delete_where("k >= 90", _purge=True)
    cdf_dir = os.path.join(t.path, "_cdf", f"v{v:08d}")
    names = set(os.listdir(cdf_dir))
    assert "_CDF_FULL" in names
    assert not any(n.endswith(".parquet") for n in names)
    # the composed erasure verb keeps the same contract end-to-end
    res = t.purge_where("k >= 80")
    pv = res["purged_version"]
    names2 = set(os.listdir(os.path.join(t.path, "_cdf", f"v{pv:08d}")))
    assert "_CDF_FULL" in names2
    assert not any(n.endswith(".parquet") for n in names2)
    assert t.read().count() == 80


def test_changes_between_governed_on_empty_table_and_vto_zero(spark, tmp_path):
    """ADVICE r13: no committed version -> clear ValueError (not a
    TypeError from formatting None); an explicit v_to=0 is not
    silently replaced by latest."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    with pytest.raises(ValueError, match="no committed versions"):
        t.changes_between(0)
    t.overwrite(_base(spark, 10))
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    # empty range ending at a version that never existed: loud, not
    # silently rebound to latest
    with pytest.raises(ValueError, match="version 0"):
        t.changes_between(0, v_to=0)
    assert t.changes_between(1, v_to=2).count() == 1


def test_stream_initial_offset_survives_pointer_swap_window(spark, tmp_path):
    """ADVICE r13: a stream starting inside a writer's pointer-swap
    window (no `_latest`, one `_latest.old-*` backup) must resolve the
    backup's version — not silently pin its cursor at 0. A table with
    no pointer at all refuses loudly."""
    import shutil

    from nomba_data_pipeline_spark.sources.versioned_stream import (
        VersionedCdfStreamReader,
    )

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 10))
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int"), ["k"]
    )
    # swap window: _latest renamed to a backup, new pointer not yet in
    shutil.move(os.path.join(t.path, "_latest"),
                os.path.join(t.path, "_latest.old-deadbeef"))
    r = VersionedCdfStreamReader(None, {"path": t.path})
    assert r.initialOffset() == {"version": 2}
    assert r.latestOffset() == {"version": 2}
    shutil.move(os.path.join(t.path, "_latest.old-deadbeef"),
                os.path.join(t.path, "_latest"))
    # a never-written table refuses instead of pinning at 0
    r2 = VersionedCdfStreamReader(
        None, {"path": os.path.join(str(tmp_path), "nope")}
    )
    with pytest.raises(ValueError, match="no readable version pointer"):
        r2.initialOffset()


# -- r14: incremental OPTIMIZE ------------------------------------------------
def test_optimize_merges_only_small_files_and_carries_large(spark, tmp_path):
    """VERDICT r14 #1: optimize_small_files merges ONLY sub-threshold
    files into one fresh generation; every large file is carried BY
    REFERENCE (identical path, bytes untouched) — the O(small bytes)
    compaction steady CDC needs, vs checkpoint's O(table) rewrite."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 50_000), cluster_by=["k"], target_files=2)
    man1 = t._manifest(1)
    big_paths = {f["path"] for f in man1["files"]}
    big_bytes = {f["path"]: f["bytes"] for f in man1["files"]}
    assert len(big_paths) == 2 and all(b > 10_000 for b in big_bytes.values())
    # four insert-only CDC deltas -> four small delta files, no rewrite
    for i in range(4):
        t.merge_upsert(
            spark.createDataFrame(
                [(100_000 + i, -i, 0)], "k long, v long, grp int"
            ).coalesce(1),
            ["k"],
        )
    man5 = t._manifest(5)
    assert len(man5["files"]) == 6
    thresh = min(big_bytes.values())  # big files sit AT/above threshold
    v = t.optimize_small_files(target_bytes=thresh)
    assert v == 6
    man6 = t._manifest(v)
    assert man6["op"] == "optimize"
    assert man6["merged_files"] == 4 and man6["carried_files"] == 2
    # large files carried by reference: same paths, same bytes on disk
    carried = {f["path"]: f for f in man6["files"] if f["path"] in big_paths}
    assert set(carried) == big_paths
    for p, f in carried.items():
        assert os.path.getsize(os.path.join(t.path, p)) == big_bytes[p]
        assert f["bytes"] == big_bytes[p]
    # the four small files collapsed into one
    assert len(man6["files"]) == 3
    # content identical across the optimize; old version still readable
    assert t.read().count() == 50_004
    assert _rows(t.read()) == _rows(t.read(5))
    # no row values moved: the feed is an EMPTY marker, streams pass over
    names = set(os.listdir(os.path.join(t.path, "_cdf", f"v{v:08d}")))
    assert "_CDF_EMPTY" in names
    # immediately re-optimizing finds nothing mergeable: no-op, no commit
    assert t.optimize_small_files(target_bytes=thresh) is None
    assert t.latest_version() == v


def test_maybe_checkpoint_fires_incremental_optimize_by_default(spark, tmp_path):
    """VERDICT r14 #1: the auto-compaction policy fires the
    INCREMENTAL verb, reserving the O(table) checkpoint for explicit
    full=True re-clustering."""
    t = _mk(spark, tmp_path, n=2_000, files=4)
    for i in range(5):
        t.merge_upsert(
            spark.createDataFrame(
                [(10_000 + i, -i, 0)], "k long, v long, grp int"
            ),
            ["k"],
        )
    before = _rows(t.read())
    v = t.maybe_checkpoint(max_files=6, target_bytes=1 << 30)
    assert v is not None and t._manifest(v)["op"] == "optimize"
    assert len(t._manifest(v)["files"]) <= 6
    assert _rows(t.read()) == before
    # explicit full re-clustering still available
    for i in range(9):
        t.merge_upsert(
            spark.createDataFrame(
                [(20_000 + i, -i, 0)], "k long, v long, grp int"
            ),
            ["k"],
        )
    v2 = t.maybe_checkpoint(max_files=6, cluster_by=["k"], full=True)
    assert v2 is not None and t._manifest(v2)["op"] == "checkpoint"
    assert _rows(t.read()) == before | {
        (20_000 + i, -i, 0) for i in range(9)
    }


# -- r14: optimistic commit rebase on disjoint concurrent commits -----------
def _interleave_once(t_victim, other_write):
    """Patch _write_gen so `other_write()` commits while t_victim's
    write is between snapshot and commit (the lost-update window)."""
    real = VersionedTable._write_gen
    state = {"fired": False}

    def wrapper(self, df, cluster_by=None, target_files=None):
        files = real(self, df, cluster_by=cluster_by,
                     target_files=target_files)
        if self is t_victim and not state["fired"]:
            state["fired"] = True
            other_write()
        return files

    return wrapper, real


def test_disjoint_concurrent_merges_both_land_via_rebase(spark, tmp_path):
    """VERDICT r14 #2: two interleaved writers on DISJOINT key ranges
    must BOTH land — the second rebases onto the first instead of
    refusing — and the final state equals both-applied."""
    t_a = _mk(spark, tmp_path, n=50_000, files=8)
    t_b = VersionedTable(spark, t_a.path)

    def a_writes():
        t_a.merge_upsert(
            spark.createDataFrame(
                [(5, -50, 0)], "k long, v long, grp int"
            ).coalesce(1),
            ["k"],
        )

    wrapper, real = _interleave_once(t_b, a_writes)
    VersionedTable._write_gen = wrapper
    try:
        vb = t_b.merge_upsert(
            spark.createDataFrame(
                [(40_000, -60, 0)], "k long, v long, grp int"
            ).coalesce(1),
            ["k"],
        )
    finally:
        VersionedTable._write_gen = real
    # A landed v2 while B was in flight; B rebased and landed v3
    assert vb == 3
    man = t_b._manifest(3)
    assert man["rebased_commits"] == 1
    got = {r["k"]: r["v"] for r in t_b.read().filter(
        "k in (5, 40000)"
    ).collect()}
    assert got == {5: -50, 40_000: -60}  # both applied, nothing lost
    assert t_b.read().count() == 50_000
    # and A's intervening file survives in B's manifest (carried through)
    a_added = {f["path"] for f in t_a._manifest(2)["files"]} - {
        f["path"] for f in t_a._manifest(1)["files"]
    }
    assert a_added <= {f["path"] for f in man["files"]}


def test_overlapping_concurrent_merges_still_refuse(spark, tmp_path):
    """Keys in the SAME file (or inside the other writer's key range)
    must still refuse — rebase never trades safety for liveness."""
    from nomba_data_pipeline_spark.operators.versioned import (
        ConcurrentWriteError,
    )

    t_a = _mk(spark, tmp_path, n=50_000, files=8)
    t_b = VersionedTable(spark, t_a.path)

    def a_writes():
        t_a.merge_upsert(
            spark.createDataFrame(
                [(7, -70, 0)], "k long, v long, grp int"
            ).coalesce(1),
            ["k"],
        )

    wrapper, real = _interleave_once(t_b, a_writes)
    VersionedTable._write_gen = wrapper
    try:
        with pytest.raises(ConcurrentWriteError,
                           match="both writers rewrote|may hold rows"):
            t_b.merge_upsert(
                spark.createDataFrame(
                    [(9, -90, 0)], "k long, v long, grp int"
                ).coalesce(1),
                ["k"],
            )
    finally:
        VersionedTable._write_gen = real
    # A's commit intact, B's refused cleanly
    assert t_b.latest_version() == 2
    got = {r["k"]: r["v"] for r in t_b.read().filter("k in (7, 9)").collect()}
    assert got == {7: -70, 9: 18}


def test_rebase_refuses_on_concurrent_compaction_and_schema_change(
    spark, tmp_path
):
    """File identity cannot be reasoned across a compaction; a
    concurrent schema change would publish stale metadata — both
    refuse even when keys are disjoint."""
    from nomba_data_pipeline_spark.operators.versioned import (
        ConcurrentWriteError,
    )

    t_a = _mk(spark, tmp_path, n=50_000, files=8)
    t_b = VersionedTable(spark, t_a.path)

    wrapper, real = _interleave_once(
        t_b, lambda: t_a.checkpoint(cluster_by=["k"])
    )
    VersionedTable._write_gen = wrapper
    try:
        with pytest.raises(ConcurrentWriteError, match="checkpoint"):
            t_b.merge_upsert(
                spark.createDataFrame(
                    [(40_000, -60, 0)], "k long, v long, grp int"
                ).coalesce(1),
                ["k"],
            )
    finally:
        VersionedTable._write_gen = real


def test_disjoint_concurrent_delete_where_rebases(spark, tmp_path):
    """A bounded-predicate delete rebases across a disjoint concurrent
    merge: both effects present afterwards."""
    t_a = _mk(spark, tmp_path, n=50_000, files=8)
    t_b = VersionedTable(spark, t_a.path)

    def a_writes():
        t_a.merge_upsert(
            spark.createDataFrame(
                [(60_000, -1, 0)], "k long, v long, grp int"
            ).coalesce(1),
            ["k"],
        )

    wrapper, real = _interleave_once(t_b, a_writes)
    VersionedTable._write_gen = wrapper
    try:
        v = t_b.delete_where("k >= 100 and k < 200")
    finally:
        VersionedTable._write_gen = real
    assert v == 3 and t_b._manifest(3)["rebased_commits"] == 1
    assert t_b.read().count() == 50_000 - 100 + 1
    assert t_b.read().filter("k = 60000").count() == 1
    assert t_b.read().filter("k >= 100 and k < 200").count() == 0


# -- r14: diff_versions across compactions via the persisted feed -----------
def test_diff_versions_routes_through_feed_across_compaction(spark, tmp_path):
    """VERDICT r14 #5: a span crossing checkpoint/optimize shares no
    files — the manifest diff would scan BOTH versions. With pre-image
    feeds the diff folds stored feeds instead: the PLAN must read only
    `_cdf/` files (no table version at all) and the result must match
    exact diff semantics, including dropped no-op reverts and deletes
    carrying span-start values."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 5_000), cluster_by=["k"], target_files=8)
    t.merge_upsert(spark.createDataFrame(
        [(5, -5, 0), (99_999, -99, 9), (7, 14, 7)],
        "k long, v long, grp int",
    ).coalesce(1), ["k"])  # update, insert, and a same-values no-op
    t.delete_where("k >= 100 and k < 110")
    t.checkpoint(cluster_by=["k"])  # rewrites ALL files: endpoints share none
    t.merge_upsert(spark.createDataFrame(
        [(6, -6, 6)], "k long, v long, grp int"
    ).coalesce(1), ["k"])
    diff = t.diff_versions(1, None, ["k"])
    planned = diff.inputFiles()
    assert planned and all("/_cdf/" in p for p in planned)
    got = {(r["change_type"], r["k"], r["v"]) for r in diff.collect()}
    want = (
        {("insert", 99_999, -99), ("update", 5, -5), ("update", 6, -6)}
        | {("delete", k, 2 * k) for k in range(100, 110)}
    )
    assert got == want  # k=7 no-op dropped; deletes carry v1 values
    # and it agrees with a span that crosses NOTHING (manifest diff)
    got2 = {
        (r["change_type"], r["k"], r["v"])
        for r in t.diff_versions(1, 3, ["k"]).collect()
    }
    assert got2 == {
        ("insert", 99_999, -99), ("update", 5, -5)
    } | {("delete", k, 2 * k) for k in range(100, 110)}


def test_diff_versions_warns_on_feedless_compaction_crossing(spark, tmp_path):
    """Without feeds the crossing diff still runs (correct, compare-
    equal rows dropped) but WARNS naming the O(2 x table) cost."""
    t = _mk(spark, tmp_path, n=2_000, files=4)
    t.merge_upsert(spark.createDataFrame(
        [(5, -5, 0)], "k long, v long, grp int"
    ).coalesce(1), ["k"])
    t.checkpoint(cluster_by=["k"])
    with pytest.warns(RuntimeWarning, match="compaction"):
        diff = t.diff_versions(1, None, ["k"])
        got = {(r["change_type"], r["k"], r["v"]) for r in diff.collect()}
    assert got == {("update", 5, -5)}


def test_changes_between_hides_preimages_by_default(spark, tmp_path):
    """Replica-apply consumers must keep seeing only insert / update /
    delete; preimages are opt-in for exact folding."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 100))
    t.merge_upsert(spark.createDataFrame(
        [(5, -5, 0)], "k long, v long, grp int"
    ).coalesce(1), ["k"])
    kinds = {r["change_type"] for r in t.changes_between(1).collect()}
    assert kinds == {"update"}
    pre = t.changes_between(1, include_preimages=True)
    rows = {(r["change_type"], r["v"]) for r in pre.collect()}
    assert rows == {("update", -5), ("update_preimage", 10)}


# -- r14: SQL time travel ----------------------------------------------------
def test_sql_time_travel_views_match_dataframe_reads(spark, tmp_path):
    """VERDICT r14 #4: spark.sql over `name__v<N>` must equal
    read(version=N) at BOTH the value and the PLAN level (same
    optimized plan — the view is the same logical scan, nothing
    materialized)."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "ords_v"))
    t.overwrite(_base(spark, 1_000), cluster_by=["k"], target_files=4)
    t.merge_upsert(spark.createDataFrame(
        [(5, -5, 0), (2_000, -2, 0)], "k long, v long, grp int"
    ).coalesce(1), ["k"])
    names = t.register_sql_views("ords_v")
    assert set(names) == {"ords_v", "ords_v__v1", "ords_v__v2"}
    # values: the old version is readable THROUGH SQL after the merge
    got_v1 = spark.sql(
        "SELECT count(*) AS n, sum(v) AS s FROM ords_v__v1"
    ).first()
    assert (got_v1["n"], got_v1["s"]) == (1_000, sum(2 * k for k in range(1_000)))
    got_cur = spark.sql("SELECT count(*) AS n FROM ords_v").first()
    assert got_cur["n"] == 1_001
    assert spark.sql("SELECT v FROM ords_v WHERE k = 5").first()["v"] == -5
    assert spark.sql("SELECT v FROM ords_v__v1 WHERE k = 5").first()["v"] == 10
    # plan parity: SQL view == DataFrame read, canonicalized
    sql_plan = spark.sql(
        "SELECT k, v FROM ords_v__v1 WHERE k < 10"
    )._jdf.queryExecution().optimizedPlan()
    df_plan = (
        t.read(version=1).filter("k < 10").select("k", "v")
    )._jdf.queryExecution().optimizedPlan()
    assert df_plan.sameResult(sql_plan)


def test_sql_views_skip_vacuumed_versions(spark, tmp_path):
    """A reclaimed version gets NO view (better absent than a view
    that dies mid-scan)."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl_vac"))
    t.overwrite(_base(spark, 100))
    t.overwrite(_base(spark, 50))
    t.overwrite(_base(spark, 10))
    t.vacuum(retain_last=2)
    names = t.register_sql_views("tbl_vac")
    assert "tbl_vac__v1" not in names
    assert {"tbl_vac", "tbl_vac__v2", "tbl_vac__v3"} <= set(names)


# -- r14: observe-folded stats (no second scan on unclustered writes) -------
def test_unclustered_stats_come_from_write_observation(spark, tmp_path, monkeypatch):
    """VERDICT r14 #7: when footers are unreachable, an UNCLUSTERED
    generation's bounds ride the write scan itself (df.observe) — the
    readback aggregate must NOT run — and cross-generation pruning
    (the CDC case) still works off those bounds."""
    monkeypatch.setattr(VersionedTable, "_file_stats",
                        lambda self, p, cols: None)
    monkeypatch.setattr(VersionedTable, "_footers_reachable",
                        lambda self: False)

    def _boom(self, gen, cols, schema):
        raise AssertionError("readback (second scan) must not run for "
                             "unclustered generations")

    monkeypatch.setattr(VersionedTable, "_stats_readback", _boom)
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(_base(spark, 5_000), target_files=4)  # unclustered
    man = t._manifest(1)
    sts = [f["stats"] for f in man["files"]]
    assert all(st and st["k"] == ["0", "4999"] for st in sts)
    # a CDC delta generation gets its own (narrow) observed bounds...
    t.merge_upsert(
        spark.createDataFrame(
            [(100_000, -1, 0)], "k long, v long, grp int"
        ).coalesce(1),
        ["k"],
    )
    man2 = t._manifest(2)
    delta_files = [f for f in man2["files"]
                   if f["stats"] and f["stats"]["k"] == ["100000", "100000"]]
    assert delta_files
    # ...so the stats HWM and key-location pruning work with zero scans
    assert t.high_water_mark_str("k") == "100000"
    candidates, _ = t._key_candidate_files(
        man2,
        spark.createDataFrame([(100_000, 0, 0)], "k long, v long, grp int"),
        ["k"],
    )
    assert candidates == [f["path"] for f in delta_files]


def test_clustered_stats_still_exact_per_file(spark, tmp_path, monkeypatch):
    """Clustered generations keep the exact per-file readback — that's
    where per-file tightness pays (intra-generation range pruning)."""
    monkeypatch.setattr(VersionedTable, "_file_stats",
                        lambda self, p, cols: None)
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    t.overwrite(_base(spark, 50_000), cluster_by=["k"], target_files=8)
    planned = t.read_range("k", lo=0, hi=10).inputFiles()
    assert 0 < len(planned) < 8  # per-file bounds -> intra-gen pruning


# -- r14 stretch: z-order checkpoints ----------------------------------------
def test_checkpoint_zorder_narrows_manifest_stats_on_both_dims(spark, tmp_path):
    """VERDICT r14 #9: checkpoint(zorder_by=[a, b]) tiles the (a, b)
    plane so MANIFEST per-file stats are narrow on BOTH columns —
    read_range prunes for either dimension alone, where a linear
    cluster_by=[a, b] leaves the second dimension un-prunable."""
    rows = spark.range(40_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 200).alias("a"),
        ((F.col("id") * 7919) % 200).alias("b"),
    )

    def widths(man, col):
        ws = []
        for f in man["files"]:
            st = (f.get("stats") or {}).get(col)
            if st:
                ws.append(float(st[1]) - float(st[0]))
        return sum(ws) / len(ws)

    lex = VersionedTable(spark, os.path.join(str(tmp_path), "lex"))
    lex.overwrite(rows)
    lex.checkpoint(cluster_by=["a", "b"], target_files=16)
    zo = VersionedTable(spark, os.path.join(str(tmp_path), "zo"))
    zo.overwrite(rows)
    zo.checkpoint(zorder_by=["a", "b"], bits=8, target_files=16)

    man_lex = lex._manifest(lex.latest_version())
    man_zo = zo._manifest(zo.latest_version())
    # lexicographic: first dim selective, second spans ~everything
    assert widths(man_lex, "a") < 200 * 0.2
    assert widths(man_lex, "b") > 200 * 0.8
    # z-order: BOTH dims a fraction of global
    assert widths(man_zo, "a") < 200 * 0.6
    assert widths(man_zo, "b") < 200 * 0.6
    # and the manifest planner actually prunes on the SECOND dimension
    planned = zo.read_range("b", lo=0, hi=20).inputFiles()
    assert 0 < len(planned) < len(man_zo["files"])
    # content preserved, filters exact
    assert zo.read().count() == 40_000
    got = zo.read_range("b", lo=0, hi=20).count()
    want = rows.filter("b >= 0 and b <= 20").count()
    assert got == want
    with pytest.raises(ValueError, match="not both"):
        zo.checkpoint(cluster_by=["a"], zorder_by=["a", "b"])
    with pytest.raises(ValueError, match="exactly two"):
        zo.checkpoint(zorder_by=["a"])


def test_maybe_checkpoint_escalates_when_all_files_large(spark, tmp_path):
    """REVIEW r14: the bound is a hard policy — when every file sits
    at/above target_bytes, the sub-target merge alone can't restore
    it, so the policy escalates the threshold and merges the smaller
    tail (the max_files-1 largest files stay carried by reference)."""
    t = _mk(spark, tmp_path, n=50_000, files=8)
    before = _rows(t.read())
    v = t.maybe_checkpoint(max_files=4, target_bytes=1)  # all files "large"
    assert v is not None
    man = t._manifest(v)
    assert man["op"] == "optimize"
    assert len(man["files"]) <= 4
    assert _rows(t.read()) == before


def test_diff_versions_manifest_fallback_across_overwrite(spark, tmp_path):
    """REVIEW r14: a span containing a FULL-feed commit (overwrite)
    must fall back to the manifest scan-and-compare (with the cost
    warning), never route into the feed fold's FULL refusal — the
    runner's except-ValueError fallback depends on diff_versions
    answering here."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 100))
    t.merge_upsert(spark.createDataFrame(
        [(5, -5, 0)], "k long, v long, grp int"
    ).coalesce(1), ["k"])
    t.overwrite(_base(spark, 100).filter("k < 50"))  # v3: FULL feed
    t.checkpoint()                                    # v4: shares no files
    with pytest.warns(RuntimeWarning, match="share no files"):
        diff = t.diff_versions(2, None, ["k"])
        got = {(r["change_type"], r["k"]) for r in diff.collect()}
    want = {("delete", k) for k in range(50, 100)} | {("update", 5)}
    assert got == want


# -- r14: COUNT(*) from the manifest ------------------------------------------
def test_row_count_answers_from_manifest_metadata(spark, tmp_path):
    """Per-file row counts ride the manifest (Delta numRecords):
    row_count() answers COUNT(*) with zero scan for any retained
    version, agrees with the exact count across CoW writes, and falls
    back to the scan when an entry lacks a recorded count."""
    t = _mk(spark, tmp_path, n=5_000, files=4)
    assert t.row_count() == 5_000
    man = t._manifest(1)
    assert all(isinstance(f["rows"], int) for f in man["files"])
    assert sum(f["rows"] for f in man["files"]) == 5_000
    t.merge_upsert(spark.createDataFrame(
        [(9_999_999, -1, 0)], "k long, v long, grp int"
    ).coalesce(1), ["k"])
    t.delete_where("k >= 4000 and k < 5000")
    assert t.row_count() == 4_001 == t.read().count()
    assert t.row_count(version=1) == 5_000  # any retained version
    # readback path (object store): counts come from the same grouped
    # pass that computes the stats
    import json as _json

    real_stats = VersionedTable._file_stats
    real_rows = VersionedTable._file_rows
    try:
        VersionedTable._file_stats = lambda self, p, cols: None
        VersionedTable._file_rows = lambda self, p: None
        t2 = VersionedTable(spark, os.path.join(str(tmp_path), "t2"))
        t2.overwrite(_base(spark, 300), cluster_by=["k"], target_files=3)
        assert all(
            f["rows"] is not None for f in t2._manifest(1)["files"]
        )
        assert t2.row_count() == 300
    finally:
        VersionedTable._file_stats = real_stats
        VersionedTable._file_rows = real_rows
    # legacy manifest without counts: exact-scan fallback
    md = t._manifest_dir(t.latest_version())
    man_cur = t._manifest(t.latest_version())
    for f in man_cur["files"]:
        f.pop("rows", None)
    t._write_json(md, man_cur)
    spark.catalog.refreshByPath(md)
    assert t.row_count() == 4_001


# -- r15: shallow clone ------------------------------------------------------
def test_shallow_clone_zero_copy_and_cow_local_divergence(spark, tmp_path):
    """VERDICT r14 #1: clone() writes ONE manifest whose entries
    reference the SOURCE's files absolutely — zero data copied — and
    divergence on either side is CoW-local: neither side sees the
    other's writes, and the source's bytes never change."""
    src = _mk(spark, tmp_path, n=2_000, files=4)
    src_bytes = {
        f["path"]: os.path.getsize(os.path.join(src.path, f["path"]))
        for f in src._manifest(1)["files"]
    }
    dev = src.clone(os.path.join(str(tmp_path), "dev"))
    # zero copy: no data file under the clone's own generation root
    assert not any(
        fnames for _, _, fnames in os.walk(os.path.join(dev.path, "_gen"))
    )
    man1 = dev._manifest(1)
    assert man1["op"] == "clone"
    assert man1["cloned_from"] == src.path and man1["cloned_version"] == 1
    assert all(f["path"].startswith(src.path + "/") for f in man1["files"])
    assert _rows(dev.read()) == _rows(src.read())
    # clone diverges: update k=10 — rewrites ONLY the touched reference
    dev.merge_upsert(
        spark.createDataFrame([(10, -1, 0)], "k long, v long, grp int")
        .coalesce(1),
        ["k"],
    )
    man2 = dev._manifest(2)
    local = [f for f in man2["files"] if f["path"].startswith("_gen/")]
    carried = [f for f in man2["files"]
               if f["path"].startswith(src.path + "/")]
    assert len(local) >= 1 and len(carried) == 3
    # source diverges: insert k=9999
    src.merge_upsert(
        spark.createDataFrame([(9_999, -2, 0)], "k long, v long, grp int")
        .coalesce(1),
        ["k"],
    )
    # isolation both ways
    dev_rows = {r["k"]: r["v"] for r in dev.read().collect()}
    src_rows = {r["k"]: r["v"] for r in src.read().collect()}
    assert dev_rows[10] == -1 and 9_999 not in dev_rows
    assert src_rows[10] == 20 and src_rows[9_999] == -2
    # every original source byte untouched by both divergences
    for rel, b in src_bytes.items():
        assert os.path.getsize(os.path.join(src.path, rel)) == b


def test_clone_refuses_existing_dest_and_clones_old_versions(spark, tmp_path):
    src = _mk(spark, tmp_path, n=500, files=2)
    src.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int")
        .coalesce(1),
        ["k"],
    )
    dev = src.clone(os.path.join(str(tmp_path), "dev"), version=1)
    # AS OF semantics: the clone sees v1, not the later upsert
    assert {r["k"]: r["v"] for r in dev.read().collect()}[1] == 2
    with pytest.raises(ValueError, match="already exists"):
        src.clone(os.path.join(str(tmp_path), "dev"))


def test_source_vacuum_refuses_with_live_clone_then_breaks_loudly(
    spark, tmp_path
):
    """The vacuum-hazard contract: a source vacuum whose retained chain
    drops a clone-pinned version REFUSES naming the clone; with
    ignore_clones=True it proceeds, and the clone's reads then refuse
    loudly at the presence check instead of dying mid-scan."""
    src = _mk(spark, tmp_path, n=2_000, files=4)
    dev = src.clone(os.path.join(str(tmp_path), "dev"))
    # advance the source twice so v1 (the pinned version) ages out
    for kv in ((1, -1), (2, -2)):
        src.merge_upsert(
            spark.createDataFrame([(kv[0], kv[1], 0)],
                                  "k long, v long, grp int").coalesce(1),
            ["k"],
        )
    with pytest.raises(ValueError, match="clones pin"):
        src.vacuum(retain_last=1)
    # clone still reads fine — nothing was deleted by the refusal
    assert dev.read().count() == 2_000
    res = src.vacuum(retain_last=1, ignore_clones=True)
    assert res["dropped_files"] > 0
    with pytest.raises(ValueError, match="reclaimed by vacuum"):
        dev.read().count()


def test_vacuum_prunes_stale_clone_registry_entries(spark, tmp_path):
    import shutil

    src = _mk(spark, tmp_path, n=500, files=2)
    dev = src.clone(os.path.join(str(tmp_path), "dev"))
    shutil.rmtree(dev.path)  # the clone was dropped wholesale
    src.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int")
        .coalesce(1),
        ["k"],
    )
    src.vacuum(retain_last=1)  # no refusal: the registry entry is stale
    assert src._clone_registry() == []


def test_purge_refuses_while_clone_references_subject(spark, tmp_path):
    """An erasure is incomplete while a shallow clone still references
    the subject's files — purge's vacuum leg must refuse loudly."""
    src = _mk(spark, tmp_path, n=500, files=2)
    src.clone(os.path.join(str(tmp_path), "dev"))
    with pytest.raises(ValueError, match="shallow clones"):
        src.purge_where("k = 7")
    # nothing was deleted by the refusal — no partial purge state
    assert src.latest_version() == 1 and src.read().count() == 500


# -- r15: zorder for the incremental optimize --------------------------------
def test_optimize_zorder_narrows_merged_stats_and_carries_large(
    spark, tmp_path
):
    """VERDICT r14 #6: optimize_small_files(zorder_by=) lays the MERGED
    generation out along the Morton interleave — manifest stats on the
    merge output stay narrow on BOTH dimensions — while every large
    file is still carried byte-identically."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"))
    big = spark.range(40_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 200).alias("a"),
        ((F.col("id") * 7919) % 200).alias("b"),
    )
    t.overwrite(big, target_files=1)
    big_entry = t._manifest(1)["files"][0]
    big_size = big_entry["bytes"]
    for i in range(12):
        lo = 40_000 + i * 400
        t.merge_upsert(
            spark.range(lo, lo + 400).select(
                F.col("id").alias("k"),
                (F.col("id") % 200).alias("a"),
                ((F.col("id") * 7919) % 200).alias("b"),
            ).coalesce(1),
            ["k"],
        )
    man_before = t._manifest(t.latest_version())
    assert len(man_before["files"]) == 13
    v = t.optimize_small_files(
        target_bytes=big_size, zorder_by=["a", "b"], target_files=8
    )
    assert v is not None
    man = t._manifest(v)
    assert man["op"] == "optimize"
    # the big file carried by identity, bytes untouched on disk
    assert any(f["path"] == big_entry["path"] for f in man["files"])
    assert os.path.getsize(
        os.path.join(t.path, big_entry["path"])
    ) == big_size
    merged = [f for f in man["files"] if f["path"] != big_entry["path"]]
    assert 1 < len(merged) <= 8

    def widths(entries, col):
        ws = []
        for f in entries:
            st = (f.get("stats") or {}).get(col)
            if st:
                ws.append(float(st[1]) - float(st[0]))
        return sum(ws) / len(ws)

    # both dimensions narrow on the merged output (a coalesce merge
    # would leave each near the full 0..199 span)
    assert widths(merged, "a") < 200 * 0.65
    assert widths(merged, "b") < 200 * 0.65
    # content preserved
    assert t.read().count() == 40_000 + 12 * 400
    with pytest.raises(ValueError, match="not both"):
        t.optimize_small_files(cluster_by=["a"], zorder_by=["a", "b"])


# -- r15: rebase across an intervening optimize ------------------------------
def test_rebase_lands_across_concurrent_optimize(spark, tmp_path):
    """VERDICT r14 #7: an optimize is content-preserving with a
    computable file mapping — a writer whose touched files were NOT
    merged rebases across it instead of refusing."""
    t_a = _mk(spark, tmp_path, n=50_000, files=8)
    t_b = VersionedTable(spark, t_a.path)
    # two small delta files (keys far above the base range)
    for i, k in enumerate((60_001, 60_002)):
        t_a.merge_upsert(
            spark.createDataFrame([(k, -k, 0)], "k long, v long, grp int")
            .coalesce(1),
            ["k"],
        )
    sizes = {
        f["path"]: f["bytes"]
        for f in t_a._manifest(t_a.latest_version())["files"]
    }
    small_thresh = sorted(sizes.values())[2] // 2  # between small and base

    wrapper, real = _interleave_once(
        t_b, lambda: t_a.optimize_small_files(target_bytes=small_thresh)
    )
    VersionedTable._write_gen = wrapper
    try:
        vb = t_b.merge_upsert(
            spark.createDataFrame([(5, -50, 0)], "k long, v long, grp int")
            .coalesce(1),
            ["k"],
        )
    finally:
        VersionedTable._write_gen = real
    man = t_b._manifest(vb)
    assert man["rebased_commits"] == 1
    got = {r["k"]: r["v"] for r in t_b.read().filter(
        "k in (5, 60001, 60002)"
    ).collect()}
    assert got == {5: -50, 60_001: -60_001, 60_002: -60_002}
    assert t_b.read().count() == 50_002
    # the optimize's merged generation survived the rebase
    opt_added = {
        f["path"] for f in t_a._manifest(vb - 1)["files"]
    } - {f["path"] for f in t_a._manifest(vb - 2)["files"]}
    assert opt_added and opt_added <= {f["path"] for f in man["files"]}


def test_rebase_refuses_when_rewritten_file_got_merged(spark, tmp_path):
    """A writer whose touched file was swallowed by the concurrent
    optimize must still refuse — its rows moved into the merged
    generation and file identity is genuinely gone."""
    from nomba_data_pipeline_spark.operators.versioned import (
        ConcurrentWriteError,
    )

    t_a = _mk(spark, tmp_path, n=50_000, files=8)
    t_b = VersionedTable(spark, t_a.path)
    for k in (60_001, 60_002):
        t_a.merge_upsert(
            spark.createDataFrame([(k, -k, 0)], "k long, v long, grp int")
            .coalesce(1),
            ["k"],
        )
    sizes = {
        f["path"]: f["bytes"]
        for f in t_a._manifest(t_a.latest_version())["files"]
    }
    small_thresh = sorted(sizes.values())[2] // 2

    wrapper, real = _interleave_once(
        t_b, lambda: t_a.optimize_small_files(target_bytes=small_thresh)
    )
    VersionedTable._write_gen = wrapper
    try:
        with pytest.raises(ConcurrentWriteError, match="optimize merged"):
            # k=60001 lives in a SMALL file the optimize merges
            t_b.merge_upsert(
                spark.createDataFrame(
                    [(60_001, 7, 0)], "k long, v long, grp int"
                ).coalesce(1),
                ["k"],
            )
    finally:
        VersionedTable._write_gen = real


# -- r15: create-exclusive manifest publication (commit CAS) -----------------
def test_manifest_publication_is_create_exclusive(spark, tmp_path):
    """Two wall-clock-concurrent writers race to the same version
    number; the manifest rename is the CAS — the loser must get a loud
    ConcurrentWriteError, never clobber the winner's manifest."""
    from nomba_data_pipeline_spark.operators.versioned import (
        ConcurrentWriteError,
    )

    t = _mk(spark, tmp_path, n=200, files=2)
    man1 = t._manifest(1)
    with pytest.raises(ConcurrentWriteError, match="already exists"):
        t._publish_manifest(1, dict(man1, op="evil"))
    # the winner's manifest is untouched and no tmp residue remains
    assert t._manifest(1)["op"] == "overwrite"
    mdir = os.path.join(t.path, "_manifests")
    assert not [n for n in os.listdir(mdir) if n.startswith(".tmp-")]


# -- r15: time-based retention ----------------------------------------------
def _age_manifest(t, version, seconds):
    man = t._manifest(version)
    man["ts"] = man["ts"] - seconds
    t._write_json(t._manifest_dir(version), man)
    t.spark.catalog.refreshByPath(t._manifest_dir(version))


def test_vacuum_retain_hours_ages_out_versions_and_feeds_together(
    spark, tmp_path
):
    """Stretch (VERDICT r14 #9 ask): time-based retention coordinates
    manifest, generation, and feed reclamation on commit timestamps —
    expired versions leave disk together; in-retention time travel and
    the change feed stay untouched; refusals name the vacuum."""
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 400), cluster_by=["k"], target_files=2)
    for kv in ((1, -1), (2, -2), (3, -3)):
        t.merge_upsert(
            spark.createDataFrame([(kv[0], kv[1], 0)],
                                  "k long, v long, grp int").coalesce(1),
            ["k"],
        )
    # v1, v2 committed "two days ago"; v3, v4 recent
    _age_manifest(t, 1, 2 * 86_400)
    _age_manifest(t, 2, 2 * 86_400)
    res = t.vacuum(retain_last=1, retain_hours=24)
    assert sorted(res["retained_versions"]) == [3, 4]
    # expired: manifests AND feeds gone together
    for v in (1, 2):
        assert not os.path.isdir(os.path.join(t.path, "_manifests",
                                              f"v{v:08d}"))
        assert not os.path.isdir(os.path.join(t.path, "_cdf", f"v{v:08d}"))
    # in-retention: time travel and the feed still work
    assert t.read(version=3).count() == 400
    assert t.changes_between(3).count() >= 1
    with pytest.raises(ValueError, match="vacuum"):
        t.read(version=2).count()
    with pytest.raises(ValueError, match="retain_hours"):
        t.vacuum(retain_hours=-1)


# -- r15: the change feed through SQL (table_changes) ------------------------
def test_table_changes_sql_view_reads_only_feed_files(spark, tmp_path):
    from nomba_data_pipeline_spark.catalog import table_changes

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 400), cluster_by=["k"], target_files=2)
    t.merge_upsert(
        spark.createDataFrame([(1, -1, 0), (999, -9, 0)],
                              "k long, v long, grp int").coalesce(1),
        ["k"],
    )
    t.delete_where("k = 2")
    vname = table_changes(spark, t.path, 1, name="tc_feed")
    df = spark.table(vname)
    # the plan touches ONLY feed files — never the table's data
    files = df.inputFiles()
    assert files and all("/_cdf/" in f for f in files)
    got = {
        (r["change_type"], r["_commit_version"], r["k"])
        for r in spark.sql(
            "SELECT change_type, _commit_version, k FROM tc_feed"
        ).collect()
    }
    assert got == {
        ("update", 2, 1), ("insert", 2, 999), ("delete", 3, 2),
    }
    # DataFrame/SQL parity on the same span
    want = {
        (r["change_type"], r["_commit_version"], r["k"])
        for r in t.changes_between(1).select(
            "change_type", "_commit_version", "k"
        ).collect()
    }
    assert got == want


def test_table_changes_sql_surfaces_governed_errors(spark, tmp_path):
    from nomba_data_pipeline_spark.catalog import table_changes

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(_base(spark, 100), target_files=1)
    # span crossing the wholesale-content v1: the same refusal the
    # DataFrame form gives
    with pytest.raises(ValueError, match="replaced table content"):
        table_changes(spark, t.path, 0)
    # a table never written with a feed
    t2 = _mk(spark, tmp_path.joinpath("nofeed"), n=100, files=1)
    t2.merge_upsert(
        spark.createDataFrame([(1, -1, 0)], "k long, v long, grp int")
        .coalesce(1),
        ["k"],
    )
    with pytest.raises(ValueError, match="no change feed"):
        table_changes(spark, t2.path, 1)


def test_json_sidecar_pyarrow_and_spark_paths_mix(spark, tmp_path):
    """The r15 metadata fast path writes sidecars with pyarrow on local
    filesystems; clusters fall back to the Spark writer. The two forms
    must stay byte-compatible in BOTH directions — a sidecar written by
    either path must read back through either reader (pointer dirs,
    `._view_meta`/`._agg_meta` IVM sidecars and intents all ride this)."""
    from nomba_data_pipeline_spark.operators.merge import ParquetTable
    from nomba_data_pipeline_spark.operators.versioned import (
        read_json_sidecar,
        write_json_sidecar,
    )

    payload = {"fact_key": ["k"], "n_buckets": 8, "nested": {"a": [1, 2]}}
    # pyarrow-written (the local fast path) -> Spark reader
    p1 = str(tmp_path / "meta_pa")
    write_json_sidecar(spark, p1, payload, col="meta")
    import json as _json

    assert _json.loads(spark.read.parquet(p1).first()["meta"]) == payload
    # Spark-written (the cluster fallback form) -> pyarrow reader
    p2 = str(tmp_path / "meta_spark")
    ParquetTable(spark, p2).overwrite(
        spark.createDataFrame([(_json.dumps(payload),)], "meta string").coalesce(1)
    )
    assert read_json_sidecar(spark, p2, col="meta") == payload
    # non-dict payloads (the agg intent stores a bucket list)
    p3 = str(tmp_path / "intent")
    write_json_sidecar(spark, p3, [3, 1, 2])
    assert read_json_sidecar(spark, p3) == [3, 1, 2]
    # overwrite keeps the swap contract: second write replaces the first
    write_json_sidecar(spark, p1, {"v": 2}, col="meta")
    assert read_json_sidecar(spark, p1, col="meta") == {"v": 2}


def test_table_sidecar_pyarrow_and_spark_paths_mix(spark, tmp_path):
    """The TYPED sidecar fast path (write_table_sidecar /
    read_table_sidecar_local — IVF centroids, LSH params) must stay
    schema-compatible in BOTH directions, like the JSON sidecars: an
    arrow-written sidecar reads back through spark.read.parquet, and a
    Spark-written (cluster-fallback-form) sidecar reads back through
    read_table_sidecar_local with identical values and arrow types
    (int32 list_id, list<double> centroid)."""
    import pyarrow as pa

    from nomba_data_pipeline_spark.operators.versioned import (
        read_table_sidecar_local,
        write_table_sidecar,
    )

    rows = [(0, [0.5, -1.0]), (1, [2.25, 3.0])]

    def _arrow():
        return pa.table(
            {
                "list_id": pa.array([r[0] for r in rows], pa.int32()),
                "centroid": pa.array([r[1] for r in rows], pa.list_(pa.float64())),
            }
        )

    def _spark_df():
        return spark.createDataFrame(rows, "list_id int, centroid array<double>")

    # arrow-written (local fast path) -> Spark reader
    p1 = str(tmp_path / "centroids_pa")
    write_table_sidecar(spark, p1, _arrow, _spark_df)
    got = spark.read.parquet(p1)
    assert dict(got.dtypes) == {"list_id": "int", "centroid": "array<double>"}
    assert sorted((r["list_id"], r["centroid"]) for r in got.collect()) == rows
    # Spark-written (the cluster fallback's exact expression, now with
    # the tmp+swap contract) -> pyarrow reader
    p2 = str(tmp_path / "centroids_spark")
    from nomba_data_pipeline_spark.operators.merge import ParquetTable

    ParquetTable(spark, p2).overwrite(_spark_df().coalesce(1))
    t = read_table_sidecar_local(p2)
    assert t is not None
    assert t.column("list_id").type == pa.int32()
    assert t.column("centroid").type in (
        pa.list_(pa.float64()),
        pa.large_list(pa.float64()),
    )
    assert sorted(
        zip(t.column("list_id").to_pylist(), t.column("centroid").to_pylist())
    ) == rows
    # overwrite keeps the swap contract on the arrow path too
    rows2 = [(0, [9.0, 9.0])]
    rows[:] = rows2
    write_table_sidecar(spark, p1, _arrow, _spark_df)
    t2 = read_table_sidecar_local(p1)
    assert t2.column("centroid").to_pylist() == [[9.0, 9.0]]
