"""SCD2 check-strategy merge tests (O12) — the reference's hardest
correctness surface (SURVEY §7.4.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.scd2 import current_rows, scd2_merge

SCHEMA = "id int, name string, state string, occupation string"


def ts(lit):
    return F.to_timestamp(F.lit(lit))


@pytest.fixture
def gen1(spark):
    return spark.createDataFrame(
        [(1, "a", "LA", "eng"), (2, "b", "KN", "doc"), (3, "c", "LA", "nurse")], SCHEMA
    )


def test_initial_snapshot_all_open(spark, gen1):
    snap = scd2_merge(None, gen1, "id", ["state", "occupation"], load_ts=ts("2026-01-01"))
    rows = snap.collect()
    assert len(rows) == 3
    assert all(r.valid_to is None for r in rows)
    assert all(r.scd_id is not None for r in rows)


def test_change_close_open_carry(spark, gen1):
    snap = scd2_merge(None, gen1, "id", ["state", "occupation"], load_ts=ts("2026-01-01"))
    batch2 = spark.createDataFrame(
        [(1, "a", "ABJ", "eng"),  # state changed
         (2, "b", "KN", "doc"),   # unchanged
         (4, "d", "IB", "chef")], # new key; id 3 absent
        SCHEMA,
    )
    snap2 = scd2_merge(snap, batch2, "id", ["state", "occupation"], load_ts=ts("2026-02-01"))

    by_key = {}
    for r in snap2.collect():
        by_key.setdefault(r.id, []).append(r)

    # changed: one closed + one open
    v1 = sorted(by_key[1], key=lambda r: str(r.valid_from))
    assert len(v1) == 2
    assert str(v1[0].valid_to).startswith("2026-02-01") and v1[0].state == "LA"
    assert v1[1].valid_to is None and v1[1].state == "ABJ"
    # unchanged: single open row with original valid_from
    assert len(by_key[2]) == 1 and by_key[2][0].valid_to is None
    assert str(by_key[2][0].valid_from).startswith("2026-01-01")
    # absent from batch: carried open (no hard delete, dbt default)
    assert len(by_key[3]) == 1 and by_key[3][0].valid_to is None
    # new key: open
    assert len(by_key[4]) == 1 and by_key[4][0].valid_to is None

    # invariant: exactly one open version per key
    open_counts = (
        current_rows(snap2).groupBy("id").count().filter(F.col("count") > 1).count()
    )
    assert open_counts == 0


def test_null_safe_change_detection(spark):
    g1 = spark.createDataFrame([(1, "a", None, "eng")], SCHEMA)
    snap = scd2_merge(None, g1, "id", ["state", "occupation"], load_ts=ts("2026-01-01"))
    # NULL -> NULL is NOT a change
    snap2 = scd2_merge(snap, g1, "id", ["state", "occupation"], load_ts=ts("2026-02-01"))
    assert snap2.count() == 1
    # NULL -> value IS a change
    g2 = spark.createDataFrame([(1, "a", "LA", "eng")], SCHEMA)
    snap3 = scd2_merge(snap2, g2, "id", ["state", "occupation"], load_ts=ts("2026-03-01"))
    assert snap3.count() == 2
    assert current_rows(snap3).first().state == "LA"


def test_duplicate_key_in_batch_latest_wins(spark):
    g1 = spark.createDataFrame(
        [(1, "a", "LA", "eng", 1), (1, "a", "ABJ", "eng", 2)],
        SCHEMA + ", seq int",
    )
    snap = scd2_merge(
        None, g1, "id", ["state", "occupation"], load_ts=ts("2026-01-01"),
        order_within_batch="seq",
    )
    rows = snap.collect()
    assert len(rows) == 1 and rows[0].state == "ABJ"


def test_hard_delete_closes_absent_keys(spark, gen1):
    from nomba_data_pipeline_spark.operators.scd2 import scd2_apply

    open1, _, _ = scd2_apply(None, gen1, "id", ["state", "occupation"], load_ts=ts("2026-01-01"))
    batch2 = spark.createDataFrame([(1, "a", "LA", "eng")], SCHEMA)  # ids 2,3 gone
    open2, closed2, _ = scd2_apply(
        open1, batch2, "id", ["state", "occupation"], load_ts=ts("2026-02-01"),
        hard_delete=True,
    )
    assert sorted(r.id for r in open2.collect()) == [1]
    closed = {r.id: str(r.valid_to)[:10] for r in closed2.collect()}
    assert closed == {2: "2026-02-01", 3: "2026-02-01"}
    # default (reference parity): absentees carried open
    open2b, closed2b, _ = scd2_apply(
        open1, batch2, "id", ["state", "occupation"], load_ts=ts("2026-02-01")
    )
    assert sorted(r.id for r in open2b.collect()) == [1, 2, 3]
    assert closed2b.count() == 0


def test_rerun_same_batch_is_noop(spark, gen1):
    snap = scd2_merge(None, gen1, "id", ["state", "occupation"], load_ts=ts("2026-01-01"))
    snap2 = scd2_merge(snap, gen1, "id", ["state", "occupation"], load_ts=ts("2026-02-01"))
    assert snap2.count() == 3
    assert current_rows(snap2).count() == 3


def test_split_scd2_replay_after_crash_is_exactly_once(spark, tmp_path, monkeypatch):
    """Replay safety of the split-SCD2 closed-history append
    (plans/runner.py _run_scd2_split): kill the run BETWEEN the closed
    append and the open-table swap, then replay — the deterministic
    batch-id wipe must converge the closed history to exactly-once
    rows (no duplicate (key, valid_from) intervals)."""
    import os

    from nomba_data_pipeline_spark.operators.merge import ParquetTable
    from nomba_data_pipeline_spark.plans import models as M
    from nomba_data_pipeline_spark.plans.cdc_sim import simulate_user_updates
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
    from tests.conftest import SF_SMALL

    wh = os.path.join(tmp_path, "wh")
    build_pipeline(spark, wh, SF_SMALL).run(only=["users_snapshot"])

    override = {
        "stg_users": lambda s, sf: simulate_user_updates(
            M.stg_users(s, sf), fraction=0.1
        )
    }
    runner2 = build_pipeline(spark, wh, SF_SMALL, source_override=override)

    orig = ParquetTable.overwrite
    state = {"crashed": False}

    def crash_once_on_open_swap(self, df, partition_by=None):
        if not state["crashed"] and self.path.endswith("users_snapshot__open"):
            state["crashed"] = True
            raise RuntimeError("injected crash between closed append and open swap")
        return orig(self, df, partition_by=partition_by)

    monkeypatch.setattr(ParquetTable, "overwrite", crash_once_on_open_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        runner2.run(only=["users_snapshot"])
    # the crashed run appended its closed batch but never swapped open
    closed = ParquetTable(spark, os.path.join(wh, "users_snapshot__closed"))
    assert closed.exists()
    appended_once = closed.read().count()
    assert appended_once > 0

    # replay end-to-end (overwrite passes through now): same logical
    # batch -> same batch id -> the partial append is wiped, not doubled
    runner3 = build_pipeline(spark, wh, SF_SMALL, source_override=override)
    runner3.run(only=["users_snapshot"])
    assert closed.read().count() == appended_once

    snap = runner3.read_model("users_snapshot")
    dup_intervals = (
        snap.groupBy("user_id", "valid_from").count().filter("count > 1").count()
    )
    assert dup_intervals == 0
    dup_open = (
        snap.filter(F.col("valid_to").isNull())
        .groupBy("user_id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup_open == 0


def test_default_load_ts_is_frozen_across_actions(spark, gen1):
    """scd2_apply's default timestamp must be a driver-frozen literal:
    the split runner materializes closed rows and the new open state in
    SEPARATE actions, and a per-action current_timestamp() would leave
    a [T1, T2) hole between each closed row's valid_to and its
    successor's valid_from (no valid version at any t in the gap)."""
    from nomba_data_pipeline_spark.operators.scd2 import scd2_apply

    open1, _, _ = scd2_apply(None, gen1, "id", ["state", "occupation"], load_ts=ts("2026-01-01"))
    changed = spark.createDataFrame([(1, "a", "KAN", "eng")], SCHEMA)
    open2, closed2, _ = scd2_apply(open1, changed, "id", ["state", "occupation"])
    # two separate actions, the way the runner drives them
    closed_rows = {r.id: r.valid_to for r in closed2.collect()}
    import time

    time.sleep(1.1)  # a per-action NOW() would now differ by >= 1s
    open_rows = {r.id: r.valid_from for r in open2.filter("id = 1").collect()}
    assert closed_rows[1] == open_rows[1], (closed_rows, open_rows)


def test_split_scd2_replay_with_changed_source_sweeps_orphans(
    spark, tmp_path, monkeypatch
):
    """Crash between closed append and open swap, then the SOURCE
    changes before the replay: the stale batch (different batch id now)
    must be swept as an orphan — its (key, valid_from) versions are
    still open — or closed history would carry duplicate overlapping
    intervals forever."""
    import os

    from nomba_data_pipeline_spark.operators.merge import ParquetTable
    from nomba_data_pipeline_spark.plans import models as M
    from nomba_data_pipeline_spark.plans.cdc_sim import simulate_user_updates
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
    from tests.conftest import SF_SMALL

    wh = os.path.join(tmp_path, "wh")
    build_pipeline(spark, wh, SF_SMALL).run(only=["users_snapshot"])

    override1 = {
        "stg_users": lambda s, sf: simulate_user_updates(
            M.stg_users(s, sf), fraction=0.1
        )
    }
    runner2 = build_pipeline(spark, wh, SF_SMALL, source_override=override1)

    orig = ParquetTable.overwrite
    state = {"crashed": False}

    def crash_once(self, df, partition_by=None):
        if not state["crashed"] and self.path.endswith("users_snapshot__open"):
            state["crashed"] = True
            raise RuntimeError("injected crash")
        return orig(self, df, partition_by=partition_by)

    monkeypatch.setattr(ParquetTable, "overwrite", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        runner2.run(only=["users_snapshot"])
    monkeypatch.setattr(ParquetTable, "overwrite", orig)

    # source EVOLVES before the replay: different fraction -> different
    # closed set -> different batch id than the crashed append
    override2 = {
        "stg_users": lambda s, sf: simulate_user_updates(
            M.stg_users(s, sf), fraction=0.2
        )
    }
    runner3 = build_pipeline(spark, wh, SF_SMALL, source_override=override2)
    runner3.run(only=["users_snapshot"])

    snap = runner3.read_model("users_snapshot")
    dups = snap.groupBy("user_id", "valid_from").count().filter("count > 1").count()
    assert dups == 0, f"{dups} duplicate (key, valid_from) intervals after replay"


def test_split_scd2_commit_markers_make_sweep_metadata_only(spark, tmp_path):
    """Clean runs must leave every closed batch dir carrying the
    _COMMITTED marker, so the steady-state orphan sweep's work list is
    empty — a pure FS listing, zero Spark jobs (the r04→r05 CDC rerun
    cost the sweep added is paid only inside a crash window)."""
    import os

    from nomba_data_pipeline_spark.plans import models as M
    from nomba_data_pipeline_spark.plans.cdc_sim import simulate_user_updates
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
    from tests.conftest import SF_SMALL

    wh = os.path.join(tmp_path, "wh")
    build_pipeline(spark, wh, SF_SMALL).run(only=["users_snapshot"])
    for frac in (0.1, 0.2):  # two CDC cycles -> two closed batches
        override = {
            "stg_users": lambda s, sf, f=frac: simulate_user_updates(
                M.stg_users(s, sf), fraction=f
            )
        }
        runner = build_pipeline(spark, wh, SF_SMALL, source_override=override)
        runner.run(only=["users_snapshot"])

    closed_path = os.path.join(wh, "users_snapshot__closed")
    batch_dirs = [d for d in os.listdir(closed_path) if d.startswith("batch_id=")]
    assert len(batch_dirs) >= 2, batch_dirs
    for d in batch_dirs:
        assert os.path.exists(os.path.join(closed_path, d, "_COMMITTED")), d
    assert runner._unmarked_batch_dirs(closed_path) == []


def test_vacuum_closed_expires_history_partition_scoped(spark, tmp_path):
    """Retention verb: close_date partitions strictly before the cutoff
    are dropped by directory delete (no rewrite of survivors), a fully
    expired history removes its root so read_model degrades to
    open-rows-only, and the verb is a no-op on absent history."""
    import os

    from nomba_data_pipeline_spark.plans import models as M
    from nomba_data_pipeline_spark.plans.cdc_sim import simulate_user_updates
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
    from tests.conftest import SF_SMALL

    wh = os.path.join(tmp_path, "wh")
    build_pipeline(spark, wh, SF_SMALL).run(only=["users_snapshot"])
    override = {
        "stg_users": lambda s, sf: simulate_user_updates(
            M.stg_users(s, sf), fraction=0.1
        )
    }
    runner = build_pipeline(spark, wh, SF_SMALL, source_override=override)
    runner.run(only=["users_snapshot"])

    closed_root = os.path.join(wh, "users_snapshot__closed")
    parts = [
        (b, d)
        for b in os.listdir(closed_root)
        if b.startswith("batch_id=")
        for d in os.listdir(os.path.join(closed_root, b))
        if d.startswith("close_date=")
    ]
    assert parts, "CDC rerun closed no versions; fixture drifted"
    oldest = min(d.split("=", 1)[1] for _, d in parts)
    before = runner.read_model("users_snapshot").count()

    # cutoff at the oldest date: strictly-before semantics keep everything
    assert runner.vacuum_closed("users_snapshot", oldest) == 0
    assert runner.read_model("users_snapshot").count() == before

    # cutoff beyond everything: whole history expires, root removed,
    # snapshot degrades to open rows only
    removed = runner.vacuum_closed("users_snapshot", "9999-12-31")
    assert removed == len(parts)
    assert not os.path.exists(closed_root)
    snap = runner.read_model("users_snapshot")
    assert snap.filter(F.col("valid_to").isNotNull()).count() == 0
    assert snap.count() > 0

    # absent history: no-op; malformed cutoff: rejected
    assert runner.vacuum_closed("users_snapshot", "9999-12-31") == 0
    with pytest.raises(ValueError, match="YYYY-MM-DD"):
        runner.vacuum_closed("users_snapshot", "eventually")


@pytest.mark.slow
def test_split_scd2_replay_after_crash_before_rename_is_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Crash after the closed append reached its staging dir and before
    the rename publishes it as `batch_id=<id>`: the replay must sweep the
    staging dir and give exactly the closed history of a run that never
    crashed — the same (user_id, valid_from) multiset — with no staging
    dir left behind."""
    import os
    import shutil

    from nomba_data_pipeline_spark.plans import models as M
    from nomba_data_pipeline_spark.plans.cdc_sim import simulate_user_updates
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
    from nomba_data_pipeline_spark.plans.runner import PipelineRunner
    from tests.conftest import SF_SMALL

    wh = os.path.join(tmp_path, "wh")
    ref = os.path.join(tmp_path, "ref")
    build_pipeline(spark, wh, SF_SMALL).run(only=["users_snapshot"])
    shutil.copytree(wh, ref)  # same first build: same valid_from per version
    override = {
        "stg_users": lambda s, sf: simulate_user_updates(
            M.stg_users(s, sf), fraction=0.1
        )
    }
    build_pipeline(spark, ref, SF_SMALL, source_override=override).run(
        only=["users_snapshot"]
    )

    orig = PipelineRunner._rm_dir
    state = {"crashed": False}

    def crash_before_rename(self, path):
        # the same-id wipe runs right before the rename
        if not state["crashed"] and "__closed/batch_id=" in path:
            state["crashed"] = True
            raise RuntimeError("injected crash between staged append and rename")
        return orig(self, path)

    monkeypatch.setattr(PipelineRunner, "_rm_dir", crash_before_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_pipeline(spark, wh, SF_SMALL, source_override=override).run(
            only=["users_snapshot"]
        )
    closed_root = os.path.join(wh, "users_snapshot__closed")
    entries = os.listdir(closed_root)
    assert [e for e in entries if e.startswith(".batch_id=")], entries
    assert not [e for e in entries if e.startswith("batch_id=")], entries

    runner = build_pipeline(spark, wh, SF_SMALL, source_override=override)
    runner.run(only=["users_snapshot"])
    entries = os.listdir(closed_root)
    assert not [e for e in entries if e.startswith(".batch_id=")], entries

    def closed_versions(w: str) -> list:
        snap = build_pipeline(spark, w, SF_SMALL).read_model("users_snapshot")
        return sorted(
            tuple(r)
            for r in snap.filter(F.col("valid_to").isNotNull())
            .select("user_id", "valid_from")
            .collect()
        )

    got = closed_versions(wh)
    assert got and got == closed_versions(ref)


@pytest.fixture
def plan_confs(spark):
    """The confs the SCD2 cycle shape depends on, pinned for the test
    and restored after it."""
    pins = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    saved = {k: spark.conf.get(k) for k in pins}
    for k, v in pins.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_split_scd2_close_caches_nothing_and_bounds_jobs(
    spark, tmp_path, monkeypatch, plan_confs
):
    """Cycle shape of a refresh that closes versions: the closed rows,
    their batch id and the change counts come from one plan, so nothing
    is persisted (the cache manager is empty while the open table is
    swapped) and the snapshot runs at most MAX_JOBS Spark jobs: 12 at
    sf0.001, where a separate stats action over a cached change set ran
    16."""
    import os

    from nomba_data_pipeline_spark.operators.merge import ParquetTable
    from nomba_data_pipeline_spark.plans import models as M
    from nomba_data_pipeline_spark.plans.cdc_sim import simulate_user_updates
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
    from tests.conftest import SF_SMALL

    MAX_JOBS = 12
    wh = os.path.join(tmp_path, "wh")
    build_pipeline(spark, wh, SF_SMALL).run(only=["users_snapshot"])
    runner = build_pipeline(spark, wh, SF_SMALL, source_override={
        "stg_users": lambda s, sf: simulate_user_updates(
            M.stg_users(s, sf), fraction=0.1
        )
    })

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    orig = ParquetTable.overwrite
    cached_at_swap = []

    def overwrite(self, df, partition_by=None):
        if self.path.endswith("users_snapshot__open"):
            cached_at_swap.append(not cache.isEmpty())
        return orig(self, df, partition_by=partition_by)

    monkeypatch.setattr(ParquetTable, "overwrite", overwrite)
    sc = spark.sparkContext
    group = "scd2-cycle-shape"
    sc.setJobGroup(group, "scd2 cycle shape")
    try:
        runner.run(only=["users_snapshot"])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)

    stats = runner.last_scd2["users_snapshot"]
    assert stats["closed"] > 0 and stats["batch_id"], stats
    assert os.path.exists(os.path.join(
        wh, "users_snapshot__closed", f"batch_id={stats['batch_id']}", "_COMMITTED"
    ))
    assert cached_at_swap == [False]
    assert cache.isEmpty()

    # the status store fills from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = [
        store.job(i).description()
        for i in sc.statusTracker().getJobIdsForGroup(group)
    ]
    n_jobs = sum(d.isDefined() and d.get() == "model:users_snapshot" for d in descs)
    assert 0 < n_jobs <= MAX_JOBS, n_jobs
