"""Partition-scoped merge: correctness incl. the partition-migration
edge (a key whose partition value changes must vanish from its old
partition, even when that leaves the old partition empty)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.merge import ParquetTable

SCHEMA = "id int, v string, m string"


def _t(spark, tmp_path, rows):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(spark.createDataFrame(rows, SCHEMA), partition_by=["m"])
    return t


def _state(t):
    return sorted((r.id, r.v, r.m) for r in t.read().collect())


def test_partitioned_merge_only_touches_affected(spark, tmp_path):
    t = _t(spark, tmp_path, [(1, "a", "2026-01"), (2, "b", "2026-01"), (3, "c", "2026-02")])
    mtimes_before = {
        d: os.path.getmtime(os.path.join(t.path, d))
        for d in os.listdir(t.path) if d.startswith("m=")
    }
    import time

    time.sleep(1.1)
    delta = spark.createDataFrame([(2, "b2", "2026-01")], SCHEMA)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    assert _state(t) == [(1, "a", "2026-01"), (2, "b2", "2026-01"), (3, "c", "2026-02")]
    # untouched partition directory was not rewritten
    assert os.path.getmtime(os.path.join(t.path, "m=2026-02")) == mtimes_before["m=2026-02"]


def test_partition_migration_removes_old_copy(spark, tmp_path):
    t = _t(spark, tmp_path, [(1, "a", "2026-01"), (2, "b", "2026-02")])
    # id 1 moves from 2026-01 to 2026-03; old partition becomes empty
    delta = spark.createDataFrame([(1, "a2", "2026-03")], SCHEMA)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    assert _state(t) == [(1, "a2", "2026-03"), (2, "b", "2026-02")]
    assert not os.path.exists(os.path.join(t.path, "m=2026-01"))


def test_partition_migration_with_survivors(spark, tmp_path):
    t = _t(spark, tmp_path, [(1, "a", "2026-01"), (9, "z", "2026-01")])
    delta = spark.createDataFrame([(1, "a2", "2026-02")], SCHEMA)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    # id 9 survives in the rewritten old partition
    assert _state(t) == [(1, "a2", "2026-02"), (9, "z", "2026-01")]


def test_partitioned_merge_without_migration_updates_and_inserts(spark, tmp_path):
    """No key changes partition: an in-place update and an insert into a
    new partition, the other partition carried unchanged."""
    t = _t(spark, tmp_path, [(1, "a", "2026-01"), (2, "b", "2026-02")])
    delta = spark.createDataFrame([(1, "a2", "2026-01"), (3, "c", "2026-03")], SCHEMA)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    assert _state(t) == [(1, "a2", "2026-01"), (2, "b", "2026-02"), (3, "c", "2026-03")]


def test_partitioned_merge_idempotent(spark, tmp_path):
    t = _t(spark, tmp_path, [(1, "a", "2026-01")])
    delta = spark.createDataFrame([(1, "a2", "2026-01"), (2, "n", "2026-02")], SCHEMA)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    first = _state(t)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    assert _state(t) == first == [(1, "a2", "2026-01"), (2, "n", "2026-02")]


def test_null_partition_preserves_unmatched_rows(spark, tmp_path):
    """Regression (round-2 advice): pre-existing NULL-partition rows whose
    keys are NOT in the delta must survive the partition rewrite."""
    t = _t(spark, tmp_path, [(1, "a", None), (9, "z", None), (2, "b", "2026-01")])
    delta = spark.createDataFrame([(1, "a2", None)], SCHEMA)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    assert _state(t) == [(1, "a2", None), (2, "b", "2026-01"), (9, "z", None)]


def test_null_partition_migration(spark, tmp_path):
    """A key migrating OUT of the NULL partition is removed from it."""
    t = _t(spark, tmp_path, [(1, "a", None), (9, "z", None)])
    delta = spark.createDataFrame([(1, "a2", "2026-02")], SCHEMA)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    assert _state(t) == [(1, "a2", "2026-02"), (9, "z", None)]


def test_null_key_upsert_replaces_null_key_row(spark, tmp_path):
    """NULL upsert keys match null-safely across all merge paths: a
    NULL-key delta row replaces the NULL-key target row instead of
    accumulating duplicates (consistent with merge_upsert_dedup's window
    grouping and scd2_apply's eqNullSafe)."""
    def nstate(t):
        return sorted(
            ((r.id, r.v, r.m) for r in t.read().collect()),
            key=lambda x: (x[0] is None, x[0]),
        )

    t = _t(spark, tmp_path, [(None, "a", "2026-01"), (2, "b", "2026-01")])
    delta = spark.createDataFrame([(None, "a2", "2026-01")], SCHEMA)
    t.merge_upsert(delta, ["id"], partition_by=["m"])
    assert nstate(t) == [(2, "b", "2026-01"), (None, "a2", "2026-01")]
    # unpartitioned path: same semantics
    t2 = ParquetTable(spark, os.path.join(tmp_path, "t2"))
    t2.overwrite(spark.createDataFrame([(None, "a", "x"), (2, "b", "x")], SCHEMA))
    t2.merge_upsert(spark.createDataFrame([(None, "a2", "x")], SCHEMA), ["id"])
    assert nstate(t2) == [(2, "b", "x"), (None, "a2", "x")]


def test_null_partition_dedup_merge(spark, tmp_path):
    """merge_upsert_dedup keeps NULL-partition survivors too."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t3"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", None), (9, "z", None)], SCHEMA
        ),
        partition_by=["m"],
    )
    delta = spark.createDataFrame([(1, "zz", None)], SCHEMA)
    t.merge_upsert_dedup(delta, ["id"], tracking_col="v", partition_by=["m"])
    assert _state(t) == [(1, "zz", None), (9, "z", None)]


def test_two_column_partitioned_merge_with_null_values(spark, tmp_path):
    """Two partition columns, NULL in either: each touched (m, g)
    directory keeps its unmatched rows, and a key that moves leaves its
    old directory."""
    schema = "id int, v string, m string, g string"
    t = ParquetTable(spark, os.path.join(tmp_path, "t2c"))
    t.overwrite(
        spark.createDataFrame([
            (1, "a", "2026-01", None), (2, "b", "2026-01", None),
            (3, "c", None, "x"), (4, "d", None, "x"), (5, "e", "2026-02", "x"),
        ], schema),
        partition_by=["m", "g"],
    )
    delta = spark.createDataFrame(
        [(1, "a2", "2026-01", None), (3, "c2", "2026-02", "x")], schema
    )
    t.merge_upsert(delta, ["id"], partition_by=["m", "g"])
    assert sorted(tuple(r) for r in t.read().select("id", "v", "m", "g").collect()) == [
        (1, "a2", "2026-01", None), (2, "b", "2026-01", None),
        (3, "c2", "2026-02", "x"), (4, "d", None, "x"), (5, "e", "2026-02", "x"),
    ]


def test_rewrite_slice_prunes_to_affected_partitions(spark, tmp_path):
    """The merge's rewrite slice is a filter on the collected partition
    values (NULL included), so the target scan prunes directories."""
    from pyspark.sql import Row

    from nomba_data_pipeline_spark.operators.merge import _partition_values

    t = _t(spark, tmp_path, [(1, "a", "2026-01"), (2, "b", None), (3, "c", "2026-02")])
    sl = t.read().filter(_partition_values([Row(m="2026-01"), Row(m=None)], ["m"]))
    assert sorted(r.id for r in sl.collect()) == [1, 2]
    plan = sl._sc._jvm.PythonSQLUtils.explainString(
        sl._jdf.queryExecution(), "formatted"
    )
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert pf and "PartitionFilters: []" not in pf[0]


# ---------------------------------------------------------------------------
# insert_overwrite (dbt incremental strategy: replace whole partitions)
# ---------------------------------------------------------------------------
def test_insert_overwrite_replaces_only_delta_partitions(spark, tmp_path):
    t = _t(
        spark,
        tmp_path,
        [(1, "a", "2026-01"), (2, "b", "2026-01"), (3, "c", "2026-02")],
    )
    mtime_feb = os.path.getmtime(os.path.join(t.path, "m=2026-02"))
    import time

    time.sleep(1.1)
    # backfill 2026-01: ONE row replaces the partition's two; row 2 is
    # NOT carried over (no key matching — partition replacement)
    delta = spark.createDataFrame([(9, "x", "2026-01")], SCHEMA)
    t.insert_overwrite_partitions(delta, ["m"])
    assert _state(t) == [(3, "c", "2026-02"), (9, "x", "2026-01")]
    assert os.path.getmtime(os.path.join(t.path, "m=2026-02")) == mtime_feb


def test_insert_overwrite_adds_new_partition_and_replays(spark, tmp_path):
    t = _t(spark, tmp_path, [(1, "a", "2026-01")])
    delta = spark.createDataFrame(
        [(2, "b", "2026-02"), (3, "c", "2026-02")], SCHEMA
    )
    t.insert_overwrite_partitions(delta, ["m"])
    expect = [(1, "a", "2026-01"), (2, "b", "2026-02"), (3, "c", "2026-02")]
    assert _state(t) == expect
    # idempotent replay
    t.insert_overwrite_partitions(delta, ["m"])
    assert _state(t) == expect


def test_insert_overwrite_bootstraps_missing_table(spark, tmp_path):
    t = ParquetTable(spark, os.path.join(tmp_path, "fresh"))
    delta = spark.createDataFrame([(1, "a", "2026-01")], SCHEMA)
    t.insert_overwrite_partitions(delta, ["m"])
    assert _state(t) == [(1, "a", "2026-01")]


def test_insert_overwrite_empty_delta_is_noop(spark, tmp_path):
    t = _t(spark, tmp_path, [(1, "a", "2026-01")])
    t.insert_overwrite_partitions(
        spark.createDataFrame([], SCHEMA), ["m"]
    )
    assert _state(t) == [(1, "a", "2026-01")]
