"""Load-mode writer unit tests (O7-O10, A2, A4) incl. idempotency."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.merge import ParquetTable


@pytest.fixture
def base_df(spark):
    return spark.createDataFrame(
        [(1, "a", "X", 10), (2, "b", "Y", 10), (3, "c", "X", 10)],
        "id int, name string, state string, v int",
    )


def _rows(t):
    return sorted((r.id, r.name, r.v) for r in t.read().collect())


def test_overwrite_full_load(spark, tmp_path, base_df):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    assert not t.exists()
    t.overwrite(base_df)
    assert t.exists()
    assert _rows(t) == [(1, "a", 10), (2, "b", 10), (3, "c", 10)]
    # O9 is TRUNCATE+INSERT: second overwrite fully replaces
    t.overwrite(base_df.filter(F.col("id") == 1))
    assert _rows(t) == [(1, "a", 10)]


def test_merge_upsert_and_idempotency(spark, tmp_path, base_df):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)
    delta = spark.createDataFrame(
        [(2, "b2", "Z", 20), (4, "d", "W", 20)], "id int, name string, state string, v int"
    )
    t.merge_upsert(delta, ["id"])
    expect = [(1, "a", 10), (2, "b2", 20), (3, "c", 10), (4, "d", 20)]
    assert _rows(t) == expect
    t.merge_upsert(delta, ["id"])  # rerun => identical (README.md:324-348 idempotency)
    assert _rows(t) == expect


def test_merge_upsert_evolve_schema_widens_instead_of_dropping(
    spark, tmp_path, base_df
):
    """Default drift policy DROPS source-only columns (reference
    skip-unknown parity); evolve_schema=True widens the target first so
    the new column survives — NULL on pre-existing rows, carried on the
    delta's — and later default merges keep carrying it."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)
    delta = spark.createDataFrame(
        [(2, "b2", "Y", 20, "eu")],
        "id int, name string, state string, v int, region string",
    )
    # default: dropped silently
    t.merge_upsert(delta, ["id"])
    assert "region" not in t.read().columns
    # opt-in: widened
    t.merge_upsert(delta, ["id"], evolve_schema=True)
    out = {r.id: (r.name, r.region) for r in t.read().collect()}
    assert out == {1: ("a", None), 2: ("b2", "eu"), 3: ("c", None)}
    # a later DEFAULT merge aligns to the widened contract: rows keep
    # the column (NULL-filled when the delta lacks it)
    t.merge_upsert(
        spark.createDataFrame([(3, "c3", "X", 30)], "id int, name string, state string, v int"),
        ["id"],
    )
    out = {r.id: r.region for r in t.read().collect()}
    assert out == {1: None, 2: "eu", 3: None}


def test_merge_upsert_evolve_skips_void_typed_columns(spark, tmp_path, base_df):
    """A delta column that is all-NULL with no concrete type (VOID)
    cannot be stored in parquet and carries nothing to evolve to —
    the widen skips it (evolution happens when a typed batch arrives)
    and the merge still completes."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)
    delta = spark.createDataFrame(
        [(2, "b2", "Y", 20)], "id int, name string, state string, v int"
    ).withColumn("ghost", F.lit(None))
    t.merge_upsert(delta, ["id"], evolve_schema=True)
    assert "ghost" not in t.read().columns
    assert {r.id: r.name for r in t.read().collect()}[2] == "b2"
    # the first TYPED batch evolves it for real
    typed = spark.createDataFrame(
        [(2, "b3", "Y", 30, "now")],
        "id int, name string, state string, v int, ghost string",
    )
    t.merge_upsert(typed, ["id"], evolve_schema=True)
    assert {r.id: r.ghost for r in t.read().collect()} == {1: None, 2: "now", 3: None}


def test_merge_upsert_evolve_schema_preserves_partition_layout(spark, tmp_path, base_df):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df, partition_by=["state"])
    delta = spark.createDataFrame(
        [(1, "a1", "X", 11, 0.5)],
        "id int, name string, state string, v int, score double",
    )
    t.merge_upsert(delta, ["id"], partition_by=["state"], evolve_schema=True)
    assert sorted(
        d for d in os.listdir(os.path.join(tmp_path, "t")) if d.startswith("state=")
    ) == ["state=X", "state=Y"]
    out = {r.id: (r.name, r.score) for r in t.read().collect()}
    assert out == {1: ("a1", 0.5), 2: ("b", None), 3: ("c", None)}


def test_merge_upsert_creates_when_absent(spark, tmp_path, base_df):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.merge_upsert(base_df, ["id"])
    assert _rows(t) == [(1, "a", 10), (2, "b", 10), (3, "c", 10)]


def test_merge_upsert_dedup_keeps_latest(spark, tmp_path, base_df):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)
    # duplicate key inside the delta: keep latest by tracking col (O8)
    delta = spark.createDataFrame(
        [(1, "new", "X", 99), (1, "old", "X", 5)], "id int, name string, state string, v int"
    )
    t.merge_upsert_dedup(delta, ["id"], "v")
    assert _rows(t) == [(1, "new", 99), (2, "b", 10), (3, "c", 10)]
    assert t.duplicate_key_groups(["id"]) == 0  # A4


def test_snapshot_append_same_day_idempotent(spark, tmp_path, base_df):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.snapshot_append(base_df)
    t.snapshot_append(base_df)  # same day rerun must not duplicate (O10)
    assert t.read().count() == 3
    assert "ingest_date" in t.read().columns


def test_failed_write_leaves_table_intact(spark, tmp_path, base_df):
    """Fault tolerance of the write-to-temp + swap protocol: a job that
    dies during the temp write must not corrupt the live table."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)
    before = _rows(t)

    # a delta whose evaluation fails mid-write (UDF raises on executor)
    from pyspark.sql.functions import udf

    @udf("int")
    def boom(x):
        raise RuntimeError("injected failure")

    bad_delta = base_df.withColumn("v", boom(F.col("id")))
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.merge_upsert(bad_delta, ["id"])
    # table untouched, still readable
    assert _rows(t) == before
    with _pytest.raises(Exception):
        t.overwrite(bad_delta)
    assert _rows(t) == before


def test_high_water_mark(spark, tmp_path, base_df):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    assert t.high_water_mark("v") is None
    t.overwrite(base_df)
    assert t.high_water_mark("v") == 10


def test_high_water_mark_stats_matches_scan(spark, tmp_path):
    """Footer-statistics HWM must equal the scan agg on every layout the
    runner produces: flat, partitioned, and after merges; unsupported
    cases (string column — parquet allows truncated string bounds,
    partition column — absent from data-file footers) must fall back
    to the scan, never return a wrong value."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"s{i:03d}", i % 3) for i in range(1, 51)], "id int, s string, p int"
    ).withColumn("ts", F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, id)"))
    t = ParquetTable(spark, os.path.join(tmp_path, "flat"))
    assert t.high_water_mark_stats("id") is None  # absent table
    t.overwrite(df)
    for col in ("id", "ts", "s"):
        assert t.high_water_mark_stats(col) == t.high_water_mark(col), col
    # numeric AND timestamp columns must take the REAL stats path, not
    # the scan fallback (INT96 output would silently drop timestamp
    # stats and make the equality above vacuous) — prove it by making
    # the fallback explode
    real_scan = t.high_water_mark
    t.high_water_mark = lambda c: (_ for _ in ()).throw(AssertionError("fell back to scan"))
    try:
        got_id = t.high_water_mark_stats("id")
        got_ts = t.high_water_mark_stats("ts")
    finally:
        t.high_water_mark = real_scan
    assert got_id == t.high_water_mark("id")
    assert got_ts == t.high_water_mark("ts")
    # after an upsert the footers must reflect the new maximum
    t.merge_upsert(
        df.filter("id = 50").withColumn("id", F.lit(99)), ["id"]
    )
    assert t.high_water_mark_stats("id") == t.high_water_mark("id") == 99

    tp = ParquetTable(spark, os.path.join(tmp_path, "part"))
    tp.overwrite(df, partition_by=["p"])
    assert tp.high_water_mark_stats("id") == tp.high_water_mark("id")
    assert tp.high_water_mark_stats("p") == tp.high_water_mark("p")  # fallback



def test_footer_stats_skip_uncommitted_residue(spark, tmp_path):
    """The footer walk lists files the way Spark's reader does: a path
    component starting with `_` or `.` is metadata or uncommitted
    residue. A crashed writer's `_temporary` attempt file must not
    raise the HWM (an incremental model would then skip every source
    row up to it) or the row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = ParquetTable(spark, os.path.join(tmp_path, "tbl"))
    t.overwrite(spark.range(100).select(F.col("id").alias("k")))
    attempt = os.path.join(t.path, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(attempt)
    pq.write_table(pa.table({"k": pa.array([1_000_000], pa.int64())}),
                   os.path.join(attempt, "part-00000.parquet"))
    os.makedirs(os.path.join(t.path, ".hidden"))
    pq.write_table(pa.table({"k": pa.array([2_000_000], pa.int64())}),
                   os.path.join(t.path, ".hidden", "part-00000.parquet"))
    assert t.high_water_mark_stats("k") == t.high_water_mark("k") == 99
    assert t.row_count_stats() == t.read().count() == 100


def test_footer_stats_read_underscore_partition_dirs(spark, tmp_path):
    """Spark keeps `_`-prefixed names that hold `=` (a partition
    column named `_p`), so the footer walk must count those files."""
    t = ParquetTable(spark, os.path.join(tmp_path, "tbl"))
    t.overwrite(
        spark.range(30).select(F.col("id").alias("k"), (F.col("id") % 3).alias("_p")),
        partition_by=["_p"],
    )
    assert any(d.startswith("_p=") for d in os.listdir(t.path))
    assert t.row_count_stats() == t.read().count() == 30
    assert t.high_water_mark_stats("k") == t.high_water_mark("k") == 29


def test_locked_timestamp_conf_still_writes(spark, tmp_path, monkeypatch):
    """A session that refuses the outputTimestampType conf (Connect
    policy) still gets a working writer; only an AnalysisException is
    tolerated, and the footer HWM still equals the scan."""
    from pyspark.errors import AnalysisException

    def locked(key, value):
        raise AnalysisException("CANNOT_MODIFY_CONFIG: " + key)

    monkeypatch.setattr(spark.conf, "set", locked)
    t = ParquetTable(spark, os.path.join(tmp_path, "tbl"))
    t.overwrite(spark.range(10).select(F.col("id").alias("k")))
    assert t.high_water_mark_stats("k") == t.high_water_mark("k") == 9

    def broken(key, value):
        raise RuntimeError("not a conf refusal")

    monkeypatch.setattr(spark.conf, "set", broken)
    with pytest.raises(RuntimeError):
        ParquetTable(spark, os.path.join(tmp_path, "tbl"))

def test_merge_roundtrip_explicit_file_scheme(spark, tmp_path):
    """S8: the writer must be filesystem-scheme-clean — the same code
    path serves file://, s3a://, gs:// via the Hadoop FileSystem API.
    Exercised here with an explicit file:// URI (swap dance included);
    object stores differ only in connector config, not code."""
    t = ParquetTable(spark, f"file://{tmp_path}/scheme_t")
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    t.merge_upsert(spark.createDataFrame([(2, "b2"), (3, "c")], "id int, v string"), ["id"])
    assert sorted((r.id, r.v) for r in t.read().collect()) == [(1, "a"), (2, "b2"), (3, "c")]
    assert t.high_water_mark("id") == 3


def test_file_count_bounded_over_merge_cycles_and_compact(spark, tmp_path):
    """Small-file discipline: 20 partition-scoped merge cycles into the
    same hot partition must not accumulate files (each affected
    partition is swapped to fresh files), and the compact() maintenance
    verb rewrites append-mode accumulation back to one file per
    partition without changing content."""
    import os as _os

    t = ParquetTable(spark, _os.path.join(tmp_path, "fact"))
    base = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("month"),
        F.lit(0).alias("v"),
    )
    t.overwrite(base, partition_by=["month"])
    after_first = t.file_count()

    for cycle in range(1, 21):
        delta = spark.range(5).select(
            F.col("id").alias("k"),
            F.lit("1").alias("month"),  # hot partition
            F.lit(cycle).alias("v"),
        )
        t.merge_upsert(delta, ["k"], partition_by=["month"])
    # merge cycles rewrite affected partitions in place: bounded, no growth
    assert t.file_count() <= after_first + 2

    # append-mode accumulation (snapshot-style): one file set per run
    ap = ParquetTable(spark, _os.path.join(tmp_path, "appendy"))
    for day in range(10):
        rows = spark.range(20).select(
            F.col("id").alias("k"),
            F.lit(f"d{day}").alias("month"),
            F.lit(day).alias("v"),
        )
        rows.coalesce(2).write.mode("append").partitionBy("month").parquet(ap.path)
    before_files = ap.file_count()
    before_rows = sorted(tuple(r) for r in ap.read().collect())
    ap.compact(partition_by=["month"])
    assert ap.file_count() <= 10  # one file per partition
    assert ap.file_count() < before_files
    assert sorted(tuple(r) for r in ap.read().collect()) == before_rows

    # scoped compaction: only the filtered partition is touched
    for _ in range(3):
        spark.range(10).select(
            F.col("id").alias("k"), F.lit("d0").alias("month"), F.lit(99).alias("v")
        ).coalesce(3).write.mode("append").partitionBy("month").parquet(ap.path)
    rows_all = sorted(tuple(r) for r in ap.read().collect())
    ap.compact(partition_by=["month"], partition_filter=F.col("month") == "d0")
    d0_files = [
        f for f in _os.listdir(_os.path.join(ap.path, "month=d0"))
        if not f.startswith(("_", "."))
    ]
    assert len(d0_files) == 1
    assert sorted(tuple(r) for r in ap.read().collect()) == rows_all

    # unpartitioned: shuffle-task fan-out collapses to size-appropriate count
    up = ParquetTable(spark, _os.path.join(tmp_path, "unpart"))
    up.overwrite(spark.range(1000).repartition(16).select(F.col("id").alias("k")))
    assert up.file_count() >= 8
    n_before = up.read().count()
    up.compact()
    assert up.file_count() == 1
    assert up.read().count() == n_before


def test_merge_schema_drift_tolerance(spark, tmp_path):
    """Reference drift parity (base_loader.py:830-841): a delta with a
    source-only column merges with that column DROPPED; a delta missing
    a target column merges with NULL fill at the target's type; a
    shared column arriving as a narrower type is cast to the target's."""
    from pyspark.sql import functions as F

    t = ParquetTable(spark, os.path.join(tmp_path, "drift"))
    t.overwrite(spark.createDataFrame([(1, "a", 5.0)], "id int, v string, w double"))
    # extra column dropped
    t.merge_upsert(
        spark.createDataFrame([(2, "b", 6.0, "junk")], "id int, v string, w double, extra string"),
        ["id"],
    )
    assert sorted(t.read().columns) == ["id", "v", "w"]
    # missing column null-filled
    t.merge_upsert(spark.createDataFrame([(3, "c")], "id int, v string"), ["id"])
    rows = {r.id: (r.v, r.w) for r in t.read().collect()}
    assert rows == {1: ("a", 5.0), 2: ("b", 6.0), 3: ("c", None)}
    # narrower shared type cast to target (int -> double)
    t.merge_upsert(
        spark.createDataFrame([(4, "d", 7)], "id int, v string, w int"), ["id"]
    )
    assert t.read().schema["w"].dataType.typeName() == "double"
    assert {r.w for r in t.read().filter("id = 4").collect()} == {7.0}
    # partitioned path gets the same tolerance
    tp = ParquetTable(spark, os.path.join(tmp_path, "driftp"))
    tp.overwrite(
        spark.createDataFrame([(1, "a", 10)], "id int, v string, p int"),
        partition_by=["p"],
    )
    tp.merge_upsert(
        spark.createDataFrame([(2, "b", 10, True)], "id int, v string, p int, junk boolean"),
        ["id"],
        partition_by=["p"],
    )
    assert sorted(tp.read().columns) == ["id", "p", "v"]
    assert tp.read().count() == 2


def test_sweep_tmp_removes_only_crash_orphans(spark, tmp_path, base_df):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)
    # fake crash leftovers of every class + an unrelated sibling
    os.makedirs(os.path.join(tmp_path, "t.tmp-deadbeef"))
    os.makedirs(os.path.join(tmp_path, "t.tmp-cafe0001/sub"))
    os.makedirs(os.path.join(tmp_path, "t.old-12ab34cd"))
    os.makedirs(os.path.join(tmp_path, "t.erase-tmp-55aa55aa"))
    os.makedirs(os.path.join(tmp_path, "t_other"))
    assert t.sweep_tmp() == 4
    assert not os.path.exists(os.path.join(tmp_path, "t.tmp-deadbeef"))
    assert not os.path.exists(os.path.join(tmp_path, "t.old-12ab34cd"))
    assert os.path.exists(os.path.join(tmp_path, "t_other"))
    # table contents untouched; idempotent
    assert _rows(t) == [(1, "a", 10), (2, "b", 10), (3, "c", 10)]
    assert t.sweep_tmp() == 0


def test_sweep_tmp_keeps_backup_when_live_table_missing(spark, tmp_path, base_df):
    """Crash window where the live dir was renamed away: the .old-
    backup IS the data — the sweep must leave it for recovery."""
    t = ParquetTable(spark, os.path.join(tmp_path, "gone"))
    os.makedirs(os.path.join(tmp_path, "gone.old-deadbeef"))
    os.makedirs(os.path.join(tmp_path, "gone.tmp-deadbeef"))
    assert t.sweep_tmp() == 1  # tmp swept, backup preserved
    assert os.path.exists(os.path.join(tmp_path, "gone.old-deadbeef"))


# ---------------------------------------------------------------------------
# inferred members (Kimball late-arriving dimension)
# ---------------------------------------------------------------------------
def test_inferred_members_seed_then_real_row_replaces(spark, tmp_path):
    from nomba_data_pipeline_spark.operators.merge import ensure_inferred_members

    dim = ParquetTable(spark, os.path.join(tmp_path, "dim"))
    dim.overwrite(
        spark.createDataFrame(
            [(1, "retail", "NG")], "plan_id int, segment string, country string"
        )
    )
    fact = spark.createDataFrame(
        [(101, 1), (102, 7), (103, 7), (104, None)], "txn_id int, plan_id int"
    )
    n = ensure_inferred_members(dim, fact, "plan_id", {"segment": "UNKNOWN"})
    assert n == 1  # plan 7 once (dedup), NULL key skipped
    rows = {r.plan_id: (r.segment, r.country) for r in dim.read().collect()}
    assert rows == {1: ("retail", "NG"), 7: ("UNKNOWN", None)}
    # replay infers nothing new
    assert ensure_inferred_members(dim, fact, "plan_id", {"segment": "UNKNOWN"}) == 0
    # the real dimension row later replaces the placeholder wholesale
    dim.merge_upsert(
        spark.createDataFrame(
            [(7, "corporate", "KE")], "plan_id int, segment string, country string"
        ),
        ["plan_id"],
    )
    rows = {r.plan_id: (r.segment, r.country) for r in dim.read().collect()}
    assert rows[7] == ("corporate", "KE")


def test_inferred_members_missing_dim_refuses(spark, tmp_path):
    """Bootstrapping a dim from a placeholder would freeze its schema
    at key+defaults and silently truncate every later real load (the
    merge aligns deltas to the target schema) — must refuse."""
    import pytest

    from nomba_data_pipeline_spark.operators.merge import ensure_inferred_members

    dim = ParquetTable(spark, os.path.join(tmp_path, "dim"))
    fact = spark.createDataFrame([(1, 5)], "txn_id int, plan_id int")
    with pytest.raises(ValueError, match="does not exist"):
        ensure_inferred_members(dim, fact, "plan_id")


# -- type-promotion schema evolution (promote_types) ------------------------


def test_is_widening_lattice():
    """The promotion lattice admits only exactly-representable moves."""
    import pyspark.sql.types as T

    from nomba_data_pipeline_spark.operators.merge import _is_widening

    assert _is_widening(T.IntegerType(), T.LongType())
    assert _is_widening(T.ByteType(), T.ShortType())
    assert _is_widening(T.FloatType(), T.DoubleType())
    assert _is_widening(T.IntegerType(), T.DoubleType())  # 32 bits < 53-bit mantissa
    assert _is_widening(T.DecimalType(10, 2), T.DecimalType(18, 4))
    assert _is_widening(T.IntegerType(), T.DecimalType(12, 2))
    # NOT widenings: value loss or semantic change
    assert not _is_widening(T.LongType(), T.IntegerType())
    assert not _is_widening(T.LongType(), T.DoubleType())  # > 2^53 loses precision
    assert not _is_widening(T.DecimalType(18, 4), T.DecimalType(18, 2))
    assert not _is_widening(T.DecimalType(10, 2), T.DecimalType(10, 4))  # int digits shrink
    assert not _is_widening(T.StringType(), T.IntegerType())
    assert not _is_widening(T.DateType(), T.TimestampType())
    assert not _is_widening(T.LongType(), T.DecimalType(10, 0))  # needs 19 digits


def test_promote_types_int_to_bigint(spark, tmp_path, base_df):
    """A late batch whose id column grew past int range: evolve_schema
    promotes the stored column to bigint ONCE; the overflowing value
    survives exactly (the old cast-to-target would have corrupted it)."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)  # id is int
    delta = spark.createDataFrame(
        [(2, "b2", "Y", 20), (5_000_000_000, "big", "Z", 20)],
        "id bigint, name string, state string, v int",
    )
    t.merge_upsert(delta, ["id"], evolve_schema=True)
    assert dict(t.read().dtypes)["id"] == "bigint"
    rows = {r.id: r.name for r in t.read().collect()}
    assert rows == {1: "a", 2: "b2", 3: "c", 5_000_000_000: "big"}
    # later merges are plain O(touched) with the evolved schema
    t.merge_upsert(
        spark.createDataFrame(
            [(5_000_000_000, "big2", "Z", 30)],
            "id bigint, name string, state string, v int",
        ),
        ["id"],
    )
    assert {r.name for r in t.read().collect() if r.id == 5_000_000_000} == {"big2"}


def test_promote_types_refuses_non_widening_drift(spark, tmp_path, base_df):
    """Incompatible drift (int -> string) must raise, never narrow."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)
    delta = spark.createDataFrame(
        [("2", "b2", "Y", 20)], "id string, name string, state string, v int"
    )
    with pytest.raises(ValueError, match="not a safe widening"):
        t.merge_upsert(delta, ["id"], evolve_schema=True)
    # and bigint stored -> double delta (would lose > 2^53 ids)
    t2 = ParquetTable(spark, os.path.join(tmp_path, "t2"))
    t2.overwrite(
        spark.createDataFrame([(1, 1.0)], "id bigint, x double")
    )
    with pytest.raises(ValueError, match="not a safe widening"):
        t2.promote_types(spark.createDataFrame([(1.0, 1.0)], "id double, x double"))


def test_promote_types_narrower_delta_needs_no_rewrite(spark, tmp_path):
    """A delta NARROWER than the target (int into bigint) is lossless
    under cast-to-target: promote_types must not rewrite anything."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id bigint, name string"))
    promoted = t.promote_types(
        spark.createDataFrame([(2, "b")], "id int, name string")
    )
    assert promoted == []
    assert dict(t.read().dtypes)["id"] == "bigint"


def test_promote_types_preserves_partition_layout(spark, tmp_path):
    """The one-time promote rewrite keeps the hive layout (same rule
    as widen_to), so later merges stay partition-scoped."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "X", 10), (2, "Y", 20)], "id int, state string, v int"
        ),
        partition_by=["state"],
    )
    t.promote_types(
        spark.createDataFrame([(1, "X", 10)], "id bigint, state string, v int"),
        partition_by=["state"],
    )
    assert dict(t.read().dtypes)["id"] == "bigint"
    parts = {
        p for p in os.listdir(os.path.join(tmp_path, "t")) if p.startswith("state=")
    }
    assert parts == {"state=X", "state=Y"}


def test_promote_types_property_never_loses_values(spark, tmp_path):
    """PROPERTY (boundary-driven): for every admitted widening move,
    values at the extreme of the SOURCE type survive the promotion
    rewrite exactly; and every admitted move round-trips src->dst->src
    without change (the lattice's exact-representability contract)."""
    import pyspark.sql.types as T

    from nomba_data_pipeline_spark.operators.merge import _is_widening

    cases = [
        (T.ByteType(), T.ShortType(), [-128, 127]),
        (T.ShortType(), T.IntegerType(), [-32768, 32767]),
        (T.IntegerType(), T.LongType(), [-2147483648, 2147483647]),
        (T.IntegerType(), T.DoubleType(), [-2147483648, 2147483647]),
        (T.FloatType(), T.DoubleType(), [3.5, -0.015625]),  # exact binary fracs
        (T.DecimalType(10, 2), T.DecimalType(18, 4), ["99999999.99", "-0.01"]),
        (T.IntegerType(), T.DecimalType(12, 2), [-2147483648, 2147483647]),
    ]
    from decimal import Decimal

    for src, dst, extremes in cases:
        assert _is_widening(src, dst), (src, dst)
        vals = [
            Decimal(v) if isinstance(src, T.DecimalType) else v for v in extremes
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)],
            T.StructType(
                [T.StructField("id", T.IntegerType()), T.StructField("x", src)]
            ),
        )
        t = ParquetTable(
            spark, os.path.join(tmp_path, f"t_{src.simpleString()}_{dst.simpleString()}")
        )
        t.overwrite(df)
        delta = df.limit(0).select("id", F.col("x").cast(dst).alias("x"))
        assert t.promote_types(delta) == ["x"]
        out = t.read()
        assert out.schema["x"].dataType == dst
        # round-trip back to the source type is lossless
        back = {r.id: r.b for r in out.select("id", F.col("x").cast(src).alias("b")).collect()}
        fwd = {r.id: r.x for r in out.collect()}
        orig = {i: v for i, v in enumerate(vals)}
        for i in orig:
            assert back[i] == orig[i], (src, dst, i, back[i], orig[i])
            if not isinstance(src, T.DecimalType):
                assert fwd[i] == orig[i] or float(fwd[i]) == float(orig[i])


def test_merge_upsert_dedup_evolve_schema(spark, tmp_path, base_df):
    """O8 keep-latest honors the same opt-in evolution as merge_upsert:
    a drifted delta widens the target (new column) and promotes a
    widened shared type (v int -> bigint) before the keep-latest merge."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    t.overwrite(base_df)  # id/name/state/v(int)
    delta = spark.createDataFrame(
        [(2, "b2", "Y", 5_000_000_000, "eu"), (2, "b1", "Y", 15, "us")],
        "id int, name string, state string, v bigint, region string",
    )
    t.merge_upsert_dedup(delta, ["id"], "v", evolve_schema=True)
    dt = dict(t.read().dtypes)
    assert dt["v"] == "bigint" and "region" in dt
    rows = {r.id: (r.name, r.v, r.region) for r in t.read().collect()}
    # keep-latest by v: the 5e9 correction wins for id=2
    assert rows[2] == ("b2", 5_000_000_000, "eu")
    assert rows[1] == ("a", 10, None)


def test_partition_write_heals_empty_flat_root(spark, tmp_path):
    """An all-rows erasure keeps a partitioned table readable as ONE
    empty unpartitioned file (erase_subject's fallback); the next
    partition-scoped write must heal that residue instead of swapping
    partition dirs in AROUND it — the mixed flat+hive layout makes the
    table unreadable (ADVICE r11)."""
    import glob as _glob

    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    df = spark.createDataFrame(
        [(1, "a", "X", 1), (2, "b", "Y", 1)], "id int, name string, state string, v int"
    )
    t.overwrite(df, partition_by=["state"])
    # the erase-everything fallback shape: one empty flat file
    t.overwrite(df.limit(0).drop("state").withColumn("state", F.lit(None).cast("string")).repartition(1))
    root_files = [
        f for f in os.listdir(os.path.join(tmp_path, "t"))
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(tmp_path, "t", f))
    ]
    assert root_files, "precondition: flat empty residue exists"

    delta = spark.createDataFrame([(3, "c", "X", 2)], "id int, name string, state string, v int")
    t.merge_upsert(delta, ["id"], partition_by=["state"])
    # root data files healed away; table readable with a clean hive layout
    root_files = [
        f for f in os.listdir(os.path.join(tmp_path, "t"))
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(tmp_path, "t", f))
    ]
    assert root_files == []
    assert _glob.glob(os.path.join(tmp_path, "t", "state=*"))
    assert _rows(t) == [(3, "c", 2)]


def test_partition_write_refuses_nonempty_flat_root(spark, tmp_path):
    """A partition-scoped rewrite against a GENUINELY flat table would
    silently drop every row outside the swapped dirs — refuse loudly."""
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    df = spark.createDataFrame(
        [(1, "a", "X", 1), (2, "b", "Y", 1)], "id int, name string, state string, v int"
    )
    t.overwrite(df)  # flat, non-empty
    delta = spark.createDataFrame([(3, "c", "X", 2)], "id int, name string, state string, v int")
    with pytest.raises(ValueError, match="flat"):
        t.insert_overwrite_partitions(delta, ["state"])


def test_layout_partition_cols_derivation(spark, tmp_path):
    t = ParquetTable(spark, os.path.join(tmp_path, "t"))
    assert t._layout_partition_cols() == []
    df = spark.createDataFrame(
        [(1, "a", "X", 10), (2, "b", "Y", 20)], "id int, name string, state string, v int"
    )
    t.overwrite(df, partition_by=["state", "v"])
    assert t._layout_partition_cols() == ["state", "v"]
    t2 = ParquetTable(spark, os.path.join(tmp_path, "t2"))
    t2.overwrite(df)
    assert t2._layout_partition_cols() == []
