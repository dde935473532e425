"""`catalog.read_parquet` hands Spark the schema it would infer.

`footers.spark_schema` answers from footers on the driver; a wrong
answer would silently retype a column, so every table layout the
engine writes is checked against Spark's own inference, and every
footer the rule does not cover must answer None (Spark infers).
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.catalog import TABLES, load_table, read_parquet
from nomba_data_pipeline_spark.operators.footers import spark_schema
from nomba_data_pipeline_spark.operators.merge import ParquetTable
from tests.conftest import SF_SMALL


def _same(spark, *paths, **options):
    got = read_parquet(spark, *paths, **options).schema
    want = spark.read.options(**options).parquet(*paths).schema
    assert got == want
    assert [f.metadata for f in got] == [f.metadata for f in want]


def _jobs_during(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _frame(spark, n=60):
    return spark.range(n).select(
        "id",
        F.col("id").cast("int").alias("i"),
        (F.col("id") % 7).cast("string").alias("s"),
        F.expr("date_add(date'2024-01-01', cast(id % 5 as int))").alias("d"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)")
        .alias("ts"),
        F.expr("to_timestamp_ntz('2024-01-01 10:00:00') + make_interval(0,0,0,0,0,0,id)").alias("ntz"),
        F.col("id").cast("decimal(12,2)").alias("amt"),
        F.array("id", F.col("id") + 1).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.col("id").cast("double").alias("x"),
    )


def test_flat_table_schema_matches_inference(spark, tmp_path):
    p = str(tmp_path / "flat")
    _frame(spark).repartition(3).write.parquet(p)
    assert spark_schema(spark, [p]) is not None
    _same(spark, p)
    # a single file named directly, and several paths at once
    one = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))[0]
    _same(spark, os.path.join(p, one))
    _same(spark, p, p)


def test_hive_partitions_keep_inferred_partition_types(spark, tmp_path):
    p = str(tmp_path / "parts")
    df = _frame(spark).withColumn("k", F.col("id") % 4).withColumn(
        "day", F.expr("date_add(date'2024-02-01', cast(id % 3 as int))")
    ).withColumn(
        "_src", F.when(F.col("id") % 5 == 0, None).otherwise(F.col("s"))
    )
    df.write.partitionBy("k", "day", "_src").parquet(p)
    assert any("__HIVE_DEFAULT_PARTITION__" in d for _, ds, _ in os.walk(p) for d in ds)
    assert any(d.startswith("_src=") for _, ds, _ in os.walk(p) for d in ds)
    assert spark_schema(spark, [p]) is not None
    _same(spark, p)
    got = read_parquet(spark, p)
    want = spark.read.parquet(p)
    assert sorted(got.collect()) == sorted(want.collect())


def test_scd2_closed_layout_and_base_path(spark, tmp_path):
    closed = str(tmp_path / "users_snapshot__closed")
    hist = _frame(spark, 30).select(
        F.col("id").alias("user_id"), "s", F.col("ts").alias("valid_from"),
        F.col("ts").alias("valid_to"),
        (F.col("id") % 3).alias("batch_id"),
        F.col("d").alias("close_date"),
    )
    hist.write.partitionBy("batch_id", "close_date").parquet(closed)
    _same(spark, closed)
    batches = sorted(
        os.path.join(closed, b) for b in os.listdir(closed) if b.startswith("batch_id=")
    )
    assert spark_schema(spark, batches[:2]) is not None
    _same(spark, *batches[:2], basePath=closed)


def test_lsh_index_lists(spark, tmp_path):
    from nomba_data_pipeline_spark.operators.similarity import (
        lsh_index_read,
        lsh_index_write,
    )

    emb = load_table(spark, SF_SMALL, "embeddings").limit(200)
    path = str(tmp_path / "lsh")
    lsh_index_write(emb, path)
    assert spark_schema(spark, [path + "/lists"]) is not None
    _same(spark, path + "/lists")
    n = _jobs_during(spark, "lsh-read", lambda: lsh_index_read(spark, path).schema)
    assert n == []


def test_generated_sources(spark, tmp_path):
    # the pyarrow types the generators write: no Spark row metadata
    us = pa.array([dt.datetime(2024, 1, 1, 10), None], pa.timestamp("us"))
    t = pa.table({
        "a": pa.array([1, 2], pa.int32()),
        "b": pa.array([1, None], pa.int64()),
        "f": pa.array([1.5, 2.5], pa.float32()),
        "x": pa.array([1.5, None], pa.float64()),
        "ok": [True, False],
        "s": ["u", None],
        "ls": pa.array(["u", "v"], pa.large_string()),
        "d": pa.array([dt.date(2024, 1, 1), None]),
        "ts": us,
        "tz": pa.array([dt.datetime(2024, 1, 1)] * 2, pa.timestamp("us", tz="UTC")),
        "emb": pa.array([[0.5, 1.0], None], pa.list_(pa.float32())),
        "ids": pa.array([[1], []], pa.list_(pa.field("item", pa.int64(), False))),
    })
    p = str(tmp_path / "src")
    os.makedirs(p)
    pq.write_table(t, os.path.join(p, "part-0.parquet"))
    pq.write_table(t.slice(1), os.path.join(p, "part-1.parquet"))
    assert spark_schema(spark, [p]) is not None
    _same(spark, p)
    assert sorted(map(str, read_parquet(spark, p).collect())) == sorted(
        map(str, spark.read.parquet(p).collect())
    )


@pytest.mark.parametrize("name", TABLES)
def test_testdata_tables_load_as_spark_infers(spark, name):
    load_table(spark, SF_SMALL, name)  # pins the session confs it needs
    _same(spark, os.path.join(SF_SMALL, f"{name}.parquet"))


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_naive_micros_follow_infer_ntz_conf(spark, tmp_path, ntz):
    p = str(tmp_path / "naive")
    os.makedirs(p)
    pq.write_table(
        pa.table({"ts": pa.array([dt.datetime(2024, 3, 10, 2, 30)], pa.timestamp("us"))}),
        os.path.join(p, "part-0.parquet"),
    )
    # Spark-written: the row-metadata key decides, whatever the conf
    sp = str(tmp_path / "spark_ntz")
    spark.range(2).select(
        F.expr("to_timestamp_ntz('2024-03-10 02:30:00')").alias("ts")
    ).write.parquet(sp)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, ntz)
    try:
        want = "timestamp_ntz" if ntz == "true" else "timestamp"
        assert spark_schema(spark, [p])["ts"].dataType.simpleString() == want
        _same(spark, p)
        _same(spark, sp)
    finally:
        spark.conf.set(key, old)


def _write(dirpath, name, table, **kw):
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(table, os.path.join(dirpath, name), **kw)


def test_uncovered_footers_answer_none(spark, tmp_path):
    ts = [dt.datetime(2024, 1, 1, 10)]
    cases = {
        "disagree": [
            ("a.parquet", pa.table({"a": pa.array([1], pa.int64())}), {}),
            ("b.parquet", pa.table({"a": pa.array([1], pa.int32())}), {}),
        ],
        "int96": [("a.parquet", pa.table({"t": pa.array(ts, pa.timestamp("us"))}),
                   {"use_deprecated_int96_timestamps": True})],
        "nanos": [("a.parquet", pa.table({"t": pa.array(ts, pa.timestamp("ns"))}), {})],
        "binary": [("a.parquet", pa.table({"b": pa.array([b"x"])}), {})],
        "millis": [("a.parquet", pa.table({"t": pa.array(ts, pa.timestamp("ms"))}), {})],
        "decimal": [("a.parquet", pa.table({"x": pa.array([1], pa.decimal128(5, 2))}), {})],
        "struct": [("a.parquet", pa.table({"s": [{"a": 1}]}), {})],
        "int8": [("a.parquet", pa.table({"a": pa.array([1], pa.int8())}), {})],
    }
    for name, files in cases.items():
        d = tmp_path / name
        for fname, table, kw in files:
            _write(d, fname, table, **kw)
        assert spark_schema(spark, [str(d)]) is None, name
    # a data column that is also a partition directory name
    _write(tmp_path / "dup" / "a=1", "x.parquet", pa.table({"a": [1]}))
    assert spark_schema(spark, [str(tmp_path / "dup")]) is None
    # Spark-written next to pyarrow-written: the row key is on some only
    mixed = str(tmp_path / "mixed")
    spark.range(3).write.parquet(mixed)
    _write(mixed, "z.parquet", pa.table({"id": pa.array([9], pa.int64())}))
    assert spark_schema(spark, [mixed]) is None
    summary = str(tmp_path / "summary")
    spark.range(3).write.parquet(summary)
    _write(summary, "_common_metadata", pa.table({"id": pa.array([1], pa.int64())}))
    assert spark_schema(spark, [summary]) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert spark_schema(spark, [str(empty)]) is None
    assert spark_schema(spark, [str(tmp_path / "missing")]) is None
    assert spark_schema(spark, ["hdfs://nn:8020/wh/t"]) is None
    assert spark_schema(spark, [str(tmp_path / "*")]) is None


def test_merge_schema_read_is_spark_inference(spark, tmp_path):
    p = str(tmp_path / "evo")
    spark.range(3).write.parquet(p)
    spark.range(3).withColumn("extra", F.lit("x")).write.mode("append").parquet(p)
    _same(spark, p, mergeSchema="true")
    assert "extra" in read_parquet(spark, p, mergeSchema="true").columns


def test_partitioned_table_read_submits_no_job(spark, tmp_path):
    """Building the DataFrame for a local 40-partition table lists its
    directories on the driver and takes the schema from its footers:
    no listing job, no schema-inference job."""
    p = str(tmp_path / "wide")
    spark.range(400).withColumn("month", F.col("id") % 40).write.partitionBy(
        "month"
    ).parquet(p)
    t = ParquetTable(spark, p)
    jobs = _jobs_during(spark, "zero-job-read", lambda: t.read().schema)
    assert jobs == []
    assert t.read().count() == 400
