"""Dead-letter-queue ingestion: malformed JSON lines are quarantined
with lineage, good rows load schema-clean, and batch replay never
duplicates DLQ rows."""

from __future__ import annotations

import os

from pyspark.sql.types import LongType, StringType, StructField, StructType

from nomba_data_pipeline_spark.sources.staged import read_stage_with_dlq

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
    ]
)


def _stage(tmp_path, lines, name="stage"):
    d = os.path.join(tmp_path, name)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return d


def test_bad_rows_quarantined_good_rows_load(spark, tmp_path):
    stage = _stage(
        tmp_path,
        [
            '{"id": 1, "name": "a"}',
            "{not json at all",
            '{"id": 2, "name": "b"}',
            '{"id": "garbage-type"}',
        ],
    )
    dlq = os.path.join(tmp_path, "dlq")
    good, n_bad = read_stage_with_dlq(spark, stage, SCHEMA, dlq, "b1")
    assert n_bad == 2
    assert sorted((r.id, r.name) for r in good.collect()) == [(1, "a"), (2, "b")]
    assert good.columns == ["id", "name"]
    quarantined = spark.read.parquet(os.path.join(dlq, "batch_id=b1"))
    records = sorted(r.record for r in quarantined.collect())
    assert records == ['{"id": "garbage-type"}', "{not json at all"]
    # lineage points at the actual stage file
    assert all("part-0.json" in r.src_file for r in quarantined.collect())


def test_partial_rows_are_not_corrupt(spark, tmp_path):
    # well-formed JSON with missing/extra fields is drift, not corruption
    stage = _stage(
        tmp_path, ['{"id": 3}', '{"id": 4, "name": "d", "extra": 1}']
    )
    dlq = os.path.join(tmp_path, "dlq")
    good, n_bad = read_stage_with_dlq(spark, stage, SCHEMA, dlq, "b1")
    assert n_bad == 0
    assert sorted((r.id, r.name) for r in good.collect()) == [
        (3, None),
        (4, "d"),
    ]
    assert not os.path.exists(os.path.join(dlq, "batch_id=b1"))


def test_replay_overwrites_not_duplicates(spark, tmp_path):
    stage = _stage(tmp_path, ['{"id": 1, "name": "a"}', "oops"])
    dlq = os.path.join(tmp_path, "dlq")
    for _ in range(2):
        good, n_bad = read_stage_with_dlq(spark, stage, SCHEMA, dlq, "b7")
        assert n_bad == 1
    quarantined = spark.read.parquet(os.path.join(dlq, "batch_id=b7"))
    assert quarantined.count() == 1


def test_two_batches_keep_separate_dlq_partitions(spark, tmp_path):
    s1 = _stage(tmp_path, ["bad1"], name="s1")
    s2 = _stage(tmp_path, ["bad2", "bad3"], name="s2")
    dlq = os.path.join(tmp_path, "dlq")
    read_stage_with_dlq(spark, s1, SCHEMA, dlq, "b1")
    read_stage_with_dlq(spark, s2, SCHEMA, dlq, "b2")
    all_bad = spark.read.parquet(dlq)
    assert all_bad.count() == 3
    assert sorted(
        r.batch_id for r in all_bad.select("batch_id").distinct().collect()
    ) == ["b1", "b2"]
