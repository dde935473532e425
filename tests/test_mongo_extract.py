"""S1 composed Mongo-stage extraction: option semantics. The ingest
loop end to end (stage -> extract -> load) is the registry row
`mongo_extract_events`."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.sources.mongo import (
    extract_mongo_stage,
    stage_mongo_dump,
)

DOCS = [
    # (_id.$oid, doc_id, updated_at, status, nested{a,b}, secret)
    ("a1", 1, "2024-01-01 10:00:00.000001", "ok", {"a": 1, "b": "x"}, "s1"),
    ("a2", 2, "2024-01-02 10:00:00.000002", "ok", {"a": 2, "b": "y"}, "s2"),
    ("a3", 3, "2024-01-03 10:00:00.000003", "bad", {"a": 3, "b": "z"}, "s3"),
]

SCHEMA = (
    "_id struct<`$oid`: string>, doc_id long, updated_at string, "
    "status string, nested struct<a: long, b: string>, secret string"
)


def _stage(spark, tmp_path, docs, name="stage"):
    path = os.path.join(str(tmp_path), name)
    df = spark.createDataFrame(
        [(({"$oid": o}), i, u, s, n, sec) for o, i, u, s, n, sec in docs], SCHEMA
    ).withColumn("updated_at", F.to_timestamp("updated_at"))
    stage_mongo_dump(df, path)
    return path


def test_extract_composes_all_options(spark, tmp_path):
    path = _stage(spark, tmp_path, DOCS)
    out = extract_mongo_stage(
        spark,
        path,
        tracking_column="updated_at",
        last_value="2024-01-02 00:00:00",
        query_filter=F.col("status") == "ok",
        fields_to_delete=["secret", "nested.b"],
        flatten_nested=True,
    )
    assert sorted(out.columns) == ["_id_oid", "doc_id", "nested_a", "status", "updated_at"]
    rows = out.collect()
    assert [(r._id_oid, r.doc_id, r.nested_a) for r in rows] == [("a2", 2, 2)]
    # microsecond precision survived the JSON stage round-trip
    assert rows[0].updated_at.microsecond == 2


def test_extract_projection_prunes_before_processing(spark, tmp_path):
    path = _stage(spark, tmp_path, DOCS)
    out = extract_mongo_stage(
        spark, path, projection=["doc_id", "nested"], flatten_nested=True
    )
    assert sorted(out.columns) == ["doc_id", "nested_a", "nested_b"]
    assert out.count() == 3


def test_strip_dollar_collision_is_safe(spark):
    """A doc with both '$type' and 'type' must not produce two columns
    named 'type' (AMBIGUOUS_REFERENCE downstream) — the '$' falls back
    to '_' on collision."""
    from nomba_data_pipeline_spark.sources.mongo import _strip_dollar_names

    df = spark.createDataFrame([(1, 2)], "`$type` int, type int")
    out = _strip_dollar_names(df)
    assert sorted(out.columns) == ["_type", "type"]
    assert out.first()._type == 1 and out.first().type == 2


def test_stage_preserves_all_null_columns(spark, tmp_path):
    """A field that is null in EVERY staged row must survive the JSON
    round-trip as a column (default ignoreNullFields drops the key from
    every line and with it the column from the inferred schema)."""
    import os

    from nomba_data_pipeline_spark.sources.mongo import (
        extract_mongo_stage,
        stage_mongo_dump,
    )

    stage = os.path.join(tmp_path, "nullstage")
    df = spark.createDataFrame(
        [(1, None), (2, None)], "id bigint, secret string"
    )
    stage_mongo_dump(df, stage)
    back = extract_mongo_stage(spark, stage, projection=["id", "secret"])
    assert sorted(back.columns) == ["id", "secret"]
    assert back.filter("secret IS NULL").count() == 2


def test_extract_casts_dotted_key(spark, tmp_path):
    """A staged key holding '.' is one column, not a nested path: the
    timestamp cast must resolve `meta.ts` as a name (UNRESOLVED_COLUMN
    otherwise)."""
    import datetime as dt

    stage = tmp_path / "dotted"
    stage.mkdir()
    (stage / "part-0.json").write_text(
        '{"id": 1, "meta.ts": "2024-01-01 10:00:00"}\n'
        '{"id": 2, "meta.ts": "2024-01-02 11:30:00"}\n'
    )
    out = extract_mongo_stage(spark, str(stage))
    assert dict(out.dtypes)["meta.ts"] == "timestamp_ntz"
    rows = sorted(out.select("id", F.col("`meta.ts`")).collect())
    assert [r[1] for r in rows] == [
        dt.datetime(2024, 1, 1, 10, 0), dt.datetime(2024, 1, 2, 11, 30),
    ]
