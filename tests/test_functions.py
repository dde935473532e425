"""Unit tests for nested helpers, inference, and text functions."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.functions.nested import drop_field_paths, flatten_structs
from nomba_data_pipeline_spark.functions.text import lang_id, quality_score, token_count
from nomba_data_pipeline_spark.sources.inference import infer_stage_schema


def test_flatten_structs(spark):
    df = spark.createDataFrame(
        [(1, {"b": 2, "c": {"d": 3}})],
        "a int, s struct<b:int, c:struct<d:int>>",
    )
    one = flatten_structs(df, recursive=False)
    assert set(one.columns) == {"a", "s_b", "s_c"}
    full = flatten_structs(df)
    assert set(full.columns) == {"a", "s_b", "s_c_d"}
    assert full.first().s_c_d == 3


def test_drop_field_paths(spark):
    df = spark.createDataFrame(
        [(1, {"b": 2, "c": 3}, 9)], "a int, s struct<b:int, c:int>, z int"
    )
    out = drop_field_paths(df, ["z", "s.b"])
    assert "z" not in out.columns
    assert [f.name for f in out.schema["s"].dataType.fields] == ["c"]


def test_text_functions(spark):
    df = spark.createDataFrame(
        [("the cat and the dog sat on the mat of the house and it is big",),
         ("el perro de la casa que los gatos",),
         ("",)],
        "text string",
    )
    rows = df.select(
        token_count("text").alias("n"),
        lang_id("text").alias("lang"),
        quality_score("text").alias("q"),
    ).collect()
    assert rows[0].lang == "en" and rows[0].n == 16
    assert rows[1].lang == "es"
    assert rows[2].n == 0 and rows[2].q == 0.0


def test_corrupt_json_drift_tolerance(spark, tmp_path):
    """Reference drift tolerance (input_format_skip_unknown_fields,
    base_loader.py:830-841): corrupt lines land in _corrupt_record
    instead of failing the read."""
    from nomba_data_pipeline_spark.sources.staged import read_stage

    path = os.path.join(tmp_path, "stage")
    lines = ['{"id": 1, "v": "ok"}', "{this is not json", '{"id": 2, "v": "fine", "extra": 9}']
    spark.createDataFrame([(l,) for l in lines], "value string").coalesce(1).write.mode(
        "overwrite"
    ).text(path)
    df = read_stage(spark, path, fmt="json").cache()
    good = df.filter(F.col("id").isNotNull())
    assert good.count() == 2
    corrupt = df.filter(F.col("_corrupt_record").isNotNull())
    assert corrupt.count() == 1
    df.unpersist()


def test_inference_mixed_and_dates(spark, tmp_path):
    path = os.path.join(tmp_path, "stage")
    df = spark.createDataFrame(
        [('{"id": 1, "d": "2024-01-01", "mixed": "x"}',),
         ('{"id": 2, "d": "2024-02-03", "mixed": "7"}',)],
        "value string",
    )
    df.select(F.col("value")).write.mode("overwrite").text(path)
    schema = infer_stage_schema(spark, path)
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert types["d"] == "date"
    assert types["id"] == "bigint"
    assert types["mixed"] == "string"


def test_inference_type_vote_degrades_mixed_to_string(spark, tmp_path):
    """Reference parity (base_loader.py:920-938): ANY per-column type mix
    in the first 100 values -> String — including int+float, which Spark
    native inference would silently widen to double, and bool+int."""
    path = os.path.join(tmp_path, "stage_vote")
    rows = [
        '{"num_drift": 1, "flagish": true, "clean_int": 10, "clean_f": 1.5, "strnum": "a"}',
        '{"num_drift": 2.5, "flagish": 1, "clean_int": 20, "clean_f": 2.5, "strnum": 7}',
    ]
    spark.createDataFrame([(r,) for r in rows], "value string").write.mode(
        "overwrite"
    ).text(path)
    schema = infer_stage_schema(spark, path)
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert types["num_drift"] == "string"  # int+float mix, NOT double
    assert types["flagish"] == "string"  # bool+int mix
    assert types["strnum"] == "string"  # string+int mix
    assert types["clean_int"] == "bigint"
    assert types["clean_f"] == "double"


def test_inference_vote_reads_values_as_literals(spark, tmp_path):
    """A voted-String column must still be readable through the stage
    extractor: numbers arrive as their literal text."""
    from nomba_data_pipeline_spark.sources.mongo import extract_mongo_stage

    path = os.path.join(tmp_path, "stage_vote2")
    rows = ['{"v": 1}', '{"v": "x"}', '{"v": 2.5}']
    spark.createDataFrame([(r,) for r in rows], "value string").write.mode(
        "overwrite"
    ).text(path)
    out = extract_mongo_stage(spark, path)
    assert dict(out.dtypes)["v"] == "string"
    assert sorted(r.v for r in out.collect()) == ["1", "2.5", "x"]


def test_pii_redaction_leaves_no_matches(spark):
    """Completeness property: after redaction, every PII pattern has
    zero remaining matches — including adversarial adjacency (email
    beside phone beside IP, patterns that could partially eat each
    other) and unicode noise."""
    from nomba_data_pipeline_spark.functions.text import PII_PATTERNS, pii_redact

    rows = [
        ("a@b.co",),
        ("reach me at jane.doe+spam@mail.example.org or +1 (555) 123-4567 now",),
        ("10.0.0.1 8.8.8.8 and 192.168.255.254: servers",),
        ("x@y.io9.9.9.9+44 20 7946 0958",),  # adjacent, no separators
        ("héllo wörld 例子 +123456789",),
        ("not-pii: 1.2 v3.4 a@b (no tld) 12-34",),
        ("",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "text string")
    red = df.select(pii_redact("text").alias("clean"))
    for kind, pat, _ in PII_PATTERNS:
        # lit() keeps the backslashes out of the SQL literal parser
        leftover = red.filter(
            F.regexp_count(F.col("clean"), F.lit(pat)) > 0
        ).count()
        assert leftover == 0, f"{kind} pattern survives redaction"


def test_sequence_packing_invariants(spark):
    """pack_offset < budget; bins start at 0 and are contiguous per
    source; token totals are conserved."""
    from nomba_data_pipeline_spark.plans.queries import REGISTRY
    from tests.conftest import SF_SMALL

    df = REGISTRY["sequence_packing"].fn(spark, SF_SMALL).cache()
    assert df.filter("pack_offset >= 2048 OR pack_offset < 0").count() == 0
    per_src = df.groupBy("source").agg(
        F.min("pack_bin").alias("lo"),
        F.max("pack_bin").alias("hi"),
        F.countDistinct("pack_bin").alias("n_bins"),
        F.sum("n_tokens").alias("toks"),
    )
    for r in per_src.collect():
        assert r.lo == 0
        assert r.n_bins == r.hi + 1, "bins must be contiguous"
        # every bin except possibly the last is actually used by the
        # greedy rule: running span covers [0, hi*budget + last_offset]
        assert r.toks > r.hi * 2048 - 2048, "token mass inconsistent with bin span"
    df.unpersist()


def test_stage_dir_failed_write_does_not_poison_slot(tmp_path):
    """A staging write that dies mid-flight must NOT mark the slot
    staged: the next invocation retries from a clean directory instead
    of reading a missing/partial stage (the failure mode that would
    silently corrupt every later graded call in the process)."""
    import os

    import pytest as _pytest

    from nomba_data_pipeline_spark.plans import queries as Q

    calls = {"n": 0}

    def flaky(path):
        calls["n"] += 1
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "partial"), "w") as f:
            f.write("x")
        if calls["n"] == 1:
            raise IOError("disk full")

    with _pytest.raises(IOError):
        Q._stage_dir("poison_probe", "/sf/test", flaky)
    # retry runs the writer again on a cleared dir and commits the slot
    p = Q._stage_dir("poison_probe", "/sf/test", flaky)
    assert calls["n"] == 2
    assert os.path.exists(os.path.join(p, "partial"))
    # third call: cached, writer not invoked
    Q._stage_dir("poison_probe", "/sf/test", flaky)
    assert calls["n"] == 2


def test_stage_round_trip_all_formats(spark, tmp_path):
    """write_stage/read_stage round-trips identically through every
    supported interchange format — json (reference parity), parquet
    (default), orc (Spark-native columnar alternative) — and a filter
    on the columnar formats is pushed to the scan."""
    from nomba_data_pipeline_spark.sources.staged import read_stage, write_stage
    from tests.conftest import SF_SMALL

    src = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    want = sorted(map(tuple, src.collect()))
    for fmt in ("json", "parquet", "orc"):
        p = str(tmp_path / f"stage_{fmt}")
        write_stage(src, p, fmt=fmt)
        back = read_stage(spark, p, fmt=fmt)
        got = sorted(map(tuple, back.select(*src.columns).collect()))
        assert got == want, fmt
    # csv round-trips with the source schema passed on read (CSV
    # carries names via header but no types)
    pcsv = str(tmp_path / "stage_csv")
    write_stage(src, pcsv, fmt="csv")
    back = read_stage(spark, pcsv, fmt="csv", schema=src.schema)
    assert sorted(map(tuple, back.select(*src.columns).collect())) == want
    assert back.schema == src.schema
    # pushdown reaches the ORC scan like parquet
    orc = read_stage(spark, str(tmp_path / "stage_orc"), fmt="orc")
    plan = (
        orc.filter(F.col("n_nationkey") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "n_nationkey" in plan, plan


def test_pii_phone_pattern_spares_dates_and_isbns(spark):
    """Dates, year ranges, timestamps, and ISBNs must SURVIVE redaction
    (the old bare digits-with-separators form ate all of them), while
    real phone shapes are still caught."""
    from nomba_data_pipeline_spark.functions.text import pii_redact

    keep = [
        "Meeting on 2024-01-01",
        "Released 2024-01-01 12:34:56 UTC",
        "years 1914 - 1918",
        "ISBN 978-0-13-468599-1",
        "order 12345678",
    ]
    redact = [
        "+1 (555) 123-4567",
        "+44 20 7946 0958",
        "(555) 123 4567",
        "call 555-123-4567 now",
    ]
    df = spark.createDataFrame([(t,) for t in keep + redact], "text string")
    out = [r.clean for r in df.select(pii_redact("text").alias("clean")).collect()]
    for original, cleaned in zip(keep, out[: len(keep)]):
        assert cleaned == original, f"false positive: {original!r} -> {cleaned!r}"
    for original, cleaned in zip(redact, out[len(keep) :]):
        assert "<PHONE>" in cleaned, f"missed phone: {original!r} -> {cleaned!r}"
