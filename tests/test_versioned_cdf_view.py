"""Versioned-fact CDF consumed by the IVM stack: JoinViewTable /
AggJoinView apply_fact_cdf + delete_fact_keys, and the runner wiring
that keeps a join_view/agg_view mart current off a versioned fact's
diff_versions feed (VERDICT r12 #4) — the deletes exercise the
tombstone path end-to-end."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView
from nomba_data_pipeline_spark.operators.incremental_join import JoinViewTable
from nomba_data_pipeline_spark.operators.versioned import VersionedTable


def _fact(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("fk"),
        (F.col("id") % 20).alias("dk"),
        (F.col("id") * 1.5).alias("amt"),
    )


def _dim(spark):
    return spark.range(20).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
    )


def _view(spark, tmp_path, fact, dim, n_buckets=8):
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=n_buckets,
    )
    v.build(fact, dim)
    return v


def _view_rows(v):
    return {
        (r["fk"], r["dk"], r["amt"], r["grp"])
        for r in v.read().collect()
    }


def _expected_rows(fact, dim):
    return {
        (r["fk"], r["dk"], r["amt"], r["grp"])
        for r in fact.join(dim, "dk", "left").collect()
    }


# -- JoinViewTable.delete_fact_keys ------------------------------------------
def test_delete_fact_keys_partition_scoped(spark, tmp_path):
    fact, dim = _fact(spark), _dim(spark)
    v = _view(spark, tmp_path, fact, dim)
    keys = spark.createDataFrame([(5,), (25,), (45,)], "fk long")
    touched = v.delete_fact_keys(keys)
    # fk 5/25/45 all have dk=5 -> one bucket
    assert len(touched) == 1
    assert _view_rows(v) == _expected_rows(
        fact.filter("fk not in (5, 25, 45)"), dim
    )


def test_delete_fact_keys_empty_and_all(spark, tmp_path):
    fact, dim = _fact(spark, n=40), _dim(spark)
    v = _view(spark, tmp_path, fact, dim, n_buckets=4)
    assert v.delete_fact_keys(
        spark.createDataFrame([(999,)], "fk long")
    ) == []  # no holder: nothing rewritten
    v.delete_fact_keys(fact.select("fk"))
    # all buckets emptied: the view stays readable (schema-keeping
    # fallback) and holds zero rows
    assert v.read().count() == 0


def test_apply_fact_cdf_operator_matches_declarative(spark, tmp_path):
    """insert + update (incl. dim-key MIGRATION) + delete in one feed."""
    fact, dim = _fact(spark), _dim(spark)
    v = _view(spark, tmp_path, fact, dim)
    cdf = spark.createDataFrame(
        [
            ("insert", 900, 3, 9.0),
            ("update", 7, 7, -7.0),     # in-place value update
            ("update", 8, 11, -8.0),    # dk 8 -> 11: bucket migration
            ("delete", 9, 9, 13.5),     # delete carries the OLD row
        ],
        "change_type string, fk long, dk long, amt double",
    )
    v.apply_fact_cdf(cdf, dim)
    final_fact = (
        fact.filter("fk not in (7, 8, 9)")
        .unionByName(spark.createDataFrame(
            [(900, 3, 9.0), (7, 7, -7.0), (8, 11, -8.0)],
            "fk long, dk long, amt double",
        ))
    )
    assert _view_rows(v) == _expected_rows(final_fact, dim)


def test_apply_fact_cdf_requires_change_type(spark, tmp_path):
    fact, dim = _fact(spark, 40), _dim(spark)
    v = _view(spark, tmp_path, fact, dim, n_buckets=4)
    with pytest.raises(ValueError, match="change_type"):
        v.apply_fact_cdf(fact, dim)


# -- AggJoinView.apply_fact_cdf ----------------------------------------------
def _agg(spark, tmp_path, v):
    a = AggJoinView(
        spark, os.path.join(str(tmp_path), "agg"),
        view=v, group_keys=["grp"], measures=["amt"],
    )
    a.build()
    return a


def _got(a):
    return {
        r["grp"]: (r["cnt"], r["sum_amt"], r["min_amt"], r["max_amt"])
        for r in a.result().collect()
    }


def _expected_agg(spark, fact, dim):
    rows = fact.join(dim, "dk", "left").groupBy("grp").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
        .cast("double").alias("sum_amt"),
        F.min(F.col("amt").cast("double")).alias("min_amt"),
        F.max(F.col("amt").cast("double")).alias("max_amt"),
    ).collect()
    return {
        r["grp"]: (r["cnt"], r["sum_amt"], r["min_amt"], r["max_amt"])
        for r in rows
    }


def test_agg_apply_fact_cdf_matches_declarative(spark, tmp_path):
    """Deletes must RETRACT from the partials — the case fold-based
    aggregation can't express; the bucket recompute makes it exact
    (min/max included)."""
    fact, dim = _fact(spark), _dim(spark)
    v = _view(spark, tmp_path, fact, dim)
    a = _agg(spark, tmp_path, v)
    cdf = spark.createDataFrame(
        [
            ("insert", 900, 3, 9.0),
            ("update", 8, 11, -8.0),   # migration moves contribution g0->g3
            ("delete", 19, 19, 28.5),  # 28.5 was g3's max for dk=19
        ],
        "change_type string, fk long, dk long, amt double",
    )
    a.apply_fact_cdf(cdf, dim)
    final_fact = (
        fact.filter("fk not in (8, 19)")
        .unionByName(spark.createDataFrame(
            [(900, 3, 9.0), (8, 11, -8.0)], "fk long, dk long, amt double",
        ))
    )
    assert _got(a) == _expected_agg(spark, final_fact, dim)


def test_agg_delete_fact_keys_retracts(spark, tmp_path):
    fact, dim = _fact(spark), _dim(spark)
    v = _view(spark, tmp_path, fact, dim)
    a = _agg(spark, tmp_path, v)
    a.delete_fact_keys(spark.createDataFrame([(199,), (198,)], "fk long"))
    assert _got(a) == _expected_agg(
        spark, fact.filter("fk < 198"), dim
    )


def test_agg_fact_cdf_crash_between_view_and_refresh_heals(spark, tmp_path):
    """FAULT INJECTION: die after the view consumed the CDF but before
    the partial refresh — the pre-written intent must heal (the delete
    rows' OLD holder buckets are not discoverable post-mutation)."""
    fact, dim = _fact(spark), _dim(spark)
    v = _view(spark, tmp_path, fact, dim)
    a = _agg(spark, tmp_path, v)
    cdf = spark.createDataFrame(
        [("delete", 19, 19, 28.5), ("insert", 900, 3, 9.0)],
        "change_type string, fk long, dk long, amt double",
    )
    real = AggJoinView._refresh
    AggJoinView._refresh = lambda self, b: (_ for _ in ()).throw(
        RuntimeError("crash before refresh")
    )
    try:
        with pytest.raises(RuntimeError, match="crash before refresh"):
            a.apply_fact_cdf(cdf, dim)
    finally:
        AggJoinView._refresh = real
    healed = a.heal()
    assert healed  # intent named the buckets
    final_fact = fact.filter("fk <> 19").unionByName(
        spark.createDataFrame([(900, 3, 9.0)], "fk long, dk long, amt double")
    )
    assert _got(a) == _expected_agg(spark, final_fact, dim)


# -- runner wiring: versioned fact feeding join_view / agg_view marts --------
def _register(spark, r, src, wh, mart_kind):
    from nomba_data_pipeline_spark.plans.runner import ModelSpec

    r.register(ModelSpec(
        name="f_v", fn=lambda s, d: s.read.parquet(src + "/fact"),
        materialization="versioned_incremental",
        upsert_key=["fk"], tracking_column="ver",
    ))
    r.register(ModelSpec(
        name="d_t", fn=lambda s, d: s.read.parquet(src + "/dim"),
        materialization="table",
    ))
    common = dict(
        name="mart", fn=None, materialization=mart_kind,
        view_fact="f_v", view_dim="d_t", view_dim_key="dk",
        view_dim_cols=["grp"], view_dim_tracking="dver",
        upsert_key=["fk"], tracking_column="ver", view_buckets=4,
    )
    if mart_kind == "agg_view":
        common.update(agg_group_keys=["grp"], agg_measures=["amt"])
    r.register(ModelSpec(**common))
    return r


def _mk_runner(spark, src, wh, mart_kind):
    from nomba_data_pipeline_spark.plans.runner import PipelineRunner

    return _register(spark, PipelineRunner(spark, wh, src), src, wh, mart_kind)


def _seed_sources(spark, src):
    os.makedirs(src, exist_ok=True)
    fact = spark.range(60).select(
        F.col("id").alias("fk"), (F.col("id") % 10).alias("dk"),
        (F.col("id") * 2.0).alias("amt"), F.lit(1).alias("ver"),
    )
    dim = spark.range(10).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        F.lit(1).alias("dver"),
    )
    fact.write.parquet(src + "/fact")
    dim.write.parquet(src + "/dim")
    return fact, dim


@pytest.mark.parametrize("mart_kind", ["join_view", "agg_view"])
def test_versioned_fact_cdf_feeds_mart(spark, tmp_path, mart_kind):
    """Full lifecycle across FRESH runner instances: build off v1, then
    the versioned fact takes an upsert (source rows past the HWM) AND a
    direct delete (retention); the mart must reflect both — the delete
    arrives ONLY via the CDF (an HWM filter can never see it)."""
    src = os.path.join(str(tmp_path), "src")
    wh = os.path.join(str(tmp_path), "wh")
    fact, dim = _seed_sources(spark, src)
    _mk_runner(spark, src, wh, mart_kind).run()

    # source gains rows past the HWM (upserts via _run_versioned) ...
    spark.createDataFrame(
        [(100, 3, -100.0, 2), (5, 5, -5.0, 2)],
        "fk long, dk long, amt double, ver int",
    ).write.mode("append").parquet(src + "/fact")
    # ... and a retention delete lands directly on the versioned table
    vt = VersionedTable(spark, os.path.join(wh, "f_v"))
    vt.delete_where("fk >= 54 and fk <= 59")

    r2 = _mk_runner(spark, src, wh, mart_kind)
    r2.run()

    final_fact = (
        fact.filter("fk not between 54 and 59").filter("fk <> 5")
        .unionByName(spark.createDataFrame(
            [(100, 3, -100.0, 1), (5, 5, -5.0, 1)],
            "fk long, dk long, amt double, ver int",
        ))
    )
    if mart_kind == "join_view":
        got = {
            (r["fk"], r["amt"], r["grp"])
            for r in r2.read_model("mart").collect()
        }
        want = {
            (r["fk"], r["amt"], r["grp"])
            for r in final_fact.join(dim, "dk", "left").collect()
        }
    else:
        got = {
            (r["grp"], r["cnt"], r["sum_amt"])
            for r in r2.read_model("mart").collect()
        }
        want = {
            (r["grp"], r["cnt"], r["s"])
            for r in final_fact.join(dim, "dk", "left").groupBy("grp").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
                .cast("double").alias("s"),
            ).collect()
        }
    assert got == want
    # the CDF cursor advanced to the fact's latest version
    import json

    st = json.loads(
        spark.read.parquet(os.path.join(wh, "mart") + "._view_state")
        .first()["state"]
    )
    assert st["fact_version"] == vt.latest_version()


def test_versioned_fact_lost_state_rebuilds_correctly(spark, tmp_path):
    """A lost/pre-CDF sidecar cannot replay deletes — the runner must
    pay one rebuild instead of silently retaining deleted rows."""
    src = os.path.join(str(tmp_path), "src")
    wh = os.path.join(str(tmp_path), "wh")
    fact, dim = _seed_sources(spark, src)
    _mk_runner(spark, src, wh, "join_view").run()
    vt = VersionedTable(spark, os.path.join(wh, "f_v"))
    vt.delete_where("fk < 10")
    # simulate state loss (crash between applies and the state save)
    import shutil

    shutil.rmtree(os.path.join(wh, "mart") + "._view_state")
    r2 = _mk_runner(spark, src, wh, "join_view")
    r2.run()
    got = {(r["fk"], r["grp"]) for r in r2.read_model("mart").collect()}
    want = {
        (r["fk"], r["grp"])
        for r in fact.filter("fk >= 10").join(dim, "dk", "left").collect()
    }
    assert got == want
