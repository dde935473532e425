"""AggJoinView: aggregate-over-join IVM via bucket-partial states —
group reassignment, migration, tombstones, crash healing, scoped
refresh."""
from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView
from nomba_data_pipeline_spark.operators.incremental_join import JoinViewTable


def _fact(spark, n=200):
    # fk = fact key, dk = dim key (fact-side column), amt = measure
    return spark.range(n).select(
        F.col("id").alias("fk"),
        (F.col("id") % 20).alias("dk"),
        (F.col("id") * 1.5).alias("amt"),
    )


def _dim(spark):
    # grp: the dim attribute the rollup groups by
    return spark.range(20).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
    )


def _mk(spark, tmp_path, n=200, n_buckets=8):
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=n_buckets,
    )
    fact, dim = _fact(spark, n), _dim(spark)
    v.build(fact, dim)
    a = AggJoinView(
        spark, os.path.join(str(tmp_path), "agg"),
        view=v, group_keys=["grp"], measures=["amt"],
    )
    a.build()
    return a, v, fact, dim


def _expected(fact, dim):
    """The declarative answer: agg over the fresh join."""
    joined = fact.join(dim, "dk", "left")
    rows = joined.groupBy("grp").agg(
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


def _got(a: AggJoinView):
    return {
        r["grp"]: (r["cnt"], r["sum_amt"], r["min_amt"], r["max_amt"])
        for r in a.result().collect()
    }


def test_build_matches_declarative(spark, tmp_path):
    a, v, fact, dim = _mk(spark, tmp_path)
    assert _got(a) == _expected(fact, dim)


def test_dim_patch_reassigns_groups(spark, tmp_path):
    """The hard IVM case: a dim patch changes the GROUPING attribute of
    every fact row on that key — contributions must MOVE between
    groups, which fold-based maintenance cannot express."""
    a, v, fact, dim = _mk(spark, tmp_path)
    patch = spark.createDataFrame([(3, "gX"), (7, "gX")], "dk long, grp string")
    a.apply_dim_delta(patch)
    new_dim = (
        dim.filter(~F.col("dk").isin(3, 7))
        .unionByName(spark.createDataFrame([(3, "gX"), (7, "gX")], "dk long, grp string"))
    )
    assert _got(a) == _expected(fact, new_dim)


def test_tombstone_moves_contributions_to_null_group(spark, tmp_path):
    a, v, fact, dim = _mk(spark, tmp_path)
    a.retire_dim_keys(spark.createDataFrame([(5,)], "dk long"))
    new_dim = dim.filter(F.col("dk") != 5)
    assert _got(a) == _expected(fact, new_dim)
    assert None in _got(a)  # the retired key's rows group under NULL


def test_fact_delta_with_dim_key_migration(spark, tmp_path):
    """A fact row reassigned to a different dim key moves buckets AND
    groups: both the old and new holder partials must refresh."""
    a, v, fact, dim = _mk(spark, tmp_path)
    # fk=10 (dk 10) migrates to dk=0 with a new amount; fk=900 is new
    delta = spark.createDataFrame(
        [(10, 0, 999.0), (900, 19, 7.0)], "fk long, dk long, amt double"
    )
    a.apply_fact_delta(delta, dim)
    new_fact = (
        fact.filter(~F.col("fk").isin(10, 900)).unionByName(delta)
    )
    assert _got(a) == _expected(new_fact, dim)


def test_refresh_is_bucket_scoped(spark, tmp_path):
    """A one-key dim patch must rewrite only that key's bucket in the
    STATE table, not every partial."""
    a, v, fact, dim = _mk(spark, tmp_path, n=2000)
    before = {
        d: os.path.getmtime(d)
        for d in glob.glob(os.path.join(a.path, "__dim_bucket=*"))
    }
    assert len(before) > 2
    a.apply_dim_delta(
        spark.createDataFrame([(3, "gZ")], "dk long, grp string")
    )
    after = {
        d: os.path.getmtime(d)
        for d in glob.glob(os.path.join(a.path, "__dim_bucket=*"))
    }
    changed = [d for d in before if after.get(d) != before[d]]
    assert len(changed) == 1


def test_crash_between_view_apply_and_refresh_heals(spark, tmp_path):
    """FAULT INJECTION: the view mutates, the agg refresh never runs —
    the leftover intent must heal on the next operation, INCLUDING the
    old-holder bucket of a migrated fact key (undiscoverable from the
    merged view, which is why the intent is precomputed)."""
    a, v, fact, dim = _mk(spark, tmp_path)
    delta = spark.createDataFrame([(10, 0, 999.0)], "fk long, dk long, amt double")

    real_refresh = a._refresh
    calls = {"n": 0}

    def _die(buckets):
        calls["n"] += 1
        raise RuntimeError("crash before agg refresh")

    a._refresh = _die
    with pytest.raises(RuntimeError, match="crash before agg refresh"):
        a.apply_fact_delta(delta, dim)
    a._refresh = real_refresh
    assert calls["n"] == 1
    # fresh handle (a restarted job): result() heals from the intent
    a2 = AggJoinView.open(spark, a.path)
    new_fact = fact.filter(F.col("fk") != 10).unionByName(delta)
    assert _got(a2) == _expected(new_fact, dim)
    # intent cleared; heal is now a no-op
    assert a2.heal() == []


def test_crash_before_view_apply_leaves_consistent_state(spark, tmp_path):
    """FAULT INJECTION: intent written but the view never mutated — the
    heal re-refreshes unchanged buckets (no-op) and the agg still
    matches the unchanged view."""
    a, v, fact, dim = _mk(spark, tmp_path)

    real_apply = v.apply_dim_delta

    def _die(d):
        raise RuntimeError("crash before view apply")

    v.apply_dim_delta = _die
    with pytest.raises(RuntimeError, match="crash before view apply"):
        a.apply_dim_delta(
            spark.createDataFrame([(3, "gX")], "dk long, grp string")
        )
    v.apply_dim_delta = real_apply
    healed = a.heal()
    assert healed != [] or _got(a) == _expected(fact, dim)
    assert _got(a) == _expected(fact, dim)


def test_open_roundtrip_and_meta_guard(spark, tmp_path):
    a, v, fact, dim = _mk(spark, tmp_path)
    a2 = AggJoinView.open(spark, a.path)
    assert _got(a2) == _expected(fact, dim)
    # a divergent layout (e.g. different group keys) is refused
    bad = AggJoinView(
        spark, a.path, view=v, group_keys=["grp", "dk"], measures=["amt"],
    )
    with pytest.raises(ValueError, match="was built with"):
        bad.result()


def test_rebucket_requires_rebuild(spark, tmp_path):
    """The partial layout is keyed to the view's bucket modulus: after
    a view rebucket the agg must refuse until rebuild()."""
    a, v, fact, dim = _mk(spark, tmp_path)
    v.rebucket(16)
    reopened = AggJoinView.open(spark, a.path)  # view now carries n=16
    with pytest.raises(ValueError, match="rebucket|was built with"):
        reopened.result()
    reopened.rebuild()
    assert _got(reopened) == _expected(fact, dim)
    # maintenance under the new modulus still works
    reopened.apply_dim_delta(
        spark.createDataFrame([(3, "gY")], "dk long, grp string")
    )
    new_dim = dim.filter(F.col("dk") != 3).unionByName(
        spark.createDataFrame([(3, "gY")], "dk long, grp string")
    )
    assert _got(reopened) == _expected(fact, new_dim)


def test_unbuilt_refuses(spark, tmp_path):
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=4,
    )
    v.build(_fact(spark, 10), _dim(spark))
    a = AggJoinView(
        spark, os.path.join(str(tmp_path), "agg"),
        view=v, group_keys=["grp"], measures=["amt"],
    )
    with pytest.raises(ValueError, match="not built"):
        a.result()


def test_random_maintenance_sequence_equals_declarative(spark, tmp_path):
    """Property test mirror of the join-view one: random interleavings
    of dim patches / tombstones / fact deltas keep result() equal to
    the declarative aggregate over the mirrored inputs."""
    import random

    rng = random.Random(1212)
    a, v, fact, dim = _mk(spark, tmp_path, n=300)
    cur_fact = [(r["fk"], r["dk"], r["amt"]) for r in fact.collect()]
    cur_dim = {r["dk"]: r["grp"] for r in dim.collect()}

    for step in range(6):
        op = rng.choice(["patch", "tombstone", "fact"])
        if op == "patch":
            ks = rng.sample(sorted(cur_dim) or [0], min(2, len(cur_dim)))
            rows = [(k, f"p{step}") for k in ks]
            a.apply_dim_delta(
                spark.createDataFrame(rows, "dk long, grp string")
            )
            cur_dim.update(dict(rows))
        elif op == "tombstone":
            if not cur_dim:
                continue
            k = rng.choice(sorted(cur_dim))
            a.retire_dim_keys(spark.createDataFrame([(k,)], "dk long"))
            del cur_dim[k]
        else:
            rows = [
                (rng.randrange(400), rng.randrange(25), float(rng.randint(1, 99)))
                for _ in range(3)
            ]
            dim_df = spark.createDataFrame(
                sorted(cur_dim.items()), "dk long, grp string"
            )
            a.apply_fact_delta(
                spark.createDataFrame(rows, "fk long, dk long, amt double"),
                dim_df,
            )
            by_key = {fk: (fk, dk, amt) for fk, dk, amt in rows}
            cur_fact = [t for t in cur_fact if t[0] not in by_key]
            cur_fact.extend(by_key.values())

        f_df = spark.createDataFrame(cur_fact, "fk long, dk long, amt double")
        d_df = spark.createDataFrame(
            sorted(cur_dim.items()), "dk long, grp string"
        )
        assert _got(a) == _expected(f_df, d_df), f"diverged at step {step} ({op})"


# -- runner materialization ----------------------------------------------------
def _runner(spark, src, wh):
    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    r = PipelineRunner(spark, wh, src)
    r.register(ModelSpec(
        name="f", fn=lambda s, d: s.read.parquet(d + "/fact"),
        materialization="table",
    ))
    r.register(ModelSpec(
        name="d", fn=lambda s, d: s.read.parquet(d + "/dim"),
        materialization="table",
    ))
    r.register(ModelSpec(
        name="seg_rollup", fn=None, materialization="agg_view",
        view_fact="f", view_dim="d", view_dim_key="dk",
        view_dim_cols=["grp"], view_dim_tracking="dver",
        upsert_key=["fk"], tracking_column="ver",
        agg_group_keys=["grp"], agg_measures=["amt"], view_buckets=4,
    ))
    return r


def _src_frames(spark):
    fact = spark.range(60).select(
        F.col("id").alias("fk"), (F.col("id") % 10).alias("dk"),
        (F.col("id") * 2.0).alias("amt"), F.lit(1).alias("ver"),
    )
    dim = spark.range(10).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        F.lit(1).alias("dver"),
    )
    return fact, dim


def _rollup(runner):
    return {
        (r["grp"], r["cnt"], r["sum_amt"])
        for r in runner.read_model("seg_rollup").collect()
    }


def test_agg_view_pipeline_incremental_across_runner_instances(spark, tmp_path):
    """The agg_view materialization picks dim patches and fact deltas
    off persisted HWM state across FRESH runner instances — and the
    rollup equals the declarative aggregate at every step."""
    import os

    src, wh = os.path.join(str(tmp_path), "src"), os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    fact, dim = _src_frames(spark)
    fact.write.parquet(src + "/fact")
    dim.write.parquet(src + "/dim")
    _runner(spark, src, wh).run()

    def expected():
        f = spark.read.parquet(src + "/fact")
        d = spark.read.parquet(src + "/dim")
        return {
            (r["grp"], r["cnt"], r["s"])
            for r in f.join(d, "dk", "left").groupBy("grp").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
                .cast("double").alias("s"),
            ).collect()
        }

    assert _rollup(_runner(spark, src, wh)) == expected()

    # dim patch past the dim HWM: dk=3 regrouped (group REASSIGNMENT)
    d1 = spark.read.parquet(src + "/dim").withColumn(
        "grp", F.when(F.col("dk") == 3, F.lit("gX")).otherwise(F.col("grp"))
    ).withColumn(
        "dver", F.when(F.col("dk") == 3, F.lit(2)).otherwise(F.col("dver"))
    )
    d1.write.mode("overwrite").parquet(src + "/dim_new")
    import shutil

    shutil.rmtree(src + "/dim"); shutil.move(src + "/dim_new", src + "/dim")
    # fact delta past the fact HWM: fk=5 migrates dk 5 -> 0
    f1 = spark.read.parquet(src + "/fact").filter("fk <> 5").unionByName(
        spark.createDataFrame([(5, 0, 999.0, 2)], "fk long, dk long, amt double, ver long")
    )
    f1.write.mode("overwrite").parquet(src + "/fact_new")
    shutil.rmtree(src + "/fact"); shutil.move(src + "/fact_new", src + "/fact")

    r2 = _runner(spark, src, wh)  # FRESH instance: state from the sidecar
    r2.run()
    assert _rollup(r2) == expected()
    # idempotent rerun (no new deltas)
    r3 = _runner(spark, src, wh)
    r3.run()
    assert _rollup(r3) == expected()


def test_agg_view_requires_its_fields(spark, tmp_path):
    import os

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    r = PipelineRunner(spark, str(tmp_path), str(tmp_path))
    r.register(ModelSpec(
        name="bad", fn=None, materialization="agg_view",
        view_fact="f", view_dim="d", view_dim_key="dk",
        view_dim_cols=["grp"], view_dim_tracking="dver",
        upsert_key=["fk"], tracking_column="ver",
        # agg_group_keys / agg_measures missing
    ))
    r.register(ModelSpec(name="f", fn=lambda s, d: None, materialization="table"))
    r.register(ModelSpec(name="d", fn=lambda s, d: None, materialization="table"))
    with pytest.raises(ValueError, match="agg_view requires"):
        r._run_view(r.models["bad"])


def test_erasure_sweeps_agg_view_underlying_view_and_partials(spark, tmp_path):
    """GDPR erasure over an agg_view mart: the underlying view loses
    the subject's rows bucket-scoped AND the rollup partials stop
    counting them — an aggregate retaining an erased subject would
    leak their activity through the mart."""
    import os

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src, wh = os.path.join(str(tmp_path), "src"), os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    # fact carries user_id so the erasure sweep matches it
    fact = spark.range(80).select(
        F.col("id").alias("fk"), (F.col("id") % 8).alias("dk"),
        (F.col("id") % 5).alias("user_id"),
        (F.col("id") * 2.0).alias("amt"), F.lit(1).alias("ver"),
    )
    dim = spark.range(8).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        F.lit(1).alias("dver"),
    )
    fact.write.parquet(src + "/fact")
    dim.write.parquet(src + "/dim")
    r = PipelineRunner(spark, wh, src)
    r.register(ModelSpec(
        name="f", fn=lambda s, d: s.read.parquet(d + "/fact"),
        materialization="table",
    ))
    r.register(ModelSpec(
        name="d", fn=lambda s, d: s.read.parquet(d + "/dim"),
        materialization="table",
    ))
    r.register(ModelSpec(
        name="seg_rollup", fn=None, materialization="agg_view",
        view_fact="f", view_dim="d", view_dim_key="dk",
        view_dim_cols=["grp"], view_dim_tracking="dver",
        upsert_key=["fk"], tracking_column="ver",
        agg_group_keys=["grp"], agg_measures=["amt"], view_buckets=4,
    ))
    r.run()

    removed = r.erase_subject([2], "er-1")
    assert removed["seg_rollup__view"] == 16  # user_id == 2 rows
    view_df = spark.read.parquet(wh + "/seg_rollup__view")
    assert view_df.filter("user_id = 2").count() == 0
    # the rollup no longer counts the subject
    expected = {
        (x["grp"], x["cnt"], x["s"])
        for x in fact.filter("user_id <> 2").join(dim, "dk", "left")
        .groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
            .cast("double").alias("s"),
        ).collect()
    }
    got = {
        (x["grp"], x["cnt"], x["sum_amt"])
        for x in r.read_model("seg_rollup").collect()
    }
    assert got == expected
    # replay is a no-op
    removed2 = r.erase_subject([2], "er-1-replay")
    assert removed2["seg_rollup__view"] == 0


def test_cli_aggview_lifecycle(spark, tmp_path, capsys):
    import json as _json
    import os

    from nomba_data_pipeline_spark.__main__ import main

    a, v, fact, dim = _mk(spark, tmp_path)
    patch_p = os.path.join(str(tmp_path), "patch")
    spark.createDataFrame([(3, "gCLI")], "dk long, grp string").write.parquet(
        patch_p
    )

    def run(*argv):
        rc = main(list(argv))
        assert rc == 0
        return capsys.readouterr().out

    out = _json.loads(
        run("aggview", "patch-dim", "--path", a.path, "--dim", patch_p)
        .strip().splitlines()[-1]
    )
    assert len(out["buckets"]) == 1
    new_dim = dim.filter(F.col("dk") != 3).unionByName(
        spark.createDataFrame([(3, "gCLI")], "dk long, grp string")
    )
    assert _got(AggJoinView.open(spark, a.path)) == _expected(fact, new_dim)
    healed = _json.loads(
        run("aggview", "heal", "--path", a.path).strip().splitlines()[-1]
    )
    assert healed["healed_buckets"] == []
    assert "gCLI" in run("aggview", "result", "--path", a.path)


# -- review-pass regressions --------------------------------------------------------
def test_full_refresh_rebuilds_agg_view_cleanly(spark, tmp_path):
    """full_refresh of an agg_view (or anything upstream) must drop the
    underlying view + sidecars too — leaving <name>__view behind made
    the rebuild run raise 'not built' forever."""
    import os

    src, wh = os.path.join(str(tmp_path), "src"), os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    fact, dim = _src_frames(spark)
    fact.write.parquet(src + "/fact")
    dim.write.parquet(src + "/dim")
    r = _runner(spark, src, wh)
    r.run()
    before = _rollup(r)
    # refresh the mart itself, then via an upstream model
    r.full_refresh(["seg_rollup"])
    assert _rollup(_runner(spark, src, wh)) == before
    r2 = _runner(spark, src, wh)
    r2.full_refresh(["f"])
    assert _rollup(r2) == before


def test_agg_view_first_run_crash_recovers(spark, tmp_path):
    """A crash between view.build() and agg.build() on the first run
    must complete on the next run, not raise 'not built' forever."""
    import os

    src, wh = os.path.join(str(tmp_path), "src"), os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    fact, dim = _src_frames(spark)
    fact.write.parquet(src + "/fact")
    dim.write.parquet(src + "/dim")
    r = _runner(spark, src, wh)

    import nomba_data_pipeline_spark.operators.agg_join_view as ajv

    real_build = ajv.AggJoinView.build

    def _die(self):
        raise RuntimeError("crash before agg build")

    ajv.AggJoinView.build = _die
    try:
        with pytest.raises(RuntimeError, match="crash before agg build"):
            r.run()
    finally:
        ajv.AggJoinView.build = real_build
        ajv.AggJoinView.rebuild = real_build
    r2 = _runner(spark, src, wh)
    r2.run()  # recovery: completes the interrupted first run
    assert _rollup(r2) == {
        (x["grp"], x["cnt"], x["s"])
        for x in fact.join(dim, "dk", "left").groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
            .cast("double").alias("s"),
        ).collect()
    }


def test_erasure_crash_between_view_sweep_and_refresh_heals(spark, tmp_path):
    """FAULT INJECTION: erase_subject rewrites the agg mart's view then
    dies before refreshing the partials — the intent written BEFORE the
    rewrite must heal on the next erasure pass (the replay alone sees
    zero matching rows and would otherwise skip the agg forever)."""
    import os

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src, wh = os.path.join(str(tmp_path), "src"), os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    fact = spark.range(80).select(
        F.col("id").alias("fk"), (F.col("id") % 8).alias("dk"),
        (F.col("id") % 5).alias("user_id"),
        (F.col("id") * 2.0).alias("amt"), F.lit(1).alias("ver"),
    )
    dim = spark.range(8).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        F.lit(1).alias("dver"),
    )
    fact.write.parquet(src + "/fact")
    dim.write.parquet(src + "/dim")

    def mk():
        r = PipelineRunner(spark, wh, src)
        r.register(ModelSpec(
            name="f", fn=lambda s, d: s.read.parquet(d + "/fact"),
            materialization="table",
        ))
        r.register(ModelSpec(
            name="d", fn=lambda s, d: s.read.parquet(d + "/dim"),
            materialization="table",
        ))
        r.register(ModelSpec(
            name="seg_rollup", fn=None, materialization="agg_view",
            view_fact="f", view_dim="d", view_dim_key="dk",
            view_dim_cols=["grp"], view_dim_tracking="dver",
            upsert_key=["fk"], tracking_column="ver",
            agg_group_keys=["grp"], agg_measures=["amt"], view_buckets=4,
        ))
        return r

    mk().run()

    import nomba_data_pipeline_spark.operators.agg_join_view as ajv

    real_refresh = ajv.AggJoinView._refresh

    def _die(self, buckets):
        raise RuntimeError("crash before partial refresh")

    ajv.AggJoinView._refresh = _die
    try:
        with pytest.raises(RuntimeError, match="crash before partial refresh"):
            mk().erase_subject([2], "er-crash")
    finally:
        ajv.AggJoinView._refresh = real_refresh
    # the view WAS swept; partials are stale; the replay heals via the intent
    mk().erase_subject([2], "er-replay")
    expected = {
        (x["grp"], x["cnt"], x["s"])
        for x in fact.filter("user_id <> 2").join(dim, "dk", "left")
        .groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
            .cast("double").alias("s"),
        ).collect()
    }
    assert _rollup(mk()) == expected


def test_erasure_with_missing_agg_meta_sidecar_sweeps_view(spark, tmp_path):
    """FAULT INJECTION (ADVICE r12): a first run that crashed between
    view.build() and agg.build() leaves <name>__view on disk with NO
    ._agg_meta sidecar. erase_subject must NOT raise on the missing
    sidecar (that would fail the entire GDPR sweep across all models):
    it sweeps the view's buckets anyway, and the next run() completes
    the agg build from the already-swept view."""
    import os

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src, wh = os.path.join(str(tmp_path), "src"), os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    fact = spark.range(80).select(
        F.col("id").alias("fk"), (F.col("id") % 8).alias("dk"),
        (F.col("id") % 5).alias("user_id"),
        (F.col("id") * 2.0).alias("amt"), F.lit(1).alias("ver"),
    )
    dim = spark.range(8).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        F.lit(1).alias("dver"),
    )
    fact.write.parquet(src + "/fact")
    dim.write.parquet(src + "/dim")

    def mk():
        r = PipelineRunner(spark, wh, src)
        r.register(ModelSpec(
            name="f", fn=lambda s, d: s.read.parquet(d + "/fact"),
            materialization="table",
        ))
        r.register(ModelSpec(
            name="d", fn=lambda s, d: s.read.parquet(d + "/dim"),
            materialization="table",
        ))
        r.register(ModelSpec(
            name="seg_rollup", fn=None, materialization="agg_view",
            view_fact="f", view_dim="d", view_dim_key="dk",
            view_dim_cols=["grp"], view_dim_tracking="dver",
            upsert_key=["fk"], tracking_column="ver",
            agg_group_keys=["grp"], agg_measures=["amt"], view_buckets=4,
        ))
        return r

    import nomba_data_pipeline_spark.operators.agg_join_view as ajv

    real_build = ajv.AggJoinView.build

    def _die(self):
        raise RuntimeError("crash before agg build")

    ajv.AggJoinView.build = _die
    ajv.AggJoinView.rebuild = _die
    try:
        with pytest.raises(RuntimeError, match="crash before agg build"):
            mk().run()
    finally:
        ajv.AggJoinView.build = real_build
        ajv.AggJoinView.rebuild = real_build
    # no sidecar, view exists — the sweep must succeed, not raise
    removed = mk().erase_subject([2], "er-nosidecar")
    assert removed.get("seg_rollup__view", 0) > 0
    # the view itself holds no subject rows any more
    vw = spark.read.parquet(os.path.join(wh, "seg_rollup__view"))
    assert vw.filter("user_id = 2").count() == 0
    # the next run completes the interrupted build off the swept view
    # without raising. (The SOURCE still holds the subject, and the
    # missing HWM state replays the full fact — so the subject
    # legitimately re-ingests; erasure is durable only once the source
    # is cleansed, the same contract as every other materialization.)
    r2 = mk()
    r2.run()
    expected = {
        (x["grp"], x["cnt"], x["s"])
        for x in fact.join(dim, "dk", "left")
        .groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
            .cast("double").alias("s"),
        ).collect()
    }
    assert {
        (r["grp"], r["cnt"], r["sum_amt"])
        for r in r2.read_model("seg_rollup").collect()
    } == expected
