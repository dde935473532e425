"""End-to-end medallion pipeline tests: full run, idempotent rerun,
CDC-update rerun invariants (reference README.md:224-263 checks,
mechanized)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.plans.cdc_sim import (
    simulate_plan_updates,
    simulate_user_updates,
)
from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
from nomba_data_pipeline_spark.plans import models as M
from tests.conftest import SF_SMALL


@pytest.fixture
def warehouse(tmp_path):
    return os.path.join(tmp_path, "wh")


def test_full_pipeline_and_idempotent_rerun(spark, warehouse):
    runner = build_pipeline(spark, warehouse, SF_SMALL)
    counts1 = runner.run()
    assert counts1["stg_users"] > 0
    assert counts1["fact_transactions"] > 0
    assert counts1["dim_users"] == counts1["stg_users"]

    fact1 = sorted(
        (r.transaction_id, r.amount, r.region)
        for r in runner.table("fact_transactions").read().collect()
    )
    # rerun with unchanged sources: incremental models see empty deltas,
    # SCD2 sees no changes -> identical tables
    runner2 = build_pipeline(spark, warehouse, SF_SMALL)
    counts2 = runner2.run()
    assert counts2 == counts1
    # the close's own write observed its counts: nothing closed, no new key
    assert runner2.last_scd2 == {
        "users_snapshot": {"closed": 0, "new_keys": 0, "batch_id": None}
    }
    fact2 = sorted(
        (r.transaction_id, r.amount, r.region)
        for r in runner.table("fact_transactions").read().collect()
    )
    assert fact1 == fact2


def test_cdc_user_update_creates_scd2_version(spark, warehouse):
    runner = build_pipeline(spark, warehouse, SF_SMALL)
    runner.run()
    n_users = runner.table("dim_users").read().count()

    override = {
        "stg_users": lambda s, sf: simulate_user_updates(M.stg_users(s, sf), fraction=0.1)
    }
    runner2 = build_pipeline(spark, warehouse, SF_SMALL, source_override=override)
    runner2.run()

    snap = runner2.read_model("users_snapshot")
    changed = snap.filter(F.col("segment") == "CHANGED")
    n_changed_open = changed.filter(F.col("valid_to").isNull()).count()
    assert n_changed_open > 0
    # every changed user has exactly one closed historical version
    closed = snap.filter(F.col("valid_to").isNotNull())
    assert closed.count() == n_changed_open
    # dim_users still unique & complete
    dim = runner2.table("dim_users").read()
    assert dim.count() == n_users
    assert dim.filter(F.col("segment") == "CHANGED").count() == n_changed_open


def test_fact_partition_pruning(spark, warehouse):
    """F4: month-partitioned fact -> a month filter must prune at scan."""
    runner = build_pipeline(spark, warehouse, SF_SMALL)
    runner.run()
    fact = runner.table("fact_transactions").read()
    months = sorted(r.txn_month for r in fact.select("txn_month").distinct().collect())
    assert len(months) > 1  # partitioned layout actually has multiple dirs
    one_month = fact.filter(F.col("txn_month") == F.lit(months[0]))
    plan = one_month._sc._jvm.PythonSQLUtils.explainString(
        one_month._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "txn_month" in pf_line


def test_cdc_plan_update_flows_to_marts(spark, warehouse):
    runner = build_pipeline(spark, warehouse, SF_SMALL)
    runner.run()
    before = {
        r.plan_id: r.target_amount for r in runner.table("dim_plans").read().collect()
    }

    override = {
        "stg_plans": lambda s, sf: simulate_plan_updates(M.stg_plans(s, sf), fraction=0.1)
    }
    runner2 = build_pipeline(spark, warehouse, SF_SMALL, source_override=override)
    runner2.run()

    after = {r.plan_id: r.target_amount for r in runner2.table("dim_plans").read().collect()}
    assert set(after) == set(before)  # upsert, not append
    doubled = [p for p in after if after[p] == 2 * before[p]]
    unchanged = [p for p in after if after[p] == before[p]]
    assert doubled and unchanged
    # incremental hwm actually filtered: stg_plans row count unchanged
    assert runner2.table("stg_plans").read().count() == len(before)


def test_random_sample_seeded_determinism(spark):
    """O3: rand(seed) sampling is reproducible for a fixed input
    partitioning within a session, and draws exactly n distinct rows."""
    from nomba_data_pipeline_spark.plans.cdc_sim import random_sample

    df = spark.range(0, 1000, 1, 4)
    a = sorted(r.id for r in random_sample(df, 25, seed=7).collect())
    b = sorted(r.id for r in random_sample(df, 25, seed=7).collect())
    c = sorted(r.id for r in random_sample(df, 25, seed=8).collect())
    assert a == b and len(a) == len(set(a)) == 25
    assert a != c  # different seed -> different draw


def test_quality_profile_single_pass_semantics(spark):
    """The fused profile must agree with the single-purpose checks on
    duplicates, NULLs, out-of-set values, and min_rows."""
    from nomba_data_pipeline_spark.plans.quality import QualitySpec

    df = spark.createDataFrame(
        [(1, "a", "F"), (1, "b", "O"), (2, None, "X"), (None, "d", None)],
        "k int, name string, status string",
    )
    spec = QualitySpec(
        unique=["k"],
        not_null=["k", "name"],
        accepted_values={"status": ["F", "O", "P"]},
        min_rows=10,
    )
    results, total = spec.violations(df)
    assert total == 4
    assert results["unique:k"] == 1  # one excess duplicate row (k=1 twice)
    assert results["not_null:k"] == 1
    assert results["not_null:name"] == 1
    assert results["accepted_values:status"] == 1  # 'X'; NULL passes
    assert results["min_rows"] == 6
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="unique:k"):
        spec.assert_ok(df, model="m")
    ok = QualitySpec(unique=["k"], not_null=["k"])
    clean = spark.createDataFrame([(1, "a"), (2, "b")], "k int, name string")
    assert ok.assert_ok(clean) == 2


def test_cli_run_query_compact(spark, tmp_path, capsys):
    """The CLI operational surface (python -m nomba_data_pipeline_spark):
    run materializes the DAG and reports per-model timings; query runs a
    registry entry; compact reports file counts. Driven in-process (the
    session factory reuses the active session)."""
    import json

    from nomba_data_pipeline_spark.__main__ import main

    wh = os.path.join(tmp_path, "wh")
    rc = main(["--sf-dir", SF_SMALL, "run", "--warehouse", wh])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["model_rows"]["fact_transactions"] > 0
    assert "model_seconds" in out

    rc = main(["--sf-dir", SF_SMALL, "query", "flagship_revenue_by_region", "--limit", "3"])
    assert rc == 0
    assert "revenue" in capsys.readouterr().out

    rc = main(["--sf-dir", SF_SMALL, "compact", "--warehouse", wh, "--model", "stg_users"])
    assert rc == 0
    cj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cj["files_after"] <= cj["files_before"]

    rc = main(
        [
            "--sf-dir",
            SF_SMALL,
            "cluster",
            "--warehouse",
            wh,
            "--model",
            "stg_users",
            "--by",
            "user_id",
        ]
    )
    assert rc == 0
    clj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert clj["clustered_by"] == ["user_id"] and clj["files"] >= 1

    rc = main(
        [
            "--sf-dir",
            SF_SMALL,
            "zorder",
            "--warehouse",
            wh,
            "--model",
            "stg_users",
            "--by",
            "user_id",
            "nation_key",
        ]
    )
    assert rc == 0
    zj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert zj["zordered_by"] == ["user_id", "nation_key"] and zj["files"] >= 1

    rc = main(["list"])
    assert rc == 0
    assert "flagship_revenue_by_region" in capsys.readouterr().out

    # ANN index lifecycle: build -> stats -> append twice (replay-safe)
    ipath = os.path.join(tmp_path, "lshidx")
    rc = main(["--sf-dir", SF_SMALL, "index", "build", "--path", ipath])
    assert rc == 0
    bj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert bj["rows"] > 0
    rc = main(["--sf-dir", SF_SMALL, "index", "stats", "--path", ipath])
    assert rc == 0
    sj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sj["rows"] == bj["rows"]
    # the built index already holds every id: a rerun appends nothing
    for _ in range(2):
        rc = main(["--sf-dir", SF_SMALL, "index", "append", "--path", ipath])
        assert rc == 0
        aj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert aj == {"appended": 0}
    rc = main(["--sf-dir", SF_SMALL, "index", "stats", "--path", ipath])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == sj


def test_full_refresh_rebuilds_subgraph_and_downstream(spark, warehouse):
    """dbt --full-refresh: a stale incremental mart picks up dim
    attribute changes only through a full refresh; untouched side
    branches keep their storage."""
    runner = build_pipeline(spark, warehouse, SF_SMALL)
    runner.run()
    # an INCREMENTAL upstream in the dependency closure re-runs as an
    # empty-delta no-op: its storage must not be rewritten (table-
    # materialized upstreams like stg_users DO rewrite — that's their
    # normal run behavior, not a refresh drop)
    stg_txn_dir = os.path.join(warehouse, "stg_transactions")
    mtime_stg_txn = os.path.getmtime(stg_txn_dir)
    fact_before = runner.table("fact_transactions").read().count()

    refreshed = runner.full_refresh(["dim_plans"])
    assert "dim_plans" in refreshed and "fact_transactions" in refreshed
    assert os.path.getmtime(stg_txn_dir) == mtime_stg_txn
    assert runner.table("fact_transactions").read().count() == fact_before

    import pytest as _pytest

    with _pytest.raises(ValueError):
        runner.full_refresh(["no_such_model"])


def test_cli_sql_refresh_erase(spark, tmp_path, capsys):
    """Round-6 CLI verbs: sql (ad-hoc over the warehouse), refresh
    (subgraph rebuild), erase (GDPR purge + manifest)."""
    import json

    from nomba_data_pipeline_spark.__main__ import main

    wh = os.path.join(tmp_path, "wh")
    assert main(["--sf-dir", SF_SMALL, "run", "--warehouse", wh]) == 0
    capsys.readouterr()

    rc = main(
        [
            "--sf-dir", SF_SMALL, "sql", "--warehouse", wh,
            "--query", "SELECT count(*) AS n FROM fact_transactions",
        ]
    )
    assert rc == 0
    assert "n" in capsys.readouterr().out

    rc = main(
        ["--sf-dir", SF_SMALL, "refresh", "--warehouse", wh, "--models", "dim_plans"]
    )
    assert rc == 0
    rj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "fact_transactions" in rj["refreshed"]

    uid = next(
        r.user_id
        for r in spark.read.parquet(os.path.join(wh, "stg_users")).limit(1).collect()
    )
    rc = main(
        [
            "--sf-dir", SF_SMALL, "erase", "--warehouse", wh,
            "--user-ids", str(uid), "--erasure-id", "cli-req",
        ]
    )
    assert rc == 0
    ej = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ej["rows_removed"]["stg_users"] == 1
    assert os.path.exists(os.path.join(wh, "_erasures", "cli-req.json"))


def test_full_refresh_preserves_scd2_history(spark, warehouse):
    """SCD2 snapshots are excluded from full-refresh drops: refreshing
    stg_users pulls users_snapshot into the downstream closure, but
    the closed history must survive; naming a snapshot refuses."""
    runner = build_pipeline(spark, warehouse, SF_SMALL)
    runner.run()
    override = {
        "stg_users": lambda s, sf: simulate_user_updates(
            M.stg_users(s, sf), fraction=0.2
        )
    }
    runner2 = build_pipeline(spark, warehouse, SF_SMALL, source_override=override)
    runner2.run()
    closed_before = runner2.table("users_snapshot__closed").read().count()
    assert closed_before > 0

    runner3 = build_pipeline(spark, warehouse, SF_SMALL, source_override=override)
    runner3.full_refresh(["stg_users"])
    assert runner3.table("users_snapshot__closed").read().count() == closed_before

    with pytest.raises(ValueError, match="SCD2 snapshot"):
        runner3.full_refresh(["users_snapshot"])


def test_cli_validate_reports_clean_and_corrupted(spark, tmp_path, capsys):
    """`validate` = standalone dbt test: clean model exits 0; a
    corrupted table (duplicate key injected) exits 1 naming the
    failed check."""
    import json

    from nomba_data_pipeline_spark.__main__ import main

    wh = os.path.join(tmp_path, "wh")
    assert main(["--sf-dir", SF_SMALL, "run", "--warehouse", wh]) == 0
    capsys.readouterr()

    rc = main(["--sf-dir", SF_SMALL, "validate", "--warehouse", wh, "--model", "dim_plans"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["violations"] == {}

    # corrupt: duplicate a stg_plans row behind the runner's back
    p = os.path.join(wh, "stg_plans")
    dup = spark.read.parquet(p).limit(1)
    dup.write.mode("append").parquet(p)
    rc = main(["--sf-dir", SF_SMALL, "validate", "--warehouse", wh, "--model", "stg_plans"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert any(k.startswith("unique:plan_id") for k in out["violations"])


def test_on_schema_change_policies(spark, tmp_path):
    """dbt on_schema_change parity for incremental models: 'ignore'
    drops source-only columns (default, reference parity),
    'append_new_columns' widens the target and carries them, 'fail'
    surfaces the drift loudly."""
    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src = {"rows": [(1, "a", 1)]}  # mutable source the model fn reads

    def model_fn(s, _sf):
        cols = "id int, name string, v int" if len(src["rows"][0]) == 3 else (
            "id int, name string, v int, extra string"
        )
        return s.createDataFrame(src["rows"], cols)

    def mk(policy, name):
        r = PipelineRunner(spark, os.path.join(tmp_path, policy), SF_SMALL)
        r.register(
            ModelSpec(
                name=name, fn=model_fn, materialization="incremental",
                upsert_key=["id"], tracking_column="v",
                on_schema_change=policy,
            )
        )
        return r

    for policy in ("ignore", "append_new_columns", "fail"):
        src["rows"] = [(1, "a", 1)]
        mk(policy, "m").run()

    # drifted source adds a column with a newer tracking value
    src["rows"] = [(2, "b", 2, "x")]

    mk("ignore", "m").run()
    assert "extra" not in spark.read.parquet(
        os.path.join(tmp_path, "ignore", "m")
    ).columns

    mk("append_new_columns", "m").run()
    out = {
        r.id: r.extra
        for r in spark.read.parquet(
            os.path.join(tmp_path, "append_new_columns", "m")
        ).collect()
    }
    assert out == {1: None, 2: "x"}

    with pytest.raises(ValueError, match="on_schema_change='fail'"):
        mk("fail", "m").run()

    with pytest.raises(ValueError, match="unknown on_schema_change"):
        mk("sync_all_columns", "m").run()


def test_on_schema_change_type_drift(spark, tmp_path):
    """Type drift through the runner: 'append_new_columns' promotes a
    widened column (int->bigint) via promote_types; 'fail' surfaces
    type drift, not just new columns; and drift is detected even when
    the introducing batch carries NO rows past the high-water mark
    (the empty-delta short-circuit must not defer it)."""
    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src = {"ddl": "id int, name string, v int", "rows": [(1, "a", 1)]}

    def model_fn(s, _sf):
        return s.createDataFrame(src["rows"], src["ddl"])

    def mk(wh, policy=None):
        r = PipelineRunner(spark, os.path.join(tmp_path, wh), SF_SMALL)
        r.register(
            ModelSpec(
                name="m", fn=model_fn, materialization="incremental",
                upsert_key=["id"], tracking_column="v",
                on_schema_change=policy or wh,
            )
        )
        return r

    for wh, policy in (
        ("append_new_columns", None), ("fail", None), ("fail_empty", "fail")
    ):
        src["ddl"], src["rows"] = "id int, name string, v int", [(1, "a", 1)]
        mk(wh, policy).run()

    # id drifts to bigint with a value past int range, newer tracking v
    src["ddl"] = "id bigint, name string, v int"
    src["rows"] = [(5_000_000_000, "big", 2)]

    mk("append_new_columns").run()
    out = spark.read.parquet(os.path.join(tmp_path, "append_new_columns", "m"))
    assert dict(out.dtypes)["id"] == "bigint"
    assert {r.id for r in out.collect()} == {1, 5_000_000_000}

    with pytest.raises(ValueError, match="type drift"):
        mk("fail").run()

    # drifted batch entirely BEHIND the HWM: delta is empty, but 'fail'
    # must still surface the drift now rather than defer it
    src["rows"] = [(4_000_000_000, "behind", 0)]
    with pytest.raises(ValueError, match="type drift"):
        mk("fail_empty", "fail").run()


def test_join_view_materialization_e2e(spark, tmp_path):
    """materialization='join_view': a dim attribute update reaches
    already-loaded mart rows on the next run WITHOUT a fact rescan —
    per-bucket file listings prove only the patched buckets were
    rewritten. State (fact/dim HWMs) persists across runner instances."""
    import glob as _glob

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    fact_src = {"rows": [(1, 10, 100.0, 1), (2, 20, 200.0, 1), (3, 10, 300.0, 1)]}
    dim_src = {"rows": [(10, "alpha", 1), (20, "beta", 1)]}

    def mk():
        r = PipelineRunner(spark, os.path.join(tmp_path, "wh"), SF_SMALL)
        r.register(
            ModelSpec(
                name="f",
                fn=lambda s, _: s.createDataFrame(
                    fact_src["rows"], "fk long, dk long, amount double, v int"
                ),
                materialization="incremental", upsert_key=["fk"],
                tracking_column="v",
            )
        )
        r.register(
            ModelSpec(
                name="d",
                fn=lambda s, _: s.createDataFrame(
                    dim_src["rows"], "dk long, name string, u int"
                ),
                materialization="incremental", upsert_key=["dk"],
                tracking_column="u",
            )
        )
        r.register(
            ModelSpec(
                name="mart", fn=None, materialization="join_view",
                view_fact="f", view_dim="d", view_dim_key="dk",
                view_dim_cols=["name"], view_dim_tracking="u",
                upsert_key=["fk"], tracking_column="v", view_buckets=8,
            )
        )
        return r

    mk().run()
    mart = os.path.join(tmp_path, "wh", "mart")

    def rows(r):
        return {x["fk"]: (x["dk"], x["name"]) for x in r.read_model("mart").collect()}

    r = mk()
    assert rows(r) == {1: (10, "alpha"), 2: (20, "beta"), 3: (10, "alpha")}

    files_before = {
        d: sorted(os.listdir(d)) for d in _glob.glob(os.path.join(mart, "__dim_bucket=*"))
    }
    # dim attribute change for dk=10, new tracking value — fresh runner
    dim_src["rows"] = dim_src["rows"] + [(10, "ALPHA2", 2)]
    r2 = mk()
    r2.run()
    assert rows(r2) == {1: (10, "ALPHA2"), 2: (20, "beta"), 3: (10, "ALPHA2")}
    files_after = {
        d: sorted(os.listdir(d)) for d in _glob.glob(os.path.join(mart, "__dim_bucket=*"))
    }
    changed = [d for d in files_before if files_before[d] != files_after.get(d)]
    assert len(changed) == 1, "only dk=10's bucket may be rewritten"

    # fact delta: arrives enriched against the CURRENT (patched) dim
    fact_src["rows"] = fact_src["rows"] + [(4, 10, 400.0, 2)]
    r3 = mk()
    r3.run()
    assert rows(r3)[4] == (10, "ALPHA2")
    # replay with no new data: HWM state short-circuits both sides
    r4 = mk()
    r4.run()
    assert rows(r4) == rows(r3)


def test_join_view_state_crash_replay_converges(spark, tmp_path):
    """FAULT INJECTION: a crash between the join-view applies and the
    HWM-state write leaves stale state; the replayed run re-applies the
    same deltas and must converge (both applies are idempotent keyed
    rewrites) — the ordering contract _run_view documents."""
    import shutil

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    fact_src = {"rows": [(1, 10, 100.0, 1)]}
    dim_src = {"rows": [(10, "alpha", 1)]}

    def mk():
        r = PipelineRunner(spark, os.path.join(tmp_path, "wh"), SF_SMALL)
        r.register(
            ModelSpec(
                name="f",
                fn=lambda s, _: s.createDataFrame(
                    fact_src["rows"], "fk long, dk long, amount double, v int"
                ),
                materialization="incremental", upsert_key=["fk"],
                tracking_column="v",
            )
        )
        r.register(
            ModelSpec(
                name="d",
                fn=lambda s, _: s.createDataFrame(
                    dim_src["rows"], "dk long, name string, u int"
                ),
                materialization="incremental", upsert_key=["dk"],
                tracking_column="u",
            )
        )
        r.register(
            ModelSpec(
                name="mart", fn=None, materialization="join_view",
                view_fact="f", view_dim="d", view_dim_key="dk",
                view_dim_cols=["name"], view_dim_tracking="u",
                upsert_key=["fk"], tracking_column="v", view_buckets=4,
            )
        )
        return r

    mk().run()
    state = os.path.join(tmp_path, "wh", "mart._view_state")
    stale = os.path.join(tmp_path, "stale_state")
    shutil.copytree(state, stale)  # snapshot the post-build state

    # new data on both sides; run applies it and advances the state
    fact_src["rows"] += [(2, 10, 200.0, 2)]
    dim_src["rows"] += [(10, "ALPHA2", 2)]
    mk().run()
    want = {
        r["fk"]: (r["dk"], r["name"])
        for r in mk().read_model("mart").collect()
    }
    assert want == {1: (10, "ALPHA2"), 2: (10, "ALPHA2")}

    # CRASH SIMULATION: roll the state back to the pre-apply snapshot
    # (as if the process died between the applies and the state write)
    shutil.rmtree(state)
    shutil.copytree(stale, state)
    mk().run()  # replay re-applies the same dim patch + fact delta
    got = {
        r["fk"]: (r["dk"], r["name"])
        for r in mk().read_model("mart").collect()
    }
    assert got == want  # converged, no duplicates, no lost patch


def test_join_view_missing_state_sidecar_recovers(spark, tmp_path):
    """FAULT INJECTION (ADVICE r11): a crash between build() and the
    state write — or an unreadable sidecar — must NOT brick the view.
    _run_view treats missing state as {None, None}: both applies
    replay the full fact/dim as deltas (idempotent keyed rewrites) and
    converge, instead of raising until a manual full_refresh."""
    import shutil

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    fact_src = {"rows": [(1, 10, 100.0, 1)]}
    dim_src = {"rows": [(10, "alpha", 1)]}

    def mk():
        r = PipelineRunner(spark, os.path.join(tmp_path, "wh"), SF_SMALL)
        r.register(
            ModelSpec(
                name="f",
                fn=lambda s, _: s.createDataFrame(
                    fact_src["rows"], "fk long, dk long, amount double, v int"
                ),
                materialization="incremental", upsert_key=["fk"],
                tracking_column="v",
            )
        )
        r.register(
            ModelSpec(
                name="d",
                fn=lambda s, _: s.createDataFrame(
                    dim_src["rows"], "dk long, name string, u int"
                ),
                materialization="incremental", upsert_key=["dk"],
                tracking_column="u",
            )
        )
        r.register(
            ModelSpec(
                name="mart", fn=None, materialization="join_view",
                view_fact="f", view_dim="d", view_dim_key="dk",
                view_dim_cols=["name"], view_dim_tracking="u",
                upsert_key=["fk"], tracking_column="v", view_buckets=4,
            )
        )
        return r

    mk().run()
    state = os.path.join(tmp_path, "wh", "mart._view_state")
    # CRASH SIMULATION: the sidecar never landed (died between build
    # and _save)
    shutil.rmtree(state)

    fact_src["rows"] += [(2, 10, 200.0, 2)]
    dim_src["rows"] += [(10, "ALPHA2", 2)]
    r2 = mk()
    r2.run()  # full reapply under {None, None} state — converges
    got = {
        r["fk"]: (r["dk"], r["name"])
        for r in r2.read_model("mart").collect()
    }
    assert got == {1: (10, "ALPHA2"), 2: (10, "ALPHA2")}
    assert os.path.exists(state)  # state re-established
    # next run short-circuits off the restored HWMs and stays converged
    r3 = mk()
    r3.run()
    assert {
        r["fk"]: (r["dk"], r["name"])
        for r in r3.read_model("mart").collect()
    } == got


def test_view_state_sidecar_roundtrip_and_damage(spark, tmp_path):
    """The view-state sidecar reads back what was saved; a damaged one
    (part file truncated, or a crash left only the directory) loads as
    the {None, None} state whose full replay
    test_join_view_missing_state_sidecar_recovers proves convergent."""
    from nomba_data_pipeline_spark.plans.runner import PipelineRunner

    r = PipelineRunner(spark, os.path.join(tmp_path, "wh"), SF_SMALL)
    p = os.path.join(tmp_path, "mart._view_state")
    blank = {"fact_hwm": None, "dim_hwm": None, "fact_version": None}
    assert r._load_view_state(p) == blank
    r._save_view_state(p, "5", "7", 3)
    assert r._load_view_state(p) == {
        "fact_hwm": "5", "dim_hwm": "7", "fact_version": 3,
    }
    part = os.path.join(p, [f for f in os.listdir(p) if f.endswith(".parquet")][0])
    with open(part, "r+b") as fh:
        fh.truncate(8)
    assert r._load_view_state(p) == blank
    os.remove(part)
    assert r._load_view_state(p) == blank


@pytest.mark.parametrize(
    "dtype,lo,hi",
    [
        ("int", "1", "2"),
        ("bigint", "9007199254740993", "9007199254740994"),  # > 2^53
        ("float", "0.1", "0.2"),
        ("double", "0.1000000000000001", "0.2"),
        ("decimal(12,2)", "12345.67", "12345.68"),
        ("date", "DATE'2024-03-01'", "DATE'2024-03-02'"),
        (
            "timestamp",
            "TIMESTAMP'2024-03-01 12:34:56.123456'",
            "TIMESTAMP'2024-03-01 12:34:56.123457'",
        ),
        ("string", "'abc'", "'abd'"),
    ],
)
def test_join_view_hwm_string_roundtrip_is_exact(spark, dtype, lo, hi):
    """PIN the _run_view HWM contract (VERDICT r11 honesty note):
    the stored `str(max)` reparsed via cast to the tracking column's
    own dtype must be EXACT — the max row itself is excluded by the
    strict `>` filter and the next value up is included. A dtype whose
    str() round-trip truncated would silently re-apply (or skip) rows
    at every incremental run."""
    df = spark.sql(
        f"SELECT CAST({lo} AS {dtype}) AS t UNION ALL SELECT CAST({hi} AS {dtype})"
    )
    mx = df.agg(F.max("t").alias("m")).first()["m"]
    hwm = str(mx)  # what _run_view persists
    filt = df.filter(F.col("t") > F.lit(hwm).cast(dtype))
    assert filt.count() == 0, f"{dtype}: max leaked past its own HWM"
    lower = spark.sql(f"SELECT CAST({lo} AS {dtype}) AS t")
    hwm_lo = str(lower.agg(F.max('t').alias('m')).first()["m"])
    above = df.filter(F.col("t") > F.lit(hwm_lo).cast(dtype))
    assert above.count() == 1, f"{dtype}: value above the HWM was lost"


def test_concurrent_run_matches_sequential(spark, warehouse, monkeypatch):
    """§2.6 overlap of independent models (r16): a threaded run must
    produce byte-identical tables, the same counts dict (in dependency
    order), and per-model last_timings — and a failing model must
    surface the same exception it does sequentially, with no new models
    scheduled after the failure."""
    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_WORKERS", "3")
    runner = build_pipeline(spark, warehouse, SF_SMALL)
    counts_t = runner.run()
    assert set(runner.last_timings) == set(counts_t)

    wh2 = warehouse + "_seq"
    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_WORKERS", "1")
    counts_s = build_pipeline(spark, wh2, SF_SMALL).run()
    assert counts_t == counts_s  # same values AND same (dependency) order
    assert list(counts_t) == list(counts_s)
    r1 = build_pipeline(spark, warehouse, SF_SMALL)
    r2 = build_pipeline(spark, wh2, SF_SMALL)

    # SCD2 stamps NOW() into valid_from/valid_to (and scd_id derives
    # from valid_from): those columns differ between ANY two separate
    # runs, threaded or not — compare the run-stable columns
    _UNSTABLE = {"valid_from", "valid_to", "updated_at_scd", "scd_id"}

    def _rows(runner_, name):
        df = runner_.read_model(name)
        keep = [c for c in df.columns if c not in _UNSTABLE]
        return sorted(map(tuple, df.select(*keep).collect()))

    for name in counts_s:
        assert _rows(r1, name) == _rows(r2, name), (
            f"model {name} diverged under the threaded run"
        )

    # CDC rerun through the threaded path converges identically too
    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_WORKERS", "3")
    override = {
        "stg_plans": lambda s, sf: simulate_plan_updates(M.stg_plans(s, sf), 0.05)
    }
    build_pipeline(spark, warehouse, SF_SMALL, source_override=override).run()
    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_WORKERS", "1")
    build_pipeline(spark, wh2, SF_SMALL, source_override=override).run()
    for name in counts_s:
        assert _rows(r1, name) == _rows(r2, name), (
            f"model {name} diverged after threaded CDC rerun"
        )


def test_concurrent_run_failure_semantics(spark, tmp_path, monkeypatch):
    """A gate failure under the threaded scheduler raises the
    topologically-earliest failing model's exception (sequential
    parity) and stops scheduling models that were not yet submitted."""
    import pytest as _pytest

    from nomba_data_pipeline_spark.plans.quality import QualitySpec
    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_WORKERS", "3")
    r = PipelineRunner(spark, str(tmp_path / "wh"), SF_SMALL)
    r.register(ModelSpec(
        name="dup",
        fn=lambda s, sf: s.createDataFrame([(1, "a"), (1, "b")], "k int, v string"),
        materialization="table",
        quality=QualitySpec(unique=["k"]),
    ))
    r.register(ModelSpec(
        name="down",
        fn=lambda s, sf: r.table("dup").read(),
        materialization="table",
        depends_on=["dup"],
    ))
    with _pytest.raises(AssertionError, match="unique:k"):
        r.run()
    # the dependent of the failed model must not have materialized
    assert not r.table("down").exists()


@pytest.mark.parametrize("workers", ["1", "3"])
def test_model_jobs_carry_model_tag_and_callers_job_group(
    spark, tmp_path, monkeypatch, workers
):
    """One scheduling path: with one worker or three, every Spark job a
    model runs is described `model:<name>` and stays inside the job
    group the caller set (the pool threads inherit its local
    properties)."""
    import time

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_WORKERS", workers)
    r = PipelineRunner(spark, str(tmp_path / "wh"), SF_SMALL)
    for name in ("a", "b"):
        r.register(ModelSpec(
            name=name, fn=lambda s, sf: s.range(5), materialization="table",
        ))
    sc = spark.sparkContext
    group = f"model-tag-test-{workers}"
    sc.setJobGroup(group, "caller")
    try:
        r.run()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + 30  # the status store fills from the listener bus
    while True:
        ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        opts = [store.job(i).description() for i in ids]
        descs = {d.get() if d.isDefined() else None for d in opts}
        if descs >= {"model:a", "model:b"} or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    assert descs == {"model:a", "model:b"}, descs
