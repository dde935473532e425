"""The quality gate's two forms: the full read-back gate and the
write-time gate that rides a write: a `table` model's overwrite, or a
certified refresh's merge.

A merge's write gate counts only the rows the refresh writes and trusts
the rows it carries over because an earlier passing gate certified them.
These tests pin when that trust holds (and when it must fall back to the
full gate), and that both forms reach the same {check: count} verdicts."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.plans import models as M
from nomba_data_pipeline_spark.plans.cdc_sim import simulate_user_updates
from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
from nomba_data_pipeline_spark.plans.quality import QualitySpec, WriteGate
from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner
from tests.conftest import SF_SMALL

TABLES = ("stg_users", "dim_users")  # full overwrites: no certificate
MERGED = ("users_snapshot", "stg_plans", "dim_plans", "stg_transactions",
          "fact_transactions")
GATED = TABLES + MERGED


def _plans(k: int, bad: str | None = None):
    """stg_plans source for cycle k: ~5% of plans re-stamped k days past
    the source's max updated_at with a new amount. `bad`: "dup" repeats
    one changed row, "status" gives some changed rows status 'X'."""

    def fn(s, sf):
        base = M.stg_plans(s, sf)
        mx = base.agg(F.max("updated_at")).first()[0]
        pick = F.pmod(F.hash(F.col("plan_id"), F.lit(k)), F.lit(100)) < 5
        out = base.withColumn(
            "target_amount",
            F.when(pick, F.col("target_amount") + k).otherwise(F.col("target_amount")),
        ).withColumn(
            "updated_at",
            F.when(pick, F.lit(mx) + F.expr(f"INTERVAL {k} DAYS"))
            .otherwise(F.col("updated_at")),
        )
        if bad == "dup":
            out = out.unionByName(out.filter(pick).limit(1))
        if bad == "status":
            out = out.withColumn(
                "status",
                F.when(pick & (F.pmod(F.col("plan_id"), F.lit(2)) == 0), F.lit("X"))
                .otherwise(F.col("status")),
            )
        return out

    return fn


def _txns(k: int, bad: str | None = None):
    """stg_transactions source for cycle k: the base rows plus ~3% new
    transactions stamped k days past the source's max. `bad`:
    "null_key" nulls some new keys, "orphan" points some new rows at a
    plan that does not exist."""

    def fn(s, sf):
        base = M.stg_transactions(s, sf)
        mx = base.agg(F.max("updated_at")).first()[0]
        new = (
            base.filter(F.pmod(F.hash(F.col("transaction_id"), F.lit(k)), F.lit(100)) < 3)
            .withColumn("transaction_id", F.col("transaction_id") + 10**9 * k)
            .withColumn("updated_at", F.lit(mx) + F.expr(f"INTERVAL {k} DAYS"))
        )
        odd = F.pmod(F.col("transaction_id"), F.lit(2)) == 1
        if bad == "null_key":
            new = new.withColumn(
                "transaction_id",
                F.when(odd, F.lit(None)).otherwise(F.col("transaction_id")),
            )
        if bad == "orphan":
            new = new.withColumn(
                "plan_id", F.when(odd, F.lit(-7)).otherwise(F.col("plan_id"))
            )
        return base.unionByName(new)

    return fn


def _users(k: int, bad: str | None = None):
    """stg_users source for cycle k: 20% of users moved to segment S<k>.
    `bad`: "dup" repeats one user, "null_name" blanks some full names."""

    def fn(s, sf):
        out = simulate_user_updates(
            M.stg_users(s, sf), fraction=0.2, seed=k, new_segment=f"S{k}"
        )
        if bad == "dup":
            out = out.unionByName(out.orderBy("user_id").limit(1))
        if bad == "null_name":
            out = out.withColumn(
                "full_name",
                F.when(F.pmod(F.col("user_id"), F.lit(50)) == 0, F.lit(None))
                .otherwise(F.col("full_name")),
            )
        return out

    return fn


def _cycle(k: int, **bad) -> dict:
    return {
        "stg_users": _users(k, bad.get("users")),
        "stg_plans": _plans(k, bad.get("plans")),
        "stg_transactions": _txns(k, bad.get("txns")),
    }


@pytest.fixture
def write_gates(monkeypatch):
    """{model: ({check: count}, total)} of every write gate decoded."""
    seen: dict = {}
    decode = WriteGate.violations

    def recording(self, total):
        seen[self.model] = decode(self, total)
        return seen[self.model]

    monkeypatch.setattr(WriteGate, "violations", recording)
    return seen


def _assert_agree(runner: PipelineRunner, seen: dict) -> None:
    """Each write gate's result equals the full gate over the stored
    model, count for count, and so does its verdict."""
    for model, got in seen.items():
        spec = runner.models[model]
        assert got == spec.quality.violations(
            runner.read_model(model), resolve=runner.read_model
        ), model


def test_failed_gate_is_not_forgotten_by_the_next_run(spark, tmp_path):
    """A gate that rejected a write leaves no certificate, so the next
    run with an unchanged source (an empty delta) re-checks the stored
    rows and fails again instead of returning the footer count."""
    src = {"rows": [(1, "F", 1)]}

    def runner():
        r = PipelineRunner(spark, str(tmp_path / "wh"), SF_SMALL)
        r.register(ModelSpec(
            name="m",
            fn=lambda s, _sf: s.createDataFrame(src["rows"], "id int, status string, v int"),
            materialization="incremental", upsert_key=["id"], tracking_column="v",
            quality=QualitySpec(accepted_values={"status": ["F", "O"]}),
        ))
        return r

    assert runner().run() == {"m": 1}
    src["rows"] = [(1, "F", 1), (2, "X", 2)]
    with pytest.raises(AssertionError, match=r"accepted_values:status': 1"):
        runner().run()
    assert not os.path.exists(tmp_path / "wh" / "m._certified")
    r = runner()
    with pytest.raises(AssertionError, match=r"accepted_values:status': 1"):
        r.run()
    assert r.last_gates == {"m": "full: no certificate"}


@pytest.mark.parametrize("rows", [
    [(1, "X", 1), (2, "F", 2)],  # a clean delta
    [(1, "X", 1)],               # an empty delta
], ids=["clean_delta", "empty_delta"])
def test_changed_checks_take_the_full_gate(spark, tmp_path, rows):
    """A check tightened after the model was certified: the stored files
    still match the certificate, but not the checks it ran, so the next
    run re-checks every stored row and rejects the one that breaks the
    new check."""

    def runner(accepted, src):
        r = PipelineRunner(spark, str(tmp_path / "wh"), SF_SMALL)
        r.register(ModelSpec(
            name="m",
            fn=lambda s, _sf: s.createDataFrame(src, "id int, status string, v int"),
            materialization="incremental", upsert_key=["id"], tracking_column="v",
            quality=QualitySpec(accepted_values={"status": accepted}),
        ))
        return r

    assert runner(["F", "O", "X"], [(1, "X", 1)]).run() == {"m": 1}
    r = runner(["F", "O"], rows)
    with pytest.raises(AssertionError, match=r"accepted_values:status': 1"):
        r.run()
    assert r.last_gates == {"m": "full: checks changed"}


def test_non_key_relationship_takes_the_full_gate(spark, tmp_path):
    """A relationship to a parent column outside the parent's upsert key:
    an upsert may rewrite that column, orphaning rows in the child's
    untouched partitions, so the child's refresh runs the full gate."""
    src = {"p": [(1, "a", 1)], "c": [(10, "a", "x", 1)]}

    def runner():
        r = PipelineRunner(spark, str(tmp_path / "wh"), SF_SMALL)
        r.register(ModelSpec(
            name="p",
            fn=lambda s, _sf: s.createDataFrame(src["p"], "id int, code string, v int"),
            materialization="incremental", upsert_key=["id"], tracking_column="v",
        ))
        r.register(ModelSpec(
            name="c",
            fn=lambda s, _sf: s.createDataFrame(
                src["c"], "id int, code string, part string, v int"),
            materialization="incremental", upsert_key=["id"], tracking_column="v",
            partition_by=["part"], depends_on=["p"],
            quality=QualitySpec(relationships={"code": ("p", "code")}),
        ))
        return r

    assert runner().run() == {"p": 1, "c": 1}
    src["p"] = [(1, "b", 2)]  # key 1 keeps its row, code 'a' is gone
    src["c"] = [(10, "a", "x", 1), (11, "b", "y", 2)]
    r = runner()
    with pytest.raises(AssertionError, match=r"relationship:code->p.code': 1"):
        r.run()
    assert r.last_gates == {"p": "write", "c": "full: parent not certified incremental"}


def test_out_of_band_file_takes_the_full_gate(spark, tmp_path, capsys):
    """A data file copied into a certified table behind the runner's
    back changes its file fingerprint: the next refresh runs the full
    gate, which sees the duplicated keys, and so does `validate`."""
    from nomba_data_pipeline_spark.__main__ import main

    wh = str(tmp_path / "wh")
    build_pipeline(spark, wh, SF_SMALL).run(only=["stg_plans"])
    part = sorted(glob.glob(os.path.join(wh, "stg_plans", "*.parquet")))[0]
    shutil.copy(part, os.path.join(wh, "stg_plans", "part-99999-copied.parquet"))

    r = build_pipeline(spark, wh, SF_SMALL, source_override={"stg_plans": _plans(1)})
    with pytest.raises(AssertionError, match="unique:plan_id"):
        r.run(only=["stg_plans"])
    assert r.last_gates == {"stg_plans": "full: files changed"}

    capsys.readouterr()
    rc = main(["--sf-dir", SF_SMALL, "validate", "--warehouse", wh, "--model", "stg_plans"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and out["violations"]["unique:plan_id"] > 0


def test_gate_forms_are_reported(spark, tmp_path, capsys):
    """last_gates (and the CLI `run` JSON): a `table` model always runs
    its checks on its overwrite; otherwise the first build runs full
    gates, a certified refresh runs its checks on the write, a run that
    writes nothing keeps the verdict, and after an erasure rewrote the
    tables the refresh runs full gates again."""
    from nomba_data_pipeline_spark.__main__ import main

    wh = str(tmp_path / "wh")
    r = build_pipeline(spark, wh, SF_SMALL)
    r.run()
    assert r.last_gates == {
        **{m: "write" for m in TABLES},
        **{m: "full: first build" for m in MERGED},
    }

    r = build_pipeline(spark, wh, SF_SMALL, source_override=_cycle(1))
    r.run()
    assert {m: r.last_gates[m] for m in GATED} == {m: "write" for m in GATED}

    capsys.readouterr()
    assert main(["--sf-dir", SF_SMALL, "run", "--warehouse", wh,
                 "--only", "stg_transactions"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["model_gates"] == {"stg_transactions": "unchanged"}
    assert isinstance(out["codegen_compiles"], int) and out["codegen_compiles"] >= 0

    user = (r.table("fact_transactions").read()
            .filter(F.col("user_id").isNotNull()).select("user_id").first()[0])
    r.erase_subject([user], "e1")
    # no new transactions: the sources still hold the erased subject's
    # plans, and new rows for them would be genuine orphans
    r = build_pipeline(spark, wh, SF_SMALL, source_override={
        "stg_users": _users(2), "stg_plans": _plans(2)})
    r.run()
    assert r.last_gates == {
        **{m: "write" for m in TABLES},
        **{m: "full: files changed" for m in MERGED},
    }


def test_unchanged_rerun_writes_nothing_to_the_partitioned_fact(spark, tmp_path):
    """A rerun over unchanged sources: the partitioned fact's merge runs
    without an emptiness probe in front of it, finds no partition to
    rewrite, leaves the fact's files as they were and keeps its
    certified verdict."""
    wh = str(tmp_path / "wh")
    build_pipeline(spark, wh, SF_SMALL).run()
    r = build_pipeline(spark, wh, SF_SMALL)
    fact = r.models["fact_transactions"]
    before = r._fingerprint(fact)
    sc = spark.sparkContext
    sc.setJobGroup("unchanged_rerun", "unchanged rerun")
    try:
        r.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r.last_gates["fact_transactions"] == "unchanged"
    assert r._fingerprint(fact) == before
    # 30 jobs while the fact probed its delta and the `table` models
    # re-read their overwrite for the checks
    assert len(sc.statusTracker().getJobIdsForGroup("unchanged_rerun")) < 30


def test_write_gate_agrees_with_full_gate(spark, tmp_path, write_gates):
    """Differential: after every CDC cycle and every seeded bad delta,
    each write gate's {check: count} equals QualitySpec.violations over
    the stored model, so the verdicts agree. Bad deltas run on copies of
    one certified warehouse (copy2 keeps the file fingerprints)."""
    wh = str(tmp_path / "wh")
    build_pipeline(spark, wh, SF_SMALL).run()
    for k in (1, 2):
        write_gates.clear()
        r = build_pipeline(spark, wh, SF_SMALL, source_override=_cycle(k))
        r.run()
        assert set(write_gates) == set(GATED)
        _assert_agree(r, write_gates)

    def bad_run(case: str, only: str, match: str, **bad) -> PipelineRunner:
        case_wh = str(tmp_path / case)
        shutil.copytree(wh, case_wh)
        write_gates.clear()
        r = build_pipeline(spark, case_wh, SF_SMALL, source_override=_cycle(3, **bad))
        with pytest.raises(AssertionError, match=match):
            r.run(only=[only])
        return r

    # a duplicate key and a NULL in a `table` model's overwrite
    for case, match in (("dup", "unique:user_id': 1"),
                        ("null_name", "not_null:full_name")):
        r = bad_run(f"users_{case}", "stg_users", match, users=case)
        assert r.last_gates["stg_users"] == "write"
        _assert_agree(r, write_gates)
    # a duplicate key in a non-dedup model; an out-of-set value
    for case, match in (("dup", "unique:plan_id': 1"), ("status", "accepted_values:status")):
        r = bad_run(case, "stg_plans", match, plans=case)
        assert r.last_gates["stg_plans"] == "write"
        _assert_agree(r, write_gates)
    # a NULL key in the keep-latest (dedup) model
    r = bad_run("null_key", "stg_transactions", "not_null:transaction_id",
                txns="null_key")
    assert r.last_gates["stg_transactions"] == "write"
    _assert_agree(r, write_gates)
    # an orphan foreign key landing in the partitioned fact
    r = bad_run("orphan", "fact_transactions", "relationship:plan_id->dim_plans",
                txns="orphan")
    assert r.last_gates["fact_transactions"] == "write"
    assert write_gates["fact_transactions"][0][
        "relationship:plan_id->dim_plans.plan_id"] > 0
    _assert_agree(r, write_gates)

    # a parent that lost keys behind the child's back: the fact's
    # carried partitions now hold orphans the write never touches, so
    # the parent's broken certificate chain must force the full gate
    case_wh = str(tmp_path / "erased_parent")
    shutil.copytree(wh, case_wh)
    r = build_pipeline(spark, case_wh, SF_SMALL)
    gone = [row.plan_id for row in
            r.table("fact_transactions").read().select("plan_id").distinct().limit(3).collect()]
    dim_plans = r.table("dim_plans")
    dim_plans.overwrite(dim_plans.read().filter(~F.col("plan_id").isin(gone)))
    write_gates.clear()
    r = build_pipeline(spark, case_wh, SF_SMALL,
                       source_override={"stg_transactions": _txns(3)})
    with pytest.raises(AssertionError, match="relationship:plan_id->dim_plans"):
        r.run(only=["fact_transactions"])
    assert r.last_gates["dim_plans"] == "full: files changed"
    assert r.last_gates["fact_transactions"] == "full: parent not certified incremental"
    _assert_agree(r, write_gates)
