"""Incremental aggregate maintenance: fold algebra exactness, replay
idempotence of the persisted state table, and the no-rescan property."""

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.catalog import load_table
from nomba_data_pipeline_spark.operators.incremental_agg import (
    IncrementalAggTable,
    agg_state,
    finalize_agg_state,
    merge_agg_states,
)
from tests.conftest import SF_SMALL


def _rows(df):
    return {
        tuple(r[k] for k in sorted(df.columns)): None for r in df.collect()
    }.keys()


def test_folded_state_equals_one_shot(spark):
    """merge(merge(s0,s1),s2) must equal agg_state over the full frame —
    decimal sums make the fold associative and order-independent."""
    orders = load_table(spark, SF_SMALL, "orders")
    states = [
        agg_state(orders.filter(F.col("o_orderkey") % 3 == i), ["o_custkey"], "o_totalprice")
        for i in range(3)
    ]
    nested = finalize_agg_state(merge_agg_states(merge_agg_states(states[0], states[1]), states[2]))
    flat = finalize_agg_state(merge_agg_states(*states))
    oneshot = finalize_agg_state(agg_state(orders, ["o_custkey"], "o_totalprice"))
    assert _rows(nested) == _rows(flat) == _rows(oneshot)
    assert nested.count() > 0


def test_merge_is_group_cardinality_not_rescan(spark):
    """The merge plan must aggregate the two STATE scans — no join back
    to source rows, no window: union + one hash aggregate."""
    orders = load_table(spark, SF_SMALL, "orders")
    s0 = agg_state(orders.filter(F.col("o_orderkey") % 2 == 0), ["o_custkey"], "o_totalprice")
    s1 = agg_state(orders.filter(F.col("o_orderkey") % 2 == 1), ["o_custkey"], "o_totalprice")
    merged = merge_agg_states(s0, s1)
    plan = merged._sc._jvm.PythonSQLUtils.explainString(
        merged._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in plan and "Window" not in plan, plan


def test_apply_batch_replay_idempotent(spark, tmp_path):
    """Re-applying a batch id must be a no-op (marker contract), and the
    maintained result must equal a full recompute after every batch."""
    orders = load_table(spark, SF_SMALL, "orders")
    t = IncrementalAggTable(spark, str(tmp_path / "agg"), ["o_custkey"], "o_totalprice")
    seen = None
    for i in range(3):
        delta = orders.filter(F.col("o_orderkey") % 3 == i)
        assert t.apply_batch(delta, batch_id=i) is True
        assert t.apply_batch(delta, batch_id=i) is False  # replay no-op
        seen = delta if seen is None else seen.unionByName(delta)
        want = _rows(finalize_agg_state(agg_state(seen, ["o_custkey"], "o_totalprice")))
        assert _rows(t.result()) == want
    # a stale batch replayed after later batches is still a no-op
    assert t.apply_batch(orders.filter(F.col("o_orderkey") % 3 == 0), batch_id=0) is False
    assert _rows(t.result()) == _rows(
        finalize_agg_state(agg_state(orders, ["o_custkey"], "o_totalprice"))
    )


def test_streaming_foreach_batch_maintains_state(spark, tmp_path):
    """The epoch-id-as-marker contract: drive apply_batch from a real
    Structured Streaming foreachBatch over file micro-batches and the
    final state must equal the batch recompute."""
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = str(tmp_path / "src")
    for i in range(3):
        orders.filter(F.col("o_orderkey") % 3 == i).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    t = IncrementalAggTable(spark, str(tmp_path / "agg"), ["o_custkey"], "o_totalprice")
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(lambda df, epoch: t.apply_batch(df, epoch))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _rows(t.result()) == _rows(
        finalize_agg_state(agg_state(orders, ["o_custkey"], "o_totalprice"))
    )


def test_crash_between_fold_and_swap_never_double_counts(spark, tmp_path):
    """Atomicity of state+marker: markers ride inside the swapped state
    directory, so a crash at ANY point either commits (fold + marker
    together, replay = no-op) or leaves the old state (replay refolds
    cleanly). Inject a failure in the swap to exercise the crash-before
    path, then replay."""
    import pytest

    orders = load_table(spark, SF_SMALL, "orders")
    t = IncrementalAggTable(spark, str(tmp_path / "agg"), ["o_custkey"], "o_totalprice")
    b0 = orders.filter(F.col("o_orderkey") % 3 == 0)
    b1 = orders.filter(F.col("o_orderkey") % 3 == 1)
    assert t.apply_batch(b0, 0) is True

    real_swap = t._table._swap_in
    calls = {"n": 0}

    def exploding_swap(tmp):
        calls["n"] += 1
        raise IOError("injected crash before swap")

    t._table._swap_in = exploding_swap
    with pytest.raises(IOError):
        t.apply_batch(b1, 1)
    t._table._swap_in = real_swap
    # crash before swap: batch 1 unmarked, state untouched — replay folds once
    assert t.applied(1) is False
    assert t.apply_batch(b1, 1) is True
    assert t.apply_batch(b1, 1) is False  # and the marker survived the swap
    seen = b0.unionByName(b1)
    want = sorted(
        tuple(r[c] for c in sorted(r.asDict()))
        for r in finalize_agg_state(agg_state(seen, ["o_custkey"], "o_totalprice")).collect()
    )
    got = sorted(
        tuple(r[c] for c in sorted(r.asDict())) for r in t.result().collect()
    )
    assert got == want


def test_markers_carry_forward_across_folds(spark, tmp_path):
    """Every applied batch id must stay marked after later folds (the
    marker set is rewritten into each new state directory)."""
    orders = load_table(spark, SF_SMALL, "orders")
    t = IncrementalAggTable(spark, str(tmp_path / "agg"), ["o_custkey"], "o_totalprice")
    for i in range(3):
        t.apply_batch(orders.filter(F.col("o_orderkey") % 3 == i), i)
    for i in range(3):
        assert t.applied(i), i
    assert not t.applied(99)


def _marker_names(tmp_path):
    import os

    return sorted(
        n for n in os.listdir(tmp_path / "agg" / "state") if n.startswith("_BATCH")
    )


def test_marker_ledger_is_constant_size_under_monotone_epochs(spark, tmp_path):
    """Sequential epoch ids must leave ONE high-water marker, never a
    per-batch file history (which would cost O(total batches) filesystem
    calls per micro-batch at streaming cadence)."""
    orders = load_table(spark, SF_SMALL, "orders")
    t = IncrementalAggTable(spark, str(tmp_path / "agg"), ["o_custkey"], "o_totalprice")
    for i in range(4):
        t.apply_batch(orders.filter(F.col("o_orderkey") % 4 == i), i)
    assert _marker_names(tmp_path) == ["_BATCH_HWM-3"]


def test_out_of_order_ids_stay_sparse_then_compact(spark, tmp_path):
    """A gap keeps a sparse marker; filling the gap folds everything
    into the high-water mark. Replay stays a no-op throughout."""
    orders = load_table(spark, SF_SMALL, "orders")
    t = IncrementalAggTable(spark, str(tmp_path / "agg"), ["o_custkey"], "o_totalprice")
    third = lambda i: orders.filter(F.col("o_orderkey") % 3 == i)  # noqa: E731
    t.apply_batch(third(0), 0)
    t.apply_batch(third(2), 2)
    assert _marker_names(tmp_path) == ["_BATCH-2", "_BATCH_HWM-0"]
    assert t.applied(2) and not t.applied(1)
    assert not t.apply_batch(third(2), 2)  # sparse replay no-op
    t.apply_batch(third(1), 1)
    assert _marker_names(tmp_path) == ["_BATCH_HWM-2"]
    one_shot = finalize_agg_state(
        agg_state(orders, ["o_custkey"], "o_totalprice")
    )
    assert _rows(t.result()) == _rows(one_shot)


def test_legacy_per_id_markers_read_and_compact(spark, tmp_path):
    """State dirs written by the per-id marker layout must read as
    applied and compact into the high-water mark on the next fold."""
    import os

    orders = load_table(spark, SF_SMALL, "orders")
    t = IncrementalAggTable(spark, str(tmp_path / "agg"), ["o_custkey"], "o_totalprice")
    t.apply_batch(orders.filter(F.col("o_orderkey") % 3 == 0), 0)
    state_dir = tmp_path / "agg" / "state"
    os.remove(state_dir / "_BATCH_HWM-0")  # rewrite as the old layout
    (state_dir / "_BATCH-0").touch()
    (state_dir / "_BATCH-1").touch()
    assert t.applied(0) and t.applied(1) and not t.applied(2)
    assert not t.apply_batch(orders.limit(0), 1)
    t.apply_batch(orders.filter(F.col("o_orderkey") % 3 == 2), 2)
    assert _marker_names(tmp_path) == ["_BATCH_HWM-2"]


def test_multi_measure_state_folds_like_one_shot(spark):
    """A list of measures carries one (sum/min/max) triple per measure
    in ONE state table; the fold must equal the one-shot aggregate for
    every measure simultaneously."""
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_quantity", "l_extendedprice"
    )
    ms = ["l_quantity", "l_extendedprice"]
    states = [
        agg_state(li.filter(F.col("l_orderkey") % 2 == i), ["l_returnflag"], ms)
        for i in range(2)
    ]
    folded = finalize_agg_state(merge_agg_states(*states))
    oneshot = finalize_agg_state(agg_state(li, ["l_returnflag"], ms))
    assert sorted(folded.columns) == sorted(oneshot.columns)
    for want in ("sum_l_quantity", "avg_l_extendedprice", "min_l_quantity", "max_l_extendedprice"):
        assert want in folded.columns, want
    a = sorted(tuple(r[c] for c in sorted(folded.columns)) for r in folded.collect())
    b = sorted(tuple(r[c] for c in sorted(oneshot.columns)) for r in oneshot.collect())
    assert a == b and a


def test_key_name_collision_fails_fast(spark):
    import pytest

    df = spark.createDataFrame([(1, 2.0)], "min_tier int, price double")
    with pytest.raises(ValueError, match="state-column namespace"):
        agg_state(df, ["min_tier"], "price")
    with pytest.raises(ValueError, match="state-column namespace"):
        IncrementalAggTable(spark, "/tmp/never", ["cnt"], "price")


# -- r13: approximate-distinct (HLL) state columns ---------------------------
def test_hll_distinct_folds_deterministically_and_exactly_at_small_scale(spark):
    """distinct=["user"] adds an hll_<col> sketch to the state; folding
    3 batch states must equal the one-shot sketch EXACTLY (HLL union is
    deterministic per input, and exact below ~thousands of uniques)."""
    ev = load_table(spark, SF_SMALL, "events").select(
        "event_type", "user_id", "value"
    )
    states = [
        agg_state(ev.filter(F.col("user_id") % 3 == i), ["event_type"],
                  "value", distinct=["user_id"])
        for i in range(3)
    ]
    folded = finalize_agg_state(merge_agg_states(*states))
    oneshot = finalize_agg_state(
        agg_state(ev, ["event_type"], "value", distinct=["user_id"])
    )
    assert "approx_distinct_user_id" in folded.columns
    got = {r["event_type"]: r["approx_distinct_user_id"] for r in folded.collect()}
    want = {r["event_type"]: r["approx_distinct_user_id"] for r in oneshot.collect()}
    assert got == want
    exact = {
        r["event_type"]: r["x"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("x")).collect()
    }
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(1, exact[k] * 0.05), (k, est, exact[k])


def test_incremental_agg_table_maintains_distinct(spark, tmp_path):
    import os

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_type", "user_id", "value"
    )
    t = IncrementalAggTable(
        spark, os.path.join(str(tmp_path), "agg"), ["event_type"], "value",
        distinct=["user_id"],
    )
    for i in range(3):
        t.apply_batch(ev.filter(F.col("user_id") % 3 == i), i)
    assert not t.apply_batch(ev.limit(5), 1)  # replay no-op
    res = t.result()
    exact = {
        r["event_type"]: r["x"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("x")).collect()
    }
    for r in res.collect():
        est = r["approx_distinct_user_id"]
        x = exact[r["event_type"]]
        assert abs(est - x) <= max(1, x * 0.05)


def test_hll_key_name_collision_fails_fast(spark):
    import pytest

    df = spark.createDataFrame([(1, 2.0)], "hll_x int, price double")
    with pytest.raises(ValueError, match="state-column namespace"):
        agg_state(df, ["hll_x"], "price")


def test_agg_join_view_distinct_survives_recompute(spark, tmp_path):
    """Bucket recomputes (dim patch, fact delete) REBUILD the bucket's
    sketches from the view — deletes/migrations need no retraction."""
    import os

    from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView
    from nomba_data_pipeline_spark.operators.incremental_join import JoinViewTable

    fact = spark.range(300).select(
        F.col("id").alias("fk"), (F.col("id") % 20).alias("dk"),
        (F.col("id") % 37).alias("uid"), (F.col("id") * 1.0).alias("amt"),
    )
    dim = spark.range(20).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=8,
    )
    v.build(fact, dim)
    a = AggJoinView(
        spark, os.path.join(str(tmp_path), "agg"),
        view=v, group_keys=["grp"], measures=["amt"],
        distinct_cols=["uid"],
    )
    a.build()
    # reopen from sidecar: distinct config round-trips
    a2 = AggJoinView.open(spark, os.path.join(str(tmp_path), "agg"))
    assert a2.distinct_cols == ["uid"]
    # delete every fact row of dk=3 (one bucket recompute) and patch a
    # dim group; estimates must track the declarative answer
    a2.delete_fact_keys(fact.filter("dk = 3").select("fk"))
    a2.apply_dim_delta(spark.createDataFrame([(5, "gX")], "dk long, grp string"))
    final_fact = fact.filter("dk <> 3")
    final_dim = dim.withColumn(
        "grp", F.when(F.col("dk") == 5, "gX").otherwise(F.col("grp"))
    )
    exact = {
        r["grp"]: r["x"]
        for r in final_fact.join(final_dim, "dk", "left").groupBy("grp")
        .agg(F.count_distinct("uid").alias("x")).collect()
    }
    got = {
        r["grp"]: r["approx_distinct_uid"] for r in a2.result().collect()
    }
    assert set(got) == set(exact)
    for g, est in got.items():
        assert abs(est - exact[g]) <= max(1, exact[g] * 0.05), (g, est, exact[g])


# -- r13: rollup serving (MV navigation) --------------------------------------
def test_rollup_state_serves_coarser_grouping_exactly(spark):
    """result over rollup_state(keys⊂state) must equal the one-shot
    aggregate at the coarse grain — for every measure AND the sketch
    estimate (HLL union across collapsed keys is deterministic)."""
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_suppkey"
    )
    from nomba_data_pipeline_spark.operators.incremental_agg import rollup_state

    fine = agg_state(li, ["l_returnflag", "l_linestatus"], ["l_quantity"],
                     distinct=["l_suppkey"])
    served = finalize_agg_state(rollup_state(fine, ["l_returnflag"]))
    oneshot = finalize_agg_state(
        agg_state(li, ["l_returnflag"], ["l_quantity"], distinct=["l_suppkey"])
    )
    key = lambda df: {
        r["l_returnflag"]: tuple(r[c] for c in sorted(df.columns) if c != "l_returnflag")
        for r in df.collect()
    }
    assert sorted(served.columns) == sorted(oneshot.columns)
    assert key(served) == key(oneshot)


def test_rollup_state_refuses_unknown_key(spark):
    import pytest

    from nomba_data_pipeline_spark.operators.incremental_agg import rollup_state

    li = load_table(spark, SF_SMALL, "lineitem")
    fine = agg_state(li, ["l_returnflag"], ["l_quantity"])
    with pytest.raises(ValueError, match="never add them"):
        rollup_state(fine, ["l_shipmode"])


def test_agg_join_view_result_at(spark, tmp_path):
    """AggJoinView.result_at collapses bucket+key partials in one pass
    and tracks maintenance (delta + delete) exactly."""
    import os

    from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView
    from nomba_data_pipeline_spark.operators.incremental_join import JoinViewTable

    fact = spark.range(200).select(
        F.col("id").alias("fk"), (F.col("id") % 10).alias("dk"),
        (F.col("id") % 4).cast("string").alias("band"),
        (F.col("id") * 1.0).alias("amt"), (F.col("id") % 13).alias("uid"),
    )
    dim = spark.range(10).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=4,
    )
    v.build(fact, dim)
    a = AggJoinView(
        spark, os.path.join(str(tmp_path), "agg"),
        view=v, group_keys=["grp", "band"], measures=["amt"],
        distinct_cols=["uid"],
    )
    a.build()
    a.delete_fact_keys(spark.createDataFrame([(7,), (8,)], "fk long"))
    final = fact.filter("fk not in (7, 8)")
    served = a.result_at(["grp"])
    want = final.join(dim, "dk", "left").groupBy("grp").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
        .cast("double").alias("sum_amt"),
        F.count_distinct("uid").alias("x"),
    ).collect()
    got = {r["grp"]: (r["cnt"], r["sum_amt"], r["approx_distinct_uid"])
           for r in served.collect()}
    for r in want:
        cnt, s, x = got[r["grp"]]
        assert (cnt, s) == (r["cnt"], r["sum_amt"])
        assert abs(x - r["x"]) <= max(1, r["x"] * 0.05)


def test_agg_join_view_result_at_full_keyset_equals_result(spark, tmp_path):
    """REVIEW r13-2: result_at over the mart's FULL key set must merge
    the bucket partials (the no-drop shortcut returned per-bucket
    duplicates)."""
    import os

    from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView
    from nomba_data_pipeline_spark.operators.incremental_join import JoinViewTable

    fact = spark.range(120).select(
        F.col("id").alias("fk"), (F.col("id") % 8).alias("dk"),
        (F.col("id") % 3).cast("string").alias("band"),
        (F.col("id") * 1.0).alias("amt"),
    )
    dim = spark.range(8).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 2).cast("string")).alias("grp"),
    )
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=4,
    )
    v.build(fact, dim)
    a = AggJoinView(
        spark, os.path.join(str(tmp_path), "agg"),
        view=v, group_keys=["grp", "band"], measures=["amt"],
    )
    a.build()
    full = a.result_at(["grp", "band"])
    ref = a.result()
    key = lambda df: sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )
    assert key(full) == key(ref)
    # and no duplicate (grp, band) rows
    assert full.count() == full.select("grp", "band").distinct().count()


# -- r14: deletes/updates for the plain state table --------------------------
def test_apply_changes_folds_deletes_by_group_recompute(spark, tmp_path):
    """VERDICT r14 #6: a change batch with DELETEs recomputes exactly
    the affected groups from the caller-supplied source frame; every
    untouched group keeps its incrementally-maintained partials. Final
    state must equal the one-shot GROUP BY over the post-change fact."""
    import os

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    ins = orders.filter(F.col("o_orderkey") % 5 == 0)
    dels = base.filter(F.col("o_orderkey") % 7 == 0)
    final = base.filter(F.col("o_orderkey") % 7 != 0).unionByName(ins)

    t = IncrementalAggTable(
        spark, os.path.join(str(tmp_path), "agg"),
        keys=["o_custkey"], measure="o_totalprice",
    )
    assert t.apply_batch(base, 0)
    changes = ins.select(F.lit("insert").alias("change_type"), "*").unionByName(
        dels.select(F.lit("delete").alias("change_type"), "*")
    )
    assert t.apply_changes(changes, 1, source=final)
    got = _rows(t.result())
    want = _rows(finalize_agg_state(
        agg_state(final, ["o_custkey"], "o_totalprice")
    ))
    assert got == want
    # replay is a no-op
    assert not t.apply_changes(changes, 1, source=final)
    assert _rows(t.result()) == want


def test_apply_changes_refusals_are_governed(spark, tmp_path):
    """Retractions without a source, updates without preimages, and
    unknown kinds refuse loudly; insert-only batches need no source."""
    import os

    import pytest

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IncrementalAggTable(
        spark, os.path.join(str(tmp_path), "agg"),
        keys=["o_custkey"], measure="o_totalprice",
    )
    assert t.apply_batch(orders, 0)
    one = orders.limit(1)
    with pytest.raises(ValueError, match="pass the current fact frame"):
        t.apply_changes(
            one.select(F.lit("delete").alias("change_type"), "*"), 1
        )
    with pytest.raises(ValueError, match="update_preimage"):
        t.apply_changes(
            one.select(F.lit("update").alias("change_type"), "*"), 1,
            source=orders,
        )
    with pytest.raises(ValueError, match="unknown change_type"):
        t.apply_changes(
            one.select(F.lit("upsert").alias("change_type"), "*"), 1,
            source=orders,
        )
    # insert-only: folds without source, exactly like apply_batch
    assert t.apply_changes(
        one.select(
            F.lit("insert").alias("change_type"),
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_custkey", "o_totalprice",
        ),
        1,
    )


def test_apply_changes_update_moving_group_via_preimage(spark, tmp_path):
    """An update that MOVES a row across groups retracts it from the
    OLD group (located by the preimage) and lands it in the new one —
    the exact case post-images alone cannot handle."""
    import os

    t = IncrementalAggTable(
        spark, os.path.join(str(tmp_path), "agg"),
        keys=["grp"], measure="val",
    )
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, grp string, val double",
    )
    assert t.apply_batch(base, 0)
    # row 2 moves a -> b with a new value
    final = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (3, "b", 30.0)],
        "id long, grp string, val double",
    )
    changes = spark.createDataFrame(
        [("update_preimage", 2, "a", 20.0), ("update", 2, "b", 25.0)],
        "change_type string, id long, grp string, val double",
    )
    assert t.apply_changes(changes, 1, source=final)
    got = {
        (r["grp"], r["cnt"], float(r["sum_m"]))
        for r in t.result().collect()
    }
    assert got == {("a", 1, 10.0), ("b", 2, 55.0)}


def test_apply_changes_accepts_diff_feed_with_keep_groups_assertion(
    spark, tmp_path
):
    """A diff_versions-shaped feed (updates carry post-images only)
    folds when the caller asserts updates never change the group keys
    — the documented path for key-covering diffs."""
    import os

    t = IncrementalAggTable(
        spark, os.path.join(str(tmp_path), "agg"),
        keys=["grp"], measure="val",
    )
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, grp string, val double",
    )
    assert t.apply_batch(base, 0)
    final = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 25.0), (3, "b", 30.0)],
        "id long, grp string, val double",
    )
    diff_feed = spark.createDataFrame(
        [("update", 2, "a", 25.0)],
        "change_type string, id long, grp string, val double",
    )
    assert t.apply_changes(diff_feed, 1, source=final,
                           updates_keep_groups=True)
    got = {(r["grp"], r["cnt"], float(r["sum_m"]))
           for r in t.result().collect()}
    assert got == {("a", 2, 35.0), ("b", 1, 30.0)}
