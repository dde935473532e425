"""Physical-plan regression guards: the optimizations we designed for
must actually appear in the plan (broadcasts, pushdown, pruning).
A correctness-green change that silently loses a broadcast or a pushed
filter is a 100x regression at scale — these tests catch it."""

from __future__ import annotations

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.catalog import load_table
from nomba_data_pipeline_spark.plans.queries import REGISTRY
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_flagship_broadcasts_geo_dims(spark):
    plan = _plan(REGISTRY["flagship_revenue_by_region"].fn(spark, SF_SMALL))
    # nation + region joins must be broadcast, never shuffled
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_scan(spark):
    df = load_table(spark, SF_SMALL, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


def test_column_pruning_reaches_scan(spark):
    df = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must carry only the projected columns
    read_schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema_lines, plan
    assert "l_extendedprice" not in read_schema_lines[0]
    assert "l_orderkey" in read_schema_lines[0]


def test_asof_join_is_single_shuffle(spark):
    plan = _plan(REGISTRY["asof_join"].fn(spark, SF_SMALL))
    # union trick: no join operator at all, one window after one exchange
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" in plan


def test_range_join_is_equi_join(spark):
    plan = _plan(REGISTRY["range_join_count"].fn(spark, SF_SMALL))
    # bucketing must turn the interval predicate into a real equi-join:
    # no broadcast nested loop / cartesian anywhere
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_count_duplicate_left_rows(spark):
    """Content-addressed regroup: fully-duplicate left rows must each
    produce their own (identical) output row — multiset in, multiset out
    — deterministically, with no per-row uid."""
    from nomba_data_pipeline_spark.operators.rangejoin import range_join_count

    from pyspark.sql import functions as F

    def t(sec):
        return f"2024-01-01 00:01:{sec:02d}"

    left = spark.createDataFrame(
        [(1, t(40)), (1, t(40)), (1, t(50)), (2, t(40))], "k int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, t(35)), (1, t(39)), (1, t(20)), (2, t(39))], "k int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = range_join_count(left, right, on="k", left_ts="ts", right_ts="ts", window_seconds=10)
    rows = sorted((r.k, r.ts.second, r.n_in_range) for r in out.collect())
    assert rows == [(1, 40, 2), (1, 40, 2), (1, 50, 0), (2, 40, 1)]


def test_bucketed_join_has_no_exchange(spark):
    """Joining two tables bucketed+sorted on the join key must plan a
    SortMergeJoin with ZERO Exchange — the shuffle was prepaid at write
    time. This is the layout contract write_bucketed exists for; losing
    it silently re-shuffles a 100 TB fact table on every downstream
    join."""
    import tempfile

    from nomba_data_pipeline_spark.operators import bucketed as B

    cust = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )
    orders = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="bkt_plan_")
    B.write_bucketed(cust, "bktp_customer", 4, ["custkey"], ["custkey"], path=base + "/c")
    B.write_bucketed(orders, "bktp_orders", 4, ["custkey"], ["custkey"], path=base + "/o")
    try:
        # force SMJ so the assertion is about bucketing, not broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = B.bucketed_join(spark, "bktp_orders", "bktp_customer", on=["custkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and equality on the bucket key prunes buckets at scan time
        # (autoBucketedScan demotes a join-free scan to non-bucketed,
        # hiding the pruning counter — pin it on for the assertion)
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        pruned = spark.table("bktp_orders").filter(F.col("custkey") == 7)
        pplan = _plan(pruned)
        assert "SelectedBucketsCount: 1 out of 4" in pplan, pplan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql("DROP TABLE IF EXISTS bktp_customer")
        spark.sql("DROP TABLE IF EXISTS bktp_orders")


def test_partitioned_table_scan_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout must turn an equality filter on the
    partition column into PartitionFilters at the scan — reading one
    directory, not the table. This is the at-rest contract
    snapshot_append's partitionBy relies on for date-scoped reads."""
    src = str(tmp_path / "events_parted")
    load_table(spark, SF_SMALL, "events").write.partitionBy("event_type").parquet(src)
    df = spark.read.parquet(src).filter(F.col("event_type") == "click").select("event_id")
    plan = _plan(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_type" in pf[0], plan
    # the predicate must be fully consumed as a partition filter: no
    # data-filter (PushedFilters) line remains, and only event_id is read
    assert "PushedFilters" not in plan, plan
    assert "ReadSchema: struct<event_id:bigint>" in plan, plan


def test_sql_api_plans_match_dataframe_plans(spark):
    """DataFrame <-> SQL API equivalence at the PLAN level, not just the
    result level: the same query expressed through spark.sql over the
    registered catalog views must canonicalize to the same optimized
    plan (Catalyst sameResult) as the DataFrame form — pinning that the
    two API surfaces hit identical physical strategies (broadcasts,
    aggregate modes, window exchanges) for a window query, a multi-join
    aggregate, and a grouping-sets query."""
    from nomba_data_pipeline_spark.catalog import register_views

    register_views(spark, SF_SMALL)

    pairs = {
        "running_revenue": """
            SELECT event_id, user_id, ts,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                       AS running_value,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                       AS purchase_seq
            FROM events WHERE event_type = 'purchase'
        """,
        "supplier_part_volume": """
            SELECT n_name AS supp_nation, p_brand AS brand,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS revenue,
                   count(1) AS n_items
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            JOIN part ON l_partkey = p_partkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
            GROUP BY n_name, p_brand
        """,
        "revenue_cube": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
                   count(1) AS n
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
    }
    for name, sql in pairs.items():
        df_plan = REGISTRY[name].fn(spark, SF_SMALL)._jdf.queryExecution().optimizedPlan()
        sql_plan = spark.sql(sql)._jdf.queryExecution().optimizedPlan()
        assert df_plan.sameResult(sql_plan), f"{name}: DataFrame and SQL optimized plans diverge"


def test_training_prep_rows_are_map_only(spark):
    """pii_redact and domain_mix_sample must stay single-scan map-only
    plans (no Exchange, no Python): at 100 TB these compose with the
    rest of corpus prep as pure codegen passes."""
    for name in ("pii_redact", "domain_mix_sample"):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def _plan_tree(df) -> str:
    """Just the operator tree of the formatted plan (the detail section
    repeats every node name, which breaks substring counting)."""
    plan = _plan(df)
    return plan.split("\n\n")[0]


def test_window_rows_single_shuffle(spark):
    """trailing_revenue_7d and sequence_packing evaluate their frames in
    ONE hash-partitioned exchange (user_id / source) — no extra sort or
    global single-partition funnel."""
    for name in ("trailing_revenue_7d", "sequence_packing"):
        tree = _plan_tree(REGISTRY[name].fn(spark, SF_SMALL))
        assert tree.count("Exchange") == 1, f"{name}:\n{tree}"
        assert "SinglePartition" not in _plan(REGISTRY[name].fn(spark, SF_SMALL)), name


def test_grouping_sets_single_expand_single_agg_shuffle(spark):
    """revenue_grouping_sets plans ONE Expand (3 projections) feeding a
    partial + final hash aggregate through a single exchange — rows x
    |sets| through one shuffle, never one aggregation pass per set."""
    tree = _plan_tree(REGISTRY["revenue_grouping_sets"].fn(spark, SF_SMALL))
    assert tree.count("Expand") == 1, tree
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Scan parquet") == 1, tree


def test_train_split_is_map_only(spark):
    """train_split_assign is a pure expression over the corpus scan:
    no exchange, no Python — free to fuse into any corpus-prep pass."""
    plan = _plan(REGISTRY["train_split_assign"].fn(spark, SF_SMALL))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_tokenizes_corpus_once(spark):
    """The df leg must be a window over the tf frame, not a second
    aggregation of a re-scanned corpus: exactly ONE Generate (explode)
    and at most two parquet scans (the second is the count-star N pass
    that reads footer metadata, no column data). A join-based df leg
    recomputes the whole tokenize subtree — 2x the dominant cost."""
    tree = _plan_tree(REGISTRY["tfidf_top_terms"].fn(spark, SF_SMALL))
    assert tree.count("Generate") == 1, tree
    assert tree.count("Scan parquet") <= 2, tree
    assert "SortMergeJoin" not in tree, tree


def test_single_agg_rows_one_exchange(spark):
    """price_histogram and returnflag_corr are one partial+final hash
    aggregate: a single exchange moving <= n_groups partial states."""
    for name in ("price_histogram", "returnflag_corr"):
        tree = _plan_tree(REGISTRY[name].fn(spark, SF_SMALL))
        assert tree.count("Exchange") == 1, f"{name}:\n{tree}"
        assert tree.count("Scan parquet") == 1, f"{name}:\n{tree}"


def test_cohort_retention_dedups_before_wide_shuffle(spark):
    """The distinct on (user, month) must sit UNDER the cohort window:
    partial dedup collapses raw events map-side, so the window exchange
    moves only deduplicated pairs. The plan is agg -> window -> agg with
    one scan; a pre-repartition by user (shuffling raw events) would
    show the Window directly over the scan's exchange with no partial
    aggregate below it."""
    tree = _plan_tree(REGISTRY["cohort_retention"].fn(spark, SF_SMALL))
    assert tree.count("Scan parquet") == 1, tree
    w = tree.index("Window")
    first_agg_under_window = tree[w:].count("HashAggregate")
    assert first_agg_under_window >= 2, tree  # distinct partial+final below window


def test_funnel_windows_share_one_exchange(spark):
    """event_funnel's three chained min-windows must all ride ONE
    user-partition exchange (identical partitioning); the only other
    exchanges belong to the final distinct-count aggregate. Below the
    lowest Window there is exactly the scan-side exchange."""
    tree = _plan_tree(REGISTRY["event_funnel"].fn(spark, SF_SMALL))
    assert tree.count("Window") == 3, tree
    assert tree[tree.rindex("Window"):].count("Exchange") == 1, tree


def test_gap_fill_join_is_broadcast(spark):
    """minute_gap_fill's densification join must broadcast the
    aggregated counts — the generated grid never shuffles for the fill,
    and no nested-loop/cartesian appears."""
    plan = _plan(REGISTRY["minute_gap_fill"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_quality_profile_single_scan(spark):
    """The graded quality battery reads the table ONCE (one scan, no
    joins, no per-check subplans); the distinct-count rewrite may add
    its own exchange but never a second pass over the data."""
    df = REGISTRY["quality_profile"].fn(spark, SF_SMALL)
    tree = _plan_tree(df)
    assert "Join" not in tree
    assert tree.count("Scan parquet") == 1, tree


def test_runtime_bloom_filter_prunes_shuffle_join_probe_side(spark):
    """Runtime bloom-filter join pruning (Catalyst runtime filters): when
    a shuffle join's build side carries a selective filter, the optimizer
    injects bloom_filter_might_contain on the probe side's scan, so fact
    rows that cannot match are dropped BEFORE the shuffle — at 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling the matching slice. Local tables sit under the default
    size thresholds, so the test lowers them to force the decision the
    optimizer would take at warehouse scale (creation side small enough
    to build, application side large enough to be worth filtering)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_SMALL, "lineitem")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("qty"))
        plan = _plan(joined)
        assert "might_contain" in plan, plan[:4000]
        assert "bloom_filter_agg" in plan, plan[:4000]
        # and the filter must sit on the PROBE (lineitem) side scan stage
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_window_over_bucketed_table_has_no_exchange(spark):
    """The prepaid bucket shuffle serves WINDOW functions too, not just
    joins: a window partitioned by the bucket key over a bucketed table
    plans Sort+Window directly on the scan with ZERO Exchange. At
    100 TB this means one at-rest layout amortizes across every
    downstream per-key computation — dedup windows, sessionization,
    running totals — not only the join that motivated it."""
    import tempfile

    from nomba_data_pipeline_spark.operators import bucketed as B
    from pyspark.sql import Window

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="bkt_win_")
    B.write_bucketed(
        orders, "bktw_orders", 4, ["o_custkey"], ["o_custkey", "o_orderkey"],
        path=base + "/o",
    )
    try:
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        df = spark.table("bktw_orders").select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        plan = _plan(df)
        assert "Window" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bktw_orders")


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: joining a hive-partitioned fact with a
    filtered dim must inject dynamicpruningexpression into the fact's
    PartitionFilters — the partition list is computed from the dim AT
    RUNTIME, so only matching directories are even listed. At 100 TB
    this composes with static pruning: date filters prune statically,
    join keys prune dynamically, and the scan touches the
    intersection."""
    base = str(tmp_path / "dpp_fact")
    load_table(spark, SF_SMALL, "events").write.partitionBy("event_type").parquet(base)
    fact = spark.read.parquet(base)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2)], "event_type string, grp int"
    ).filter(F.col("grp") == 1)
    j = fact.join(dim, "event_type").groupBy("grp").agg(F.sum("value").alias("s"))
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), plan[:4000]


def test_doc_chunking_is_map_only(spark):
    """Chunking must stay a pure fan-out over one text scan: no
    exchange, no Python — the 100 TB cost is linear in corpus bytes."""
    plan = _plan(REGISTRY["doc_chunking"].fn(spark, SF_SMALL))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # formatted explain lists each scan once in the tree and once in
    # the detail section — a second scan would appear as node (2)
    assert "(1) Scan parquet" in plan and "(2) Scan parquet" not in plan, plan


def test_fuzzy_blocked_join_never_cartesian(spark):
    """The levenshtein filter must ride a join keyed on the blocking
    column — a CartesianProduct/BroadcastNestedLoop here is the O(N²)
    all-pairs plan blocking exists to prevent."""
    plan = _plan(REGISTRY["fuzzy_name_blocked"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_fuzzy_blocked_probe_partitions_follow_session_conf(spark):
    """The probe-side repartition on the blocking key must size itself
    from spark.sql.shuffle.partitions, not a literal — a hardcoded
    count caps a large cluster's quadratic block expansion at that
    many tasks by construction."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        plan = _plan(REGISTRY["fuzzy_name_blocked"].fn(spark, SF_SMALL))
        assert "hashpartitioning(blk" in plan and ", 7)" in plan, plan
        spark.conf.set(key, "11")
        plan = _plan(REGISTRY["fuzzy_name_blocked"].fn(spark, SF_SMALL))
        assert ", 11)" in plan, plan
    finally:
        spark.conf.set(key, old)


def test_stratified_sample_uses_window_group_limit(spark):
    """rank<=k over the stratum partition must trigger WindowGroupLimit:
    each map task keeps its local top-k per stratum BEFORE the shuffle,
    so the exchange carries O(tasks x strata x k), not the corpus."""
    plan = _plan(REGISTRY["stratified_sample_k"].fn(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan, plan


def test_winsorized_fences_broadcast_back(spark):
    """The group-cardinality fence table must broadcast into the clip
    join — a shuffled join here would reshuffle the whole fact at
    100 TB for a k-row lookup."""
    plan = _plan(REGISTRY["winsorized_stats"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hopping_windows_partial_agg_before_exchange(spark):
    """The width/slide=2 fan-out must be collapsed by a partial
    aggregate BEFORE the shuffle: the wire carries ≤ |windows|×|types|
    combined rows, not 2× the event count."""
    tree = REGISTRY["hopping_window_counts"].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    ex = tree.index("Exchange")
    assert "partial_count" in tree[ex:], tree


def test_grouped_topk_gets_window_group_limit(spark):
    """top_parts_per_brand must plan with WindowGroupLimit: rank<=3
    pushdown drops rows during the sort, before the window runs — at
    scale the difference between sorting each group fully and keeping
    3 rows per group in the sort buffer."""
    plan = _plan(REGISTRY["top_parts_per_brand"].fn(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan, plan


def test_temperature_sample_rates_broadcast_back(spark):
    """The |languages|-row rate table must broadcast into the keep
    filter — a shuffled join would reshuffle the whole corpus at 100 TB
    for a handful of thresholds."""
    plan = _plan(REGISTRY["domain_temperature_sample"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """Scale guard: when a selective dim-side filter feeds a SHUFFLE
    join (broadcast disabled/infeasible), Spark's runtime bloom filter
    must inject on the probe side — at 100 TB this is what keeps a
    selective join from shuffling the full fact table. Pinned here
    with the injection thresholds opened up (local fixture tables are
    below the default 10 MB creation threshold); production relies on
    the same defaults-on optimizer rule."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMALL, "lineitem")
        orders = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderstatus") == "F"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys, phys[:2000]
        assert "bloom_filter_agg" in phys
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_revenue_quartiles_scalable_has_no_window(spark):
    # the whole point of the scale-twin: cutpoint CASE bucketing instead
    # of a global ntile window — the plan must contain NO Window at all
    plan = _plan(REGISTRY["revenue_quartiles_scalable"].fn(spark, SF_SMALL))
    assert "Window" not in plan, plan


def test_token_budget_scalable_windows_are_bounded(spark):
    # exactly two windows: the per-score in-bucket cumsum (partitioned,
    # scales out) and the exclusive prefix over the |distinct scores|-row
    # bucket table (single-partition but bounded by score cardinality).
    # The corpus-sized stats table must never feed a partition-less sort.
    df = REGISTRY["token_budget_select_scalable"].fn(spark, SF_SMALL)
    simple = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in simple.splitlines() if "Window [" in l]
    assert len(win_lines) == 2, simple
    partitioned = [l for l in win_lines if "windowspecdefinition(score" in l and "doc_id" in l]
    assert len(partitioned) == 1, win_lines


def test_shipping_priority_topk_and_broadcast(spark):
    # Q3 shape: the top-10 must be TakeOrderedAndProject (per-partition
    # heap + merge, never a global Sort+Limit) and the segment dim must
    # join broadcast; both date filters must reach the scans
    plan = _plan(REGISTRY["shipping_priority"].fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan
    # pin the PUSHED content, not just the header: 'PushedFilters: []'
    # appears on every parquet scan and a residual post-scan Filter also
    # contains the date literal, so weaker substring checks stay green
    # even when pushdown is defeated
    assert "GreaterThan(l_shipdate,1995-03-15" in plan, plan
    assert "LessThan(o_orderdate,1995-03-15" in plan, plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan


def test_volume_shipping_broadcasts_all_dims_and_pushes_shipdate(spark):
    # Q7 shape: both nation arms + supplier + customer broadcast (4
    # BroadcastHashJoins — only lineitem->orders shuffles) and the
    # two-year shipdate range must reach the lineitem scan by content
    plan = _plan(REGISTRY["volume_shipping"].fn(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan, plan
    assert "LessThan(l_shipdate,1998-01-01" in plan, plan


def test_cluster_roundtrip_prunes_on_clustered_key(spark):
    # the graded maintenance row: after cluster(l_shipdate) the range
    # predicate must be pushed to the clustered table's scan — that is
    # the footer-stat pruning the rewrite exists to enable
    plan = _plan(REGISTRY["cluster_shipdate_roundtrip"].fn(spark, SF_SMALL))
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in plan, plan
    assert "LessThan(l_shipdate,1997-04-01" in plan, plan


def test_variant_extract_stays_jvm_side(spark):
    # the VARIANT path's whole point: parse_json/variant_get are
    # codegen'd JVM expressions — no Python evaluation anywhere in the
    # plan, no join at all (one scan, one aggregate exchange)
    plan = _plan(REGISTRY["variant_json_extract"].fn(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_headline_rows_have_no_row_python_and_stable_exchanges(spark):
    """r16 pins for the headline set (VERDICT r15 item 8): a session
    config flip or kernel refactor that re-introduces a row-at-a-time
    Python boundary (BatchEvalPython/MapInPandas), a cartesian product,
    or an extra shuffle on a hot row must fail here instead of landing
    silently. Exchange counts are pinned only for join-free rows whose
    shape cannot legitimately flex with size estimates."""
    no_python_rows = (
        "flagship_revenue_by_region", "fact_enriched", "scd2_intervals",
        "keep_latest_per_key", "minhash_lsh_pairs", "pricing_summary",
        "supplier_part_volume", "revenue_rollup",
    )
    for name in no_python_rows:
        plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "CartesianProduct" not in plan, name
    # Arrow-kernel rows: the Python boundary must be MapInArrow, never
    # the pandas/object form the r15 conversions removed
    for name in ("cosine_topk", "cosine_topk_lsh", "embedding_near_dup_lsh"):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
        assert "MapInPandas" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # join-free single-shuffle rows: exchange count is structural
    for name, max_ex in (("keep_latest_per_key", 2), ("scd2_intervals", 2),
                         ("cosine_topk", 2)):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
        assert plan.count("Exchange") <= max_ex, (
            f"{name}: {plan.count('Exchange')} exchanges (pinned <= {max_ex})"
        )


def test_session_factory_join_and_codec_defaults_pinned(spark):
    """The r15 round landed a session-wide join-strategy flip after its
    closing bench and the driver's ground truth regressed the pipeline
    family. Pin the r16 per-knob decision (SMJ preferred, zstd shuffle
    codec) so the next flip has to change a test — i.e. arrive with
    evidence — rather than land silently."""
    import os

    from nomba_data_pipeline_spark.session import get_spark

    s = get_spark()  # existing session: conf already applied by factory
    if os.environ.get("SPARK_GRAFT_PREFER_SMJ") is None:
        assert s.conf.get("spark.sql.join.preferSortMergeJoin") == "true"
    if os.environ.get("SPARK_GRAFT_IO_CODEC") is None:
        assert s.conf.get("spark.io.compression.codec") == "zstd"
