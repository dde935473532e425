"""Dependency-ordered model runner — the dbt DAG + Dagster scheduling
collapsed into one incremental-aware registry (SURVEY §3.2).

Reference behavior being re-expressed:
  * dbt `ref()` DAG order: stg_* -> dim_users/dim_savings_plan ->
    fact_savings_transaction (reference dbt models; dbt_assets.py:19-27)
  * `is_incremental()` = target exists; delta predicate
    `updated_at > max(updated_at) in target` (stg_savings_plan.sql:22-25)
  * materializations: table (overwrite) / incremental (merge upsert) /
    snapshot (SCD2) — dbt_project.yml:32-46 + model configs
  * post-model quality tests (schema.yml) run with the build

A model is a pure (spark, inputs) -> DataFrame function; the runner owns
materialization: it reads the high-water-mark from the target
(ParquetTable.high_water_mark = A2), filters the source side, and
dispatches the right writer. Incremental state therefore lives in the
data itself — no external state store, same as the reference
(base_loader.py:681-709 reads MAX() from ClickHouse).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.merge import ParquetTable
from nomba_data_pipeline_spark.operators.scd2 import scd2_merge
from nomba_data_pipeline_spark.plans.quality import QualitySpec

ModelFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class ModelSpec:
    name: str
    fn: ModelFn
    materialization: str = "table"  # table | incremental | scd2
    dedup: bool = False  # incremental + keep-latest-per-key (reference O8 'special')
    upsert_key: list[str] = field(default_factory=list)
    tracking_column: str | None = None  # hwm column for incremental
    scd2_key: str | None = None
    check_cols: list[str] = field(default_factory=list)
    partition_by: list[str] = field(default_factory=list)  # physical layout (F4)
    partition_stable: bool = False  # keys never change partition (skip key-location scan)
    # split SCD2 storage: open rows in a small rewritable table, closed
    # history append-only by close date -> per-run cost O(open rows), not
    # O(history). The combined view comes from read_model().
    scd2_split: bool = False
    # dbt `on_schema_change` for incremental models (dbt-core docs;
    # the reference's models run the default):
    #   "ignore" (default)      — source-only columns dropped, exactly
    #                             dbt's default and the reference
    #                             loader's skip-unknown-fields parity
    #   "append_new_columns"    — widen the target with the delta's new
    #                             columns (ParquetTable.widen_to), then
    #                             merge as usual
    #   "fail"                  — raise on any source-only column so
    #                             drift is surfaced instead of absorbed
    # ("sync_all_columns" — also dropping removed columns — is not
    # implemented: a destructive narrowing hidden behind a config is
    # the kind of silent data loss this engine refuses elsewhere.)
    on_schema_change: str = "ignore"
    quality: QualitySpec = field(default_factory=QualitySpec)
    depends_on: list[str] = field(default_factory=list)
    # materialization="join_view": a mart kept as a materialized
    # `fact LEFT JOIN dim` with DELTA maintenance
    # (operators/incremental_join.JoinViewTable) — the delta-native
    # alternative to full-refresh dim propagation (see the staleness
    # NOTE in plans/pipeline.py). `fn` is unused (pass None): the two
    # sides are other registered models; upsert_key is the fact key and
    # tracking_column the fact side's HWM column. The dim side needs
    # its own tracking column for delta detection. Per run: fact rows
    # past the view's fact-HWM re-enrich + upsert (O(|ΔF|)); dim rows
    # past the dim-HWM patch only the buckets their keys hash into
    # (O(touched buckets), never a fact rescan). HWM state lives in a
    # `._view_state` sidecar written AFTER the applies — both applies
    # are idempotent, so a crash before the state write replays safely.
    view_fact: str | None = None  # fact-side model name
    view_dim: str | None = None  # dim-side model name
    view_dim_key: str | None = None  # join column
    view_dim_cols: list[str] = field(default_factory=list)  # enrichment cols
    view_dim_tracking: str | None = None  # dim-side HWM column
    view_buckets: int = 32
    # materialization="agg_view": a ROLLUP mart kept as an
    # aggregate-over-join IVM (operators/agg_join_view.AggJoinView).
    # Reuses every join_view field above for the underlying fact ⋈ dim
    # layer (owned by this model at <name>__view); the rollup's bucket
    # partials live at <name> and refresh at O(touched buckets)
    # whenever a delta lands — including dim patches that REASSIGN
    # groups, which plain incremental aggregation cannot express.
    # read_model() returns the finalized rollup (merge of the
    # partials, <= buckets x groups rows).
    # materialization="incremental_agg": the PLAIN delete-capable
    # maintained aggregate (operators/incremental_agg) over a
    # versioned fact's change feed — no join layer; `view_fact` names
    # the versioned_incremental fact model, these agg_* fields define
    # the state, the marker ledger is the commit cursor
    # (_run_incremental_agg).
    agg_group_keys: list[str] = field(default_factory=list)
    agg_measures: list[str] = field(default_factory=list)
    # approx-distinct rollup columns (HLL sketch partials; see
    # operators/incremental_agg.agg_state `distinct=`)
    agg_distinct_cols: list[str] = field(default_factory=list)
    # versioned_incremental only: persist commit-time row-level change
    # feeds (VersionedTable write_cdf) so downstream view syncs and the
    # `versioned_cdf` streaming source read plain parquet instead of
    # re-deriving diffs with joins
    versioned_write_cdf: bool = False
    # versioned_incremental only: auto-compact (checkpoint) when the
    # manifest's file list exceeds this bound — unbounded CoW deltas
    # grow scan fan-out and manifest size; None = never
    versioned_max_files: int | None = None


class PipelineRunner:
    """Materializes models into a warehouse directory in dependency order."""

    def __init__(self, spark: SparkSession, warehouse_dir: str, sf_dir: str):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.sf_dir = sf_dir
        self.models: dict[str, ModelSpec] = {}
        # wall seconds per model for the LAST run() — lets the bench
        # report the delta-load cost per model (the reference publishes
        # a single-table "~5 s delta" number; this makes ours comparable)
        self.last_timings: dict[str, float] = {}

    def register(self, spec: ModelSpec) -> None:
        if spec.materialization in ("join_view", "agg_view",
                                    "incremental_agg"):
            for side in (spec.view_fact, spec.view_dim):
                if side and side not in spec.depends_on:
                    spec.depends_on.append(side)
        self.models[spec.name] = spec

    def table(self, name: str) -> ParquetTable:
        return ParquetTable(self.spark, os.path.join(self.warehouse_dir, name))

    def _toposort(self) -> list[ModelSpec]:
        ordered: list[ModelSpec] = []
        seen: set[str] = set()

        def visit(name: str, stack: tuple[str, ...]) -> None:
            if name in seen:
                return
            if name in stack:
                raise ValueError(f"model cycle: {' -> '.join(stack)} -> {name}")
            spec = self.models[name]
            for dep in spec.depends_on:
                if dep in self.models:
                    visit(dep, stack + (name,))
            seen.add(name)
            ordered.append(spec)

        for name in self.models:
            visit(name, ())
        return ordered

    def run(self, only: list[str] | None = None) -> dict[str, int]:
        """Run models in dependency order; returns each model's TOTAL
        post-run row count (the quality gate's count — NOT delta rows
        written: a 10-row merge into a 1M-row table reports 1000000).

        `only` restricts the run to the named models PLUS their upstream
        dependency closure — the equivalent of the reference's per-source
        Dagster jobs (users_job / plans_job / txn_job, all_jobs.py:6-22)
        where each cron fires a subgraph, not the whole DAG.

        INDEPENDENT models overlap (optimization guide §2.6): Spark's
        scheduler happily runs several jobs at once, and a DAG run's
        actions are only sequential because the driver calls them
        sequentially — so models whose dependencies are satisfied are
        submitted from a small thread pool (default 3 in flight, the
        guide's "enough to fill the tail, not so many that they fight
        for executors"; SPARK_GRAFT_PIPELINE_WORKERS=1 restores strict
        sequential execution). This changes NOTHING about what each
        model computes or writes — the single-writer-per-table contract
        holds (each model owns its table; dependency edges serialize
        every reader behind its writer), and the returned counts /
        last_timings keep dependency order. Failure semantics: no new
        model is scheduled after a failure, in-flight siblings finish
        (their writes are the same crash-safe idempotent state a rerun
        heals), and the topologically-earliest failure is re-raised —
        the same exception the sequential order would have surfaced
        first.
        """
        ordered = self._toposort()
        if only is not None:
            wanted: set[str] = set()

            def add(name: str) -> None:
                if name in wanted or name not in self.models:
                    return
                wanted.add(name)
                for dep in self.models[name].depends_on:
                    add(dep)

            for name in only:
                add(name)
            ordered = [s for s in ordered if s.name in wanted]
        results: dict[str, int] = {}
        self.last_timings = {}
        # default 3 in flight — measured r16 (interleaved 1,3,3,1 at
        # sf0.1/local[32]): e2e fresh-warehouse build 25.4/27.5s -> 9.6/
        # 10.7s, unchanged rerun 7.1/8.7 -> 4.5/4.9, CDC rerun 8.7/11.6
        # -> 5.5/7.0. Not a local-only win: independent DAG branches
        # back-fill the executor tail on any cluster (guide §2.6).
        workers = max(
            1, int(os.environ.get("SPARK_GRAFT_PIPELINE_WORKERS", "3"))
        )
        if workers == 1 or len(ordered) <= 1:
            for spec in ordered:
                t0 = time.perf_counter()
                results[spec.name] = self.run_model(spec.name)
                self.last_timings[spec.name] = round(time.perf_counter() - t0, 3)
            return results

        import concurrent.futures as _cf

        names = [s.name for s in ordered]
        in_run = set(names)
        done: dict[str, int] = {}
        timings: dict[str, float] = {}
        errors: dict[str, BaseException] = {}
        pending: list[ModelSpec] = list(ordered)
        running: dict[str, _cf.Future] = {}

        def _run_timed(spec: ModelSpec) -> tuple[int, float]:
            self.spark.sparkContext.setJobDescription(f"model:{spec.name}")
            t0 = time.perf_counter()
            n = self.run_model(spec.name)
            return n, round(time.perf_counter() - t0, 3)

        with _cf.ThreadPoolExecutor(max_workers=workers) as pool:
            while pending or running:
                if errors:
                    pending = []  # stop scheduling after a failure
                else:
                    for spec in list(pending):
                        deps_ok = all(
                            d not in in_run or d in done
                            for d in spec.depends_on
                        )
                        if deps_ok:
                            pending.remove(spec)
                            running[spec.name] = pool.submit(_run_timed, spec)
                if not running:
                    if pending:  # unreachable: _toposort rejects cycles
                        raise RuntimeError(
                            f"pipeline deadlock on {[s.name for s in pending]}"
                        )
                    break
                fut_to_name = {f: n for n, f in running.items()}
                done_futs, _ = _cf.wait(
                    fut_to_name, return_when=_cf.FIRST_COMPLETED
                )
                for f in done_futs:
                    n = fut_to_name[f]
                    del running[n]
                    if f.exception() is not None:  # re-raised below
                        errors[n] = f.exception()
                    else:
                        done[n], timings[n] = f.result()
        self.last_timings = {n: timings[n] for n in names if n in timings}
        if errors:
            raise errors[min(errors, key=names.index)]
        return {n: done[n] for n in names}

    def run_model(self, name: str) -> int:
        spec = self.models[name]
        target = self.table(spec.name)
        if spec.materialization == "join_view":
            return self._run_join_view(spec)
        if spec.materialization == "agg_view":
            return self._run_agg_view(spec)
        if spec.materialization == "versioned_incremental":
            return self._run_versioned(spec)
        if spec.materialization == "incremental_agg":
            return self._run_incremental_agg(spec)
        df = spec.fn(self.spark, self.sf_dir)

        if spec.materialization == "incremental" and target.exists() and spec.tracking_column:
            # footer-statistics HWM: metadata-only on local layouts,
            # exact-scan fallback otherwise (merge.py docstring) — the
            # every-refresh MAX(tracking) stops costing a column scan
            hwm = target.high_water_mark_stats(spec.tracking_column)
            if hwm is not None:
                # strict '>' matching the dbt models' delta predicate
                # (stg_savings_plan.sql:24; documented tie policy SURVEY §7.4.3)
                df = df.filter(F.col(spec.tracking_column) > F.lit(hwm))
                # drift detection must not be gated on a non-empty
                # delta: when the column-introducing batch carries no
                # rows past the high-water mark, 'fail' still has to
                # surface the drift NOW (and 'append_new_columns' still
                # widens) rather than silently deferring until rows
                # arrive — so the schema policy runs BEFORE the
                # empty-delta short-circuit (schema-only, no data scan)
                if spec.on_schema_change != "ignore":
                    self._apply_schema_policy(spec, target, df)
                # steady-state short-circuit: an empty delta skips the
                # whole merge (incl. the key-location scan over the
                # target) — the delta plan itself is cheap because the
                # hwm predicate pushes into the source scan. No write
                # happened, so the table is byte-identical to the state
                # the previous run's gate certified: re-running the
                # battery would re-prove a verdict over unchanged bytes.
                # The returned count comes from parquet footer metadata
                # (row_count_stats — zero Spark jobs on local layouts),
                # exact by construction. Out-of-band corruption checks
                # remain the CLI `validate` verb's job, as before.
                if df.limit(1).count() == 0:
                    n = target.row_count_stats()
                    if n is not None:
                        return n
                    out = self.read_model(spec.name)
                    return spec.quality.assert_ok(out, model=spec.name, resolve=self.read_model)

        if spec.materialization == "scd2":
            if spec.scd2_split:
                self._run_scd2_split(spec, df)
            else:
                snapshot = target.read() if target.exists() else None
                merged = scd2_merge(
                    snapshot, df, key=spec.scd2_key or spec.upsert_key[0],
                    check_cols=spec.check_cols,
                    order_within_batch=spec.tracking_column,
                )
                target.overwrite(merged)
        elif spec.materialization == "insert_overwrite":
            # dbt insert_overwrite strategy: the model's delta replaces
            # whole partitions (backfill/reprocess semantics) — requires
            # partition_by. Deliberately NOT hwm-gated: a backfill
            # recomputes partitions whose rows predate the high-water
            # mark; the model fn itself decides which partitions to emit
            if not spec.partition_by:
                raise ValueError(
                    f"model {spec.name}: insert_overwrite requires partition_by"
                )
            target.insert_overwrite_partitions(df, spec.partition_by)
        elif spec.materialization == "incremental":
            pb = spec.partition_by or None
            self._apply_schema_policy(spec, target, df)
            if spec.dedup and spec.tracking_column:
                target.merge_upsert_dedup(
                    df, spec.upsert_key, spec.tracking_column, partition_by=pb,
                    partition_stable=spec.partition_stable,
                )
            else:
                target.merge_upsert(
                    df, spec.upsert_key, partition_by=pb,
                    partition_stable=spec.partition_stable,
                )
        else:  # table
            target.overwrite(df, partition_by=spec.partition_by or None)

        # one fused aggregation runs the whole test battery AND returns
        # the row count — a model pays one post-write scan, not one per test
        out = self.read_model(spec.name)
        return spec.quality.assert_ok(out, model=spec.name, resolve=self.read_model)

    def _run_join_view(self, spec: ModelSpec) -> int:
        """Materialize/maintain a `materialization="join_view"` mart —
        the delta answer to dbt's full-refresh-only dim propagation
        (pipeline.py staleness NOTE): a dim attribute change reaches
        ALREADY-LOADED mart rows in O(affected dim-key buckets) instead
        of an O(fact) rebuild.

        First run: one O(F ⋈ D) build (JoinViewTable.build). Later
        runs: fact rows past the stored fact-HWM re-enrich against the
        CURRENT dim and upsert; dim rows past the dim-HWM patch only
        their buckets. Dim patches apply FIRST so the fact delta joins
        the already-patched dim. HWM state persists in a 1-row parquet
        sidecar (same pattern as the view's parameter sidecar), written
        AFTER the applies — both applies are idempotent keyed rewrites,
        so a crash between apply and state write replays safely. The
        dim side must be unique per key (apply_dim_delta raises on
        duplicates — register the dim model with a `unique` gate)."""
        import json as _json

        from nomba_data_pipeline_spark.operators.incremental_join import JoinViewTable

        required = {
            "view_fact": spec.view_fact,
            "view_dim": spec.view_dim,
            "view_dim_key": spec.view_dim_key,
            "view_dim_cols": spec.view_dim_cols,
            "view_dim_tracking": spec.view_dim_tracking,
            "upsert_key (fact key)": spec.upsert_key,
            "tracking_column (fact HWM)": spec.tracking_column,
        }
        missing = [k for k, v in required.items() if not v]
        if missing:
            raise ValueError(f"model {spec.name}: join_view requires {missing}")

        fact = self.read_model(spec.view_fact)
        dim = self.read_model(spec.view_dim)
        path = os.path.join(self.warehouse_dir, spec.name)
        state_path = path + "._view_state"
        view = JoinViewTable(
            self.spark, path,
            fact_key=spec.upsert_key, dim_key=spec.view_dim_key,
            dim_cols=spec.view_dim_cols, n_buckets=spec.view_buckets,
        )

        def _hwm(df: DataFrame, col: str) -> str | None:
            return self._hwm_str(df, col)

        def _save(fact_hwm: str | None, dim_hwm: str | None,
                  fact_version: int | None = None) -> None:
            self._save_view_state(state_path, fact_hwm, dim_hwm,
                                  fact_version=fact_version)

        def _load_state() -> dict:
            return self._load_view_state(state_path)

        vt = self._fact_versioned_table(spec)
        if not view._table.exists():
            view.build(fact, dim)
            _save(
                _hwm(fact, spec.tracking_column),
                _hwm(dim, spec.view_dim_tracking),
                fact_version=vt.latest_version() if vt is not None else None,
            )
        else:
            state = _load_state()
            dim_delta = dim
            if state["dim_hwm"] is not None:
                dim_delta = dim.filter(
                    F.col(spec.view_dim_tracking)
                    > F.lit(state["dim_hwm"]).cast(
                        dict(dim.dtypes)[spec.view_dim_tracking]
                    )
                )
            if dim_delta.limit(1).count() > 0:
                from nomba_data_pipeline_spark.operators.incremental_join import (
                    _key_cols,
                )

                view.apply_dim_delta(
                    dim_delta.select(
                        *_key_cols(spec.view_dim_key), *spec.view_dim_cols
                    )
                )
            new_dim_hwm = (
                _hwm(dim_delta, spec.view_dim_tracking) or state["dim_hwm"]
            )
            if vt is not None:
                # versioned fact: consume its change feed between the
                # last-applied and current version — inserts/updates
                # upsert, DELETES tombstone (the HWM path below can
                # never see a delete). O(changed files) per refresh.
                latest_v = vt.latest_version()
                applied_v = state.get("fact_version")
                if applied_v is None:
                    # pre-CDF sidecar or state loss: an HWM replay
                    # cannot propagate deletes that happened meanwhile,
                    # so pay one rebuild — expensive but correct.
                    view.build(fact, dim)
                elif latest_v is not None and latest_v > applied_v:
                    try:
                        self._apply_fact_changes(
                            vt, view, applied_v, latest_v,
                            spec.upsert_key, dim,
                        )
                    except ValueError:
                        # the cursor version is unreplayable (vacuum
                        # reclaimed its manifest, or a FULL-marker
                        # commit spans the range): same recovery as a
                        # lost sidecar — one rebuild, never a
                        # permanently failing run
                        view.build(fact, dim)
                _save(state["fact_hwm"], new_dim_hwm, fact_version=latest_v)
            else:
                fact_delta = fact
                if state["fact_hwm"] is not None:
                    fact_delta = fact.filter(
                        F.col(spec.tracking_column)
                        > F.lit(state["fact_hwm"]).cast(
                            dict(fact.dtypes)[spec.tracking_column]
                        )
                    )
                if fact_delta.limit(1).count() > 0:
                    view.apply_fact_delta(fact_delta, dim)
                _save(
                    _hwm(fact_delta, spec.tracking_column)
                    or state["fact_hwm"],
                    new_dim_hwm,
                )
        out = self.read_model(spec.name)
        return spec.quality.assert_ok(out, model=spec.name, resolve=self.read_model)

    def _run_versioned(self, spec: ModelSpec) -> int:
        """Materialize a `materialization="versioned_incremental"`
        model into a VERSIONED table (operators/versioned.py): the
        same HWM-gated delta extraction as 'incremental', but every run
        commits a new manifest over mostly-shared files — so a bad CDC
        batch is revertible in O(metadata) (`versioned rollback` on the
        CLI), the pre-batch state stays auditable via time travel, and
        vacuum bounds storage. The HWM itself reads from MANIFEST stats
        (pure metadata; exact-scan fallback), the versioned analogue of
        the parquet-footer fast path. partition_by doubles as the
        cluster_by of the initial load so manifest stats stay tight."""
        from nomba_data_pipeline_spark.operators.versioned import (
            VersionedTable,
        )

        if not spec.upsert_key or not spec.tracking_column:
            raise ValueError(
                f"model {spec.name}: versioned_incremental requires "
                "upsert_key and tracking_column"
            )
        vt = VersionedTable(
            self.spark, os.path.join(self.warehouse_dir, spec.name),
            write_cdf=spec.versioned_write_cdf,
        )
        df = spec.fn(self.spark, self.sf_dir)
        if spec.on_schema_change not in ("ignore", "append_new_columns", "fail"):
            raise ValueError(
                f"model {spec.name}: unknown on_schema_change "
                f"{spec.on_schema_change!r}"
            )
        if not vt.exists():
            vt.overwrite(df, cluster_by=(spec.partition_by or None))
        else:
            # dbt on_schema_change, versioned flavor: 'append_new_columns'
            # evolves BEFORE the HWM short-circuit (drift must surface
            # even on a rows-free batch) — a pure metadata commit for
            # adds, one cast-rewrite for widening promotions
            # (VersionedTable.evolve_schema_to); 'fail' raises on any
            # drift; 'ignore' keeps reference parity (align drops).
            if spec.on_schema_change == "append_new_columns":
                vt.evolve_schema_to(df)
            elif spec.on_schema_change == "fail":
                cur = dict(vt.read().dtypes)
                # void (all-NULL) columns carry no concrete type yet —
                # not drift, same tolerance as _apply_schema_policy
                drift = [
                    c for c, t in df.dtypes
                    if t != "void" and (c not in cur or cur[c] != t)
                ]
                if drift:
                    raise ValueError(
                        f"model {spec.name}: source schema drifted on "
                        f"{drift} and on_schema_change='fail'"
                    )
            hwm = vt.high_water_mark_str(spec.tracking_column)
            delta = df
            if hwm is not None:
                delta = df.filter(
                    F.col(spec.tracking_column)
                    > F.lit(hwm).cast(dict(df.dtypes)[spec.tracking_column])
                )
            if delta.limit(1).count() > 0:
                vt.merge_upsert(delta, spec.upsert_key)
            if spec.versioned_max_files is not None:
                # bounded compaction AFTER the merge: fires only when
                # the file list outgrew the bound (one manifest read
                # otherwise); the checkpoint's feed is EMPTY so view
                # syncs and streams pass over it
                vt.maybe_checkpoint(
                    spec.versioned_max_files,
                    cluster_by=(spec.partition_by or None),
                )
        out = self.read_model(spec.name)
        return spec.quality.assert_ok(out, model=spec.name, resolve=self.read_model)

    def _run_agg_view(self, spec: ModelSpec) -> int:
        """Materialize/maintain a `materialization="agg_view"` rollup
        mart — the aggregate-over-join IVM as a first-class pipeline
        materialization. The model OWNS both layers: the fact ⋈ dim
        join view at `<name>__view` and the bucket-partial aggregate
        state at `<name>`; every delta flows through
        AggJoinView.apply_* so the partials refresh for exactly the
        buckets the view rewrote (dim patches that reassign groups,
        tombstoned keys, and dim-key migration all included — the
        shapes a fold-based incremental aggregate cannot express).

        First run: one O(F ⋈ D) build + one O(view) aggregation pass.
        Later runs: dim rows past the dim-HWM patch first (so the fact
        delta joins the patched dim), fact rows past the fact-HWM
        upsert, each at O(touched buckets) for BOTH layers. HWM state
        persists like _run_join_view's (written AFTER the applies;
        idempotent applies make a crash replay safe), and AggJoinView's
        own bucket-intent sidecar additionally heals a crash BETWEEN
        the view apply and the partial refresh."""
        from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView
        from nomba_data_pipeline_spark.operators.incremental_join import (
            JoinViewTable,
            _key_cols,
        )

        required = {
            "view_fact": spec.view_fact,
            "view_dim": spec.view_dim,
            "view_dim_key": spec.view_dim_key,
            "view_dim_cols": spec.view_dim_cols,
            "view_dim_tracking": spec.view_dim_tracking,
            "upsert_key (fact key)": spec.upsert_key,
            "tracking_column (fact HWM)": spec.tracking_column,
            "agg_group_keys": spec.agg_group_keys,
            "agg_measures": spec.agg_measures,
        }
        missing = [k for k, v in required.items() if not v]
        if missing:
            raise ValueError(f"model {spec.name}: agg_view requires {missing}")

        fact = self.read_model(spec.view_fact)
        dim = self.read_model(spec.view_dim)
        agg_path = os.path.join(self.warehouse_dir, spec.name)
        view = JoinViewTable(
            self.spark, agg_path + "__view",
            fact_key=spec.upsert_key, dim_key=spec.view_dim_key,
            dim_cols=spec.view_dim_cols, n_buckets=spec.view_buckets,
        )
        agg = AggJoinView(
            self.spark, agg_path,
            view=view, group_keys=spec.agg_group_keys,
            measures=spec.agg_measures,
            distinct_cols=spec.agg_distinct_cols or None,
        )
        state_path = agg_path + "._view_state"

        vt = self._fact_versioned_table(spec)
        if not view._table.exists():
            view.build(fact, dim)
            agg.build()
            self._save_view_state(
                state_path,
                self._hwm_str(fact, spec.tracking_column),
                self._hwm_str(dim, spec.view_dim_tracking),
                fact_version=vt.latest_version() if vt is not None else None,
            )
        else:
            if not agg._exists():
                # a crash landed between view.build() and agg.build()
                # on the first run: complete it (build is a full
                # recompute from the view, so this converges) instead
                # of raising 'not built' on every later run
                agg.build()
            state = self._load_view_state(state_path)
            dim_delta = dim
            if state["dim_hwm"] is not None:
                dim_delta = dim.filter(
                    F.col(spec.view_dim_tracking)
                    > F.lit(state["dim_hwm"]).cast(
                        dict(dim.dtypes)[spec.view_dim_tracking]
                    )
                )
            if dim_delta.limit(1).count() > 0:
                agg.apply_dim_delta(
                    dim_delta.select(
                        *_key_cols(spec.view_dim_key), *spec.view_dim_cols
                    )
                )
            new_dim_hwm = (
                self._hwm_str(dim_delta, spec.view_dim_tracking)
                or state["dim_hwm"]
            )
            if vt is not None:
                # versioned fact: fold its change feed (incl. DELETES)
                # into both layers at O(touched buckets); see
                # _run_join_view for the recovery rationale
                latest_v = vt.latest_version()
                applied_v = state.get("fact_version")
                if applied_v is None:
                    view.build(fact, dim)
                    agg.build()
                elif latest_v is not None and latest_v > applied_v:
                    try:
                        self._apply_fact_changes(
                            vt, agg, applied_v, latest_v,
                            spec.upsert_key, dim,
                        )
                    except ValueError:
                        # unreplayable cursor: rebuild (see join_view)
                        view.build(fact, dim)
                        agg.build()
                agg.heal()
                self._save_view_state(
                    state_path, state["fact_hwm"], new_dim_hwm,
                    fact_version=latest_v,
                )
            else:
                fact_delta = fact
                if state["fact_hwm"] is not None:
                    fact_delta = fact.filter(
                        F.col(spec.tracking_column)
                        > F.lit(state["fact_hwm"]).cast(
                            dict(fact.dtypes)[spec.tracking_column]
                        )
                    )
                if fact_delta.limit(1).count() > 0:
                    agg.apply_fact_delta(fact_delta, dim)
                # even a no-delta run heals a leftover bucket intent
                agg.heal()
                self._save_view_state(
                    state_path,
                    self._hwm_str(fact_delta, spec.tracking_column)
                    or state["fact_hwm"],
                    new_dim_hwm,
                )
        out = self.read_model(spec.name)
        return spec.quality.assert_ok(out, model=spec.name, resolve=self.read_model)

    def _run_incremental_agg(self, spec: ModelSpec) -> int:
        """Materialize/maintain a `materialization="incremental_agg"`
        mart — the PLAIN delete-capable maintained aggregate
        (operators/incremental_agg.IncrementalAggTable) as a runner
        materialization (VERDICT r14 #4): a GROUP BY over a VERSIONED
        fact kept fresh from the fact's change feed, deletes and
        group-moving updates included, without the join layer an
        agg_view carries.

        `fn` is unused (pass None): the fact is another registered
        model with materialization="versioned_incremental" named by
        `view_fact`; `agg_group_keys`/`agg_measures` (and optional
        `agg_distinct_cols`) define the state. The CURSOR is the
        marker ledger itself — applied commit versions ARE the batch
        ids, so no sidecar state can drift from what was actually
        folded, and a crash anywhere replays idempotently.

        Per run: commits in (ledger hwm, fact latest] apply per
        `_commit_version` ASCENDING through apply_changes with
        include_preimages feeds (group-moving updates retract their
        OLD group) and source = the fact read AS OF that commit —
        insert-only commits fold at group cardinality, retraction
        commits pay one broadcast semi-join of the affected groups'
        rows, never a history rescan. First run, a feed gap, or a
        wholesale-content commit in the span (`_CDF_FULL`:
        overwrite / rollback / purge) re-syncs via rebuild(): ONE
        aggregation of the current fact — the cost the overwrite
        already implies."""
        from nomba_data_pipeline_spark.operators.incremental_agg import (
            IncrementalAggTable,
        )

        required = {
            "view_fact": spec.view_fact,
            "agg_group_keys": spec.agg_group_keys,
            "agg_measures": spec.agg_measures,
        }
        missing = [k for k, v in required.items() if not v]
        if missing:
            raise ValueError(
                f"model {spec.name}: incremental_agg requires {missing}"
            )
        vt = self._fact_versioned_table(spec)
        if vt is None:
            raise ValueError(
                f"model {spec.name}: incremental_agg requires view_fact "
                f"{spec.view_fact!r} to be a versioned_incremental model "
                "(the change feed is the maintenance source)"
            )
        latest = vt.latest_version()
        if latest is None:
            raise ValueError(
                f"model {spec.name}: fact {spec.view_fact!r} has no "
                "committed versions yet — run the fact model first"
            )
        agg = IncrementalAggTable(
            self.spark, os.path.join(self.warehouse_dir, spec.name),
            keys=spec.agg_group_keys, measure=spec.agg_measures,
            distinct=spec.agg_distinct_cols or None,
        )
        hwm, _ = agg._applied_state()
        if not agg._table.exists():
            agg.rebuild(vt.read(), latest)
        elif latest > hwm:
            versions = None
            try:
                ch = vt.changes_between(hwm, latest,
                                        include_preimages=True)
                versions = sorted(
                    r["_commit_version"]
                    for r in ch.select("_commit_version")
                    .distinct().collect()
                )
            except ValueError:
                # a _CDF_FULL marker / reclaimed feed in the span:
                # re-sync from the current snapshot (the same refusal
                # + re-sync every versioned_cdf consumer performs)
                agg.rebuild(vt.read(), latest)
            if versions is not None:
                for v in versions:
                    try:
                        src = vt.read(version=v)
                    except ValueError:
                        # that commit's files left retention mid-replay
                        agg.rebuild(vt.read(), latest)
                        break
                    agg.apply_changes(
                        ch.filter(F.col("_commit_version") == v)
                        .drop("_commit_version"),
                        batch_id=v, source=src,
                    )
        out = self.read_model(spec.name)
        return spec.quality.assert_ok(out, model=spec.name,
                                      resolve=self.read_model)

    def _fact_versioned_table(self, spec: ModelSpec):
        """The VersionedTable behind the mart's fact side, or None when
        the fact model is a plain (HWM-tracked) materialization. A
        versioned fact gives the view a better delta source than an HWM
        filter: diff_versions derives inserts/updates AND DELETES from
        the manifests at O(changed files) — retention or erasure
        batches on the fact propagate to the maintained view instead of
        lingering forever (the HWM path can only ever see new rows)."""
        fact_spec = self.models.get(spec.view_fact)
        if (fact_spec is None
                or fact_spec.materialization != "versioned_incremental"):
            return None
        from nomba_data_pipeline_spark.operators.versioned import (
            VersionedTable,
        )

        return VersionedTable(
            self.spark, os.path.join(self.warehouse_dir, spec.view_fact),
            write_cdf=fact_spec.versioned_write_cdf,
        )

    def _apply_fact_changes(self, vt, target, v_from: int, v_to: int,
                            keys: list[str], dim: DataFrame) -> None:
        """Fold a versioned fact's changes in (v_from, v_to] into a
        maintained view/agg. Prefers the PERSISTED per-commit feeds
        (plain file reads; applied one commit at a time ascending —
        apply_fact_cdf's disjoint-keys contract holds per commit, a key
        updated then deleted appears twice across commits); falls back
        to the manifest-derived diff_versions (joins, but collapsed to
        one key-unique frame) when feeds are absent or a FULL marker
        spans the range. Either path is an idempotent keyed rewrite, so
        a crash before the state save replays safely."""
        try:
            feed = vt.changes_between(v_from, v_to)
        except ValueError:
            target.apply_fact_cdf(
                vt.diff_versions(v_from, v_to, keys), dim
            )
            return
        versions = sorted(
            r["_commit_version"]
            for r in feed.select("_commit_version").distinct().collect()
        )
        for v in versions:
            target.apply_fact_cdf(
                feed.filter(F.col("_commit_version") == v)
                .drop("_commit_version"),
                dim,
            )

    # -- view-state sidecar helpers (shared by join_view / agg_view) -----
    def _hwm_str(self, df: DataFrame, col: str) -> str | None:
        row = df.agg(F.max(col).alias("m")).first()
        # stored as str; reparsed via cast to the column's own dtype —
        # the round-trip is pinned per tracking dtype in test_pipeline
        return None if row is None or row["m"] is None else str(row["m"])

    def _save_view_state(self, state_path: str,
                         fact_hwm: str | None, dim_hwm: str | None,
                         fact_version: int | None = None) -> None:
        # a JSON sidecar: temp + atomic swap, so a crash mid-save leaves
        # the PREVIOUS state readable, never a half-written sidecar.
        # fact_version: the versioned-fact CDF cursor (the fact table
        # VERSION whose changes are already folded into the view) —
        # None for plain HWM-tracked facts.
        from nomba_data_pipeline_spark.operators.versioned import (
            write_json_sidecar,
        )

        write_json_sidecar(self.spark, state_path, {
            "fact_hwm": fact_hwm,
            "dim_hwm": dim_hwm,
            "fact_version": fact_version,
        }, col="state")

    def _load_view_state(self, state_path: str) -> dict:
        # a missing or unreadable sidecar (crash between build() and
        # the state save, or pre-atomic-swap residue) is NOT fatal: the
        # applies are idempotent keyed rewrites, so {None, None} replays
        # the full fact/dim as deltas and converges — one
        # expensive-but-correct recovery run instead of raising until a
        # manual full_refresh
        from nomba_data_pipeline_spark.operators.merge import fs_and_path
        from nomba_data_pipeline_spark.operators.versioned import (
            UNREADABLE_SIDECAR,
            read_json_sidecar,
        )

        st_fs, st_jp = fs_and_path(self.spark, state_path)
        if st_fs.exists(st_jp):
            try:
                st = read_json_sidecar(self.spark, state_path, col="state")
            except UNREADABLE_SIDECAR:
                pass
            else:
                st.setdefault("fact_version", None)  # pre-CDF sidecars
                return st
        return {"fact_hwm": None, "dim_hwm": None, "fact_version": None}

    def _apply_schema_policy(self, spec: ModelSpec, target, df: DataFrame) -> None:
        """dbt `on_schema_change` for incremental models: validate the
        configured policy, then apply it against the target's CURRENT
        schema. Schema-only (no data scan), so the HWM path can run it
        before the empty-delta short-circuit — drift surfaces even when
        the introducing batch carries no rows past the high-water mark.

          * 'ignore'  — reference parity: _align_to_target later drops
            source-only columns and casts shared ones to the target.
          * 'fail'    — raise on ANY drift: new columns OR a shared
            column whose type changed (dbt-core semantics).
          * 'append_new_columns' — widen_to adds the new columns (one
            NULL-filled rewrite) and promote_types widens shared
            columns whose type grew; a narrowing/incompatible drift
            raises there rather than corrupting stored values.

        Idempotent: after the widen/promote the delta matches the
        target schema and a second call is a no-op, so running it in
        both the HWM block and the merge branch costs one extra schema
        read, never a second rewrite."""
        if spec.on_schema_change not in ("ignore", "append_new_columns", "fail"):
            raise ValueError(
                f"model {spec.name}: unknown on_schema_change "
                f"{spec.on_schema_change!r}"
            )
        if spec.on_schema_change == "ignore" or not target.exists():
            return
        from pyspark.sql.types import NullType

        pb = spec.partition_by or None
        existing = {f.name: f.dataType for f in target.read().schema.fields}
        new_cols = [c for c in df.columns if c not in existing]
        if spec.on_schema_change == "fail":
            drifted = [
                f"{f.name}: {existing[f.name].simpleString()} -> "
                f"{f.dataType.simpleString()}"
                for f in df.schema.fields
                if f.name in existing
                and f.dataType != existing[f.name]
                and not isinstance(f.dataType, NullType)
            ]
            if new_cols or drifted:
                raise ValueError(
                    f"model {spec.name}: source schema drifted "
                    f"(new columns {new_cols}, type drift {drifted}) "
                    "and on_schema_change='fail'"
                )
            return
        # append_new_columns
        if new_cols:
            target.widen_to(df, partition_by=pb)
        target.promote_types(df, partition_by=pb)

    def read_model(self, name: str) -> DataFrame:
        """Read a materialized model; reassembles split-SCD2 storage and
        hides the join-view's internal bucket column."""
        spec = self.models.get(name)
        if spec is not None and spec.materialization == "join_view":
            return self.table(name).read().drop("__dim_bucket")
        if spec is not None and spec.materialization == "agg_view":
            # the finalized rollup: merge of the bucket partials
            # (<= buckets x groups state rows), never a view scan
            from nomba_data_pipeline_spark.operators.agg_join_view import (
                AggJoinView,
            )

            return AggJoinView.open(
                self.spark, os.path.join(self.warehouse_dir, name)
            ).result()
        if spec is not None and spec.materialization == "versioned_incremental":
            from nomba_data_pipeline_spark.operators.versioned import (
                VersionedTable,
            )

            return VersionedTable(
                self.spark, os.path.join(self.warehouse_dir, name)
            ).read()
        if spec is not None and spec.materialization == "incremental_agg":
            # the finalized presentation rows from the stored partials
            from nomba_data_pipeline_spark.operators.incremental_agg import (
                IncrementalAggTable,
            )

            return IncrementalAggTable(
                self.spark, os.path.join(self.warehouse_dir, name),
                keys=spec.agg_group_keys, measure=spec.agg_measures,
                distinct=spec.agg_distinct_cols or None,
            ).result()
        if spec is not None and spec.materialization == "scd2" and spec.scd2_split:
            open_t = self.table(name + "__open")
            closed_t = self.table(name + "__closed")
            open_df = open_t.read()
            if closed_t.exists():
                return open_df.unionByName(
                    closed_t.read().drop("close_date", "batch_id")
                )
            return open_df
        return self.table(name).read()

    def _run_scd2_split(self, spec: ModelSpec, batch: DataFrame) -> None:
        """Split SCD2 materialization: overwrite the (small) open table,
        append newly-closed rows partitioned by (batch_id, close date).

        Idempotency: an unchanged rerun closes zero rows, so the append
        is a no-op; the open overwrite converges. Replay safety: a crash
        BETWEEN the closed append and the open swap leaves the appended
        batch on disk while the rerun — still seeing the old open table —
        recomputes the same closed set. Each append therefore carries a
        deterministic batch id (order-independent bit_xor of
        xxhash64(key, valid_from) — stable across replays because
        valid_from comes from history, while valid_to is the replay's
        NOW()), and the writer wipes any existing `batch_id=<id>`
        subtree first. The same-bid wipe alone is not enough when the
        SOURCE changes between the crash and the replay (different
        closed set => different bid, stale orphans survive), so runs
        also sweep ORPHANED batch dirs — a closed (key, valid_from)
        whose version is still OPEN can only come from an uncommitted
        append, because a committed close always swaps that version out
        of the open table.

        A committed batch dir carries a `_COMMITTED` marker (written
        AFTER the open swap), so the steady-state sweep is a pure
        FS listing — zero Spark jobs. Only UNMARKED dirs (a crash
        window artifact) pay the column-pruned 3-column scan + semi-join
        against the open table, scoped to just those dirs; survivors of
        that check were committed-but-unmarked (crash between swap and
        marker) and get marked. The dedup itself stays a directory
        delete, never a shuffle over history.
        """
        from pyspark.storagelevel import StorageLevel

        from nomba_data_pipeline_spark.operators import scd2 as S2
        from nomba_data_pipeline_spark.operators.merge import _semi_anti_null_safe

        open_t = self.table(spec.name + "__open")
        closed_path = os.path.join(self.warehouse_dir, spec.name + "__closed")
        open_old = open_t.read() if open_t.exists() else None
        key = spec.scd2_key or spec.upsert_key[0]
        if open_old is not None and self.table(spec.name + "__closed").exists():
            self._migrate_legacy_closed(closed_path)
            unmarked = self._unmarked_batch_dirs(closed_path)
            if unmarked:
                existing = (
                    self.spark.read.option("basePath", closed_path)
                    .parquet(*unmarked)
                    .select(key, S2.VALID_FROM, "batch_id")
                )
                orphaned = _semi_anti_null_safe(
                    existing,
                    open_old.select(key, S2.VALID_FROM),
                    [key, S2.VALID_FROM],
                    "left_semi",
                )
                orphan_bids = {
                    r["batch_id"]
                    for r in orphaned.select("batch_id").distinct().collect()
                }
                for bid_ in orphan_bids:
                    self._rm_dir(os.path.join(closed_path, f"batch_id={bid_}"))
                if orphan_bids:
                    self.spark.catalog.refreshByPath(closed_path)
                for d in unmarked:  # survivors: committed but unmarked
                    bid_ = d.rsplit("batch_id=", 1)[-1]
                    if bid_ not in orphan_bids:
                        self._touch(os.path.join(d, "_COMMITTED"))
        open_new, closed_now = S2.scd2_apply(
            open_old,
            batch,
            key=key,
            check_cols=spec.check_cols,
            order_within_batch=spec.tracking_column,
        )
        # the closed set is computed twice (stats pass + append) — cache
        # it so the change-detection join runs once; it is delta-sized
        # (only versions closing this run), so the footprint is bounded
        closed_now = closed_now.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # one pass gives the emptiness check, the batch identity
            # ((key, valid_from) is unique within a batch, so the xor
            # never self-cancels) AND — riding the same action — the
            # count of brand-new keys (batch keys with no open version).
            # n == 0 and n_new == 0 means the open state is EXACTLY
            # open_old (carried_open preserves every cur row untouched
            # when nothing changed and nothing closed), so the open
            # overwrite — a full rewrite of the open table plus a second
            # evaluation of the change-detection join — can be skipped
            # outright: the unchanged-source rerun becomes one small
            # aggregation instead of a table rewrite.
            stats_src = closed_now.select(
                F.xxhash64(F.col(key), F.col(S2.VALID_FROM)).alias("h"),
                F.lit(1).alias("c"),
            )
            if open_old is not None:
                new_keys = _semi_anti_null_safe(
                    batch.select(key).dropDuplicates([key]),
                    open_old.select(key),
                    [key],
                    "left_anti",
                ).select(F.lit(0).cast("long").alias("h"), F.lit(0).alias("c"))
                stats_src = stats_src.unionByName(new_keys)
            stats = stats_src.agg(
                F.expr("bit_xor(if(c = 1, h, 0L))").alias("x"),
                F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
                F.coalesce(F.sum(1 - F.col("c")), F.lit(0)).alias("n_new"),
            ).first()
            if open_old is not None and stats["n"] == 0 and stats["n_new"] == 0:
                return
            # materialize closed rows BEFORE swapping the open table they
            # derive from (both plans read the old open files)
            bid = None
            if stats["n"] > 0:
                self._migrate_legacy_closed(closed_path)
                bid = f"{(stats['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{stats['n']}"
                self._rm_dir(os.path.join(closed_path, f"batch_id={bid}"))
                closed_now.withColumn("batch_id", F.lit(bid)).withColumn(
                    "close_date", F.to_date(F.col(S2.VALID_TO)).cast("string")
                ).write.mode("append").partitionBy("batch_id", "close_date").parquet(
                    closed_path
                )
            open_t.overwrite(open_new)
        finally:
            closed_now.unpersist()
        if bid is not None:  # the commit point: swap done -> mark the batch
            self._touch(os.path.join(closed_path, f"batch_id={bid}", "_COMMITTED"))

    def _migrate_legacy_closed(self, closed_path: str) -> None:
        """One-time layout upgrade: closed history written before the
        replay-safe batch ids is partitioned by close_date only. Mixing
        the two depths under one root makes Spark's partition discovery
        throw 'Conflicting directory structures', so any top-level
        `close_date=` dirs are renamed under a `batch_id=legacy`
        umbrella before the first new-layout append (metadata-only FS
        renames; 'legacy' cannot collide with real ids, which are
        16-hex + '-' + count)."""
        from nomba_data_pipeline_spark.operators.merge import fs_and_path

        jvm = self.spark._jvm
        fs, jpath = fs_and_path(self.spark, closed_path)
        if not fs.exists(jpath):
            return
        legacy = [
            st.getPath()
            for st in fs.listStatus(jpath)
            if st.isDirectory() and st.getPath().getName().startswith("close_date=")
        ]
        if not legacy:
            return
        umbrella = jvm.org.apache.hadoop.fs.Path(closed_path + "/batch_id=legacy")
        fs.mkdirs(umbrella)
        for src in legacy:
            dst = jvm.org.apache.hadoop.fs.Path(
                f"{closed_path}/batch_id=legacy/{src.getName()}"
            )
            if not fs.rename(src, dst):
                raise IOError(f"legacy closed-history migration failed: {src}")
        # pre-batch-id history predates replay safety — its rows cannot
        # be attributed to an append, so it is grandfathered committed
        self._touch(closed_path + "/batch_id=legacy/_COMMITTED")
        self.spark.catalog.refreshByPath(closed_path)

    def _unmarked_batch_dirs(self, closed_path: str) -> list[str]:
        """batch_id= dirs missing the `_COMMITTED` marker — the orphan
        sweep's work list. Steady state returns [] from one FS listing."""
        from nomba_data_pipeline_spark.operators.merge import fs_and_path

        fs, jpath = fs_and_path(self.spark, closed_path)
        if not fs.exists(jpath):
            return []
        out = []
        jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path
        for st in fs.listStatus(jpath):
            p = st.getPath()
            if not (st.isDirectory() and p.getName().startswith("batch_id=")):
                continue
            if fs.exists(jvm_path(p, "_COMMITTED")):
                continue
            # a dir with no data files is a crashed append that never
            # wrote a row — remove it here; feeding it to the parquet
            # reader would fail schema inference
            it = fs.listFiles(p, True)
            has_data = False
            while it.hasNext():
                if not it.next().getPath().getName().startswith(("_", ".")):
                    has_data = True
                    break
            if has_data:
                out.append(p.toString())
            else:
                fs.delete(p, True)
        return out

    def vacuum_closed(self, name: str, older_than: str) -> int:
        """Retention maintenance for split-SCD2 closed history: drop
        every `close_date=<d>` partition with d strictly before
        `older_than` (ISO date — lexicographic compare IS date order).
        Partition-scoped directory deletes only — surviving history is
        never rewritten, so at 100 TB vacuum cost is O(expired dirs),
        zero data IO. A batch dir whose partitions are all expired is
        removed whole, `_COMMITTED` marker included (the orphan sweep
        only concerns UNMARKED — i.e. recently crashed — batches, never
        old committed ones). Returns the number of partition dirs
        dropped. The open table is untouched: retention applies to
        closed versions only, current state never expires."""
        import re

        from nomba_data_pipeline_spark.operators.merge import fs_and_path

        if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", older_than):
            raise ValueError(f"older_than must be YYYY-MM-DD, got {older_than!r}")
        closed_path = os.path.join(self.warehouse_dir, name + "__closed")
        fs, root = fs_and_path(self.spark, closed_path)
        if not fs.exists(root):
            return 0
        removed = 0
        for bst in fs.listStatus(root):
            bp = bst.getPath()
            if not (bst.isDirectory() and bp.getName().startswith("batch_id=")):
                continue
            kept = 0
            for cst in fs.listStatus(bp):
                cp = cst.getPath()
                nm = cp.getName()
                if not (cst.isDirectory() and nm.startswith("close_date=")):
                    continue
                if nm[len("close_date="):] < older_than:
                    fs.delete(cp, True)
                    removed += 1
                else:
                    kept += 1
            if kept == 0:
                fs.delete(bp, True)
        # everything expired: remove the root as well, so read_model's
        # exists() check sees "no closed history" rather than an empty
        # directory that would fail parquet schema inference
        if not any(
            st.isDirectory() and st.getPath().getName().startswith("batch_id=")
            for st in fs.listStatus(root)
        ):
            fs.delete(root, True)
        if removed:
            self.spark.catalog.refreshByPath(closed_path)
        return removed

    def full_refresh(self, names: list[str]) -> dict[str, int]:
        """dbt `--full-refresh` for a model subgraph: drop the named
        models' storage (including split-SCD2 `__open`/`__closed` side
        tables) plus every DOWNSTREAM dependent's — their contents
        derive from the rebuilt models, so keeping them would mix old
        and new lineage — then rebuild. This is the documented remedy
        for incremental staleness (see the dbt-parity NOTE in
        pipeline.py): a dim attribute change reaches already-loaded
        fact rows only through a full refresh.

        Upstream models in the subgraph's dependency closure re-run
        too (run(only=...) pulls them in) but are NOT dropped — for
        incremental materializations that re-run is an empty-delta
        no-op, so the cost stays O(refreshed models' sources).

        SCD2 snapshot models are NEVER dropped — not even when named
        explicitly (naming one raises). Their closed history is an
        append-only audit record that cannot be rebuilt from current
        sources; dbt's --full-refresh excludes snapshots for the same
        reason. A snapshot in the downstream closure re-RUNS normally
        (change-detection against its existing state), it just keeps
        its storage. Returns run()'s row counts for the executed
        subgraph."""
        unknown = [n for n in names if n not in self.models]
        if unknown:
            raise ValueError(f"unknown models: {unknown}")
        snapshots = [n for n in names if self.models[n].materialization == "scd2"]
        if snapshots:
            raise ValueError(
                f"refusing to full-refresh SCD2 snapshot models {snapshots}: "
                "closed history is append-only audit state and cannot be "
                "rebuilt from current sources (dbt --full-refresh excludes "
                "snapshots for the same reason)"
            )
        wanted = set(names)
        changed = True
        while changed:
            changed = False
            for spec in self.models.values():
                if spec.name not in wanted and wanted & set(spec.depends_on):
                    wanted.add(spec.name)
                    changed = True
        for name in wanted:
            if self.models[name].materialization == "scd2":
                continue  # re-runs, but history storage is preserved
            # agg_view marts own a second layer: the underlying join
            # view at <name>__view (plus its sidecars and the agg's
            # meta/intent) — leaving it behind would make the rebuild
            # run hit the maintenance branch against a dropped partials
            # table and raise forever
            for suffix in (
                "", "__open", "__closed", "._view_meta", "._view_state",
                "._agg_meta", "._agg_intent",
                "__view", "__view._view_meta",
                "__view._view_meta.rebucket-intent",
            ):
                self._rm_dir(os.path.join(self.warehouse_dir, name + suffix))
        return self.run(only=list(wanted))

    def erase_subject(self, user_ids: list, erasure_id: str) -> dict[str, int]:
        """Right-to-be-forgotten erasure: physically remove every row
        belonging to `user_ids` from every materialized layer of the
        medallion — staging, SCD2 history (open AND closed versions),
        dims, and facts — and record an audit manifest. The reference
        pipeline has no erasure path (its warehouse grows append/upsert
        only); regulators require one, so this is part of the
        "complete engine" surface rather than reference parity.

        Scope per table (only tables that exist are touched):
          * stg_users / users_snapshot__open / dim_users / stg_plans /
            dim_plans: rows with a matching user_id.
          * users_snapshot__closed: matching rows in the append-only
            history — rewritten PARTITION-SCOPED: one column-pruned
            scan finds the affected (batch_id, close_date) dirs, and
            only those dirs are rewritten (or dropped when emptied),
            so at 100 TB the cost is O(partitions holding the subject)
            + one pruned scan, never a history rewrite. `_COMMITTED`
            batch markers live at the batch level and are untouched;
            a batch dir emptied entirely is removed marker-and-all
            (same rule as vacuum_closed: the orphan sweep only ever
            inspects unmarked dirs).
          * stg_transactions / fact_transactions: rows whose plan_id
            belongs to the subject (resolved from stg_plans BEFORE any
            deletion), plus fact rows carrying the user_id directly.
          * every registered join_view mart whose columns carry
            user_id or plan_id: rewritten BUCKET-SCOPED (only the
            dim-key buckets holding subject rows are swapped, emptied
            buckets deleted) so the view's layout — and the O(touched
            buckets) maintenance bound — survives the erasure.
          * every registered agg_view mart: its UNDERLYING view
            (<name>__view) holds the row-level subject data and is
            swept with the same bucket-scoped rewrite, then the rollup
            PARTIALS of exactly those buckets are re-derived — an
            aggregate that kept counting an erased subject would leak
            their activity through the mart.
          * every registered versioned_incremental mart: PURGED
            (delete_keys + vacuum-to-one) rather than deleted — a
            plain delete would keep serving the subject through time
            travel and rollback from retained history.

        The ids ship as a broadcast anti-join build side, not an
        isin() literal — a bulk erasure list of millions of keys stays
        a join. The subject->plan_id mapping is STAGED to a parquet
        sidecar (<warehouse>/_erasures/<id>.plan_ids), never collected:
        bulk erasures are bounded by cluster storage, not driver
        memory, the broadcast hint on it is dropped past 5M plan ids,
        and a crash replay reuses the staged mapping (recomputing after
        stg_plans was already erased would silently miss the subject's
        transactions). Idempotent: a replay finds zero matching rows
        and rewrites nothing. Returns {table: rows_removed}; the
        manifest lands at <warehouse>/_erasures/<erasure_id>.json
        (underscore prefix keeps it invisible to parquet readers).
        """
        import json

        from nomba_data_pipeline_spark.operators.merge import fs_and_path

        ids_df = self.spark.createDataFrame(
            [(int(u),) for u in user_ids], "user_id bigint"
        )

        # resolve the subject's plan ids BEFORE deleting anything —
        # staged to a parquet sidecar under _erasures/ rather than
        # collect()ed: the mapping must outlive stg_plans' own deletion
        # below, and a bulk erasure's plan set should be bounded by
        # cluster storage, not driver memory. A replay REUSES a staged
        # mapping from a prior crashed attempt (after a crash between
        # erasing stg_plans and anything earlier in the order below,
        # recomputing from the now-erased source would silently come up
        # empty — the sidecar keeps every later step replayable).
        plans_t = self.table("stg_plans")
        plan_ids = None
        plan_map_path = os.path.join(
            self.warehouse_dir, "_erasures", erasure_id + ".plan_ids"
        )
        pm_fs, pm_jp = fs_and_path(self.spark, plan_map_path)
        if not pm_fs.exists(pm_jp) and plans_t.exists():
            (
                plans_t.read()
                .join(F.broadcast(ids_df), "user_id", "left_semi")
                .select("plan_id")
                .distinct()
                .write.mode("overwrite")
                .parquet(plan_map_path)
            )
        if pm_fs.exists(pm_jp):
            staged = self.spark.read.parquet(plan_map_path)
            if staged.limit(1).count() > 0:
                # hint only when CDC-sized; a bulk erasure's plan set
                # must not be forced through a driver-side broadcast
                # build (Spark honors the explicit hint regardless of
                # autoBroadcastJoinThreshold)
                plan_ids = (
                    F.broadcast(staged) if staged.count() <= 5_000_000 else staged
                )

        removed: dict[str, int] = {}

        ids_b = F.broadcast(ids_df)  # bounded: the caller's in-memory id list

        def erase_plain(name: str, match_on: list[tuple[DataFrame, str]]) -> None:
            # match frames arrive pre-hinted (ids_b always broadcast;
            # plan_ids only when CDC-sized — see the staging block above)
            t = self.table(name)
            if not t.exists():
                return
            cur = t.read()
            kept = cur
            for match_df, col in match_on:
                if match_df is None or col not in cur.columns:
                    continue
                kept = kept.join(match_df, col, "left_anti")
            spec = self.models.get(name)
            n_before = cur.count()
            n_kept = kept.count()
            if n_kept == 0 and n_before > 0:
                # an all-rows erasure of a PARTITIONED table would write
                # zero data files (the dynamic writer emits one file per
                # partition value), leaving an unreadable directory —
                # keep the schema readable with one empty unpartitioned
                # file instead (no data, so no layout to preserve)
                t.overwrite(kept.repartition(1), partition_by=None)
            elif n_kept < n_before:
                t.overwrite(
                    kept, partition_by=(spec.partition_by or None) if spec else None
                )
            removed[name] = n_before - n_kept

        # ORDER MATTERS for crash replay: the plan-keyed transaction
        # tables must be erased BEFORE stg_plans/dim_plans. The subject
        # -> plan_id mapping lives only in stg_plans; if a crash landed
        # between erasing stg_plans and the transactions, a replay
        # could no longer resolve the subject's plans and would leave
        # their transactions behind while reporting success. Erasing
        # txns first keeps every later step replayable from source.
        erase_plain("stg_transactions", [(plan_ids, "plan_id")])
        erase_plain(
            "fact_transactions", [(ids_b, "user_id"), (plan_ids, "plan_id")]
        )
        erase_plain("stg_users", [(ids_b, "user_id")])
        erase_plain("users_snapshot__open", [(ids_b, "user_id")])
        erase_plain("dim_users", [(ids_b, "user_id")])
        erase_plain("stg_plans", [(ids_b, "user_id")])
        erase_plain("dim_plans", [(ids_b, "user_id")])

        # join_view marts: a maintained fact⋈dim view keyed (directly or
        # via plan_id) to the subject would silently RETAIN erased rows
        # if skipped — and erase_plain's flat overwrite would destroy
        # its bucket layout if used. Rewrite partition-scoped instead:
        # one pruned semi-join finds the buckets holding subject rows,
        # and only those directories are swapped (the same O(touched
        # buckets) bound as the view's own maintenance).
        for name, spec in self.models.items():
            if spec.materialization not in ("join_view", "agg_view"):
                continue
            # join_view: the mart itself is the bucketed view.
            # agg_view: the mart is a ROLLUP whose row-level subject
            # data lives in its underlying view at <name>__view —
            # skipping it would retain erased rows at row grain, and
            # the rollup partials must be re-derived for the touched
            # buckets afterwards or the aggregate would keep COUNTING
            # the erased subject.
            vname = name if spec.materialization == "join_view" else name + "__view"
            t = ParquetTable(self.spark, os.path.join(self.warehouse_dir, vname))
            if not t.exists():
                continue
            agg = None
            if spec.materialization == "agg_view":
                from nomba_data_pipeline_spark.operators.agg_join_view import (
                    AggJoinView,
                )
                from nomba_data_pipeline_spark.operators.merge import (
                    fs_and_path as _fs_and_path,
                )

                # a first run that crashed between view.build() and
                # agg.build() leaves the __view on disk with NO
                # ._agg_meta sidecar (the next _run_agg_view heals by
                # completing the build) — open() would raise and fail
                # the entire GDPR sweep across all models. With no
                # sidecar there are no partials to refresh either:
                # sweep the view's buckets below with agg=None.
                meta_fs, meta_jp = _fs_and_path(
                    self.spark,
                    os.path.join(self.warehouse_dir, name) + "._agg_meta",
                )
                if meta_fs.exists(meta_jp):
                    agg = AggJoinView.open(
                        self.spark, os.path.join(self.warehouse_dir, name)
                    )
                    # a prior sweep crashed between the view rewrite and
                    # the partial refresh: its intent names the buckets —
                    # heal BEFORE recomputing counts from the current view
                    agg.heal()
            cur = t.read()  # includes __dim_bucket (raw table read)
            kept = cur
            for match_df, col in ((ids_b, "user_id"), (plan_ids, "plan_id")):
                if match_df is None or col not in cur.columns:
                    continue
                kept = kept.join(match_df, col, "left_anti")
            n_before, n_kept = cur.count(), kept.count()
            touched_buckets: list = []
            if n_kept == 0 and n_before > 0:
                if agg is not None:
                    # intent BEFORE the rewrite (same protocol as the
                    # apply verbs): a crash between the view fallback
                    # and the partial mirror heals on the next pass
                    agg._write_intent([
                        int(r["__dim_bucket"])
                        for r in cur.select("__dim_bucket").distinct().collect()
                    ])
                # every bucket emptied: removing all dirs would leave an
                # unreadable table — same schema-keeping fallback as
                # erase_plain (one empty unpartitioned file)
                t.overwrite(kept.repartition(1), partition_by=None)
            elif n_kept < n_before:
                gone = cur.join(kept, spec.upsert_key, "left_anti")
                buckets = [
                    r["__dim_bucket"]
                    for r in gone.select("__dim_bucket").distinct().collect()
                ]
                touched_buckets = buckets
                if agg is not None:
                    agg._write_intent(buckets)
                kept_slice = kept.filter(F.col("__dim_bucket").isin(buckets))
                live = {
                    r["__dim_bucket"]
                    for r in kept_slice.select("__dim_bucket").distinct().collect()
                }
                if live:
                    t.insert_overwrite_partitions(kept_slice, ["__dim_bucket"])
                # dynamic overwrite only replaces partitions PRESENT in
                # the delta: a bucket emptied of every row must be
                # deleted explicitly or its subject rows would survive
                for b in buckets:
                    if b not in live:
                        self._rm_dir(
                            os.path.join(
                                self.warehouse_dir, vname, f"__dim_bucket={b}"
                            )
                        )
                self.spark.catalog.refreshByPath(
                    os.path.join(self.warehouse_dir, vname)
                )
            removed[vname] = n_before - n_kept
            if agg is not None and n_kept < n_before:
                from nomba_data_pipeline_spark.operators.incremental_agg import (
                    agg_state,
                )

                if n_kept == 0:
                    # the view fell back to one empty flat file; mirror
                    # that shape for the partials (an empty PARTITIONED
                    # overwrite would write no data files and leave the
                    # state unreadable) — the next build() restores the
                    # bucketed layout
                    agg._table.overwrite(
                        agg_state(
                            t.read(),
                            ["__dim_bucket", *agg.group_keys],
                            agg.measures,
                            distinct=agg.distinct_cols,
                        ).repartition(1)
                    )
                else:
                    # recompute exactly the partials of the buckets the
                    # erasure rewrote — same O(touched buckets) bound as
                    # the view's own maintenance
                    agg._refresh(touched_buckets)
                agg._clear_intent()

        # versioned marts: a plain delete is NOT an erasure here — time
        # travel and rollback would keep serving the subject from
        # retained history — so these are PURGED (CoW delete by key
        # frame + vacuum-to-one; operators/versioned.purge_keys): every
        # file that ever held a subject row is physically deleted and
        # no manifest references it again. History across the purge is
        # deliberately lost; that is what the regulator asks for.
        for name, spec in self.models.items():
            if spec.materialization != "versioned_incremental":
                continue
            from nomba_data_pipeline_spark.operators.versioned import (
                VersionedTable,
            )

            # write_cdf-aware handle: purge_keys both vacuums AND
            # redacts its own delete feed (a plain delete_keys on a
            # write_cdf table would leave the erased subject's OLD
            # IMAGES in _cdf/v<N> and later feed reads would hit a
            # misleading missing-feed error instead of the designed
            # _CDF_FULL re-sync refusal)
            vt = VersionedTable(
                self.spark, os.path.join(self.warehouse_dir, name),
                write_cdf=spec.versioned_write_cdf,
            )
            if not vt.exists():
                continue
            cur = vt.read()
            n_before = cur.count()
            for match_df, col in ((ids_b, "user_id"), (plan_ids, "plan_id")):
                if match_df is None or col not in cur.columns:
                    continue
                vt.purge_keys(match_df.select(col), [col])
            removed[name] = n_before - vt.read().count()

        # closed SCD2 history: partition-scoped rewrite
        closed_path = os.path.join(self.warehouse_dir, "users_snapshot__closed")
        fs, root = fs_and_path(self.spark, closed_path)
        n_hist = 0
        if fs.exists(root):
            affected = (
                self.spark.read.parquet(closed_path)
                .join(F.broadcast(ids_df), "user_id", "left_semi")
                .select(
                    F.col("batch_id").cast("string"),
                    F.col("close_date").cast("string"),
                )
                .distinct()
                .collect()
            )
            import uuid as _uuid

            for r in affected:
                part = os.path.join(
                    closed_path,
                    f"batch_id={r['batch_id']}",
                    f"close_date={r['close_date']}",
                )
                cur = self.spark.read.parquet(part)
                kept = cur.join(F.broadcast(ids_df), "user_id", "left_anti")
                n_before, n_kept = cur.count(), kept.count()
                n_hist += n_before - n_kept
                if n_kept == 0:
                    self._rm_dir(part)
                elif n_kept < n_before:
                    # stage OUTSIDE the partitioned tree: an in-tree
                    # `.tmp-`/`.old-` sibling of a close_date dir would be
                    # parsed by Hive partition discovery as a real
                    # partition value, resurrecting supposedly-erased rows
                    # after a crash mid-rewrite. Same rename-dance window
                    # as ParquetTable._swap_in.
                    tag = _uuid.uuid4().hex[:8]
                    stage = f"{closed_path}.erase-tmp-{tag}"
                    backup = f"{closed_path}.erase-old-{tag}"
                    kept.write.mode("overwrite").parquet(stage)
                    _, spath = fs_and_path(self.spark, stage)
                    _, ppath = fs_and_path(self.spark, part)
                    _, bpath = fs_and_path(self.spark, backup)
                    if not fs.rename(ppath, bpath):
                        raise IOError(f"rename {part} -> backup failed")
                    if not fs.rename(spath, ppath):
                        fs.rename(bpath, ppath)  # roll back
                        raise IOError(f"rename {stage} -> {part} failed")
                    fs.delete(bpath, True)
            # drop batch dirs emptied of every close_date partition
            for bst in fs.listStatus(root):
                bp = bst.getPath()
                if not (
                    bst.isDirectory() and bp.getName().startswith("batch_id=")
                ):
                    continue
                if not any(
                    cst.isDirectory()
                    and cst.getPath().getName().startswith("close_date=")
                    for cst in fs.listStatus(bp)
                ):
                    fs.delete(bp, True)
            if not any(
                st.isDirectory() and st.getPath().getName().startswith("batch_id=")
                for st in fs.listStatus(root)
            ):
                fs.delete(root, True)
            if affected:
                self.spark.catalog.refreshByPath(closed_path)
        removed["users_snapshot__closed"] = n_hist

        manifest = {
            "erasure_id": erasure_id,
            "user_ids": sorted(int(u) for u in user_ids),
            "rows_removed": removed,
        }
        mpath = os.path.join(self.warehouse_dir, "_erasures", erasure_id + ".json")
        mfs, mp = fs_and_path(self.spark, mpath)
        out = mfs.create(mp, True)
        try:
            out.write(json.dumps(manifest, indent=2).encode())
        finally:
            out.close()
        return removed

    def _touch(self, path: str) -> None:
        """Create an empty marker file (Hadoop FS, scheme-agnostic).
        Underscore-prefixed names are invisible to parquet readers."""
        from nomba_data_pipeline_spark.operators.merge import fs_and_path

        fs, jpath = fs_and_path(self.spark, path)
        fs.create(jpath, True).close()

    def _rm_dir(self, path: str) -> None:
        """Recursively delete a directory if present (Hadoop FS API, so
        the same code path works against s3a/gs/hdfs)."""
        from nomba_data_pipeline_spark.operators.merge import fs_and_path

        fs, jpath = fs_and_path(self.spark, path)
        if fs.exists(jpath):
            fs.delete(jpath, True)
