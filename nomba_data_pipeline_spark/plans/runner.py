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

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NullType, StructType

from nomba_data_pipeline_spark.catalog import read_parquet
from nomba_data_pipeline_spark.operators import footers
from nomba_data_pipeline_spark.operators.merge import ParquetTable
from nomba_data_pipeline_spark.plans.quality import QualitySpec, WriteGate

ModelFn = Callable[[SparkSession, str], DataFrame]


def _past(df: DataFrame, col: str, hwm: str | None) -> DataFrame:
    """Rows strictly past a stored string high-water mark, reparsed to
    the column's own dtype (the round-trip is pinned per tracking dtype
    in test_pipeline); every row when no mark is stored yet."""
    if hwm is None:
        return df
    return df.filter(F.col(col) > F.lit(hwm).cast(dict(df.dtypes)[col]))


def _fail_on_drift(model: str, current: StructType, df: DataFrame) -> None:
    """dbt on_schema_change='fail', for every materialization that takes
    it: raise when `df` has a column the stored `current` schema lacks,
    or a shared column whose type changed. An all-NULL (void) column
    carries no concrete type yet, so it is not type drift."""
    types = {f.name: f.dataType.simpleString() for f in current.fields}
    new_cols = [c for c in df.columns if c not in types]
    drifted = [
        f"{f.name}: {types[f.name]} -> {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in types
        and f.dataType.simpleString() != types[f.name]
        and not isinstance(f.dataType, NullType)
    ]
    if new_cols or drifted:
        raise ValueError(
            f"model {model}: source schema drifted "
            f"(new columns {new_cols}, type drift {drifted}) "
            "and on_schema_change='fail'"
        )


@dataclass
class ModelSpec:
    name: str
    fn: ModelFn
    # table (overwrite) | incremental (merge upsert) | scd2 (snapshot):
    # the reference's dbt materializations, which the medallion
    # pipeline declares; versioned_incremental | join_view | agg_view:
    # the maintained tables and marts registry rows declare. scd2 is
    # SPLIT storage: open rows in a small rewritable `<name>__open`,
    # closed history append-only in `<name>__closed` by close date, so
    # a run costs O(open rows), not O(history); read_model() returns
    # the union.
    materialization: str = "table"
    dedup: bool = False  # incremental + keep-latest-per-key (reference O8 'special')
    upsert_key: list[str] = field(default_factory=list)
    tracking_column: str | None = None  # hwm column for incremental
    scd2_key: str | None = None
    check_cols: list[str] = field(default_factory=list)
    partition_by: list[str] = field(default_factory=list)  # physical layout (F4)
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
    # (operators/incremental_join.JoinViewTable), driven by _run_view —
    # the delta-native alternative to full-refresh dim propagation (see
    # the staleness NOTE in plans/pipeline.py). `fn` is unused (pass
    # None): the two sides are other registered models; upsert_key is
    # the fact key and tracking_column the fact side's HWM column. The
    # dim side needs its own tracking column for delta detection.
    view_fact: str | None = None  # fact-side model name
    view_dim: str | None = None  # dim-side model name
    view_dim_key: str | None = None  # join column
    view_dim_cols: list[str] = field(default_factory=list)  # enrichment cols
    view_dim_tracking: str | None = None  # dim-side HWM column
    view_buckets: int = 32
    # materialization="agg_view": a ROLLUP mart kept as an
    # aggregate-over-join IVM (operators/agg_join_view.AggJoinView),
    # driven by the same _run_view. Reuses every join_view field above
    # for the underlying fact ⋈ dim layer (owned by this model at
    # <name>__view); the rollup's bucket partials live at <name>, and
    # read_model() returns the finalized rollup.
    agg_group_keys: list[str] = field(default_factory=list)
    agg_measures: list[str] = field(default_factory=list)


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
        # which gate form certified each model in the LAST run():
        # "write" (checks observed on the refresh's own write),
        # "unchanged" (nothing written; the stored files are the ones an
        # earlier gate certified under the same checks) or
        # "full: <reason>" (read-back scan)
        self.last_gates: dict[str, str] = {}
        # per scd2 model in the LAST run(): {closed, new_keys, batch_id}
        # as the close's own write observed them (new_keys None on a
        # first build, which counts nothing; batch_id None when nothing
        # closed)
        self.last_scd2: dict[str, dict] = {}

    def register(self, spec: ModelSpec) -> None:
        if spec.on_schema_change not in ("ignore", "append_new_columns", "fail"):
            raise ValueError(
                f"model {spec.name}: unknown on_schema_change "
                f"{spec.on_schema_change!r}"
            )
        if spec.materialization in ("join_view", "agg_view"):
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
        self.last_timings = {}
        self.last_gates = {}
        self.last_scd2 = {}
        # default 3 in flight — measured r16 (interleaved 1,3,3,1 at
        # sf0.1/local[32]): e2e fresh-warehouse build 25.4/27.5s -> 9.6/
        # 10.7s, unchanged rerun 7.1/8.7 -> 4.5/4.9, CDC rerun 8.7/11.6
        # -> 5.5/7.0. Not a local-only win: independent DAG branches
        # back-fill the executor tail on any cluster (guide §2.6).
        workers = max(
            1, int(os.environ.get("SPARK_GRAFT_PIPELINE_WORKERS", "3"))
        )
        import concurrent.futures as _cf

        names = [s.name for s in ordered]
        in_run = set(names)
        done: dict[str, int] = {}
        timings: dict[str, float] = {}
        errors: dict[str, BaseException] = {}
        pending: list[ModelSpec] = list(ordered)
        running: dict[str, _cf.Future] = {}

        jsc = self.spark.sparkContext._jsc.sc()

        def _run_timed(spec: ModelSpec, props) -> tuple[int, float]:
            # the caller's local properties (e.g. its job group) carry
            # into the pool thread; each model's jobs are tagged with it
            jsc.setLocalProperties(props)
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
                            running[spec.name] = pool.submit(
                                _run_timed, spec, jsc.getLocalProperties().clone()
                            )
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
        self.last_gates = {
            n: self.last_gates[n] for n in names if n in self.last_gates
        }
        self.last_scd2 = {
            n: self.last_scd2[n] for n in names if n in self.last_scd2
        }
        if errors:
            raise errors[min(errors, key=names.index)]
        return {n: done[n] for n in names}

    def run_model(self, name: str) -> int:
        spec = self.models[name]
        target = self.table(spec.name)
        if spec.materialization not in ("table", "incremental", "scd2"):
            self.last_gates[name] = f"full: {spec.materialization} model"
        if spec.materialization in ("join_view", "agg_view"):
            return self._run_view(spec)
        if spec.materialization == "versioned_incremental":
            return self._run_versioned(spec)
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
                # steady-state short-circuit for an unpartitioned
                # target, whose merge would rewrite the whole table even
                # for an empty delta: a one-row probe skips the merge
                # (incl. the key-location scan over the target) — the
                # delta plan itself is cheap because the hwm predicate
                # pushes into the source scan. A partitioned merge needs
                # no probe: its affected-partition collect finds nothing
                # to rewrite in an empty delta and writes nothing.
                # Nothing written: when the stored files are the ones an
                # earlier gate certified, that verdict still holds and
                # the count comes from parquet footers (zero Spark
                # jobs). Any other stored state — a gate that failed, a
                # crashed write, an out-of-band file — takes the full
                # gate, so a rejected row never passes by standing still.
                if not spec.partition_by and df.limit(1).count() == 0:
                    return self._unchanged(spec, *self._certificate(spec))

        if spec.materialization == "table":
            # a full overwrite writes every row: its checks ride the
            # write with no certificate
            gate = WriteGate(spec.quality, spec.name, resolve=self.read_model)
            target.overwrite(
                gate.overwrite(df), partition_by=spec.partition_by or None
            )
            return self._write_gate_verdict(spec, gate, None)

        if spec.materialization == "incremental":
            self._apply_schema_policy(spec, target, df)
        # decided after every schema rewrite and immediately before the
        # write: only a certified target lets the checks ride the write
        cert, why = self._gate_form(spec)
        gate = None if why else WriteGate(
            spec.quality, spec.name, resolve=self.read_model
        )
        if spec.materialization == "scd2":
            wrote = self._run_scd2_split(spec, df, gate)
        else:  # incremental
            pb = spec.partition_by or None
            if spec.dedup and spec.tracking_column:
                affected = target.merge_upsert_dedup(
                    df, spec.upsert_key, spec.tracking_column,
                    partition_by=pb, gate=gate,
                )
            else:
                affected = target.merge_upsert(
                    df, spec.upsert_key, partition_by=pb, gate=gate
                )
            wrote = affected != []  # None: the whole table was written

        if not wrote:
            return self._unchanged(spec, cert, why)
        if gate is None:
            # one fused aggregation runs the whole test battery AND
            # returns the row count — one post-write scan, not one per test
            return self._full_gate(spec, why, cert)
        return self._write_gate_verdict(spec, gate, cert)

    def _write_gate_verdict(self, spec: ModelSpec, gate: WriteGate,
                           cert: dict | None) -> int:
        """Decode the write gate over the stored row count; a pass
        continues a merge's certificate chain `cert`."""
        total = self._stored_rows(spec)
        self.last_gates[spec.name] = "write"
        try:
            gate.assert_ok(total)
        except AssertionError:
            self._rm_dir(self._certificate_path(spec))
            raise
        if cert is not None:
            self._certify(spec, cert["chain"])
        return total

    # -- gate certificates ---------------------------------------------------
    # A passing gate on an incremental or scd2 model leaves
    # `<warehouse>/<model>._certified`: the fingerprint of the data files
    # it certified, the checks it ran, a chain id, and the chain id of
    # each relationship parent at that moment. A refresh whose stored
    # files and declared checks still match may run its checks on the
    # write (WriteGate); every other state — no certificate, a failed or
    # crashed run, a schema rewrite, erasure, full_refresh, an
    # out-of-band file, an added or tightened check — runs the full
    # gate. A gate that began from certified files continues their chain
    # (the run only upserted into them, and an upsert never drops a
    # key); a gate over any other files starts a new one. So a parent
    # whose chain still matches the child's record has lost no upsert
    # key the child's unchecked rows could point at.
    def _certificate_path(self, spec: ModelSpec) -> str:
        return os.path.join(self.warehouse_dir, spec.name) + "._certified"

    @staticmethod
    def _stored_tables(spec: ModelSpec) -> list[str]:
        if spec.materialization == "scd2":
            return [spec.name + "__open", spec.name + "__closed"]
        return [spec.name]

    def _fingerprint(self, spec: ModelSpec) -> dict | None:
        """{table: sorted [relative path, size, mtime_ns]} over the data
        files Spark would read for the model, or None off the driver's
        local filesystem (no certificate is kept there)."""
        out = {}
        for t in self._stored_tables(spec):
            root = footers.local_path(os.path.join(self.warehouse_dir, t))
            if root is None:
                return None
            out[t] = [
                [os.path.relpath(f, root), st.st_size, st.st_mtime_ns]
                for f in footers.data_files(root) or ()
                for st in (os.stat(f),)
            ]
        return out

    @staticmethod
    def _checks(spec: ModelSpec) -> str:
        """The model's declared checks, as its certificate records them."""
        return json.dumps(asdict(spec.quality), sort_keys=True, default=str)

    def _certificate(self, spec: ModelSpec) -> tuple[dict | None, str]:
        """(certificate, "") when the model's stored files are exactly
        the ones its last passing gate certified, under the checks it
        declares now, else (None, reason)."""
        from nomba_data_pipeline_spark.operators.versioned import (
            UNREADABLE_SIDECAR,
            read_json_sidecar,
        )

        fp = self._fingerprint(spec)
        path = self._certificate_path(spec)
        if fp is None or not os.path.isdir(footers.local_path(path)):
            return None, "no certificate"
        try:
            cert = read_json_sidecar(self.spark, path)
        except UNREADABLE_SIDECAR:
            return None, "no certificate"
        if cert.get("files") != fp:
            return None, "files changed"
        if cert.get("checks") != self._checks(spec):
            return None, "checks changed"
        return cert, ""

    def _gate_form(self, spec: ModelSpec) -> tuple[dict | None, str]:
        """(the model's valid certificate or None, why the full gate
        runs — "" when this refresh's checks may ride its write), for
        an incremental or scd2 model."""
        if not self.table(self._stored_tables(spec)[0]).exists():
            return None, "first build"
        cert, why = self._certificate(spec)
        q = spec.quality
        if cert is not None and q.unique and (
            spec.materialization == "scd2"
            or len(spec.upsert_key) != 1
            or set(q.unique) != set(spec.upsert_key)
        ):
            why = "unique off the upsert key"
        # rows the write carries over unchanged (untouched partitions,
        # closed SCD2 history) are not re-joined to the parent
        carries = spec.partition_by or spec.materialization == "scd2"
        if cert is not None and carries and not self._parents_hold(spec, cert):
            why = "parent not certified incremental"
        return cert, why

    def _parents_hold(self, spec: ModelSpec, cert: dict) -> bool:
        """True when every relationship points at an upsert key of an
        incremental parent on the certificate chain the child recorded:
        it has dropped no key that the child's unchecked rows could point
        at. An upsert may rewrite any other parent column."""
        for parent, parent_col in spec.quality.relationships.values():
            pspec = self.models.get(parent)
            if pspec is None or parent_col not in pspec.upsert_key:
                return False
            chain = self._chain(parent)
            if chain is None or chain != cert["parents"].get(parent):
                return False
        return True

    def _unchanged(self, spec: ModelSpec, cert: dict | None, why: str) -> int:
        """A run that wrote nothing: the certified verdict stands, with
        the count from parquet footers; without a certificate, or when
        a relationship parent may have dropped keys, the full gate."""
        if cert is None:
            return self._full_gate(spec, why, None)
        if not self._parents_hold(spec, cert):
            return self._full_gate(spec, "parent not certified incremental", cert)
        self.last_gates[spec.name] = "unchanged"
        return self._stored_rows(spec)

    def _chain(self, name: str) -> str | None:
        """The chain id of an incremental model whose stored files are
        certified, else None."""
        spec = self.models.get(name)
        if spec is None or spec.materialization != "incremental":
            return None
        cert, _ = self._certificate(spec)
        return None if cert is None else cert["chain"]

    def _certify(self, spec: ModelSpec, chain: str | None) -> None:
        """Record the passing gate; `chain` None starts a new chain."""
        from nomba_data_pipeline_spark.operators.versioned import write_json_sidecar

        fp = self._fingerprint(spec)
        if fp is None:
            return
        write_json_sidecar(self.spark, self._certificate_path(spec), {
            "files": fp,
            "checks": self._checks(spec),
            "chain": chain or uuid.uuid4().hex,
            "parents": {p: self._chain(p)
                        for p, _ in spec.quality.relationships.values()},
        })

    def _full_gate(self, spec: ModelSpec, why: str, cert: dict | None) -> int:
        """The read-back gate over the stored model; certifies a pass
        for the models whose refresh can use a certificate. `cert` is
        the certificate that held BEFORE this run's write, if any: the
        write was then an upsert over certified files, which drops no
        key, so its chain continues."""
        self.last_gates[spec.name] = f"full: {why}"
        try:
            total = spec.quality.assert_ok(
                self.read_model(spec.name), model=spec.name, resolve=self.read_model
            )
        except AssertionError:
            self._rm_dir(self._certificate_path(spec))
            raise
        if spec.materialization in ("incremental", "scd2"):
            self._certify(spec, cert and cert["chain"])
        return total

    def _stored_rows(self, spec: ModelSpec) -> int:
        """The model's stored row count from parquet footers."""
        return sum(
            self.table(t).row_count_stats() or 0 for t in self._stored_tables(spec)
        )

    def _run_view(self, spec: ModelSpec) -> int:
        """Materialize/maintain a `join_view` or `agg_view` mart — the
        delta answer to dbt's full-refresh-only dim propagation
        (pipeline.py staleness NOTE): a dim attribute change reaches
        ALREADY-LOADED mart rows in O(affected dim-key buckets) instead
        of an O(fact) rebuild.

        Every delta goes to ONE maintenance target: the JoinViewTable
        of a join_view, or the AggJoinView over the `<name>__view` join
        layer of an agg_view, whose bucket partials then refresh for
        exactly the buckets the view rewrote (dim patches that reassign
        groups, tombstones and dim-key migration included). Both expose
        the same apply_dim_delta / apply_fact_delta / apply_fact_cdf.

        First run: one O(F ⋈ D) build (plus one O(view) aggregation for
        an agg_view). Later runs: dim rows past the stored dim-HWM patch
        FIRST, so the fact delta joins the already-patched dim; then
        fact rows past the fact-HWM upsert — or, for a versioned fact,
        its changes since the stored version, diffed from the
        manifests, fold in, deletes included. HWM state persists in the
        `._view_state` sidecar, written AFTER the applies — every apply
        is an idempotent keyed rewrite, so a crash between apply and
        state write replays safely, and AggJoinView's own bucket-intent
        sidecar additionally heals a crash BETWEEN the view apply and
        the partial refresh.
        The dim side must be unique per key (apply_dim_delta raises on
        duplicates — register the dim model with a `unique` gate)."""
        from nomba_data_pipeline_spark.operators.incremental_join import _key_cols

        required = {
            "view_fact": spec.view_fact,
            "view_dim": spec.view_dim,
            "view_dim_key": spec.view_dim_key,
            "view_dim_cols": spec.view_dim_cols,
            "view_dim_tracking": spec.view_dim_tracking,
            "upsert_key (fact key)": spec.upsert_key,
            "tracking_column (fact HWM)": spec.tracking_column,
        }
        if spec.materialization == "agg_view":
            required["agg_group_keys"] = spec.agg_group_keys
            required["agg_measures"] = spec.agg_measures
        missing = [k for k, v in required.items() if not v]
        if missing:
            raise ValueError(
                f"model {spec.name}: {spec.materialization} requires {missing}"
            )

        fact = self.read_model(spec.view_fact)
        dim = self.read_model(spec.view_dim)
        view, agg = self._view_target(spec)
        target = view if agg is None else agg
        state_path = os.path.join(self.warehouse_dir, spec.name) + "._view_state"

        def build() -> None:
            view.build(fact, dim)
            if agg is not None:
                agg.build()

        vt = self._fact_versioned_table(spec)
        if not view._table.exists():
            build()
            self._save_view_state(
                state_path,
                self._hwm_str(fact, spec.tracking_column),
                self._hwm_str(dim, spec.view_dim_tracking),
                fact_version=vt.latest_version() if vt is not None else None,
            )
        else:
            if agg is not None and not agg._exists():
                # a crash landed between view.build() and agg.build()
                # on the first run: complete it (build is a full
                # recompute from the view, so this converges) instead
                # of raising 'not built' on every later run
                agg.build()
            state = self._load_view_state(state_path)
            dim_delta = _past(dim, spec.view_dim_tracking, state["dim_hwm"])
            if dim_delta.limit(1).count() > 0:
                target.apply_dim_delta(
                    dim_delta.select(
                        *_key_cols(spec.view_dim_key), *spec.view_dim_cols
                    )
                )
            dim_hwm = (
                self._hwm_str(dim_delta, spec.view_dim_tracking)
                or state["dim_hwm"]
            )
            fact_hwm, fact_version = state["fact_hwm"], None
            if vt is not None:
                # versioned fact: fold in its changes between the
                # last-applied and current version, diffed from the
                # manifests into one key-unique frame — inserts/updates
                # upsert, DELETES tombstone (the HWM path below can
                # never see a delete). O(changed files) per refresh, and
                # an idempotent keyed rewrite, so a crash before the
                # state save replays safely.
                fact_version = vt.latest_version()
                applied = state["fact_version"]
                if applied is None:
                    # pre-CDF sidecar or state loss: an HWM replay
                    # cannot propagate deletes that happened meanwhile,
                    # so pay one rebuild — expensive but correct.
                    build()
                elif fact_version is not None and fact_version > applied:
                    try:
                        target.apply_fact_cdf(
                            vt.diff_versions(
                                applied, fact_version, spec.upsert_key
                            ),
                            dim,
                        )
                    except ValueError:
                        # the cursor version is unreplayable (vacuum
                        # reclaimed its manifest, or a FULL-marker
                        # commit spans the range): same recovery as a
                        # lost sidecar — one rebuild, never a
                        # permanently failing run
                        build()
            else:
                fact_delta = _past(fact, spec.tracking_column, fact_hwm)
                if fact_delta.limit(1).count() > 0:
                    target.apply_fact_delta(fact_delta, dim)
                fact_hwm = (
                    self._hwm_str(fact_delta, spec.tracking_column) or fact_hwm
                )
            if agg is not None:
                # even a no-delta run heals a leftover bucket intent
                agg.heal()
            self._save_view_state(
                state_path, fact_hwm, dim_hwm, fact_version=fact_version
            )
        out = self.read_model(spec.name)
        return spec.quality.assert_ok(out, model=spec.name, resolve=self.read_model)

    def _view_target(self, spec: ModelSpec):
        """(view, agg) of a join_view / agg_view mart: the JoinViewTable
        and, for an agg_view, the AggJoinView over it (None for a
        join_view). An agg_view owns its join layer at `<name>__view`."""
        from nomba_data_pipeline_spark.operators.incremental_join import JoinViewTable

        path = os.path.join(self.warehouse_dir, spec.name)
        is_agg = spec.materialization == "agg_view"
        view = JoinViewTable(
            self.spark, path + "__view" if is_agg else path,
            fact_key=spec.upsert_key, dim_key=spec.view_dim_key,
            dim_cols=spec.view_dim_cols, n_buckets=spec.view_buckets,
        )
        if not is_agg:
            return view, None
        from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView

        return view, AggJoinView(
            self.spark, path,
            view=view, group_keys=spec.agg_group_keys,
            measures=spec.agg_measures,
        )

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
        vt = VersionedTable(self.spark, os.path.join(self.warehouse_dir, spec.name))
        df = spec.fn(self.spark, self.sf_dir)
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
                _fail_on_drift(spec.name, vt.read().schema, df)
            delta = _past(
                df, spec.tracking_column,
                vt.high_water_mark_str(spec.tracking_column),
            )
            if delta.limit(1).count() > 0:
                vt.merge_upsert(delta, spec.upsert_key)
        out = self.read_model(spec.name)
        return spec.quality.assert_ok(out, model=spec.name, resolve=self.read_model)

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
            self.spark, os.path.join(self.warehouse_dir, spec.view_fact)
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
        """dbt `on_schema_change` for incremental models (register()
        validated the policy name): apply it against the target's
        CURRENT schema. Schema-only (no data scan), so the HWM path can run it
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
        if spec.on_schema_change == "ignore" or not target.exists():
            return
        current = target.read().schema
        if spec.on_schema_change == "fail":
            _fail_on_drift(spec.name, current, df)
            return
        # append_new_columns
        pb = spec.partition_by or None
        if set(df.columns) - set(current.fieldNames()):
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
        if spec is not None and spec.materialization == "scd2":
            open_t = self.table(name + "__open")
            closed_t = self.table(name + "__closed")
            open_df = open_t.read()
            if closed_t.exists():
                return open_df.unionByName(
                    closed_t.read().drop("close_date", "batch_id")
                )
            return open_df
        return self.table(name).read()

    def _run_scd2_split(self, spec: ModelSpec, batch: DataFrame,
                        gate: WriteGate | None = None) -> bool:
        """Split SCD2 materialization: overwrite the (small) open table,
        append newly-closed rows partitioned by (batch_id, close date).
        Returns whether anything was written. `gate` observes the open
        overwrite and the closed append (closed history already stored
        is carried unchanged).

        One plan computes the close and its identity. The closed rows
        (c=1) and one row per brand-new key (c=0, taken from
        scd2_apply's own deduplicated batch) pass one Observation: the
        batch id's order-independent bit_xor of xxhash64(key,
        valid_from) ((key, valid_from) is unique within a batch, so the
        xor never self-cancels), the close count n and the new-key count
        n_new. The c=1 rows are then appended, partitioned by close
        date, into a hidden staging dir `.batch_id=<txn>.staging` under
        the closed root. Once the write has run, the driver knows the
        batch id: it wipes any `batch_id=<id>` an earlier attempt left
        and renames the staging dir to it; when nothing closed, it
        deletes the staging dir instead. n == 0 and n_new == 0 means
        the open state is EXACTLY open_old (carried_open keeps every
        current row untouched), so the open overwrite is skipped: an
        unchanged rerun costs one small write job and no table rewrite.
        A first build closes nothing and writes the open table alone.

        Replay safety. The batch id is stable across replays because
        valid_from comes from history, while valid_to is the replay's
        NOW(). A crash before the rename leaves only a hidden staging
        dir, which no reader lists and the next run (or erase_subject)
        deletes, together with a closed root it leaves empty. A crash
        BETWEEN the rename and the open swap leaves the
        batch on disk while the rerun — still seeing the old open table
        — recomputes the same closed set, so the same-id wipe replaces
        it. The same-id wipe alone is not enough when the SOURCE changes
        between the crash and the replay (different closed set =>
        different id, stale orphans survive), so runs also sweep
        ORPHANED batch dirs — a closed (key, valid_from) whose version
        is still OPEN can only come from an uncommitted append, because
        a committed close always swaps that version out of the open
        table.

        A committed batch dir carries a `_COMMITTED` marker (written
        AFTER the open swap), so the steady-state sweep is a pure
        FS listing — zero Spark jobs. Only UNMARKED dirs (a crash
        window artifact) pay the column-pruned 3-column scan + semi-join
        against the open table, scoped to just those dirs; survivors of
        that check were committed-but-unmarked (crash between swap and
        marker) and get marked. The dedup itself stays a directory
        delete, never a shuffle over history.
        """
        from pyspark.sql import Observation

        from nomba_data_pipeline_spark.operators import scd2 as S2
        from nomba_data_pipeline_spark.operators.merge import (
            _UNGATED,
            _semi_anti_null_safe,
            fs_and_path,
        )

        gate = gate or _UNGATED
        open_t = self.table(spec.name + "__open")
        closed_path = os.path.join(self.warehouse_dir, spec.name + "__closed")
        self._sweep_closed_staging(closed_path)
        open_old = open_t.read() if open_t.exists() else None
        key = spec.scd2_key or spec.upsert_key[0]
        if open_old is not None and self.table(spec.name + "__closed").exists():
            unmarked = self._unmarked_batch_dirs(closed_path)
            if unmarked:
                existing = (
                    read_parquet(self.spark, *unmarked, basePath=closed_path)
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
        open_new, closed_now, opened_new = S2.scd2_apply(
            open_old,
            batch,
            key=key,
            check_cols=spec.check_cols,
            order_within_batch=spec.tracking_column,
        )
        if open_old is None:  # first build: nothing can close
            open_t.overwrite(gate.rows(open_new))
            self.last_scd2[spec.name] = {
                "closed": 0, "new_keys": None, "batch_id": None,
            }
            return True
        obs = Observation()
        marked = closed_now.withColumn("c", F.lit(1)).unionByName(
            opened_new.select(key, F.lit(0).alias("c")), allowMissingColumns=True
        ).observe(
            obs,
            F.bit_xor(F.when(
                F.col("c") == 1, F.xxhash64(F.col(key), F.col(S2.VALID_FROM))
            ).otherwise(F.lit(0).cast("long"))).alias("x"),
            F.count(F.when(F.col("c") == 1, 1)).alias("n"),
            F.count(F.when(F.col("c") == 0, 1)).alias("n_new"),
        )
        # the closed rows, materialized BEFORE swapping the open table
        # they derive from (both plans read the old open files)
        staging = os.path.join(closed_path, f".batch_id={uuid.uuid4().hex}.staging")
        gate.rows(
            marked.filter(F.col("c") == 1).drop("c").withColumn(
                "close_date", F.to_date(F.col(S2.VALID_TO)).cast("string")
            )
        ).write.partitionBy("close_date").parquet(staging)
        stats = obs.get
        n, n_new = stats["n"], stats["n_new"]
        bid = None
        if n > 0:
            bid = f"{(stats['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{n}"
            final = os.path.join(closed_path, f"batch_id={bid}")
            self._rm_dir(final)
            fs, jstaging = fs_and_path(self.spark, staging)
            if not fs.rename(jstaging, fs_and_path(self.spark, final)[1]):
                raise IOError(f"closed batch rename failed: {staging} -> {final}")
            self.spark.catalog.refreshByPath(closed_path)
        else:
            self._sweep_closed_staging(closed_path)
        self.last_scd2[spec.name] = {
            "closed": n, "new_keys": n_new, "batch_id": bid,
        }
        if n == 0 and n_new == 0:
            return False
        open_t.overwrite(gate.rows(open_new))
        if bid is not None:  # the commit point: swap done -> mark the batch
            self._touch(os.path.join(closed_path, f"batch_id={bid}", "_COMMITTED"))
        return True

    def _sweep_closed_staging(self, closed_path: str) -> None:
        """Delete every `.batch_id=*.staging` dir under the closed root
        (an append that crashed before its rename, or one that closed
        nothing), then the root itself when it holds no visible entry:
        read_model and exists() must never meet a table with no files.
        Single-writer, like the append it cleans up after."""
        from nomba_data_pipeline_spark.operators.merge import fs_and_path

        fs, root = fs_and_path(self.spark, closed_path)
        if not fs.exists(root):
            return
        visible = False
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith(".batch_id=") and name.endswith(".staging"):
                fs.delete(st.getPath(), True)
            elif not name.startswith(("_", ".")):
                visible = True
        if not visible:
            fs.delete(root, True)

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
                "", "__open", "__closed", "._certified", "._view_meta", "._view_state",
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
            user_id or plan_id: the subject's fact keys go through the
            view's own delete_fact_keys, BUCKET-SCOPED (only the dim-key
            buckets holding subject rows are swapped, emptied buckets
            deleted) so the view's layout — and the O(touched buckets)
            maintenance bound — survives the erasure.
          * every registered agg_view mart: its UNDERLYING view
            (<name>__view) holds the row-level subject data; the
            AggJoinView's delete_fact_keys sweeps it the same way, then
            re-derives the rollup PARTIALS of exactly those buckets — an
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
            staged = read_parquet(self.spark, plan_map_path)
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

        # join_view / agg_view marts: a maintained fact⋈dim view keyed
        # (directly or via plan_id) to the subject would silently RETAIN
        # erased rows if skipped — and erase_plain's flat overwrite would
        # destroy its bucket layout. The maintenance target's own
        # delete_fact_keys removes the subject's fact keys instead: only
        # the buckets holding them are swapped (the same O(touched
        # buckets) bound as the view's maintenance), and an agg_view
        # re-derives exactly those buckets' rollup partials under its
        # intent protocol — an aggregate that kept counting an erased
        # subject would leak their activity through the mart.
        for spec in self.models.values():
            if spec.materialization not in ("join_view", "agg_view"):
                continue
            view, agg = self._view_target(spec)
            if not view._table.exists():
                continue
            if agg is not None:
                meta_fs, meta_jp = fs_and_path(self.spark, agg.path + "._agg_meta")
                if not meta_fs.exists(meta_jp):
                    # a first run that crashed between view.build() and
                    # agg.build() left no partials (the next _run_view
                    # completes the build): sweep the view alone
                    agg = None
                else:
                    # a prior sweep that crashed between the view rewrite
                    # and the partial refresh left an intent: heal it even
                    # when this pass matches nothing
                    agg.heal()
            rows = view.read()
            gone = None
            for match_df, col in ((ids_b, "user_id"), (plan_ids, "plan_id")):
                if match_df is None or col not in rows.columns:
                    continue
                hit = rows.join(match_df, col, "left_semi").select(*view.fact_key)
                gone = hit if gone is None else gone.unionByName(hit)
            n_gone = 0
            if gone is not None:
                gone = gone.distinct()
                n_gone = gone.count()
                if n_gone:
                    (view if agg is None else agg).delete_fact_keys(gone)
            removed[os.path.basename(view.path)] = n_gone

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

            vt = VersionedTable(self.spark, os.path.join(self.warehouse_dir, name))
            if not vt.exists():
                continue
            cur = vt.read()
            n_before = cur.count()
            for match_df, col in ((ids_b, "user_id"), (plan_ids, "plan_id")):
                if match_df is None or col not in cur.columns:
                    continue
                vt.purge_keys(match_df.select(col), [col])
            removed[name] = n_before - vt.read().count()

        # closed SCD2 history: partition-scoped rewrite. A crashed
        # close's staging dir is hidden from the scan below but holds
        # subject rows too — drop it first
        closed_path = os.path.join(self.warehouse_dir, "users_snapshot__closed")
        self._sweep_closed_staging(closed_path)
        fs, root = fs_and_path(self.spark, closed_path)
        n_hist = 0
        if fs.exists(root):
            affected = (
                read_parquet(self.spark, closed_path)
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
                cur = read_parquet(self.spark, part)
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
