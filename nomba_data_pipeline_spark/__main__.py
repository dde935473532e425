"""Command-line entry point — the reference's operational surface
(`dagster job launch -j users_job` / cron schedules, reference
dagster_code/nomba_elt_pipeline/all_jobs.py:6-22 and
all_schedules.py:14-45) as one CLI. A cron line invoking `run --only`
per source is the schedule equivalent; incremental state lives in the
warehouse itself (high-water-marks), so reruns are idempotent with no
daemon or external state store.

    python -m nomba_data_pipeline_spark run --warehouse /data/wh [--only fact_transactions ...]
    python -m nomba_data_pipeline_spark query flagship_revenue_by_region [--limit 20]
    python -m nomba_data_pipeline_spark compact --warehouse /data/wh --model fact_transactions
    python -m nomba_data_pipeline_spark cluster --warehouse /data/wh --model fact_transactions --by user_id
    python -m nomba_data_pipeline_spark list
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from nomba_data_pipeline_spark.catalog import read_parquet


def _spark(args):
    from nomba_data_pipeline_spark.session import get_spark

    return get_spark(app_name=f"nomba-cli-{args.cmd}")


def cmd_run(args) -> int:
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
    from nomba_data_pipeline_spark.session import codegen_compiles

    spark = _spark(args)
    t0 = time.perf_counter()
    compiled = codegen_compiles(spark)
    runner = build_pipeline(spark, args.warehouse, args.sf_dir)
    counts = runner.run(only=args.only or None)
    out = {
        "model_rows": counts,  # total post-run rows per model (quality-gate count)
        "model_seconds": runner.last_timings,
        # gate form per model: write / unchanged / full: <reason>
        "model_gates": runner.last_gates,
        # classes Janino compiled during the run (0 when all were cached)
        "codegen_compiles": codegen_compiles(spark) - compiled,
        # per scd2 model: versions closed, brand-new keys, batch id
        "model_scd2": runner.last_scd2,
        "total_seconds": round(time.perf_counter() - t0, 3),
    }
    print(json.dumps(out))
    return 0


def cmd_query(args) -> int:
    from nomba_data_pipeline_spark.plans.queries import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; `list` shows the registry", file=sys.stderr)
        return 2
    spark = _spark(args)
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def cmd_compact(args) -> int:
    from nomba_data_pipeline_spark.operators.merge import ParquetTable

    spark = _spark(args)
    from pyspark.sql import functions as F

    t = ParquetTable(spark, os.path.join(args.warehouse, args.model))
    before = t.file_count()
    t.compact(
        partition_by=args.partition_by or None,
        partition_filter=F.expr(args.partition_filter)
        if args.partition_filter
        else None,
    )
    print(json.dumps({"model": args.model, "files_before": before, "files_after": t.file_count()}))
    return 0


def cmd_cluster(args) -> int:
    from nomba_data_pipeline_spark.operators.merge import ParquetTable

    spark = _spark(args)
    from pyspark.sql import functions as F

    t = ParquetTable(spark, os.path.join(args.warehouse, args.model))
    t.cluster(
        args.by,
        target_files=args.target_files,
        partition_by=args.partition_by or None,
        partition_filter=F.expr(args.partition_filter)
        if args.partition_filter
        else None,
    )
    print(json.dumps({"model": args.model, "clustered_by": args.by, "files": t.file_count()}))
    return 0


def cmd_zorder(args) -> int:
    from nomba_data_pipeline_spark.operators.merge import ParquetTable

    spark = _spark(args)
    t = ParquetTable(spark, os.path.join(args.warehouse, args.model))
    t.zorder(args.by[0], args.by[1], bits=args.bits, target_files=args.target_files)
    print(
        json.dumps(
            {"model": args.model, "zordered_by": args.by, "files": t.file_count()}
        )
    )
    return 0


def cmd_view(args) -> int:
    """Materialized join-view lifecycle (operators/incremental_join):
    build persists the parameter sidecar; patch-dim / apply-fact reopen
    the view FROM the sidecar so a maintenance job can never re-supply
    a divergent bucket layout."""
    from nomba_data_pipeline_spark.operators.incremental_join import JoinViewTable

    spark = _spark(args)
    if args.action == "build":
        missing = [
            f for f, v in (
                ("--fact", args.fact), ("--dim", args.dim),
                ("--fact-key", args.fact_key), ("--dim-key", args.dim_key),
                ("--dim-cols", args.dim_cols),
            ) if not v
        ]
        if missing:
            print(json.dumps({"error": f"build requires {missing}"}))
            return 1
        v = JoinViewTable(
            spark, args.path,
            fact_key=args.fact_key,
            # one column stays a plain string (meta-sidecar compat);
            # several form a composite key
            dim_key=args.dim_key[0] if len(args.dim_key) == 1 else args.dim_key,
            dim_cols=args.dim_cols, n_buckets=args.n_buckets,
        )
        v.build(read_parquet(spark, args.fact), read_parquet(spark, args.dim))
        print(json.dumps({"built": args.path, "rows": v.read().count()}))
        return 0
    v = JoinViewTable.open(spark, args.path)
    if args.action == "patch-dim":
        if not args.dim:
            print(json.dumps({"error": "patch-dim requires --dim"}))
            return 1
        v.apply_dim_delta(read_parquet(spark, args.dim))
        print(json.dumps({"patched": args.path, "rows": v.read().count()}))
    elif args.action == "apply-fact":
        if not (args.fact and args.dim):
            print(json.dumps({"error": "apply-fact requires --fact and --dim"}))
            return 1
        v.apply_fact_delta(
            read_parquet(spark, args.fact), read_parquet(spark, args.dim)
        )
        print(json.dumps({"applied": args.path, "rows": v.read().count()}))
    elif args.action == "chain-patch":
        # star/snowflake propagation: patch THIS view's dim, then push
        # exactly the changed rows into the downstream view as a fact
        # delta (chain_dim_patch) — all bucket-scoped
        from nomba_data_pipeline_spark.operators.incremental_join import (
            chain_dim_patch,
        )

        if not (args.dim and args.downstream and args.downstream_dim):
            print(
                json.dumps(
                    {
                        "error": "chain-patch requires --dim, --downstream "
                        "and --downstream-dim"
                    }
                )
            )
            return 1
        down = JoinViewTable.open(spark, args.downstream)
        chain_dim_patch(
            v, down,
            read_parquet(spark, args.dim),
            read_parquet(spark, args.downstream_dim),
        )
        print(
            json.dumps(
                {
                    "chained": args.path,
                    "downstream": args.downstream,
                    "rows": down.read().count(),
                }
            )
        )
    elif args.action == "retire-dim":
        # dim DELETE as a tombstone: a parquet of retired keys (only the
        # dim-key column is read) nulls the enrichment attributes of
        # every matching view row, bucket-scoped (retire_dim_keys)
        if not args.dim:
            print(json.dumps({"error": "retire-dim requires --dim (key parquet)"}))
            return 1
        keys = read_parquet(spark, args.dim)
        v.retire_dim_keys(keys)
        print(
            json.dumps(
                {"retired": args.path, "keys": keys.select(*v._keys).distinct().count()}
            )
        )
    else:  # stats
        from pyspark.sql import functions as F

        rows = (
            read_parquet(spark, args.path)
            .groupBy("__dim_bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("__dim_bucket")
            .collect()
        )
        print(
            json.dumps(
                {
                    "buckets": {int(r[0]): int(r[1]) for r in rows},
                    "rows": int(sum(r[1] for r in rows)),
                }
            )
        )
    return 0


def cmd_versioned(args) -> int:
    """Versioned-table lifecycle (operators/versioned): history and
    time travel are read-only; rollback is the O(metadata) revert an
    on-call engineer reaches for after a bad CDC batch; vtvacuum /
    vtcheckpoint bound storage and scan fan-out."""
    from nomba_data_pipeline_spark.operators.versioned import VersionedTable

    spark = _spark(args)
    t = VersionedTable(spark, args.path)
    if args.action == "history":
        print(json.dumps({"history": t.history()}))
    elif args.action == "show":
        df = t.read(args.version)
        print(json.dumps({
            "version": args.version or t.latest_version(),
            # manifest-metadata COUNT(*) — zero scan when counts are
            # recorded (r14+ manifests), exact-scan fallback otherwise
            "rows": t.row_count(args.version),
            "schema": df.schema.simpleString(),
        }))
    elif args.action == "rollback":
        if args.version is None:
            print(json.dumps({"error": "rollback requires --version"}))
            return 1
        v = t.rollback(args.version)
        print(json.dumps({
            "rolled_back_to": args.version, "new_version": v,
            "rows": t.read().count(),
        }))
    elif args.action == "checkpoint":
        v = t.checkpoint(cluster_by=args.cluster_by)
        print(json.dumps({
            "checkpointed": v,
            "files": len(t._manifest(v)["files"]),
        }))
    elif args.action == "optimize":
        # incremental compaction: merges sub-threshold files only,
        # carries large files by reference (Delta OPTIMIZE semantics)
        v = t.optimize_small_files(target_bytes=args.target_bytes,
                                   cluster_by=args.cluster_by)
        print(json.dumps({
            "optimized": v,
            "files": None if v is None else len(t._manifest(v)["files"]),
        }))
    elif args.action == "changes":
        # the persisted per-commit change feed (write_cdf tables); the
        # on-call "what did that batch do" question without a diff join
        if args.after is None:
            print(json.dumps({"error": "changes requires --after"}))
            return 1
        df = t.changes_between(args.after, args.version).cache()
        try:
            df.orderBy("_commit_version", "change_type").show(
                args.limit, truncate=False
            )
            print(json.dumps({
                "after": args.after,
                "to": args.version or t.latest_version(),
                "changes": df.count(),
            }))
        finally:
            df.unpersist()
    elif args.action == "purge":
        # the erasure verb: CoW-delete + vacuum-to-one so NO retained
        # version (or on-disk file) still holds the subject — history
        # across the purge is deliberately gone
        if not args.where:
            print(json.dumps({"error": "purge requires --where"}))
            return 1
        res = t.purge_where(args.where)
        print(json.dumps({**res, "rows": t.read().count()}))
    else:  # vacuum
        res = t.vacuum(retain_last=args.retain_last)
        print(json.dumps(res))
    return 0


def cmd_aggview(args) -> int:
    """Aggregate-over-join view lifecycle (operators/agg_join_view):
    result prints the finalized rollup; patch-dim / apply-fact / retire
    maintain both layers at O(touched buckets); heal re-refreshes a
    crashed apply's intent buckets; rebuild recovers from a view
    rebucket."""
    from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView

    spark = _spark(args)
    a = AggJoinView.open(spark, args.path)
    if args.action == "result":
        if args.at:
            # MV navigation: serve a coarser GROUP BY from the stored
            # partials alone (result_at; keys must be ⊆ the mart's)
            a.result_at(args.at).show(args.limit, truncate=False)
        else:
            a.result().show(args.limit, truncate=False)
    elif args.action == "patch-dim":
        if not args.dim:
            print(json.dumps({"error": "patch-dim requires --dim"}))
            return 1
        buckets = a.apply_dim_delta(read_parquet(spark, args.dim))
        print(json.dumps({"patched": args.path, "buckets": buckets}))
    elif args.action == "apply-fact":
        if not (args.fact and args.dim):
            print(json.dumps({"error": "apply-fact requires --fact and --dim"}))
            return 1
        buckets = a.apply_fact_delta(
            read_parquet(spark, args.fact), read_parquet(spark, args.dim)
        )
        print(json.dumps({"applied": args.path, "buckets": buckets}))
    elif args.action == "retire-dim":
        if not args.dim:
            print(json.dumps({"error": "retire-dim requires --dim (key parquet)"}))
            return 1
        buckets = a.retire_dim_keys(read_parquet(spark, args.dim))
        print(json.dumps({"retired": args.path, "buckets": buckets}))
    elif args.action == "heal":
        print(json.dumps({"healed_buckets": a.heal()}))
    else:  # rebuild
        a.rebuild()
        print(json.dumps({"rebuilt": args.path}))
    return 0


def cmd_index(args) -> int:
    """Index lifecycle: build / append / stats over the persisted ANN
    layouts (operators/similarity.py) or the MinHash band index for
    incremental corpus dedup (operators/dedup.py). Every append
    anti-joins out the ids the index already holds, so rerunning
    `index append` adds nothing."""
    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.operators import similarity as S

    # action/family matrix: fail loudly instead of falling through to a
    # plausible-looking stats answer for an unsupported combination
    if args.action in ("dedup", "stream-dedup") and args.family != "minhash":
        print(f"`index {args.action}` requires --family minhash", file=sys.stderr)
        return 2
    spark = _spark(args)
    if args.family == "minhash":
        from nomba_data_pipeline_spark.operators import dedup as DD

        docs = load_table(spark, args.sf_dir, "documents")
        if args.action == "build":
            corpus = docs.filter("doc_id % 10 != 0") if args.pct is None else docs
            DD.minhash_index_write(corpus, args.path)
            print(json.dumps({"built": "minhash", "path": args.path}))
        elif args.action == "append":
            delta = docs.filter(f"doc_id % 100 < {args.pct}") if args.pct else docs
            n0 = read_parquet(spark, args.path).count()
            DD.minhash_index_append(delta, args.path)
            n1 = read_parquet(spark, args.path).count()
            print(json.dumps({"appended_band_rows": n1 - n0}))
        elif args.action == "dedup":
            batch = docs.filter("doc_id % 10 = 0")
            res = DD.dedup_against_bands(batch, DD.minhash_index_read(spark, args.path))
            flagged = res.filter("is_dup").count()
            print(json.dumps({"batch": res.count(), "flagged_dup": flagged}))
        elif args.action == "stream-dedup":
            # crawl-firehose demo: the %10 batch docs drain as a file
            # stream in ascending micro-batches; each is flagged against
            # the index then folded into it (the index GROWS — rerun
            # verdicts change accordingly, unlike the pure `dedup` probe)
            import tempfile

            from nomba_data_pipeline_spark.streaming.microbatch import (
                run_corpus_dedup_stream,
                stage_ascending_chunks,
            )

            batch = docs.filter("doc_id % 10 = 0").select("doc_id", "text")
            work = tempfile.mkdtemp(prefix="cli_corpus_stream_")
            stage_ascending_chunks(batch, "doc_id", work + "/src", n_chunks=3)
            run_corpus_dedup_stream(
                spark, work + "/src", batch.schema, args.path,
                work + "/flags", work + "/ckpt", max_files=1,
            )
            flags = read_parquet(spark, work + "/flags")
            print(json.dumps({
                "batches": flags.select("batch").distinct().count(),
                "docs": flags.count(),
                "flagged_dup": flags.filter("is_dup").count(),
            }))
        else:  # stats
            n = read_parquet(spark, args.path).count()
            print(json.dumps({"band_rows": n}))
        return 0
    if args.action == "build":
        emb = load_table(spark, args.sf_dir, "embeddings")
        if args.family == "lsh":
            S.lsh_index_write(emb, args.path, n_tables=args.n_tables)
        else:
            S.ivf_index_write(emb, args.path, n_lists=args.n_lists)
        print(json.dumps({"built": args.family, "path": args.path, "rows": emb.count()}))
    elif args.action == "append":
        emb = load_table(spark, args.sf_dir, "embeddings")
        delta = emb.filter(f"vec_id % 100 < {args.pct}") if args.pct else emb
        # skip_existing guards the demo slice (and any operator rerun)
        # against re-appending already-indexed ids — the raw append is
        # not replay-idempotent.
        n_before = read_parquet(spark, args.path + "/lists").count()
        if args.family == "lsh":
            S.lsh_index_append(delta, args.path, skip_existing=True)
        else:
            S.ivf_index_append(delta, args.path, skip_existing=True)
        n_after = read_parquet(spark, args.path + "/lists").count()
        print(json.dumps({"appended": n_after - n_before}))
    else:  # stats
        if args.family == "ivf":
            rows = {r["list_id"]: r["n_vectors"] for r in S.ivf_index_stats(spark, args.path).collect()}
            print(json.dumps({"lists": rows}))
        else:
            n = S.lsh_index_read(spark, args.path).count()
            print(json.dumps({"rows": n}))
    return 0


def cmd_vacuum(args) -> int:
    """Retention for split-SCD2 closed history: drop close_date
    partitions strictly before the cutoff (partition-scoped directory
    deletes; surviving history and the open table are never touched)."""
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline

    spark = _spark(args)
    runner = build_pipeline(spark, args.warehouse, args.sf_dir)
    n = runner.vacuum_closed(args.model, args.older_than)
    print(
        json.dumps(
            {"model": args.model, "older_than": args.older_than, "partitions_removed": n}
        )
    )
    return 0


def cmd_erase(args) -> int:
    """Right-to-be-forgotten: physically remove the subject's rows
    from every medallion layer (staging, dims, facts, split-SCD2 open
    + closed history) and write an audit manifest under
    <warehouse>/_erasures/."""
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline

    spark = _spark(args)
    runner = build_pipeline(spark, args.warehouse, args.sf_dir)
    removed = runner.erase_subject(args.user_ids, erasure_id=args.erasure_id)
    print(
        json.dumps(
            {
                "erasure_id": args.erasure_id,
                "user_ids": args.user_ids,
                "rows_removed": removed,
            }
        )
    )
    return 0


def cmd_validate(args) -> int:
    """dbt `test` equivalent: run a model's declared quality checks
    (unique / not_null / accepted_values / relationships / min_rows)
    against its CURRENT storage, without rebuilding anything. Exit 1
    on violations — cron-able as a standalone data-quality monitor."""
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline

    spark = _spark(args)
    runner = build_pipeline(spark, args.warehouse, args.sf_dir)
    if args.model not in runner.models:
        print(f"unknown model {args.model!r}", file=sys.stderr)
        return 2
    spec = runner.models[args.model]
    df = runner.read_model(args.model)
    results, total = spec.quality.violations(df, resolve=runner.read_model)
    violations = {k: v for k, v in results.items() if v}
    print(
        json.dumps(
            {"model": args.model, "rows": total, "violations": violations}
        )
    )
    return 1 if violations else 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over a materialized warehouse: every model directory
    registers as a temp view under its own name (split-SCD2 side
    tables included as <model>__open/__closed), then the query runs
    through spark.sql — the full Catalyst SQL surface over the
    medallion, no registry round-trip."""
    spark = _spark(args)
    registered = []
    for d in sorted(os.listdir(args.warehouse)):
        path = os.path.join(args.warehouse, d)
        if d.startswith(("_", ".")) or not os.path.isdir(path):
            continue
        try:
            read_parquet(spark, path).createOrReplaceTempView(d)
            registered.append(d)
        except Exception as e:
            # non-table dirs (marker ledgers) land here too, but a
            # corrupted real table must not be silently invisible —
            # surface what was skipped and why
            print(f"skipping {d}: {type(e).__name__}: {e}"[:300], file=sys.stderr)
            continue
    if args.explain:
        spark.sql(args.query).explain("formatted")
        return 0
    df = spark.sql(args.query)
    df.show(args.limit, truncate=False)
    print(json.dumps({"views": registered}), file=sys.stderr)
    return 0


def cmd_refresh(args) -> int:
    """dbt --full-refresh for a model subgraph: drop the named models
    and every downstream dependent, rebuild from sources."""
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline

    spark = _spark(args)
    runner = build_pipeline(spark, args.warehouse, args.sf_dir)
    counts = runner.full_refresh(args.models)
    print(json.dumps({"refreshed": counts}))
    return 0


def cmd_list(args) -> int:
    from nomba_data_pipeline_spark.plans.queries import REGISTRY

    for name, spec in sorted(REGISTRY.items()):
        oracle = "oracle" if spec.oracle else "rows-only"
        print(f"{name:32s} {oracle:9s} {spec.survey_ref}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nomba_data_pipeline_spark")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="source data directory (parquet tables)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="materialize the medallion DAG (full or incremental rerun)")
    r.add_argument("--warehouse", required=True)
    r.add_argument("--only", nargs="*", help="models to run (plus upstream closure)")
    r.set_defaults(fn=cmd_run)

    q = sub.add_parser("query", help="run one registry query and show rows")
    q.add_argument("name")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true", help="print the physical plan instead")
    q.set_defaults(fn=cmd_query)

    c = sub.add_parser("compact", help="small-file compaction for a warehouse model")
    c.add_argument("--warehouse", required=True)
    c.add_argument("--model", required=True)
    c.add_argument("--partition-by", nargs="*")
    c.add_argument("--partition-filter", help="SQL predicate over partition columns")
    c.set_defaults(fn=cmd_compact)

    v = sub.add_parser(
        "vacuum", help="drop split-SCD2 closed history older than a cutoff date"
    )
    v.add_argument("--warehouse", required=True)
    v.add_argument("--model", required=True)
    v.add_argument("--older-than", required=True, help="YYYY-MM-DD cutoff (exclusive)")
    v.set_defaults(fn=cmd_vacuum)

    cl = sub.add_parser(
        "cluster", help="range-cluster a model on sort keys (parquet stats pruning)"
    )
    cl.add_argument("--warehouse", required=True)
    cl.add_argument("--model", required=True)
    cl.add_argument("--by", nargs="+", required=True, help="sort/cluster columns")
    cl.add_argument("--target-files", type=int)
    cl.add_argument("--partition-by", nargs="*", help="hive partition columns (cluster within partitions)")
    cl.add_argument("--partition-filter", help="SQL predicate over partition columns, e.g. \"month='2026-01'\"")
    cl.set_defaults(fn=cmd_cluster)

    z = sub.add_parser(
        "zorder",
        help="z-order (Morton) cluster a model on TWO columns (both-dim stats pruning)",
    )
    z.add_argument("--warehouse", required=True)
    z.add_argument("--model", required=True)
    z.add_argument("--by", nargs=2, required=True, help="exactly two numeric columns")
    z.add_argument("--bits", type=int, default=8)
    z.add_argument("--target-files", type=int)
    z.set_defaults(fn=cmd_zorder)

    jv = sub.add_parser(
        "view",
        help=(
            "materialized join-view lifecycle: build / patch-dim / "
            "apply-fact / retire-dim / chain-patch / stats"
        ),
    )
    jv.add_argument(
        "action",
        choices=[
            "build", "patch-dim", "apply-fact", "retire-dim", "chain-patch", "stats",
        ],
    )
    jv.add_argument("--path", required=True, help="view root directory")
    jv.add_argument("--fact", help="fact parquet path (build / apply-fact)")
    jv.add_argument("--dim", help="dim parquet path (build / patch-dim / apply-fact)")
    jv.add_argument("--fact-key", nargs="+", help="fact key columns (build)")
    jv.add_argument(
        "--dim-key", nargs="+",
        help="dim join column(s) — several form a composite key (build)",
    )
    jv.add_argument("--dim-cols", nargs="+", help="dim enrichment columns (build)")
    jv.add_argument("--n-buckets", type=int, default=32)
    jv.add_argument("--downstream", help="downstream view root (chain-patch)")
    jv.add_argument(
        "--downstream-dim", help="downstream dim parquet path (chain-patch)"
    )
    jv.set_defaults(fn=cmd_view)

    vt = sub.add_parser(
        "versioned",
        help=(
            "versioned-table lifecycle: history / show (time travel) / "
            "rollback / checkpoint / optimize / vacuum / purge (GDPR erasure)"
        ),
    )
    vt.add_argument(
        "action",
        choices=["history", "show", "rollback", "checkpoint", "optimize",
                 "vacuum", "purge", "changes"],
    )
    vt.add_argument("--path", required=True, help="versioned table root")
    vt.add_argument("--version", type=int, help="version (show / rollback)")
    vt.add_argument("--where", help="SQL predicate of rows to purge (purge)")
    vt.add_argument(
        "--cluster-by", nargs="+",
        help="range-cluster columns (checkpoint / optimize)"
    )
    vt.add_argument(
        "--target-bytes", type=int, default=128 << 20,
        help="optimize: files under this size are merged (default 128 MiB)",
    )
    vt.add_argument("--retain-last", type=int, default=2, help="vacuum retention")
    vt.add_argument(
        "--after", type=int,
        help="changes: stream the persisted feed AFTER this version "
             "(exclusive), up to --version or latest",
    )
    vt.add_argument("--limit", type=int, default=20, help="changes: rows shown")
    vt.set_defaults(fn=cmd_versioned)

    av = sub.add_parser(
        "aggview",
        help=(
            "aggregate-over-join view lifecycle: result / patch-dim / "
            "apply-fact / retire-dim / heal / rebuild"
        ),
    )
    av.add_argument(
        "action",
        choices=["result", "patch-dim", "apply-fact", "retire-dim",
                 "heal", "rebuild"],
    )
    av.add_argument("--path", required=True, help="agg view root directory")
    av.add_argument("--fact", help="fact delta parquet (apply-fact)")
    av.add_argument("--dim", help="dim parquet (patch-dim / apply-fact / retire-dim)")
    av.add_argument("--limit", type=int, default=20, help="rows to show (result)")
    av.add_argument(
        "--at", nargs="+",
        help="result: serve this COARSER grouping (subset of the "
             "mart's group keys) from the stored partials",
    )
    av.set_defaults(fn=cmd_aggview)

    ix = sub.add_parser(
        "index",
        help="index lifecycle: build/append/stats (LSH or IVF ANN), dedup (minhash)",
    )
    ix.add_argument(
        "action",
        choices=["build", "append", "stats", "dedup", "stream-dedup"],
    )
    ix.add_argument("--family", choices=["lsh", "ivf", "minhash"], default="lsh")
    ix.add_argument("--path", required=True, help="index root directory")
    ix.add_argument("--n-tables", type=int, default=1, help="LSH tables (build)")
    ix.add_argument("--n-lists", type=int, default=16, help="IVF lists (build)")
    ix.add_argument("--pct", type=int, help="append only vec_id %% 100 < pct (demo slice)")
    ix.set_defaults(fn=cmd_index)

    va = sub.add_parser(
        "validate",
        help="run a model's declared quality checks against current storage",
    )
    va.add_argument("--warehouse", required=True)
    va.add_argument("--model", required=True)
    va.set_defaults(fn=cmd_validate)

    sq = sub.add_parser(
        "sql", help="run ad-hoc SQL over a warehouse (models become temp views)"
    )
    sq.add_argument("--warehouse", required=True)
    sq.add_argument("--query", required=True)
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument("--explain", action="store_true")
    sq.set_defaults(fn=cmd_sql)

    fr = sub.add_parser(
        "refresh",
        help="full-refresh a model subgraph (drop + rebuild incl. downstream)",
    )
    fr.add_argument("--warehouse", required=True)
    fr.add_argument("--models", nargs="+", required=True)
    fr.set_defaults(fn=cmd_refresh)

    er = sub.add_parser(
        "erase",
        help="GDPR erasure: purge user ids from every medallion layer incl. SCD2 history",
    )
    er.add_argument("--warehouse", required=True)
    er.add_argument("--user-ids", nargs="+", type=int, required=True)
    er.add_argument("--erasure-id", required=True, help="audit manifest name")
    er.set_defaults(fn=cmd_erase)

    l = sub.add_parser("list", help="list registry queries")
    l.set_defaults(fn=cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
