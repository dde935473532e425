#!/usr/bin/env python
"""Per-knob interleaved A/B/C/D of the r15 session-config flip
(VERDICT r15 "Next round" item 1): validate `preferSortMergeJoin=false`
and `spark.io.compression.codec=zstd` SEPARATELY over ALL 12 headline
rows (registry rows + the pipeline/cdc builds + the ann_x64 synthetic
corpus) plus the 16 join-heavy rows the r15 A/B used.

Arms (each its own subprocess = fresh JVM so the conf takes effect):
    A  = r14 baseline  : preferSortMergeJoin=true,  codec=lz4
    B  = SHJ only      : preferSortMergeJoin=false, codec=lz4
    C  = zstd only     : preferSortMergeJoin=true,  codec=zstd
    D  = HEAD (both)   : preferSortMergeJoin=false, codec=zstd

Any ARMS dict works: a plain two-arm A/B is a two-entry dict, and arm
order rotates per round so box drift cancels. Registry rows use the
bench methodology (cold rep discarded, warm rep timed); the pipeline
pair builds a fresh warehouse per rep and times the warm (2nd) rep of
each; ann rows replicate bench.py's corpus setup and take the median of
3 warm reps.

Usage:
    python tools/ab_conf4.py run <rounds> <out.jsonl>
    python tools/ab_conf4.py arm <conf_json> <out_json>      # child
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

ARMS: dict[str, dict[str, str]] = {
    "A": {"spark.sql.join.preferSortMergeJoin": "true",
          "spark.io.compression.codec": "lz4"},
    "B": {"spark.sql.join.preferSortMergeJoin": "false",
          "spark.io.compression.codec": "lz4"},
    "C": {"spark.sql.join.preferSortMergeJoin": "true",
          "spark.io.compression.codec": "zstd"},
    "D": {"spark.sql.join.preferSortMergeJoin": "false",
          "spark.io.compression.codec": "zstd"},
}

REGISTRY_ROWS = [
    # the 6 registry rows of the driver's 12-row headline comparison
    "flagship_revenue_by_region",
    "fact_enriched",
    "scd2_intervals",
    "keep_latest_per_key",
    "minhash_lsh_pairs",
    "cosine_topk",
    # 8 of the r15 16-row join-heavy set (kept so a revert decision sees
    # what it gives BACK, not only what it recovers): the 3 biggest r15
    # SHJ winners, the 2 rows that were SLOWER under the flip, and 3
    # mid-pack representatives
    "neardup_clusters",
    "waiting_suppliers",
    "monthly_customer_churn",
    "snapshot_table_diff",
    "basket_part_pairs",
    "supplier_part_volume",
    "graph_pagerank",
    "fuzzy_name_blocked",
]


def arm(conf_json: str, out_json: str) -> None:
    import shutil
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh_indexed,
        lsh_index,
    )
    from nomba_data_pipeline_spark.plans import models as M
    from nomba_data_pipeline_spark.plans.cdc_sim import simulate_plan_updates
    from nomba_data_pipeline_spark.plans.pipeline import build_pipeline
    from nomba_data_pipeline_spark.plans.queries import REGISTRY
    from nomba_data_pipeline_spark.session import get_spark

    conf = json.loads(conf_json)
    spark = get_spark(app_name="ab-conf4", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["flagship_revenue_by_region"].fn(spark, SF_DIR).count()  # warmup
    out: dict[str, float] = {}

    for name in REGISTRY_ROWS:
        if name not in REGISTRY:
            continue
        spark.sparkContext.setJobDescription(f"ab:{name}")
        REGISTRY[name].fn(spark, SF_DIR).count()  # cold rep, discarded
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, SF_DIR).count()
        out[name] = round(time.perf_counter() - t0, 4)

    # pipeline pair: fresh warehouse per rep, warm (2nd) rep timed —
    # same fresh-warehouse methodology as bench.py, minus its 3rd rep
    for rep in range(2):
        wh = tempfile.mkdtemp(prefix="ab-wh-")
        try:
            spark.sparkContext.setJobDescription("ab:pipeline_e2e")
            t0 = time.perf_counter()
            build_pipeline(spark, wh, SF_DIR).run()
            e2e = time.perf_counter() - t0
            override = {
                "stg_plans": lambda s, sfd: simulate_plan_updates(
                    M.stg_plans(s, sfd), 0.01
                )
            }
            spark.sparkContext.setJobDescription("ab:pipeline_cdc")
            t0 = time.perf_counter()
            cdc = build_pipeline(spark, wh, SF_DIR, source_override=override)
            cdc.run()
            rerun = time.perf_counter() - t0
            if rep == 1:
                out["pipeline_e2e_medallion"] = round(e2e, 4)
                out["pipeline_cdc_rerun"] = round(rerun, 4)
                for mname in ("stg_plans", "fact_transactions"):
                    out[f"cdc_model:{mname}"] = cdc.last_timings.get(mname, -1)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    # ann_x64 pair: bench.py's replicated corpus, median of 3 warm reps
    emb = load_table(spark, SF_DIR, "embeddings")
    big = (
        emb.withColumn("__r", F.explode(F.array(*[F.lit(i) for i in range(64)])))
        .select(
            (F.col("vec_id") + F.col("__r") * 1_000_000).alias("vec_id"),
            "embedding",
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    big.count()
    qf = (F.col("vec_id") < 1_000_000) & (F.col("vec_id") % 100 == 0)
    spark.sparkContext.setJobDescription("ab:ann_x64_brute")
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        cosine_topk(big, qf, k=5).count()
        reps.append(time.perf_counter() - t0)
    out["ann_x64_brute"] = round(sorted(reps)[1], 4)
    idx = lsh_index(big).cache()
    idx.count()
    spark.sparkContext.setJobDescription("ab:ann_x64_lsh_indexed")
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        cosine_topk_lsh_indexed(idx, qf, k=5).count()
        reps.append(time.perf_counter() - t0)
    out["ann_x64_lsh_indexed"] = round(sorted(reps)[1], 4)
    idx.unpersist()
    big.unpersist()

    with open(out_json, "w") as f:
        json.dump(out, f)
    spark.stop()


def run(rounds: int, out_path: str) -> None:
    me = os.path.abspath(__file__)
    samples: dict[str, dict[str, list[float]]] = {k: {} for k in ARMS}
    log = open(out_path, "a")
    log.write(json.dumps({"arms": ARMS}) + "\n")
    order0 = list(ARMS)
    for rnd in range(rounds):
        shift = rnd % len(order0)
        order = order0[shift:] + order0[:shift]  # rotate per round
        for armname in order:
            tmp = f"/tmp/ab4_{armname}_{rnd}.json"
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, me, "arm", json.dumps(ARMS[armname]), tmp],
                capture_output=True,
                text=True,
            )
            if r.returncode != 0:
                print(r.stdout[-2000:], r.stderr[-2000:])
                raise SystemExit(f"arm {armname} round {rnd} failed")
            res = json.load(open(tmp))
            for k, v in res.items():
                samples[armname].setdefault(k, []).append(v)
            log.write(json.dumps({"round": rnd, "arm": armname,
                                  "wall": round(time.time() - t0, 1),
                                  "res": res}) + "\n")
            log.flush()
            print(f"round {rnd} arm {armname}: total {sum(res.values()):.2f}s",
                  flush=True)
    # summary: per-query medians per arm
    names = list(samples[order0[0]].keys())
    print(f"\n{'query':34s}" + "".join(f" {k:>8s}" for k in ARMS))
    summary: dict[str, dict[str, float]] = {}
    totals = dict.fromkeys(ARMS, 0.0)
    for name in names:
        meds = {k: statistics.median(samples[k][name]) for k in ARMS}
        summary[name] = {k: round(v, 3) for k, v in meds.items()}
        for k in ARMS:
            totals[k] += meds[k]
        print(f"{name:34s}" + "".join(f" {meds[k]:8.3f}" for k in ARMS))
    print(f"{'TOTAL':34s}" + "".join(f" {totals[k]:8.2f}" for k in ARMS))
    log.write(json.dumps({"summary": summary,
                          "totals": {k: round(v, 2) for k, v in totals.items()}})
              + "\n")
    log.close()


if __name__ == "__main__":
    if sys.argv[1] == "arm":
        arm(sys.argv[2], sys.argv[3])
    else:
        run(int(sys.argv[2]), sys.argv[3])
