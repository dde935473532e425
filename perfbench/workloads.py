"""The benchmark's workloads.

Each workload makes its inputs from the seed in `setup()`, then runs
operations in rounds; `prepare()` lands the next operation's inputs
(untimed), `op()` is the timed call into the program and `check()`
verifies that operation's output. A round is the unit the run loop stops
on, so every run measures the same mix (every query of the serving mix
and one ANN batch per round).
The program is driven only through its public entry points:
`plans.pipeline.build_pipeline(...).run()`, `plans.queries.REGISTRY`
and the `operators.similarity` index calls.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np

import checks
import gen

# Scale of each workload's inputs; SMOKE replaces them in the benchmark's
# own tests (one operation per workload at sf0.001-sized inputs).
SCALE = {
    "elt_cdc": {"sf": 0.01},
    "serve": {"sf": 0.01, "corpus": 16_384, "batch": 1024, "queries": 128},
}
SMOKE = {
    "elt_cdc": {"sf": 0.001},
    "serve": {"sf": 0.001, "corpus": 4096, "batch": 256, "queries": 32},
}

# read-only TPC-H / BI rows of REGISTRY over the TPC-H tables (no
# *_roundtrip rows, no rows that stage a copy of their input)
MART_MIX = (
    "flagship_revenue_by_region",  # five-table join + aggregate
    "segment_percent_rank",  # aggregate, broadcast join, rank-family window
)
# `cohort_ltv` (windows over a self-joined aggregate) is left out of the
# mix: it rounds a double at half-cent values differently from its DuckDB
# oracle and fails its check on about half the seeds (perfbench/README.md).

ANN_K = 5
# a batch whose recall@5 against exact search falls below this fails
# its output check
ANN_MIN_RECALL = 0.8


class Workload:
    round_size = 1

    def __init__(self, spark, tmp: str, seed: int, scale: dict, tracer=None):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.extra: dict[str, float] = {}  # per-op per-layer values

    def prepare(self) -> None:
        """Untimed: land the next operation's inputs."""

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)


def _timed(phases: dict, name: str, fn):
    t0 = time.perf_counter()
    out = fn()
    phases[name] = time.perf_counter() - t0
    return out


class EltCdc(Workload):
    """One operation: an incremental refresh cycle into a warehouse built
    during setup, after a seeded delta landed in the sources. A round is
    two cycles: the first after the base build also compiles the merge
    and SCD2-close paths, the second runs warm."""

    round_size = 2

    def setup(self) -> dict:
        from nomba_data_pipeline_spark.plans.pipeline import build_pipeline

        ph: dict[str, float] = {}
        self.src = self.path("src")
        self.wh = self.path("wh")
        self.source = _timed(ph, "inputs", lambda: gen.TpchSource(self.seed, self.scale["sf"]))
        _timed(ph, "inputs_write", lambda: self.source.write(self.src))
        self.cdc = gen.CdcGenerator(self.source, self.seed)
        self.flips: dict[int, int] = {}
        # the from-empty base build is also the session's warm-up build
        _timed(ph, "warmup", lambda: build_pipeline(self.spark, self.wh, self.src).run())
        return ph

    def prepare(self) -> None:
        d = self.delta = self.cdc.next_delta()
        before = {t: os.path.getsize(self.path("src", f"{t}.parquet"))
                  for t in ("customer", "orders", "lineitem")}
        rows = {"customer": len(d.user_ids), "orders": len(d.plan_ids),
                "lineitem": len(d.new_line_keys)}
        total = {"customer": len(self.source.cust["c_custkey"]),
                 "orders": len(self.source.orders["o_orderkey"]),
                 "lineitem": len(self.source.line["l_orderkey"])}
        self.cdc.apply(d, self.src)
        for u in d.user_ids:
            self.flips[int(u)] = self.flips.get(int(u), 0) + 1
        # bytes of the changed source rows: each touched table's share of
        # rows changed times its file size (the base of sink.write_amp)
        self.extra = {"changed_bytes": sum(before[t] * rows[t] / total[t] for t in rows)}

    def op(self) -> None:
        from nomba_data_pipeline_spark.plans.pipeline import build_pipeline

        build_pipeline(self.spark, self.wh, self.src).run()

    def check(self) -> list[str]:
        return checks.elt_check(self.src, self.wh, self.flips, self.delta)

    def run_layers(self) -> dict:
        src_bytes = checks.dir_bytes(self.src)
        return {"sink.stored_bytes_per_source_byte": checks.dir_bytes(self.wh) / src_bytes}


class MartQueries(Workload):
    """One operation: one read-only analytics row of the frozen mix,
    collected to the client. A round runs every row once, in a seeded
    order."""

    def setup(self) -> dict:
        from nomba_data_pipeline_spark.plans.queries import REGISTRY

        ph: dict[str, float] = {}
        self.src = self.path("src")
        source = _timed(ph, "inputs", lambda: gen.TpchSource(self.seed, self.scale["sf"]))
        _timed(ph, "inputs_write", lambda: source.write(self.src))
        # the oracle answers are benchmark work, not program set-up
        self.oracle = checks.oracle_frames(self.src, {n: REGISTRY[n].oracle for n in MART_MIX})
        # warm-up pass: otherwise the round's first query pays the cold
        # plan-and-codegen cost, and which row that is depends on the seed
        _timed(ph, "warmup", lambda: [REGISTRY[n].fn(self.spark, self.src).toPandas()
                                      for n in MART_MIX])
        self.rng = np.random.default_rng([self.seed, 5])
        self.order: list[str] = []
        return ph

    def prepare(self) -> None:
        if not self.order:
            self.order = [MART_MIX[i] for i in self.rng.permutation(len(MART_MIX))]
        self.name = self.order.pop()
        self.extra = {}

    def op(self) -> None:
        from nomba_data_pipeline_spark.plans.queries import REGISTRY

        with self.span(f"queries.{self.name}"):
            self.got = REGISTRY[self.name].fn(self.spark, self.src).toPandas()

    def check(self) -> list[str]:
        return checks.query_check(self.name, self.got, self.oracle[self.name])


class AnnIndex(Workload):
    """One operation: an incoming batch of vectors — a top-k query of a
    sample of the batch through the persisted LSH index, then the batch's
    append to the index."""

    def setup(self) -> dict:
        from nomba_data_pipeline_spark.operators.similarity import lsh_index_write

        ph: dict[str, float] = {}
        sc = self.scale
        self.emb = _timed(ph, "inputs", lambda: gen.EmbeddingSource(
            self.seed, sc["corpus"], sc["batch"]))
        os.makedirs(self.path("in"))
        corpus = self.path("in", "corpus.parquet")
        _timed(ph, "inputs_write", lambda: gen.write_table(
            gen.EmbeddingSource.table(self.emb.corpus_ids, self.emb.corpus), corpus))
        self.source_bytes = os.path.getsize(corpus)
        self.index = self.path("index")
        _timed(ph, "base_index", lambda: lsh_index_write(
            self.spark.read.parquet(corpus), self.index))
        self.ids = [self.emb.corpus_ids]
        self.vecs = [self.emb.corpus]
        return ph

    def prepare(self) -> None:
        ids, vecs = self.emb.next_batch()
        self.batch_path = self.path("in", f"batch{self.emb.n_batches}.parquet")
        gen.write_table(gen.EmbeddingSource.table(ids, vecs), self.batch_path)
        self.source_bytes += os.path.getsize(self.batch_path)
        self.batch = (ids, vecs)
        self.extra = {}

    def op(self) -> None:
        from pyspark.sql import functions as F

        from nomba_data_pipeline_spark.operators.similarity import (
            cosine_topk_lsh_indexed,
            lsh_index,
            lsh_index_append,
            lsh_index_read,
        )

        path, ids = self.batch_path, self.batch[0]
        nq = self.scale["queries"]
        t0 = time.perf_counter()
        with self.span("similarity.query"):
            batch_df = self.spark.read.parquet(path)
            index = lsh_index_read(self.spark, self.index).unionByName(lsh_index(batch_df))
            qf = (F.col("vec_id") >= int(ids[0])) & (F.col("vec_id") < int(ids[0]) + nq)
            self.got = cosine_topk_lsh_indexed(index, qf, k=ANN_K).toPandas()
        t1 = time.perf_counter()
        with self.span("similarity.append"):
            lsh_index_append(self.spark.read.parquet(path), self.index)
        self.extra.update({"similarity.query_s": t1 - t0,
                           "similarity.append_s": time.perf_counter() - t1})

    def check(self) -> list[str]:
        ids, vecs = self.batch
        nq = self.scale["queries"]
        want = checks.exact_topk(np.concatenate(self.ids + [ids]),
                                 np.concatenate(self.vecs + [vecs]), ids[:nq], vecs[:nq], ANN_K)
        self.ids.append(ids)
        self.vecs.append(vecs)
        got: dict[int, set[int]] = {}
        for q, n in zip(self.got["query_id"], self.got["neighbor_id"]):
            got.setdefault(int(q), set()).add(int(n))
        recall = checks.recall_at_k(got, want)
        self.extra["similarity.recall_at_5"] = recall
        bad = checks.index_check(self.index, sum(len(i) for i in self.ids))
        short = sum(1 for q in want if len(got.get(q, ())) != ANN_K)
        if short:
            bad.append(f"{short} queries returned fewer than {ANN_K} neighbours")
        if recall < ANN_MIN_RECALL:
            bad.append(f"recall@{ANN_K} {recall:.3f} < {ANN_MIN_RECALL}")
        return bad

    def run_layers(self) -> dict:
        return {"sink.stored_bytes_per_source_byte":
                checks.dir_bytes(self.index) / self.source_bytes}


class Serve(Workload):
    """The read-side serving mix: a round is every mart row once plus one
    incoming ANN batch, at seeded positions. One operation is one mart
    query or one ANN batch."""

    round_size = len(MART_MIX) + 1

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        # the mart rows get a warm-up pass; the base index build is the ANN
        # path's warm-up, as a separate warm-up batch would not fit the
        # benchmark's time budget
        self.parts = {"mart": MartQueries(*args, **kwargs), "ann": AnnIndex(*args, **kwargs)}
        self.plan: list[str] = []

    def setup(self) -> dict:
        ph: dict[str, float] = {}
        for part in self.parts.values():
            for k, v in part.setup().items():
                ph[k] = ph.get(k, 0.0) + v
        self.rng = np.random.default_rng([self.seed, 6])
        return ph

    def prepare(self) -> None:
        if not self.plan:
            kinds = ["ann"] + ["mart"] * len(MART_MIX)
            self.plan = [kinds[i] for i in self.rng.permutation(len(kinds))]
        self.cur = self.parts[self.plan.pop()]
        self.cur.prepare()
        self.extra = self.cur.extra

    def op(self) -> None:
        self.cur.op()

    def check(self) -> list[str]:
        return self.cur.check()

    def run_layers(self) -> dict:
        return self.parts["ann"].run_layers()


WORKLOADS = {"elt_cdc": EltCdc, "serve": Serve}
