"""Seeded input generators for the benchmark.

Everything the program reads is made here from one seed: the TPC-H
shaped source tables the medallion pipeline and the mart queries scan,
the CDC delta sequence the refresh cycles apply, and the embedding
corpus and incoming batches the ANN workload indexes. The same seed
gives byte-identical files; the program sees only the files.

Table shapes follow the repository's sf testdata (same columns, types
and value domains), sized by a scale factor `sf`: sf=0.01 gives 1.5k
customers, 15k orders and 60k lineitems.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
# CDC cycle c stamps updated_at at CDC_EPOCH + (c + 1) days: strictly past
# every generated source date, and past every earlier cycle's stamp, so
# each cycle's rows clear the runner's strict '>' high-water mark
CDC_EPOCH = dt.datetime(2002, 1, 1)

EMB_DIM = 64


def _days(n: np.ndarray) -> pa.Array:
    us = np.datetime64(EPOCH, "us") + n.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_table(table: pa.Table, path: str) -> None:
    """Write one parquet file atomically (readers never see a partial file)."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


class TpchSource:
    """The source tables as numpy columns, mutable by CDC cycles.

    `customer`, `orders` and `lineitem` are the pipeline's sources
    (users, plans, transactions); `part` and `supplier` are read only by
    the mart queries.
    """

    def __init__(self, seed: int, sf: float):
        rng = np.random.default_rng([seed, 1])
        n_cust = max(10, round(150_000 * sf))
        n_supp = max(5, round(10_000 * sf))
        n_part = max(20, round(200_000 * sf))
        n_ord = max(50, round(1_500_000 * sf))
        n_line = max(200, round(6_000_000 * sf))

        self.region = pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        })
        self.nation = pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        })
        self.cust = {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.integers(0, len(SEGMENTS), n_cust),
        }
        self.supplier = pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        })
        pk = np.arange(n_part, dtype=np.int64)
        self.part = pa.table({
            "p_partkey": pk,
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": [P_TYPES[t] for t in rng.integers(0, len(P_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        })
        self.orders = {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.integers(0, 3, n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": rng.integers(0, ORDER_DAYS, n_ord),
            "o_orderpriority": rng.integers(0, 5, n_ord),
        }
        # (orderkey, linenumber) repeats like the sf testdata's lineitem
        # (the pipeline's keep-latest dedup has real work), but never
        # with the same shipdate: keep-latest is then unambiguous and an
        # independent engine can compute the expected survivor
        okey = rng.integers(0, n_ord, n_line).astype(np.int64)
        lnum = rng.integers(1, 8, n_line).astype(np.int32)
        ship = rng.integers(1, SHIP_DAYS + 1, n_line)
        key = okey * 100 + lnum
        while True:
            order = np.lexsort((ship, key))
            k, s = key[order], ship[order]
            clash = np.flatnonzero((k[1:] == k[:-1]) & (s[1:] == s[:-1])) + 1
            if len(clash) == 0:
                break
            ship[order[clash]] += 1
        self.line = {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.integers(0, 3, n_line),
            "l_linestatus": rng.integers(0, 2, n_line),
            "l_shipdate": ship,
        }

    # -- arrow views ---------------------------------------------------------
    def customer_table(self) -> pa.Table:
        c = self.cust
        return pa.table({
            "c_custkey": c["c_custkey"],
            "c_name": [f"Customer#{i:09d}" for i in c["c_custkey"]],
            "c_nationkey": pa.array(c["c_nationkey"], pa.int32()),
            "c_acctbal": c["c_acctbal"],
            "c_mktsegment": [SEGMENTS[s] for s in c["c_mktsegment"]],
        })

    def orders_table(self) -> pa.Table:
        o = self.orders
        return pa.table({
            "o_orderkey": o["o_orderkey"],
            "o_custkey": o["o_custkey"],
            "o_orderstatus": [STATUSES[s] for s in o["o_orderstatus"]],
            "o_totalprice": o["o_totalprice"],
            "o_orderdate": _days(o["o_orderdate"]),
            "o_orderpriority": [PRIORITIES[p] for p in o["o_orderpriority"]],
        })

    def lineitem_table(self) -> pa.Table:
        li = self.line
        return pa.table({
            "l_orderkey": li["l_orderkey"],
            "l_partkey": li["l_partkey"],
            "l_suppkey": li["l_suppkey"],
            "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
            "l_quantity": li["l_quantity"],
            "l_extendedprice": li["l_extendedprice"],
            "l_discount": li["l_discount"],
            "l_tax": li["l_tax"],
            "l_returnflag": ["ARN"[f] for f in li["l_returnflag"]],
            "l_linestatus": ["FO"[s] for s in li["l_linestatus"]],
            "l_shipdate": _days(li["l_shipdate"]),
        })

    def write(self, sf_dir: str, tables: tuple[str, ...] | None = None) -> int:
        """Write the named tables (default all) as `<sf_dir>/<t>.parquet`;
        returns the bytes written."""
        os.makedirs(sf_dir, exist_ok=True)
        views = {
            "region": lambda: self.region,
            "nation": lambda: self.nation,
            "customer": self.customer_table,
            "supplier": lambda: self.supplier,
            "part": lambda: self.part,
            "orders": self.orders_table,
            "lineitem": self.lineitem_table,
        }
        total = 0
        for name in tables or tuple(views):
            path = os.path.join(sf_dir, f"{name}.parquet")
            write_table(views[name](), path)
            total += os.path.getsize(path)
        return total


class CdcDelta:
    """One refresh cycle's source changes, as applied to a TpchSource."""

    def __init__(self, cycle: int, plan_ids, new_plan_amounts, user_ids,
                 new_segments, new_line_keys, new_line_amounts):
        self.cycle = cycle
        self.plan_ids = plan_ids
        self.new_plan_amounts = new_plan_amounts
        self.user_ids = user_ids
        self.new_segments = new_segments
        self.new_line_keys = new_line_keys  # (orderkey, linenumber) pairs
        self.new_line_amounts = new_line_amounts

    @property
    def stamp(self) -> dt.datetime:
        return CDC_EPOCH + dt.timedelta(days=self.cycle + 1)


class CdcGenerator:
    """Seeded CDC delta sequence over a TpchSource.

    Each cycle updates about `plan_frac` of the plans (new target_amount,
    updated_at past the previous high-water mark), flips the segment of
    about `user_frac` of the users, and inserts a seeded number of new
    transactions with fresh (orderkey, linenumber) keys.
    """

    def __init__(self, source: TpchSource, seed: int, plan_frac: float = 0.01,
                 user_frac: float = 0.01, new_txn_frac: float = 0.002):
        self.src = source
        self.rng = np.random.default_rng([seed, 2])
        self.plan_frac = plan_frac
        self.user_frac = user_frac
        self.new_txn_frac = new_txn_frac
        self.cycle = 0
        # linenumbers 8..99 are free in the generated sources (1..7 used);
        # each order hands them out in sequence so inserted keys are new
        self._next_lnum: dict[int, int] = {}

    def next_delta(self) -> CdcDelta:
        c = self.cycle
        self.cycle += 1
        rng, src = self.rng, self.src
        n_ord = len(src.orders["o_orderkey"])
        n_cust = len(src.cust["c_custkey"])
        plan_ids = np.sort(rng.choice(n_ord, max(1, round(n_ord * self.plan_frac)), replace=False))
        amounts = _money(rng, len(plan_ids), 1000.0, 500000.0)
        user_ids = np.sort(rng.choice(n_cust, max(1, round(n_cust * self.user_frac)), replace=False))
        # a flip always changes the segment (shift by 1..4 of 5)
        segs = (src.cust["c_mktsegment"][user_ids]
                + rng.integers(1, len(SEGMENTS), len(user_ids))) % len(SEGMENTS)
        n_line = len(src.line["l_orderkey"])
        n_new = int(rng.integers(1, max(2, round(2 * n_line * self.new_txn_frac))))
        keys = []
        for o in rng.choice(n_ord, n_new, replace=False):
            ln = self._next_lnum.get(int(o), 8)
            if ln > 99:
                continue
            self._next_lnum[int(o)] = ln + 1
            keys.append((int(o), ln))
        keys = np.array(keys, dtype=np.int64).reshape(-1, 2)
        line_amounts = _money(rng, len(keys), 900.0, 105000.0)
        return CdcDelta(c, plan_ids, amounts, user_ids, segs, keys, line_amounts)

    def apply(self, d: CdcDelta, sf_dir: str) -> None:
        """Apply a delta to the source and rewrite the touched tables."""
        src = self.src
        day = (d.stamp - EPOCH).days
        src.orders["o_totalprice"][d.plan_ids] = d.new_plan_amounts
        src.orders["o_orderdate"][d.plan_ids] = day
        src.cust["c_mktsegment"][d.user_ids] = d.new_segments
        n = len(d.new_line_keys)
        if n:
            li = src.line
            rng = np.random.default_rng([d.cycle, 3])
            add = {
                "l_orderkey": d.new_line_keys[:, 0],
                "l_partkey": rng.integers(0, len(src.part), n).astype(np.int64),
                "l_suppkey": rng.integers(0, len(src.supplier), n).astype(np.int64),
                "l_linenumber": d.new_line_keys[:, 1].astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": d.new_line_amounts,
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": rng.integers(0, 3, n),
                "l_linestatus": rng.integers(0, 2, n),
                "l_shipdate": np.full(n, day),
            }
            for k, v in add.items():
                li[k] = np.concatenate([li[k], v.astype(li[k].dtype)])
        src.write(sf_dir, ("customer", "orders") + (("lineitem",) if n else ()))


class EmbeddingSource:
    """A clustered unit-vector corpus plus a stream of incoming batches.

    Vectors are drawn around one random centre per `per_cluster` corpus
    vectors, with a noise level that gives nearest-neighbour cosines
    above 0.98, so LSH buckets carry signal and recall@k is a meaningful
    number (about 0.9 with the index's 8 planes and 1-bit probing). Corpus ids
    are 0..n-1; batch b's ids start at BATCH_ID_BASE + b * batch_size,
    disjoint from the corpus and from each other.
    """

    BATCH_ID_BASE = 1_000_000_000

    def __init__(self, seed: int, n_corpus: int, batch_size: int,
                 per_cluster: int = 16, noise: float = 0.02):
        self.rng = np.random.default_rng([seed, 4])
        c = self.rng.standard_normal((max(1, n_corpus // per_cluster), EMB_DIM))
        self.centres = c / np.linalg.norm(c, axis=1, keepdims=True)
        self.noise = noise
        self.batch_size = batch_size
        self.n_batches = 0
        self.corpus_ids = np.arange(n_corpus, dtype=np.int64)
        self.corpus = self._draw(n_corpus)

    def _draw(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, len(self.centres), n)
        v = self.centres[lab] + self.noise * self.rng.standard_normal((n, EMB_DIM))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)

    def next_batch(self) -> tuple[np.ndarray, np.ndarray]:
        b = self.n_batches
        self.n_batches += 1
        ids = self.BATCH_ID_BASE + b * self.batch_size + np.arange(self.batch_size, dtype=np.int64)
        return ids, self._draw(self.batch_size)

    @staticmethod
    def table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
        emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1), pa.float32()), EMB_DIM)
        return pa.table({"vec_id": ids, "embedding": emb.cast(pa.list_(pa.float32()))})
