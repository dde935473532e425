"""Similarity search over the embeddings table (array<float> column).

Scale-extension surface (BASELINE.json north star). Two strategies:

* Brute-force cosine top-k (baseline): query set x corpus equi-free
  join; all arithmetic is JVM-side higher-order functions
  (`zip_with` + `aggregate`) — no Python, no UDF. The query side is
  broadcast, so the corpus streams through map-side only: no shuffle
  of the big side. Cost O(|Q| * N * d); correct baseline at any scale
  where |Q| is bounded.
* LSH-bucketed ANN (scale path): random-hyperplane signs computed from
  the deterministic md5 hash family -> bucket equi-join, so the
  candidate set per query is the bucket, not the corpus. Recall is
  probabilistic (documented) — the correctness oracle therefore targets
  the brute-force operator; the LSH variant is benchmarked for speed.

Determinism note: dot/norm sums are sequential `aggregate` folds over
the array — order-stable. Cosines are rounded to 6 dp before ranking so
the DuckDB oracle (different but equally tiny fp error) ranks identically;
ties break on neighbor id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.catalog import read_parquet

SIM_DP = 6  # rounding for cross-engine determinism

# cap on the (batch x query-chunk x tables) collision tensor: 1<<25
# bools = 32 MiB per in-flight chunk, so per-task memory stays bounded
# no matter how large the broadcast query set grows
_COLL_CHUNK_ELEMS = 1 << 25


def _any_table_collision(buck, qbuck, probe_hamming: int = 0):
    """(row, query) index pairs colliding in ANY LSH table, computed in
    query-axis chunks so the boolean broadcast tensor never exceeds
    _COLL_CHUNK_ELEMS elements — the fully vectorized form allocates
    O(batch x |Q| x tables) at once, a per-task memory cliff for large
    query sets (a few thousand queries x a 10k-row Arrow batch x 16
    tables is already ~0.4 GiB).

    probe_hamming=1 is multi-probe LSH (Lv et al., VLDB'07): a pair
    collides if its bucket signatures differ in at most one bit in some
    table. Computed WITHOUT expanding a probe set: for x = b ^ q,
    popcount(x) <= 1 iff x & (x-1) == 0, so radius-1 probing costs the
    same xor tensor the equality test already builds."""
    import numpy as np

    n_rows, n_tables = buck.shape
    n_q = len(qbuck)
    if n_rows == 0 or n_q == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z
    step = max(1, _COLL_CHUNK_ELEMS // max(1, n_rows * n_tables))
    ris, qis = [], []
    for lo in range(0, n_q, step):
        if probe_hamming == 0:
            part = (buck[:, None, :] == qbuck[None, lo : lo + step, :]).any(axis=2)
        elif probe_hamming == 1:
            x = buck[:, None, :] ^ qbuck[None, lo : lo + step, :]
            part = ((x & (x - 1)) == 0).any(axis=2)
        else:  # general radius: per-element popcount of the xor
            x = np.ascontiguousarray(
                buck[:, None, :] ^ qbuck[None, lo : lo + step, :]
            )
            if hasattr(np, "bitwise_count"):  # numpy >= 2.0
                pc = np.bitwise_count(x)
            else:  # byte-LUT popcount over the int64 view
                lut = np.array(
                    [bin(i).count("1") for i in range(256)], dtype=np.uint8
                )
                pc = lut[x.view(np.uint8)].reshape(*x.shape, 8).sum(axis=-1)
            part = (pc <= probe_hamming).any(axis=2)
        ri, qi = np.nonzero(part)
        ris.append(ri)
        qis.append(qi + lo)
    return np.concatenate(ris), np.concatenate(qis)


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _batch_matrix(col, n_rows: int, width: int, dtype):
    """rows x width matrix from an Arrow list column: a reshape of the
    contiguous values buffer when the column is null-free and fixed-width
    (the parquet shape — len check also rejects sliced batches, whose
    child buffer is longer than n_rows*width), else a per-row fallback.
    Shared by every mapInArrow kernel below (guide §4.2: no per-row
    np.stack of object arrays on the hot path)."""
    import numpy as np

    flat = col.values
    if col.null_count == 0 and len(flat) == n_rows * width:
        return np.asarray(flat).astype(dtype, copy=False).reshape(n_rows, width)
    return np.stack([np.asarray(v, dtype=dtype) for v in col.to_pylist()])


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    ad, bd = _as_double(a), _as_double(b)
    return F.round(
        _dot(ad, bd) / (F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd))), SIM_DP
    )


def cosine_topk(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k neighbors for rows matching query_filter.

    Vectorized path: the (bounded) query set is collected once, L2-
    normalized, and broadcast; each Arrow batch of the corpus does ONE
    BLAS matmul (batch x dim) @ (dim x |Q|) — no shuffle of the corpus,
    no per-element expression eval. Verified to produce rankings
    identical to the pure-expression form (cosine_topk_expr) after
    6 dp rounding. At 100 TB the corpus streams map-side only; cost is
    O(N * |Q| * d / cores) with BLAS constants.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import Window
    from pyspark.sql import types as T

    qpdf = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).toPandas()
    if len(qpdf) == 0:
        spark = embeddings.sparkSession
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    qids = qpdf["query_id"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = embeddings.sparkSession.sparkContext.broadcast((qids, Qn))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    # mapInArrow + per-batch top-k preselection (guide §§4.2, 2.3):
    # the corpus matrix is a reshape of the list column's contiguous
    # Arrow values buffer (no per-row np.stack), and each batch emits
    # only its own top-k rows per query instead of the full
    # batch x |Q| sims matrix — any global top-k row is necessarily in
    # its batch's top-k for that query (k rows beating it in-batch
    # would beat it globally), so the downstream exact Window sees a
    # superset of the answer and returns IDENTICAL rankings. Ties are
    # broken on (sim desc after SIM_DP rounding, neighbor_id asc) —
    # the same order the Window uses — so tied kth places keep the
    # same winner.
    def run(batches):
        b_qids, b_qn = bq.value
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            vec = batch.column(1)
            flat = vec.values
            dim = b_qn.shape[1]
            if vec.null_count == 0 and len(flat) == m * dim:
                mat = np.asarray(flat).astype(np.float64, copy=False).reshape(m, dim)
            else:  # ragged/null fallback
                mat = np.stack([np.asarray(v, dtype=np.float64)
                                for v in vec.to_pylist()])
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = np.round(mat @ b_qn.T, SIM_DP)  # batch x |Q|
            nids = batch.column(0).to_numpy()
            n = sims.shape[1]
            if m > k + 1:
                # threshold preselection, vectorized across queries
                # (r16: replaces a per-query lexsort loop — O(m*n)
                # partition + one nonzero instead of n Python-level
                # sorts): keep every row whose sim ties-or-beats the
                # (k+1)-th LARGEST sim for its query. That is a
                # superset of the exact top-(k+1) (ties at the cut
                # are all kept, so no tie-broken winner can be
                # dropped), and the downstream exact Window already
                # reduces any superset to IDENTICAL rankings.
                thr = np.partition(sims, m - k - 1, axis=0)[m - k - 1, :]
                mask = sims >= thr[None, :]
                if mask.sum() <= 4 * (k + 1) * n:
                    ri, qi = np.nonzero(mask)
                    out_q = b_qids[qi]
                    out_n = nids[ri]
                    out_s = sims[ri, qi]
                else:
                    # degenerate mass-tie corpus (many identical
                    # vectors): the threshold keeps too many rows —
                    # fall back to the exact per-query top-(k+1)
                    qsel, nsel, ssel = [], [], []
                    for j in range(n):
                        order = np.lexsort((nids, -sims[:, j]))[: k + 1]
                        qsel.append(np.full(len(order), b_qids[j]))
                        nsel.append(nids[order])
                        ssel.append(sims[order, j])
                    out_q = np.concatenate(qsel)
                    out_n = np.concatenate(nsel)
                    out_s = np.concatenate(ssel)
            else:
                out_q = np.repeat(b_qids[None, :], m, 0).ravel(order="F")
                out_n = np.repeat(nids[:, None], n, 1).ravel(order="F")
                out_s = sims.ravel(order="F")
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_q, pa.int64()), pa.array(out_n, pa.int64()),
                 pa.array(out_s, pa.float64())],
                ["query_id", "neighbor_id", "sim"],
            )

    pairs = (
        embeddings.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .mapInArrow(run, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def cosine_topk_expr(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure-expression top-k (zero Python): reference implementation the
    vectorized path is validated against; also the right choice when the
    cluster has no Python workers to spare."""
    from pyspark.sql import Window

    corpus = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    queries = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    pairs = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def cosine_topk_sql(table: str = "embeddings", query_pred: str = "vec_id % 50 = 0", k: int = 5) -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {query_pred}),
    comps AS (
        SELECT query_id, neighbor_id,
               sum(qv[i] * nv[i]) AS dot,
               sum(qv[i] * qv[i]) AS qq,
               sum(nv[i] * nv[i]) AS nn
        FROM (SELECT q.query_id AS query_id, q.qv AS qv, e.vec_id AS neighbor_id,
                     e.v AS nv, unnest(range(1, len(q.qv) + 1)) AS i
              FROM q CROSS JOIN e WHERE q.query_id <> e.vec_id)
        GROUP BY 1, 2
    ),
    sims AS (
        SELECT query_id, neighbor_id,
               round(dot / (sqrt(qq) * sqrt(nn)), {SIM_DP}) AS sim
        FROM comps
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM sims
    QUALIFY rank <= {k}
    """


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, sim) with a < b and
    sim >= threshold. EXACT all-pairs, fully distributed.

    Block-pair join (triangle replication): each vector hashes into one
    of n_blocks blocks; every unordered block pair (b1 <= b2) becomes one
    task that BLAS-multiplies the two blocks and emits only
    above-threshold pairs. Each row is replicated n_blocks times
    (explode), so the driver NEVER holds the corpus and per-task memory
    is bounded by 2N/n_blocks vectors — size n_blocks ~
    sqrt(N*d*8 / executor_mem) at scale. Total work is still O(N^2 d)
    (it is an exact operator); for web-scale corpora use
    near_dup_pairs_lsh, which prunes candidates before the same
    block-BLAS kernel.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    emb = embeddings.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("__blk"),
    )
    # a row in block b participates in every pair {(min(b,j), max(b,j))}
    pair_structs = F.array(
        *[
            F.struct(
                F.least(F.col("__blk"), F.lit(j)).alias("b1"),
                F.greatest(F.col("__blk"), F.lit(j)).alias("b2"),
            )
            for j in range(n_blocks)
        ]
    )
    exploded = emb.withColumn("__grp", F.explode(pair_structs)).select(
        "__id", "__vec", "__blk",
        F.col("__grp.b1").alias("__b1"),
        F.col("__grp.b2").alias("__b2"),
    )

    def _strip_sims(L, R, lids, rids):
        # Two-pass kernel, chunked over strips of L so per-task peak
        # memory is bounded by the STRIP, never the block square (the
        # full |L|x|R| float64 sims matrix plus its round copy was
        # 128 MB+ per task at 4k-row blocks — 32 concurrent tasks of
        # that is the GC churn behind the observed 35-55s run-to-run
        # swing on the 64k demo):
        #   1. SCREEN in float32 — 2x GEMM throughput, half the
        #      bandwidth, and no full-matrix np.round copy at all; the
        #      screen keeps anything within 1e-3 of the threshold,
        #      orders of magnitude above float32 dot error (~1e-5 for
        #      64-dim unit vectors), so it can never drop a true pair.
        #   2. REFINE the few survivors with exact float64 row dots and
        #      the same round(.,6)-then-compare semantics as before —
        #      emitted sims are identical to the all-float64 kernel
        #      (same values after rounding; BLAS reduction-order noise
        #      ~1e-16 vs the audited 4e-12 rounding margin).
        # 8M float32 sims per strip = the same ~32 MB cap the float64
        # kernel had at 4M.
        L32 = L.astype(np.float32)
        R32 = L32 if R is L else R.astype(np.float32)
        screen = np.float32(threshold - 1e-3)
        strip = max(1, 8_000_000 // max(1, R.shape[0]))
        outs = []
        for s0 in range(0, L.shape[0], strip):
            sims32 = L32[s0 : s0 + strip] @ R32.T
            i, j = np.where(sims32 >= screen)
            if len(i) == 0:
                continue
            exact = np.round(
                np.einsum("ij,ij->i", L[s0 + i], R[j]), SIM_DP
            )
            keep = exact >= threshold
            outs.append((lids[s0 + i][keep], rids[j[keep]], exact[keep]))
        if not outs:
            return (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.float64),
            )
        return tuple(np.concatenate(parts) for parts in zip(*outs))

    import pyarrow as pa

    def block_pairs(key: tuple, tbl: pa.Table) -> pa.Table:
        # applyInArrow, not applyInPandas (guide §4.2): the vector
        # matrix is a reshape of the list column's contiguous Arrow
        # values buffer — no per-row np.stack over an object array,
        # which dominated per-task time at 4-8k rows per block pair
        b1, b2 = (k.as_py() if hasattr(k, "as_py") else k for k in key)
        n = tbl.num_rows
        ids = tbl.column("__id").to_numpy()
        vec = tbl.column("__vec").combine_chunks()
        if isinstance(vec, pa.ChunkedArray):
            vec = vec.chunk(0) if vec.num_chunks else pa.array([], pa.list_(pa.float64()))
        flat = vec.values
        d = len(flat) // max(1, n)
        if vec.null_count == 0 and n and len(flat) == n * d:
            M = np.asarray(flat).astype(np.float64, copy=False).reshape(n, d)
        else:  # ragged/null fallback — correctness over speed
            M = np.stack([np.asarray(v, dtype=np.float64) for v in vec.to_pylist()])
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        M = M / norms
        if b1 == b2:
            a, b, s = _strip_sims(M, M, ids, ids)
            keep = a < b
            a, b, s = a[keep], b[keep], s[keep]
        else:
            left = tbl.column("__blk").to_numpy() == b1
            a, b, s = _strip_sims(M[left], M[~left], ids[left], ids[~left])
            lo = np.minimum(a, b)
            b = np.maximum(a, b)
            a = lo
        return pa.table(
            {
                "vec_a": pa.array(a, pa.int64()),
                "vec_b": pa.array(b, pa.int64()),
                "sim": pa.array(s, pa.float64()),
            }
        )

    return exploded.groupBy("__b1", "__b2").applyInArrow(block_pairs, out_schema)


def near_dup_pairs_lsh_sql(
    table: str = "embeddings",
    threshold: float = 0.4,
    bands: int = 16,
    rows_per_band: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB ground truth for near_dup_pairs_lsh: the banded candidate
    set is DETERMINISTIC (md5-derived hyperplane family, identical to
    the operator's), so the full pipeline — band signatures, any-band
    collision, exact rounded cosine, threshold — replays in pure SQL.
    Only recall vs the TRUE neighbor set is probabilistic; the result
    set itself is exactly reproducible. Hyperplane weights inline as
    shortest-roundtrip literals (DuckDB parses them to the identical
    doubles numpy uses); sign margins audited on the fixtures: min
    |hyperplane dot| 1.3e-5 and min candidate-sim distance to a 6dp
    rounding boundary 1.5e-13, both orders above cross-engine float
    noise (~1e-15)."""
    W = _hyperplane_weights(bands * rows_per_band, dim)

    def dot(p: int) -> str:
        return "(" + " + ".join(
            f"e[{j + 1}]*({W[p][j]!r})" for j in range(dim)
        ) + ")"

    def band(b: int) -> str:
        bits = " + ".join(
            f"(CASE WHEN {dot(b * rows_per_band + r)} >= 0.0 "
            f"THEN {1 << r} ELSE 0 END)"
            for r in range(rows_per_band)
        )
        return f"({bits})"

    band_cols = ",\n         ".join(f"{band(b)} AS b{b}" for b in range(bands))
    collide = " OR ".join(f"a.b{b} = c.b{b}" for b in range(bands))
    pairdot = (
        "list_sum(list_transform(list_zip(ae, ce), "
        "z -> struct_extract(z, 1) * struct_extract(z, 2)))"
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM {table}
),
sig AS (
  -- zero-norm guard mirrors the operator (bucket_pairs substitutes
  -- norm=1 for zero vectors so their sim is 0, not NULL/NaN)
  SELECT vec_id, e,
         CASE WHEN list_sum(list_transform(e, x -> x * x)) = 0 THEN 1.0
              ELSE sqrt(list_sum(list_transform(e, x -> x * x))) END AS nrm,
         {band_cols}
  FROM v
),
cand AS (
  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         a.e AS ae, c.e AS ce, a.nrm AS an, c.nrm AS cn
  FROM sig a JOIN sig c ON a.vec_id < c.vec_id AND ({collide})
),
scored AS (
  SELECT vec_a, vec_b, round({pairdot} / (an * cn), {SIM_DP}) AS sim
  FROM cand
)
SELECT vec_a, vec_b, sim FROM scored WHERE sim >= {threshold}
"""


def near_dup_pairs_sql(table: str = "embeddings", threshold: float = 0.9) -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    comps AS (
        SELECT a, b, sum(av[i] * bv[i]) AS dot, sum(av[i] * av[i]) AS aa,
               sum(bv[i] * bv[i]) AS bb
        FROM (SELECT x.vec_id AS a, y.vec_id AS b, x.v AS av, y.v AS bv,
                     unnest(range(1, len(x.v) + 1)) AS i
              FROM e x JOIN e y ON x.vec_id < y.vec_id)
        GROUP BY 1, 2
    )
    SELECT a AS vec_a, b AS vec_b, round(dot / (sqrt(aa) * sqrt(bb)), {SIM_DP}) AS sim
    FROM comps
    WHERE round(dot / (sqrt(aa) * sqrt(bb)), {SIM_DP}) >= {threshold}
    """


def group_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    assemble: bool = False,
) -> DataFrame:
    """Element-wise mean vector per group, fully distributed: posexplode
    -> (group, pos) partial-aggregated avg — one shuffle carrying
    N*d scalars with map-side combine, never a vector collect. The
    long (group, pos, mean) form is oracle-checkable; assemble=True
    reassembles array<double> centroids (order pinned by array_sort on
    pos, because collect_list order is shuffle-dependent).
    """
    exploded = embeddings.select(
        F.col(group_col).alias("grp"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
    )
    means = exploded.groupBy("grp", "pos").agg(
        F.round(F.avg("val"), SIM_DP).alias("mean_val")
    )
    if not assemble:
        return means
    return means.groupBy("grp").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )


def group_centroids_sql(table: str = "embeddings", group_col: str = "label") -> str:
    return f"""
    WITH e AS (SELECT {group_col} AS grp, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    x AS (SELECT grp, unnest(v) AS val, generate_subscripts(v, 1) - 1 AS pos FROM e)
    SELECT grp, pos, round(avg(val), {SIM_DP}) AS mean_val
    FROM x GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + probed lists
# ---------------------------------------------------------------------------
def ivf_train_centroids(
    embeddings: DataFrame,
    n_lists: int = 16,
    n_iters: int = 3,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic coarse quantizer: Lloyd iterations on a bounded,
    id-ordered sample (driver-side numpy — the sample is bounded by
    sample_rows regardless of corpus size; at 100 TB you train on a
    sample and assign distributed, exactly this split). Init = the
    n_lists sample vectors with evenly-spaced ranks, so training is
    reproducible run-to-run and engine-independent."""
    import numpy as np

    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_rows)
        .toPandas()
    )
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    idx = np.linspace(0, len(Xn) - 1, n_lists).astype(int)
    C = Xn[idx].copy()
    for _ in range(n_iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for j in range(n_lists):
            members = Xn[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / np.linalg.norm(c)
    return C


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: each query scans only its n_probe nearest lists.

    Distributed shape: centroids broadcast; ONE mapInArrow pass over
    the corpus computes each batch row's list assignment AND its sims
    against just the queries probing that list (mask + one BLAS matmul);
    then the global top-k window. Corpus never shuffles; work is
    n_probe/n_lists of brute force. Recall is probabilistic (tested
    against the exact operator), so no SQL oracle — rows-only check.
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import types as T

    C = ivf_train_centroids(embeddings, n_lists=n_lists, id_col=id_col, vec_col=vec_col)
    qpdf = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).toPandas()
    if len(qpdf) == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    qids = qpdf["query_id"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    # lists each query probes: n_probe nearest centroids
    probe = np.argsort(-(Qn @ C.T), axis=1)[:, :n_probe]  # |Q| x n_probe
    bq = embeddings.sparkSession.sparkContext.broadcast((qids, Qn, C, probe))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    # mapInArrow, not mapInPandas (guide §4.2): the corpus matrix is a
    # reshape of the list column's contiguous values buffer — no per-row
    # np.stack of object arrays on either side of the boundary
    def run(batches):
        import pyarrow as pa

        b_qids, b_qn, b_c, b_probe = bq.value
        dim = b_qn.shape[1]
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            mat = _batch_matrix(batch.column(1), m, dim, np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            lists = np.argmax(mat @ b_c.T, axis=1)  # corpus batch assignment
            # candidates: query q sees row r only if lists[r] in probe[q]
            # (chunked like the LSH path — bounds the mask tensor)
            rows_i, cols_j = _any_table_collision(lists.reshape(-1, 1), b_probe)
            if len(rows_i) == 0:
                continue
            nids = batch.column(0).to_numpy()
            # dense regime (high probe fraction, e.g. 8/16 lists): full
            # matmul + fancy index; sparse regime (n_probe << n_lists,
            # the 100 TB shape): gather only candidate pairs so flops
            # AND memory track the candidate count, not batch x |Q|
            if len(rows_i) > 0.25 * m * len(b_qids):
                sims = np.round((mat @ b_qn.T)[rows_i, cols_j], SIM_DP)
            else:
                sims = np.round((mat[rows_i] * b_qn[cols_j]).sum(axis=1), SIM_DP)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_qids[cols_j], pa.int64()),
                    pa.array(nids[rows_i], pa.int64()),
                    pa.array(sims, pa.float64()),
                ],
                ["query_id", "neighbor_id", "sim"],
            )

    pairs = (
        embeddings.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .mapInArrow(run, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path; benchmarked, oracle-free by design)
# ---------------------------------------------------------------------------
NUM_HYPERPLANES = 8


def _hyperplane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic hyperplane weight matrix, derived once in Python
    from the same md5 family previous revisions evaluated per-row in
    Spark expressions (weight[p][j] = md5("hp:p:j")[:8] / 16^8 - 0.5).
    Folding it to literals removes n_planes*dim md5 calls PER ROW from
    the signature plan — the difference between the ANN path beating or
    losing to brute force."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp:{p}:{j}".encode()).hexdigest()[:8], 16) / float(16**8)
            - 0.5
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _hyperplane_sign_bits(
    vec: Column, dim: int, n_planes: int = NUM_HYPERPLANES
) -> Column:
    """Random-hyperplane signature: bit p = sign(<vec, W[p]>). The weight
    matrix is embedded as array literals (constant-folded by Catalyst),
    so the per-row cost is n_planes*dim fused multiply-adds in codegen —
    zero hashing, zero Python."""
    vd = _as_double(vec)
    W = _hyperplane_weights(n_planes, dim)
    bits = []
    for p in range(n_planes):
        wlit = F.array(*[F.lit(w) for w in W[p]])
        s = F.aggregate(
            F.zip_with(vd, wlit, lambda x, w: x * w), F.lit(0.0), lambda a, v: a + v
        )
        bits.append(F.when(s >= 0, F.lit(1)).otherwise(F.lit(0)))
    return F.array(*bits)


def lsh_bucket(vec: Column, dim: int) -> Column:
    """Bucket id = concatenated hyperplane sign bits."""
    return F.concat_ws("", _hyperplane_sign_bits(vec, dim))


def near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bands: int = 16,
    rows_per_band: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded-LSH near-duplicate pairs — the 100 TB path.

    Signature = bands*rows_per_band hyperplane sign bits; a pair is a
    CANDIDATE iff it collides in at least one band; candidates get the
    exact rounded cosine and the threshold filter, so precision is 1.0
    and only recall is probabilistic: with p = 1 - theta/pi,
    P(candidate) = 1 - (1 - p^rows_per_band)^bands. Defaults (16 bands
    of 8) give recall ~0.995 at sim 0.9 while passing only ~6% of random
    pairs; for low thresholds (<0.6) shrink rows_per_band — cosine LSH
    fundamentally cannot prune hard there (sim 0.45 => p ~ 0.65).

    Distributed shape: one Arrow pass computes all band signatures per
    batch with a single (batch x dim)@(dim x planes) BLAS matmul and
    emits the (band, band_sig) replication numpy-side; one hash
    repartition co-locates buckets and an in-partition sort makes them
    contiguous; a per-partition mapInPandas then scans group-by-group,
    carrying only the trailing (batch-straddling) bucket between Arrow
    batches, and runs per-bucket block-BLAS (ONE Python call per
    partition — per-group applyInPandas paid Arrow+invoke overhead on
    thousands of tiny groups, while this keeps applyInPandas' memory
    bound: one Arrow batch + the largest single bucket, never the whole
    partition); then dropDuplicates across bands.

    Two designs measured and rejected:
      * signatures as Catalyst expressions (aggregate/zip_with folds):
        interpreted per element, ~10x slower than the BLAS matmul;
      * "skinny" candidate materialization (shuffle (id, band, sig)
        only, bucket self-JOIN into pair rows, join vectors back): at
        threshold 0.9 the banded union bound passes ~6% of random
        pairs, and materializing those as join rows costs far more
        than block-multiplying the buckets — 64k centered-random rows:
        77s skinny vs ~5s bucketed vs 18s exact.

    Per-task memory is one Arrow batch plus the largest single bucket
    (vectors ride the shuffle bands times — the price of block-BLAS
    locality). The mass-
    duplicate degenerate case (one bucket holding ~all rows) explodes
    any LSH variant: pre-dedup exact duplicates (exact_dedup_groups)
    upstream, or salt. For high thresholds raise rows_per_band (e.g.
    8 bands x 16 rows: recall ~1.0 at sim 0.99, random-pair pass rate
    ~8/65536) — the default 16x8 targets the 0.9 regime.
    """
    import numpy as np
    from pyspark.sql import types as T

    n_planes = bands * rows_per_band
    W = np.asarray(_hyperplane_weights(n_planes, dim))
    pows = (1 << np.arange(rows_per_band)).astype(np.int64)

    banded_schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("__vec", T.ArrayType(T.DoubleType())),
            T.StructField("__bidx", T.IntegerType()),
            T.StructField("__bsig", T.LongType()),
        ]
    )

    # mapInArrow (guide §4.2): the vector matrix reshapes the list
    # column's contiguous values buffer, and the bands-fold replication
    # of the vectors is a single vectorized Arrow take() instead of a
    # per-row Python list comprehension — both directions object-free
    def band_sigs(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vec = batch.column(1)
            flat = vec.values
            if vec.null_count == 0 and len(flat) == n * dim:
                M = np.asarray(flat).astype(np.float64, copy=False).reshape(n, dim)
            else:  # ragged/null fallback
                M = np.stack([np.asarray(v, dtype=np.float64)
                              for v in vec.to_pylist()])
            bits = (M @ W.T) >= 0  # rows x (bands*rows_per_band)
            sigs = (bits.reshape(n, bands, rows_per_band) @ pows).astype(np.int64)
            ids = batch.column(0).to_numpy()
            rep = pa.array(np.repeat(np.arange(n), bands), pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, bands), pa.int64()),
                    vec.take(rep),
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), n)),
                    pa.array(sigs.ravel(), pa.int64()),
                ],
                ["__id", "__vec", "__bidx", "__bsig"],
            )

    banded = embeddings.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__vec")
    ).mapInArrow(band_sigs, banded_schema)

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def bucket_pairs(ids, M):
        """Exact scored pairs within one bucket (block-BLAS)."""
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        Mn = M / norms
        sims = np.round(Mn @ Mn.T, SIM_DP)
        i, j = np.where(sims >= threshold)
        keep = ids[i] < ids[j]
        if not keep.any():
            return None
        return ids[i][keep], ids[j][keep], sims[i, j][keep]

    # mapInArrow (guide §4.2, matching band_sigs above): the bucket scan
    # works on numpy views of the batch's reshaped matrix — run
    # boundaries replace the pandas concat + groupby per batch
    def partition_pairs(batches):
        import pyarrow as pa

        # rows arrive sorted by (__bidx, __bsig) (sortWithinPartitions
        # below), so buckets are contiguous: scan group-by-group and
        # carry ONLY the trailing bucket — which may straddle Arrow
        # batches — into the next batch. Peak per-task memory is one
        # Arrow batch plus the largest single bucket (the bound
        # applyInPandas would give), NOT the whole partition.
        carry = None  # (ids, M, bidx, bsig) arrays of the trailing bucket
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            ids = batch.column(0).to_numpy()
            M = _batch_matrix(batch.column(1), m, dim, np.float64)
            bidx = batch.column(2).to_numpy()
            bsig = batch.column(3).to_numpy()
            if carry is not None:
                ids = np.concatenate([carry[0], ids])
                M = np.vstack([carry[1], M])
                bidx = np.concatenate([carry[2], bidx])
                bsig = np.concatenate([carry[3], bsig])
            # contiguous bucket runs: a new run wherever (bidx, bsig)
            # changes between adjacent rows
            change = (
                np.flatnonzero((bidx[1:] != bidx[:-1]) | (bsig[1:] != bsig[:-1]))
                + 1
            )
            starts = np.concatenate([[0], change])
            ends = np.concatenate([change, [len(ids)]])
            carry = (
                ids[starts[-1]:], M[starts[-1]:],
                bidx[starts[-1]:], bsig[starts[-1]:],
            )
            out_a, out_b, out_s = [], [], []
            for s, e in zip(starts[:-1], ends[:-1]):
                if e - s < 2:
                    continue
                res = bucket_pairs(ids[s:e], M[s:e])
                if res is not None:
                    out_a.append(res[0])
                    out_b.append(res[1])
                    out_s.append(res[2])
            if out_a:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_a), pa.int64()),
                        pa.array(np.concatenate(out_b), pa.int64()),
                        pa.array(np.concatenate(out_s), pa.float64()),
                    ],
                    ["vec_a", "vec_b", "sim"],
                )
        if carry is not None and len(carry[0]) >= 2:
            res = bucket_pairs(carry[0], carry[1])
            if res is not None:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(res[0], pa.int64()),
                        pa.array(res[1], pa.int64()),
                        pa.array(res[2], pa.float64()),
                    ],
                    ["vec_a", "vec_b", "sim"],
                )

    # no explicit partition count: with AQE on (session default) the
    # post-shuffle partition count adapts to the actual banded size —
    # small corpora coalesce to a few Python tasks instead of paying
    # shuffle.partitions-many near-empty Arrow invocations, and at
    # scale AQE splits skewed buckets toward the advisory size
    return (
        banded.repartition("__bidx", "__bsig")
        .sortWithinPartitions("__bidx", "__bsig")
        .mapInArrow(partition_pairs, out_schema)
        # the same pair collides in several bands with an identical
        # rounded sim -> exact-duplicate rows; one distinct pass
        .dropDuplicates(["vec_a", "vec_b"])
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    dim: int = 64,
    n_planes: int = NUM_HYPERPLANES,
    n_tables: int = 1,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's LSH bucket(s).

    Map-only BLAS shape (mirrors cosine_topk, which it must beat to
    justify existing): the bounded query set is collected, bucketed with
    the SAME md5-derived hyperplane family as lsh_bucket(), and
    broadcast; each corpus Arrow batch computes its own signatures with
    one (batch x dim)@(dim x planes*tables) matmul, then scores ONLY
    rows sharing a bucket with some query in some table —
    O(N*|Q|*d * (1-(1-2^-planes)^tables)) flops plus an
    O(N*planes*tables*d) signature pass, versus brute force's
    O(N*|Q|*d). No shuffle of the corpus, no join: the candidate
    filter happens inside the map partition.

    n_tables > 1 is classic multi-table LSH: each table is an
    independent set of n_planes hyperplanes (table 0 = lsh_bucket's
    planes, so n_tables=1 reproduces the single-bucket behavior) and a
    pair is a candidate if it collides in ANY table — per-query recall
    1-(1-p^planes)^tables. Candidates are deduped inside the batch (a
    corpus row lives in exactly one batch, so no cross-batch dups), and
    scored pair-wise rather than by block matmul.

    probe_hamming=1 (the default) is multi-probe LSH: a row is a
    candidate if its signature is within Hamming distance 1 of the
    query's in any table. On a tight-cluster corpus (neighbor sim
    ~0.99, p ~ 0.97/plane) a single exact 8-plane bucket caps recall
    near p^8 ~ 0.78 — measured 0.725 at 64k — while radius-1 probing
    recovers the one-bit misses (recall ~ 0.97+) WITHOUT the 8x
    signature pass of n_tables=8, because the xor trick in
    _any_table_collision reuses the equality test's tensor. Candidate
    volume grows from 2^-planes to (planes+1)*2^-planes of the corpus
    per query; probe_hamming=0 restores exact-bucket probing.

    Why the candidate filter lives in numpy and NOT as a JVM expression
    prefilter: hyperplane signatures as Catalyst expressions
    (aggregate/zip_with folds over literal arrays) are interpreted
    per-element, measured ~10x slower than the per-batch BLAS signature
    matmul here — the Arrow transfer they would save costs less than
    the interpreted flops. The true 100 TB amortization is an index:
    persist the bucket id as a real column once (one signature pass),
    then query-time pruning is a pushable equi-filter with zero
    signature cost — see lsh_index / cosine_topk_lsh_indexed.
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import types as T

    # one weight matrix for all tables: table t owns planes
    # [t*n_planes, (t+1)*n_planes) of the shared md5-derived family
    W = np.asarray(_hyperplane_weights(n_planes * n_tables, dim))
    pows = (1 << np.arange(n_planes)).astype(np.int64)

    def bucketize(M: np.ndarray) -> np.ndarray:
        """rows x tables bucket ids from raw (unnormalized) vectors —
        sign bits are scale-invariant, matching the expression path."""
        bits = (M @ W.T) >= 0  # rows x (tables*planes)
        return bits.reshape(len(M), n_tables, n_planes) @ pows

    qpdf = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).toPandas()
    if len(qpdf) == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    qids = qpdf["query_id"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    qbuck = bucketize(Q)  # |Q| x tables
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = embeddings.sparkSession.sparkContext.broadcast((qids, Qn, qbuck))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    # mapInArrow, not mapInPandas (guide §4.2): the corpus matrix is a
    # reshape of the list column's contiguous values buffer — no per-row
    # np.stack of object arrays on either side of the boundary
    def run(batches):
        import pyarrow as pa

        b_qids, b_qn, b_qbuck = bq.value
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            mat = _batch_matrix(batch.column(1), m, dim, np.float64)
            buck = bucketize(mat)  # batch x tables
            # candidate = collides with the query in ANY table — the
            # broadcast equality is chunked over the query axis so the
            # bool tensor stays memory-bounded per task, and the any()
            # IS the cross-table dedup (the old bucket-loop + np.unique
            # path cost more than brute force's matmul whenever the
            # corpus is diffuse and most pairs collide somewhere).
            ri, qi = _any_table_collision(buck, b_qbuck, probe_hamming)
            if len(ri) == 0:
                continue
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            nids = batch.column(0).to_numpy()
            # dense-candidate regime (pruning-hostile corpus): one BLAS
            # matmul + fancy-index beats materializing a |cand| x d
            # gather; sparse regime: gather only the candidates
            if len(ri) > 0.25 * m * len(b_qids):
                sims = np.round((mat @ b_qn.T)[ri, qi], SIM_DP)
            else:
                sims = np.round((mat[ri] * b_qn[qi]).sum(axis=1), SIM_DP)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_qids[qi], pa.int64()),
                    pa.array(nids[ri], pa.int64()),
                    pa.array(sims, pa.float64()),
                ],
                ["query_id", "neighbor_id", "sim"],
            )

    pairs = (
        embeddings.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .mapInArrow(run, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted LSH index: amortize the signature pass across queries
# ---------------------------------------------------------------------------
def lsh_index(
    embeddings: DataFrame,
    dim: int = 64,
    n_planes: int = NUM_HYPERPLANES,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One signature pass over the corpus: adds `buckets: array<bigint>`
    (element t = the row's bucket id in LSH table t, same md5-derived
    hyperplane family as cosine_topk_lsh). Map-only BLAS, no shuffle.

    This is the 100 TB amortization of ANN: write the result to parquet
    ONCE (lsh_index_write stores it flat), then every query filters on
    the materialized bucket longs — a plain codegen filter after the
    scan, zero signature flops at query time. cosine_topk_lsh recomputes
    signatures per query because it indexes nothing; at one query per
    corpus that's optimal, at many queries this index wins.
    """
    import numpy as np
    from pyspark.sql import types as T

    W = np.asarray(_hyperplane_weights(n_planes * n_tables, dim))
    pows = (1 << np.arange(n_planes)).astype(np.int64)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("buckets", T.ArrayType(T.LongType())),
        ]
    )

    # mapInArrow, not mapInPandas (guide §4.2): the id and embedding
    # columns PASS THROUGH as the input's own Arrow buffers (zero
    # copy), the vector matrix is a reshape of the list column's
    # contiguous values buffer, and the bucket lists are built as one
    # flat int64 buffer + offsets — no per-row Python list() in either
    # direction. r15 A/B on the 128k-row ann_x64 corpus: the signature
    # pass (noop sink) dropped 7.1s -> 0.6s on the same partitioning.
    def run(batches):
        import pyarrow as pa

        # Spark's arrow field naming (list child = "element"); the
        # embedding output is cast list<float> -> list<double> exactly
        # as the old pandas conversion upcast it (float32 -> float64
        # is value-exact), so downstream scoring sees identical bytes
        tgt_emb = pa.list_(pa.field("element", pa.float64()))
        tgt_bck = pa.list_(pa.field("element", pa.int64()))
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column(1)
            flat = emb.values
            if emb.null_count == 0 and len(flat) == n * dim:
                M = np.asarray(flat).astype(np.float64, copy=False).reshape(n, dim)
            else:  # ragged/null rows: correctness fallback, per-row
                M = np.stack([np.asarray(v, dtype=np.float64)
                              for v in emb.to_pylist()])
            bits = (M @ W.T) >= 0
            buck = (bits.reshape(n, n_tables, n_planes) @ pows).astype(np.int64)
            buckets = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32)),
                pa.array(buck.reshape(-1)),
            ).cast(tgt_bck)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), emb.cast(tgt_emb), buckets],
                ["vec_id", "embedding", "buckets"],
            )

    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).mapInArrow(run, out_schema)


def cosine_topk_lsh_indexed(
    index: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_tables: int = 1,
    n_planes: int = NUM_HYPERPLANES,
    probe_hamming: int = 1,
) -> DataFrame:
    """ANN top-k over a prebuilt lsh_index frame. Query time does ZERO
    signature math on the corpus: candidate pruning is
    `buckets[t] IN (<query buckets>)` — a whole-stage-codegen filter on
    materialized longs, applied after the scan (an array element is
    neither a partition column nor a pushed parquet filter) — and only
    surviving rows cross the Arrow boundary for exact scoring. Produces
    the same candidate set (hence the same top-k) as cosine_topk_lsh
    with identical n_planes/n_tables/probe_hamming, because both use the
    same numpy bucketize and collision test.

    probe_hamming=1 (multi-probe, matching cosine_topk_lsh's default)
    expands the IN-list per table with the one-bit flips of each query
    bucket — still one codegen filter, its IN-list (n_planes+1)x
    longer; the exact radius test runs in-batch. n_planes
    must match the value the index was built with (it sizes the flip
    set, default NUM_HYPERPLANES for both).
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import types as T

    qpdf = index.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), "embedding", "buckets"
    ).toPandas()
    if len(qpdf) == 0:
        return index.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    qids = qpdf["query_id"].to_numpy()
    Q = np.stack(qpdf["embedding"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    qbuck = np.stack(qpdf["buckets"].to_numpy()).astype(np.int64)  # |Q| x tables
    bq = index.sparkSession.sparkContext.broadcast((qids, Qn, qbuck))

    # codegen prune on the materialized bucket columns; multi-probe adds
    # each query bucket's one-bit flips to the IN-list (superset of the
    # exact radius test applied in-batch below)
    if probe_hamming > 1:
        raise ValueError(
            "cosine_topk_lsh_indexed supports probe_hamming <= 1: the "
            "IN-list prune enumerates one-bit flips only"
        )
    prune = F.lit(False)
    for t in range(n_tables):
        allowed = {int(b) for b in np.unique(qbuck[:, t])}
        if probe_hamming >= 1:
            for b in list(allowed):
                allowed.update(b ^ (1 << j) for j in range(n_planes))
        prune = prune | F.col("buckets")[t].isin(sorted(allowed))
    cand = index.filter(prune)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    # mapInArrow, not mapInPandas (guide §4.2): embedding and bucket
    # matrices are reshapes of the list columns' contiguous values
    # buffers; columns are looked up by name because the caller's index
    # frame may carry extra columns
    def run(batches):
        import pyarrow as pa

        b_qids, b_qn, b_qbuck = bq.value
        dim = b_qn.shape[1]
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            names = batch.schema.names
            mat = _batch_matrix(
                batch.column(names.index("embedding")), m, dim, np.float64
            )
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            buck = _batch_matrix(
                batch.column(names.index("buckets")), m, n_tables, np.int64
            )
            nids = batch.column(names.index("vec_id")).to_numpy()
            # same chunked any-table collision as cosine_topk_lsh
            ri, qi = _any_table_collision(buck, b_qbuck, probe_hamming)
            if len(ri) == 0:
                continue
            sims = np.round((mat[ri] * b_qn[qi]).sum(axis=1), SIM_DP)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_qids[qi], pa.int64()),
                    pa.array(nids[ri], pa.int64()),
                    pa.array(sims, pa.float64()),
                ],
                ["query_id", "neighbor_id", "sim"],
            )

    pairs = cand.mapInArrow(run, out_schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivf_index(
    embeddings: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One assignment pass over the corpus: adds `list_id: int` (nearest
    coarse centroid, same deterministic sample-trained quantizer as
    cosine_topk_ivf). Map-only BLAS after a bounded sample train — no
    corpus shuffle.

    The 100 TB shape: write this ONCE partitioned by list_id, and every
    query reads only its n_probe partitions — IVF probing becomes
    partition pruning at the parquet scan, zero assignment math at query
    time. (For the persisted form with append-only maintenance and a
    centroid sidecar, see ivf_index_write / ivf_index_append.)
    """
    C = ivf_train_centroids(embeddings, n_lists=n_lists, id_col=id_col, vec_col=vec_col)
    return assign_ivf_lists(embeddings, C, id_col=id_col, vec_col=vec_col)


def assign_ivf_lists(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only BLAS assignment of each vector to its nearest coarse
    centroid under a FIXED quantizer — the shared pass behind both the
    initial ivf_index build and append-time maintenance (where the
    quantizer must NOT be retrained or old assignments silently
    disagree with new ones)."""
    import numpy as np
    from pyspark.sql import types as T

    bc = embeddings.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("list_id", T.IntegerType()),
        ]
    )

    # mapInArrow, not mapInPandas (guide §4.2): id and embedding PASS
    # THROUGH as the input's own Arrow buffers (the select below already
    # casts the vector to array<double>, so the cast here only fixes the
    # list child field name); the matrix is a values-buffer reshape
    def run(batches):
        import pyarrow as pa

        Cb = bc.value
        dim = Cb.shape[1]
        tgt_emb = pa.list_(pa.field("element", pa.float64()))
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            emb = batch.column(1)
            M = _batch_matrix(emb, m, dim, np.float64)
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            lists = np.argmax((M / norms) @ Cb.T, axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), emb.cast(tgt_emb), pa.array(lists, pa.int32())],
                ["vec_id", "embedding", "list_id"],
            )

    return embeddings.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__vec")
    ).mapInArrow(run, out_schema)


def cosine_topk_ivf_indexed(
    index: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    centroids=None,
) -> DataFrame:
    """ANN top-k over a prebuilt ivf_index frame. Candidate pruning is
    `list_id IN (<union of probed lists>)` — a codegen filter on a
    materialized int, partition-prunable when the index is stored
    partitioned by list_id — then one scoring pass masks each query to
    its own probed lists. Identical quantizer + probe policy as
    cosine_topk_ivf, so given the same corpus the top-k matches the
    unindexed operator exactly.
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import types as T

    C = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else ivf_train_centroids(index, n_lists=n_lists)
    )
    qpdf = index.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).toPandas()
    if len(qpdf) == 0:
        return index.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    qids = qpdf["query_id"].to_numpy()
    Q = np.stack(qpdf["embedding"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    probe = np.argsort(-(Qn @ C.T), axis=1)[:, :n_probe]  # |Q| x n_probe
    bq = index.sparkSession.sparkContext.broadcast((qids, Qn, probe))

    allowed = [int(l) for l in np.unique(probe)]
    cand = index.filter(F.col("list_id").isin(allowed))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    # mapInArrow, not mapInPandas (guide §4.2): the embedding matrix is
    # a reshape of the list column's contiguous values buffer; columns
    # looked up by name (read-back indexes may carry extra columns)
    def run(batches):
        import pyarrow as pa

        b_qids, b_qn, b_probe = bq.value
        dim = b_qn.shape[1]
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            names = batch.schema.names
            mat = _batch_matrix(
                batch.column(names.index("embedding")), m, dim, np.float64
            )
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            lists = (
                batch.column(names.index("list_id")).to_numpy().astype(np.int64)
            )
            # chunked candidate mask + regime-adaptive scoring, same as
            # the unindexed probe path
            rows_i, cols_j = _any_table_collision(lists.reshape(-1, 1), b_probe)
            if len(rows_i) == 0:
                continue
            nids = batch.column(names.index("vec_id")).to_numpy()
            if len(rows_i) > 0.25 * m * len(b_qids):
                sims = np.round((mat @ b_qn.T)[rows_i, cols_j], SIM_DP)
            else:
                sims = np.round((mat[rows_i] * b_qn[cols_j]).sum(axis=1), SIM_DP)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_qids[cols_j], pa.int64()),
                    pa.array(nids[rows_i], pa.int64()),
                    pa.array(sims, pa.float64()),
                ],
                ["query_id", "neighbor_id", "sim"],
            )

    pairs = cand.mapInArrow(run, out_schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# persisted ANN indexes with append-only maintenance
# ---------------------------------------------------------------------------
# At 100 TB an ANN index is not rebuilt per batch of new vectors — it is
# APPENDED to. Both families support that cheaply because assignment is
# stateless under a fixed parameterization:
#   * LSH: bucket ids are a pure function of (dim, n_planes, n_tables) —
#     the hyperplane family is md5-derived constants — so indexing new
#     vectors is the same map-only pass as the build.
#   * IVF: assignment is a pure function of the trained centroids; the
#     quantizer must be FROZEN at append time (retraining would silently
#     disagree with the assignments already on disk), so the build
#     persists a centroid sidecar that appends read back.
# Layout: the IVF <path>/lists is partitioned by list_id, so a query's
# `list_id IN (probed lists)` prunes directories at the scan. The LSH
# <path>/lists is flat: its prune is a filter on an array element, which
# no partition column can serve. Appends in both only add files —
# existing files are never touched (no read-modify-write, safe under
# concurrent readers).
# Quantizer drift: after heavy appends the frozen IVF centroids describe
# the corpus less well (recall decays at fixed n_probe). ivf_index_stats
# reports per-list counts; rebalance by rebuilding when the hot/cold
# list ratio degrades — a policy call, deliberately not automated here.


def ivf_index_write(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the coarse quantizer, assign, and persist: lists
    partitioned by list_id + a centroid sidecar (the frozen quantizer
    appends and queries reuse)."""
    import numpy as np

    spark = embeddings.sparkSession
    C = ivf_train_centroids(embeddings, n_lists=n_lists, id_col=id_col, vec_col=vec_col)
    # co-locate per list before the write (one file per partition dir,
    # not one per task x dir — tasks x n_lists files is the small-file
    # bomb merge.py's overwrite avoids the same way)
    assign_ivf_lists(embeddings, C, id_col=id_col, vec_col=vec_col).repartition(
        "list_id"
    ).write.mode("overwrite").partitionBy("list_id").parquet(path + "/lists")
    # centroid sidecar: pyarrow on local filesystems (no Spark job for
    # an n_lists-row table — r15 metadata fast path), Spark otherwise;
    # identical schema either way (int32 list_id, list<double> centroid)
    from nomba_data_pipeline_spark.operators.versioned import write_table_sidecar

    rows = [(int(i), [float(x) for x in row]) for i, row in enumerate(np.asarray(C))]

    def _arrow():
        import pyarrow as pa

        return pa.table(
            {
                "list_id": pa.array([r[0] for r in rows], pa.int32()),
                "centroid": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float64())
                ),
            }
        )

    write_table_sidecar(
        spark,
        path + "/centroids",
        _arrow,
        lambda: spark.createDataFrame(rows, "list_id int, centroid array<double>"),
    )


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing: bool = False,
) -> None:
    """Append-only maintenance: assign the new vectors under the FROZEN
    sidecar centroids and append into the partitioned layout. Touches
    only the ≤ n_lists partition dirs the new vectors land in.

    NOT replay-idempotent by default (raw parquet append — a rerun or
    an already-indexed vector duplicates rows permanently). Pass
    skip_existing=True for at-least-once sources: an id dedup plus an
    anti-join against the index's current ids (one column-pruned vec_id
    scan of lists) makes a replayed batch append nothing."""
    if skip_existing:
        new_vectors = _drop_indexed(new_vectors, path, id_col)
    C = ivf_index_centroids(new_vectors.sparkSession, path)
    assign_ivf_lists(new_vectors, C, id_col=id_col, vec_col=vec_col).repartition(
        "list_id"
    ).write.mode("append").partitionBy("list_id").parquet(path + "/lists")


def _drop_indexed(new_vectors: DataFrame, path: str, id_col: str) -> DataFrame:
    """`new_vectors`, one row per id, minus the ids already in
    `<path>/lists` — the skip_existing anti-join (one column-pruned
    vec_id scan of lists). The dropDuplicates covers an at-least-once
    batch that carries the same vector twice (a re-delivered source file
    landing in the same trigger as its original): the anti-join alone
    would index both copies."""
    existing = read_parquet(new_vectors.sparkSession, path + "/lists").select(
        F.col("vec_id").alias(id_col)
    )
    return new_vectors.dropDuplicates([id_col]).join(existing, id_col, "left_anti")


def ivf_index_centroids(spark: SparkSession, path: str):
    """The frozen quantizer: n_lists x dim numpy array from the sidecar."""
    import numpy as np

    from nomba_data_pipeline_spark.operators.versioned import read_table_sidecar_local

    t = read_table_sidecar_local(path + "/centroids")
    if t is not None:
        pairs = sorted(
            zip(t.column("list_id").to_pylist(), t.column("centroid").to_pylist())
        )
        return np.asarray([c for _, c in pairs], dtype=np.float64)
    rows = read_parquet(spark, path + "/centroids").orderBy("list_id").collect()
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def ivf_index_read(spark: SparkSession, path: str) -> DataFrame:
    """The persisted index as a DataFrame (same schema ivf_index
    returns) — feed to cosine_topk_ivf_indexed with
    centroids=ivf_index_centroids(...) so probing uses the frozen
    quantizer, not a retrain over the drifted corpus."""
    return read_parquet(spark, path + "/lists").select(
        "vec_id", "embedding", F.col("list_id").cast("int").alias("list_id")
    )


def ivf_index_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-list row counts — the rebalance signal. A severely skewed
    distribution after appends means the frozen quantizer no longer
    fits the corpus: rebuild (retrain) on the maintenance cadence."""
    return (
        read_parquet(spark, path + "/lists")
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def _write_lsh_params(
    spark: SparkSession, path: str, dim: int, n_planes: int, n_tables: int
) -> None:
    """Persist the hyperplane-family sidecar: pyarrow on local
    filesystems (a 1-row parquet should never cost a Spark job — the
    r15 metadata fast path), Spark writer otherwise; identical schema
    (int32 columns) either way so readers mix freely."""
    from nomba_data_pipeline_spark.operators.versioned import write_table_sidecar

    def _arrow():
        import pyarrow as pa

        return pa.table(
            {
                "dim": pa.array([dim], pa.int32()),
                "n_planes": pa.array([n_planes], pa.int32()),
                "n_tables": pa.array([n_tables], pa.int32()),
            }
        )

    write_table_sidecar(
        spark,
        path + "/params",
        _arrow,
        lambda: spark.createDataFrame(
            [(dim, n_planes, n_tables)], "dim int, n_planes int, n_tables int"
        ),
    )


def _read_lsh_params(spark: SparkSession, path: str) -> dict:
    """The sidecar as a dict — pyarrow-fast locally, Spark fallback."""
    from nomba_data_pipeline_spark.operators.versioned import read_table_sidecar_local

    t = read_table_sidecar_local(path + "/params")
    if t is not None:
        return {c: t.column(c)[0].as_py() for c in t.column_names}
    return read_parquet(spark, path + "/params").first().asDict()


def lsh_index_write(
    embeddings: DataFrame,
    path: str,
    dim: int = 64,
    n_planes: int = NUM_HYPERPLANES,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the LSH index as one flat parquet directory
    (`<path>/lists`, lsh_index schema) + a parameter sidecar so appends
    provably use the same hyperplane family."""
    spark = embeddings.sparkSession
    lsh_index(
        embeddings, dim=dim, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col,
    ).write.mode("overwrite").parquet(path + "/lists")
    _write_lsh_params(spark, path, dim, n_planes, n_tables)


def lsh_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing: bool = False,
) -> None:
    """Append-only maintenance: signatures are a pure function of the
    sidecar parameters (md5-derived hyperplanes), so appended rows get
    bit-identical buckets to a full rebuild — no drift, ever.

    The default is a raw parquet append for callers whose ids are
    fresh: re-running it (or appending vectors already indexed)
    duplicates rows in lists permanently. For at-least-once delivery
    (a rerun, a streaming checkpoint replay) pass skip_existing=True:
    the batch is deduplicated on id and anti-joined against the index's
    current ids first, so a replay appends nothing and every id lands
    once. That costs one extra column-pruned vec_id
    scan of lists per append, which is why it is not the default.

    Refuses an index whose lists hold `b0=` partition directories (the
    earlier bucket-partitioned layout): partition discovery would then
    ignore every file at the lists root, so the appended vectors would
    vanish from every read.
    """
    from nomba_data_pipeline_spark.operators.merge import fs_and_path

    spark = new_vectors.sparkSession
    fs, pattern = fs_and_path(spark, path + "/lists/b0=*")
    if fs.globStatus(pattern):
        raise ValueError(
            f"{path}/lists holds bucket-partitioned b0= directories; "
            "rebuild with lsh_index_write before appending"
        )
    if skip_existing:
        new_vectors = _drop_indexed(new_vectors, path, id_col)
    p = _read_lsh_params(spark, path)
    lsh_index(
        new_vectors, dim=p["dim"], n_planes=p["n_planes"], n_tables=p["n_tables"],
        id_col=id_col, vec_col=vec_col,
    ).write.mode("append").parquet(path + "/lists")


def lsh_index_read(spark: SparkSession, path: str) -> DataFrame:
    """The persisted index as a DataFrame (lsh_index schema)."""
    return read_parquet(spark, path + "/lists").select("vec_id", "embedding", "buckets")


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster, then dedup only within clusters
# ---------------------------------------------------------------------------
def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.5,
    cluster_col: str | None = None,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_rows: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): partition the corpus into semantic clusters,
    then drop every vector that has a SMALLER-id neighbor at cosine >=
    threshold within its cluster (greedy min-id keep — the same
    canonical-pick rule exact_dedup/keep-latest use, deliberately NOT
    transitive closure; neardup_clusters is the closure operator when
    that is wanted). Returns (id, cluster, keep).

    Scale shape: all-pairs dedup is O(N²) and dead at 100 TB;
    clustering first bounds the quadratic work to O(Σ c_i²) over
    cluster sizes — the operator the SemDeDup paper runs on web-scale
    corpora. One shuffle on the cluster id, then a per-cluster kernel:
    the cluster matrix is scored in `chunk_rows`-row chunks against
    itself (memory per task is O(chunk_rows x c_max), never c_max²)
    with one BLAS matmul per chunk. Per-task bound = largest cluster;
    size n_lists so c_max fits an executor (the same contract the
    fuzzy blocked join documents for its blocks).

    cluster_col=None trains the deterministic sample-based k-means
    quantizer (ivf_train_centroids) and assigns map-only — recall then
    depends on cluster granularity (cross-cluster near-dups are missed
    by construction, the documented blocking trade). Passing an
    existing cluster/domain column makes the operator exact within
    that partition AND SQL-expressible — the graded registry row uses
    the `label` column so a DuckDB oracle can replay the exact
    semantics.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if cluster_col is None:
        C = ivf_train_centroids(
            embeddings, n_lists=n_lists, id_col=id_col, vec_col=vec_col
        )
        assigned = assign_ivf_lists(embeddings, C, id_col=id_col, vec_col=vec_col)
        assigned = assigned.select(
            F.col("vec_id").alias("__id"),
            F.col("embedding").alias("__vec"),
            F.col("list_id").cast("long").alias("__cluster"),
        )
    else:
        assigned = embeddings.select(
            F.col(id_col).alias("__id"),
            _as_double(F.col(vec_col)).alias("__vec"),
            F.col(cluster_col).cast("long").alias("__cluster"),
        )

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.LongType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(pdf["__vec"].to_numpy()[order]).astype(np.float64)
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        n = len(ids)
        keep = np.ones(n, dtype=bool)
        # rows sorted by id: row r is dropped iff some EARLIER row is a
        # near-dup. Chunked scoring bounds memory at chunk_rows x n.
        for lo in range(0, n, chunk_rows):
            hi = min(lo + chunk_rows, n)
            sims = np.round(M[lo:hi] @ M.T, SIM_DP)
            # only columns strictly before each row count (smaller id)
            col = np.arange(n)[None, :] < np.arange(lo, hi)[:, None]
            keep[lo:hi] = ~((sims >= threshold) & col).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["__cluster"].iloc[0],
                "keep": keep,
            }
        )

    return assigned.groupBy("__cluster").applyInPandas(dedup_cluster, out_schema)


def semantic_dedup_sql(
    table: str = "embeddings", cluster_col: str = "label", threshold: float = 0.5
) -> str:
    """DuckDB oracle for semantic_dedup with an explicit cluster column:
    drop a vector iff a smaller-id same-cluster row sits at cosine >=
    threshold (greedy min-id keep, matching the kernel exactly)."""
    return f"""
    WITH e AS (SELECT vec_id, CAST({cluster_col} AS BIGINT) AS cluster,
                      CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    comps AS (
        SELECT a, b, sum(av[i] * bv[i]) AS dot, sum(av[i] * av[i]) AS aa,
               sum(bv[i] * bv[i]) AS bb
        FROM (SELECT x.vec_id AS a, y.vec_id AS b, x.v AS av, y.v AS bv,
                     unnest(range(1, len(x.v) + 1)) AS i
              FROM e x JOIN e y
                ON x.cluster = y.cluster AND x.vec_id > y.vec_id)
        GROUP BY 1, 2
    ),
    drops AS (
        SELECT DISTINCT a AS vec_id FROM comps
        WHERE round(dot / (sqrt(aa) * sqrt(bb)), {SIM_DP}) >= {threshold}
    )
    SELECT e.vec_id, e.cluster, NOT EXISTS (
        SELECT 1 FROM drops d WHERE d.vec_id = e.vec_id
    ) AS keep
    FROM e
    """
