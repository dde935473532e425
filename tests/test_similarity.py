"""Similarity-search quality tests: ANN variants measured against the
exact brute-force operator (recall@k), empty-input robustness."""

from __future__ import annotations

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.catalog import load_table
from nomba_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_expr,
    cosine_topk_ivf,
)
from tests.conftest import SF_SMALL


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_vectorized_matches_expression_exactly(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") % 50 == 0
    vec = {(r.query_id, r.rank): r.neighbor_id for r in cosine_topk(emb, qf, k=5).collect()}
    exp = {(r.query_id, r.rank): r.neighbor_id for r in cosine_topk_expr(emb, qf, k=5).collect()}
    assert vec == exp


def test_ivf_recall_against_exact(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") % 50 == 0
    exact = _topk_sets(cosine_topk(emb, qf, k=5))
    approx = _topk_sets(cosine_topk_ivf(emb, qf, k=5, n_lists=16, n_probe=4))
    hits = total = 0
    for q, truth in exact.items():
        got = approx.get(q, set())
        hits += len(truth & got)
        total += len(truth)
    recall = hits / total
    # embeddings are cluster-structured (label column); 4/16 probes
    # should capture most true neighbors
    assert recall >= 0.6, f"recall@5 {recall:.2f}"


def test_ivf_full_probe_equals_exact(spark):
    """Probing every list degenerates to brute force -> identical sets."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") % 100 == 0
    exact = _topk_sets(cosine_topk(emb, qf, k=5))
    full = _topk_sets(cosine_topk_ivf(emb, qf, k=5, n_lists=8, n_probe=8))
    assert exact == full


def _pair_map(df):
    return {(r.vec_a, r.vec_b): r.sim for r in df.collect()}


def test_near_dup_exact_never_collects_corpus(spark, monkeypatch):
    """Scale guard (round-2 verdict): the exact near-dup operator must be
    fully distributed — no driver-side toPandas/collect of the corpus."""
    import pyspark.sql

    from nomba_data_pipeline_spark.operators.similarity import near_dup_pairs

    emb = load_table(spark, SF_SMALL, "embeddings")

    def boom(self, *a, **k):
        raise AssertionError("near_dup_pairs must not call DataFrame.toPandas")

    monkeypatch.setattr(pyspark.sql.DataFrame, "toPandas", boom)
    monkeypatch.setattr(
        pyspark.sql.DataFrame,
        "collect",
        lambda self, *a, **k: (_ for _ in ()).throw(
            AssertionError("near_dup_pairs must not collect() the corpus")
        ),
    )
    df = near_dup_pairs(emb, threshold=0.4)
    # count() executes the whole plan without materializing to the driver
    assert df.count() > 0


def test_near_dup_two_pass_kernel_matches_float64_ground_truth(spark):
    """The fp32-screen/fp64-refine strip kernel (round 10) must emit
    EXACTLY the pair set and rounded sims of a pure-float64 all-pairs
    computation — the screen's 1e-3 margin may only ever admit extra
    candidates for the refine step to reject, never drop a true pair."""
    import numpy as np

    from nomba_data_pipeline_spark.operators.similarity import (
        SIM_DP,
        near_dup_pairs,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = np.round(M @ M.T, SIM_DP)
    iu = np.triu_indices(len(M), 1)
    for threshold in (0.4, 0.9):
        keep = sims[iu] >= threshold
        truth = {
            (int(min(a, b)), int(max(a, b))): float(s)
            for a, b, s in zip(
                ids[iu[0][keep]], ids[iu[1][keep]], sims[iu][keep]
            )
        }
        got = _pair_map(near_dup_pairs(emb, threshold=threshold, n_blocks=4))
        assert got == truth, (
            f"threshold {threshold}: {len(got)} pairs vs truth {len(truth)}"
        )


def test_near_dup_block_pair_matches_single_block(spark):
    """Block-pair decomposition is exact: any n_blocks gives the same
    pair set (n_blocks=1 is the trivial single-task case)."""
    from nomba_data_pipeline_spark.operators.similarity import near_dup_pairs

    emb = load_table(spark, SF_SMALL, "embeddings")
    one = _pair_map(near_dup_pairs(emb, threshold=0.4, n_blocks=1))
    eight = _pair_map(near_dup_pairs(emb, threshold=0.4, n_blocks=8))
    assert one == eight and len(one) > 0


def test_near_dup_lsh_recall_and_precision(spark):
    """Banded LSH: precision 1.0 by construction (exact cosine on
    candidates); recall probabilistic but >= 0.9 with bands tuned for
    this corpus's 0.4-0.5 similarity band."""
    from nomba_data_pipeline_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_lsh,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = _pair_map(near_dup_pairs(emb, threshold=0.4))
    lsh = _pair_map(near_dup_pairs_lsh(emb, threshold=0.4, bands=12, rows_per_band=2))
    assert set(lsh) <= set(exact), "LSH must not invent pairs"
    for p, s in lsh.items():
        assert s == exact[p]
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f} ({len(lsh)}/{len(exact)})"


def test_lsh_bucket_constant_folded(spark):
    """The hyperplane weights must be literals in the plan — a regression
    to per-row md5 derivation shows up as 'md5' in the optimized plan."""
    from nomba_data_pipeline_spark.operators.similarity import lsh_bucket

    emb = load_table(spark, SF_SMALL, "embeddings")
    plan = (
        emb.select(lsh_bucket(F.col("embedding"), 64).alias("b"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "md5" not in plan.lower()


def test_lsh_multi_table_recall(spark):
    """Multi-table LSH: union-of-buckets candidates recover true top-k
    even on this diffuse corpus (neighbors at ~60deg); single-table
    8-plane buckets cannot (recall < 0.2 measured)."""
    from nomba_data_pipeline_spark.operators.similarity import cosine_topk_lsh

    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") % 50 == 0
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, qf, k=5).collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(emb, qf, k=5, n_planes=3, n_tables=16).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.85, f"top-5 recall {recall:.2f}"


def test_lsh_single_table_matches_first_table_of_multi(spark):
    """Table 0 of the shared hyperplane family IS the single-table
    bucketing: every single-table candidate pair is also a multi-table
    candidate (supersets only add)."""
    from nomba_data_pipeline_spark.operators.similarity import cosine_topk_lsh

    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") % 100 == 0
    # exact-bucket probing isolates the table-sharing property; the
    # multi-probe default would inflate candidate sets past k and the
    # top-k truncation would mask the subset relation under test
    one = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(emb, qf, k=50, probe_hamming=0).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(emb, qf, k=50, n_tables=4, probe_hamming=0).collect()
    }
    assert one <= multi


def test_group_centroids_assembled_order(spark):
    """assemble=True must pin element order by position (collect_list is
    shuffle-order-dependent without the sort)."""
    import numpy as np

    from nomba_data_pipeline_spark.operators.similarity import group_centroids

    emb = load_table(spark, SF_SMALL, "embeddings")
    arr = {r.grp: r.centroid for r in group_centroids(emb, "label", assemble=True).collect()}
    pdf = emb.select("label", "embedding").toPandas()
    for g, cent in list(arr.items())[:3]:
        M = np.stack(pdf[pdf["label"] == g]["embedding"].to_numpy()).astype(float)
        expect = np.round(M.mean(axis=0), 6)
        assert np.allclose(np.array(cent), expect, atol=1e-6)


def test_lsh_indexed_matches_unindexed(spark):
    """The persisted-index ANN path must return exactly the top-k of the
    per-query LSH operator (same hyperplane family, same numpy
    bucketize => same candidate set => same exact scores)."""
    from nomba_data_pipeline_spark.operators.similarity import (
        cosine_topk_lsh,
        cosine_topk_lsh_indexed,
        lsh_index,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") % 100 == 0
    idx = lsh_index(emb, n_tables=2).cache()
    try:
        direct = {
            (r.query_id, r.neighbor_id, r.sim, r.rank)
            for r in cosine_topk_lsh(emb, qf, k=10, n_tables=2).collect()
        }
        via_index = {
            (r.query_id, r.neighbor_id, r.sim, r.rank)
            for r in cosine_topk_lsh_indexed(idx, qf, k=10, n_tables=2).collect()
        }
        assert direct == via_index and len(direct) > 0
    finally:
        idx.unpersist()


def test_lsh_index_prune_is_codegen_filter(spark):
    """Query-time pruning on the index must be a plain filter on the
    materialized bucket column — no Window, no join, no Python stage
    before the scoring mapInPandas."""
    from nomba_data_pipeline_spark.operators.similarity import lsh_index

    emb = load_table(spark, SF_SMALL, "embeddings")
    idx = lsh_index(emb)
    pruned = idx.filter(F.col("buckets")[0].isin([1, 2, 3]))
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "Filter" in plan and "Join" not in plan


def test_ivf_indexed_matches_unindexed(spark):
    """The persisted IVF index path must return exactly the top-k of the
    per-query IVF operator: same deterministic sample-trained quantizer,
    same probe policy => same candidate set => same exact scores."""
    from nomba_data_pipeline_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_indexed,
        ivf_index,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") % 100 == 0
    idx = ivf_index(emb, n_lists=8).cache()
    try:
        direct = {
            (r.query_id, r.neighbor_id, r.sim, r.rank)
            for r in cosine_topk_ivf(emb, qf, k=10, n_lists=8, n_probe=3).collect()
        }
        via_index = {
            (r.query_id, r.neighbor_id, r.sim, r.rank)
            for r in cosine_topk_ivf_indexed(idx, qf, k=10, n_lists=8, n_probe=3).collect()
        }
        assert direct == via_index and len(direct) > 0
    finally:
        idx.unpersist()


def test_ivf_index_covers_corpus(spark):
    """Every corpus row gets exactly one list_id in [0, n_lists)."""
    from nomba_data_pipeline_spark.operators.similarity import ivf_index

    emb = load_table(spark, SF_SMALL, "embeddings")
    idx = ivf_index(emb, n_lists=8)
    stats = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("list_id").alias("lo"),
        F.max("list_id").alias("hi"),
    ).collect()[0]
    assert stats.n == emb.count()
    assert 0 <= stats.lo and stats.hi < 8


def test_any_table_collision_chunking_matches_full_broadcast(monkeypatch):
    """The chunked collision scan must return exactly the pairs the
    single full-broadcast tensor would, regardless of chunk size."""
    import numpy as np

    from nomba_data_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    buck = rng.integers(0, 8, size=(50, 3)).astype(np.int64)
    qbuck = rng.integers(0, 8, size=(37, 3)).astype(np.int64)
    full = (buck[:, None, :] == qbuck[None, :, :]).any(axis=2)
    want = set(zip(*np.nonzero(full)))
    for chunk in (1, 17, 1 << 25):
        monkeypatch.setattr(S, "_COLL_CHUNK_ELEMS", chunk)
        ri, qi = S._any_table_collision(buck, qbuck)
        assert set(zip(ri.tolist(), qi.tolist())) == want
    # scalar-list (IVF) shape: row list vs per-query probe set
    lists = rng.integers(0, 8, size=40).astype(np.int64)
    probe = rng.integers(0, 8, size=(11, 4)).astype(np.int64)
    full2 = (probe[None, :, :] == lists[:, None, None]).any(axis=2)
    want2 = set(zip(*np.where(full2)))
    monkeypatch.setattr(S, "_COLL_CHUNK_ELEMS", 13)
    ri, qi = S._any_table_collision(lists.reshape(-1, 1), probe)
    assert set(zip(ri.tolist(), qi.tolist())) == want2


def test_ivf_index_append_equals_frozen_assignment(spark, tmp_path):
    """Persisted-index maintenance: build on 80% of the corpus, append
    the rest — loaded assignments must equal assigning the FULL corpus
    under the frozen sidecar centroids (never a retrain), existing
    files must be untouched by the append, and an appended vector must
    be findable (its own top-1) through the partition-pruned query."""
    import os

    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.operators.similarity import (
        assign_ivf_lists,
        cosine_topk_ivf_indexed,
        ivf_index_append,
        ivf_index_centroids,
        ivf_index_read,
        ivf_index_stats,
        ivf_index_write,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    cut = emb.agg(F.expr("percentile(vec_id, 0.8)")).first()[0]
    base, extra = emb.filter(F.col("vec_id") <= cut), emb.filter(F.col("vec_id") > cut)
    path = str(tmp_path / "ivf")
    ivf_index_write(base, path, n_lists=8)

    def data_files():
        out = set()
        for root, _d, files in os.walk(path + "/lists"):
            out |= {os.path.join(root, f) for f in files if not f.startswith(("_", "."))}
        return out

    before = data_files()
    ivf_index_append(extra, path)
    after = data_files()
    assert before <= after, "append rewrote existing index files"
    assert len(after) > len(before)

    C = ivf_index_centroids(spark, path)
    got = {r["vec_id"]: r["list_id"] for r in ivf_index_read(spark, path).collect()}
    want = {
        r["vec_id"]: r["list_id"]
        for r in assign_ivf_lists(emb, C).collect()
    }
    assert got == want, "appended index diverges from frozen-quantizer assignment"
    assert ivf_index_stats(spark, path).agg(F.sum("n_vectors")).first()[0] == emb.count()

    probe_id = int(extra.agg(F.max("vec_id")).first()[0])
    res = cosine_topk_ivf_indexed(
        ivf_index_read(spark, path), F.col("vec_id") == probe_id, k=3,
        n_lists=8, centroids=C,
    ).collect()
    assert res, "appended vector not queryable"
    assert all(r["query_id"] == probe_id for r in res)


def test_lsh_index_append_matches_rebuild(spark, tmp_path):
    """LSH signatures are a pure function of the sidecar params, so
    append must be bit-identical to a full rebuild — including across
    multi-table configurations."""
    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.operators.similarity import (
        lsh_index,
        lsh_index_append,
        lsh_index_read,
        lsh_index_write,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    cut = emb.agg(F.expr("percentile(vec_id, 0.8)")).first()[0]
    base, extra = emb.filter(F.col("vec_id") <= cut), emb.filter(F.col("vec_id") > cut)
    path = str(tmp_path / "lsh")
    lsh_index_write(base, path, n_tables=2)
    lsh_index_append(extra, path)

    got = {r["vec_id"]: list(r["buckets"]) for r in lsh_index_read(spark, path).collect()}
    want = {r["vec_id"]: list(r["buckets"]) for r in lsh_index(emb, n_tables=2).collect()}
    assert got == want


def test_lsh_index_append_skip_existing_is_replay_idempotent(spark, tmp_path):
    """The raw append is documented as NOT replay-safe; skip_existing=True
    must make a verbatim rerun (and an overlap with already-indexed ids)
    a no-op instead of a permanent duplicate."""
    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.operators.similarity import (
        lsh_index_append,
        lsh_index_read,
        lsh_index_write,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    cut = emb.agg(F.expr("percentile(vec_id, 0.8)")).first()[0]
    base, extra = emb.filter(F.col("vec_id") <= cut), emb.filter(F.col("vec_id") > cut)
    path = str(tmp_path / "lsh")
    lsh_index_write(base, path)
    lsh_index_append(extra, path, skip_existing=True)
    n1 = lsh_index_read(spark, path).count()
    # replay the same append: overlap is 100%, nothing may land
    lsh_index_append(extra, path, skip_existing=True)
    # and a batch overlapping both sides appends only the truly-new part
    assert lsh_index_read(spark, path).count() == n1 == emb.count()
    ids = [r["vec_id"] for r in lsh_index_read(spark, path).select("vec_id").collect()]
    assert len(ids) == len(set(ids))


def test_ivf_index_append_skip_existing_is_replay_idempotent(spark, tmp_path):
    from nomba_data_pipeline_spark.catalog import load_table
    from nomba_data_pipeline_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_read,
        ivf_index_write,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    cut = emb.agg(F.expr("percentile(vec_id, 0.8)")).first()[0]
    base, extra = emb.filter(F.col("vec_id") <= cut), emb.filter(F.col("vec_id") > cut)
    path = str(tmp_path / "ivf")
    ivf_index_write(base, path, n_lists=8)
    ivf_index_append(extra, path, skip_existing=True)
    n1 = ivf_index_read(spark, path).count()
    ivf_index_append(emb, path, skip_existing=True)  # full-corpus replay
    assert ivf_index_read(spark, path).count() == n1 == emb.count()


def test_multiprobe_radius1_matches_popcount_definition():
    """The x & (x-1) trick must equal 'signature differs in <= 1 bit'."""
    import numpy as np

    from nomba_data_pipeline_spark.operators.similarity import _any_table_collision

    rng = np.random.RandomState(7)
    buck = rng.randint(0, 256, size=(40, 2)).astype(np.int64)
    qbuck = rng.randint(0, 256, size=(9, 2)).astype(np.int64)
    got = set(zip(*_any_table_collision(buck, qbuck, probe_hamming=1)))
    want = {
        (r, q)
        for r in range(len(buck))
        for q in range(len(qbuck))
        if any(bin(int(buck[r, t] ^ qbuck[q, t])).count("1") <= 1 for t in range(2))
    }
    assert got == want and got  # non-vacuous
    # radius-2 LUT fallback agrees with the bin() definition too
    got2 = set(zip(*_any_table_collision(buck, qbuck, probe_hamming=2)))
    want2 = {
        (r, q)
        for r in range(len(buck))
        for q in range(len(qbuck))
        if any(bin(int(buck[r, t] ^ qbuck[q, t])).count("1") <= 2 for t in range(2))
    }
    assert got == want and got2 == want2 and want < want2


def test_multiprobe_recovers_clustered_recall(spark):
    """On a tight-cluster corpus one exact 8-plane bucket drops ~quarter
    of true neighbors (p^8 with p~0.97); radius-1 multi-probe must
    recover nearly all of them with a single table."""
    from nomba_data_pipeline_spark.operators.similarity import cosine_topk_lsh

    centers = spark.range(64).select(
        F.col("id").alias("cluster"),
        F.array(*[(F.rand(seed=77 + i) - 0.5) for i in range(64)]).alias("center"),
    )
    noise = F.array(*[(F.rand(seed=5000 + i) - 0.5) * 0.1 for i in range(64)])
    synth = (
        spark.range(2000)
        .select(F.col("id").alias("vec_id"), (F.col("id") % 64).alias("cluster"))
        .join(F.broadcast(centers), "cluster")
        .select("vec_id", F.zip_with("center", noise, lambda c, n: c + n).alias("embedding"))
        .cache()
    )
    synth.count()
    try:
        qf = F.col("vec_id") % 100 == 0
        truth = {
            (r.query_id, r.neighbor_id) for r in cosine_topk(synth, qf, k=5).collect()
        }
        def recall(ph):
            got = {
                (r.query_id, r.neighbor_id)
                for r in cosine_topk_lsh(synth, qf, k=5, probe_hamming=ph).collect()
            }
            return len(truth & got) / len(truth)
        r0, r1 = recall(0), recall(1)
        assert r1 >= 0.9, (r0, r1)
        assert r1 >= r0
    finally:
        synth.unpersist()


def test_semantic_dedup_chunked_scoring_invariant(spark):
    """The chunked within-cluster kernel must be chunk-size-independent."""
    from nomba_data_pipeline_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, SF_SMALL, "embeddings")
    a = sorted(
        (r.vec_id, r.cluster, r.keep)
        for r in semantic_dedup(emb, 0.35, cluster_col="label", chunk_rows=3).collect()
    )
    b = sorted(
        (r.vec_id, r.cluster, r.keep)
        for r in semantic_dedup(emb, 0.35, cluster_col="label").collect()
    )
    assert a == b and any(not k for _, _, k in a)


def test_semantic_dedup_kmeans_matches_true_clusters(spark):
    """On a tight-cluster corpus the k-means path must recover (nearly)
    the same drop set as clustering by the ground-truth cluster id —
    the SemDeDup premise that learned clusters localize near-dups."""
    from nomba_data_pipeline_spark.operators.similarity import semantic_dedup

    centers = spark.range(16).select(
        F.col("id").alias("cluster"),
        F.array(*[(F.rand(seed=31 + i) - 0.5) for i in range(64)]).alias("center"),
    )
    noise = F.array(*[(F.rand(seed=900 + i) - 0.5) * 0.05 for i in range(64)])
    synth = (
        spark.range(800)
        .select(F.col("id").alias("vec_id"), (F.col("id") % 16).alias("cluster"))
        .join(F.broadcast(centers), "cluster")
        .select("vec_id", "cluster", F.zip_with("center", noise, lambda c, n: c + n).alias("embedding"))
        .cache()
    )
    synth.count()
    try:
        truth_drops = {
            r.vec_id
            for r in semantic_dedup(synth, 0.95, cluster_col="cluster").collect()
            if not r.keep
        }
        kmeans_drops = {
            r.vec_id
            for r in semantic_dedup(synth, 0.95, n_lists=16).collect()
            if not r.keep
        }
        assert truth_drops, "threshold produced no drops — test is vacuous"
        recall = len(truth_drops & kmeans_drops) / len(truth_drops)
        assert recall >= 0.9, f"drop recall {recall:.2f}"
        # k-means must never invent drops the exact within-cluster pass
        # would not (precision guard, small tolerance for split clusters)
        extra = kmeans_drops - truth_drops
        assert len(extra) <= 0.05 * len(truth_drops) + 1, len(extra)
    finally:
        synth.unpersist()


def _data_files(root):
    """Relative paths of the parquet data files under `root`."""
    import os

    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }


def test_lsh_index_lists_are_flat(spark, tmp_path):
    """The LSH lists directory is flat: the query-time prune filters on
    an array element, which no partition column serves, so the index
    keeps no bucket directories and an append adds at most one file per
    input partition of the delta."""
    import os

    from nomba_data_pipeline_spark.operators.similarity import (
        lsh_index_append,
        lsh_index_write,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "idx")
    lists = os.path.join(path, "lists")
    lsh_index_write(emb, path)
    before = _data_files(lists)
    delta = emb.select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
    lsh_index_append(delta, path)

    assert not [d for d in os.listdir(lists) if os.path.isdir(os.path.join(lists, d))]
    added = _data_files(lists) - before
    assert 1 <= len(added) <= delta.rdd.getNumPartitions(), added


def test_lsh_append_refuses_bucket_partitioned_lists(spark, tmp_path):
    """An index whose lists hold `b0=` directories (the earlier
    bucket-partitioned layout) must not take a flat append: partition
    discovery would ignore every file at the lists root, so the appended
    vectors would vanish from reads. The append refuses, and writes
    nothing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from nomba_data_pipeline_spark.operators.similarity import (
        lsh_index_append,
        lsh_index_write,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    extra = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "idx")
    lsh_index_write(base, path)
    os.makedirs(os.path.join(path, "lists", "b0=1"), exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array([-1], pa.int64()),
            "embedding": pa.array([[1.0] * 64], pa.list_(pa.float64())),
            "buckets": pa.array([[1]], pa.list_(pa.int64())),
        }),
        os.path.join(path, "lists", "b0=1", "part-0.parquet"),
    )
    files = _data_files(path)

    with pytest.raises(ValueError, match="rebuild with lsh_index_write"):
        lsh_index_append(extra, path)
    assert _data_files(path) == files


def test_ivf_indexed_query_prunes_list_partitions(spark, tmp_path):
    """Why the IVF lists stay partitioned by list_id: the probed-list
    `list_id IN (...)` reaches the scan as a partition filter, so
    unprobed lists are never listed or read."""
    from nomba_data_pipeline_spark.operators.similarity import (
        cosine_topk_ivf_indexed,
        ivf_index_centroids,
        ivf_index_read,
        ivf_index_write,
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        emb = load_table(spark, SF_SMALL, "embeddings")
        path = str(tmp_path / "ivf")
        ivf_index_write(emb, path, n_lists=8)
        res = cosine_topk_ivf_indexed(
            ivf_index_read(spark, path), F.col("vec_id") % 50 == 0, k=5,
            n_lists=8, n_probe=2, centroids=ivf_index_centroids(spark, path),
        )
        plan = res._sc._jvm.PythonSQLUtils.explainString(
            res._jdf.queryExecution(), "formatted"
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    part_filters = [
        line for line in plan.splitlines() if line.strip().startswith("PartitionFilters:")
    ]
    assert part_filters and all("list_id" in line for line in part_filters), plan
