

"""Incremental corpus dedup: persisted MinHash band index vs inline
bands, replay-safe appends, and the no-corpus-shuffle plan pin."""

from nomba_data_pipeline_spark.catalog import load_table
from tests.conftest import SF_SMALL


def test_minhash_index_persisted_equals_inline(spark, tmp_path):
    """The persisted band index must give the SAME dedup verdicts as
    the inline band computation (one-time 100 TB signature pass), and
    index append must be replay-safe via its doc_id anti-join."""
    from pyspark.sql import functions as F

    from nomba_data_pipeline_spark.operators.dedup import (
        dedup_against_bands,
        lsh_bands,
        minhash_index_append,
        minhash_index_read,
        minhash_index_write,
        minhash_signatures,
        shingle_set,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "mhidx")
    minhash_index_write(corpus, path)

    inline = sorted(
        (r.doc_id, r.is_dup)
        for r in dedup_against_bands(
            batch, lsh_bands(minhash_signatures(shingle_set(corpus)))
        ).collect()
    )
    via_index = sorted(
        (r.doc_id, r.is_dup)
        for r in dedup_against_bands(batch, minhash_index_read(spark, path)).collect()
    )
    assert inline == via_index and len(inline) > 0
    assert any(d for _, d in inline), "no dup flagged — vacuous fixture"
    assert any(not d for _, d in inline), "all dup — vacuous fixture"

    # fold the batch in, then replay the fold: second append is a no-op
    n0 = minhash_index_read(spark, path).count()
    minhash_index_append(batch, path)
    n1 = minhash_index_read(spark, path).count()
    assert n1 > n0
    minhash_index_append(batch, path)  # replay
    assert minhash_index_read(spark, path).count() == n1
    # once folded, every batch doc collides with the index (itself)
    again = dedup_against_bands(batch, minhash_index_read(spark, path))
    assert all(r.is_dup for r in again.collect())


def test_dedup_against_bands_corpus_never_shuffles(spark):
    """Scale pin: the corpus band table must reach the collision join
    via broadcast hash join (batch side broadcast) — an Exchange of the
    corpus bands would be a full-corpus shuffle at 100 TB."""
    from pyspark.sql import functions as F

    from nomba_data_pipeline_spark.operators.dedup import (
        dedup_against_bands,
        lsh_bands,
        minhash_signatures,
        shingle_set,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    corpus_bands = lsh_bands(
        minhash_signatures(shingle_set(docs.filter(F.col("doc_id") % 10 != 0)))
    )
    res = dedup_against_bands(docs.filter(F.col("doc_id") % 10 == 0), corpus_bands)
    plan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "formatted"
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_verified_dedup_never_flags_more_than_banded(spark):
    """Verification can only LOWER flag counts (exact Jaccard kills LSH
    false positives, never invents candidates), and every verified flag
    must be a banded flag."""
    from pyspark.sql import functions as F

    from nomba_data_pipeline_spark.operators.dedup import (
        dedup_against_bands,
        dedup_against_bands_verified,
        lsh_bands,
        minhash_signatures,
        shingle_set,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    bands = lsh_bands(minhash_signatures(shingle_set(corpus)))
    banded = {r.doc_id for r in dedup_against_bands(batch, bands).collect() if r.is_dup}
    rows = dedup_against_bands_verified(batch, bands, corpus, threshold=0.0).collect()
    # even at threshold 0, a doc with NO band collision is never a dup —
    # the verified flag set is a subset of the banded one at EVERY
    # threshold (a coalesce-before-compare bug would flag everything)
    verified0 = {r.doc_id for r in rows if r.is_dup}
    assert verified0 <= banded
    rows9 = dedup_against_bands_verified(batch, bands, corpus, threshold=0.9).collect()
    verified9 = {r.doc_id for r in rows9 if r.is_dup}
    assert verified9 <= verified0 <= banded
    # jaccard values sit in [0, 1] and flagged docs carry a real score
    for r in rows:
        assert 0.0 <= r.best_jac <= 1.0


def test_minhash_bands_multiset_equals_distinct_form(spark):
    """minhash_bands skips the shingle-set distinct (min() is
    duplicate-insensitive): the band table must be IDENTICAL to the
    distinct-shingle composition on a corpus that actually contains
    repeated shingles — otherwise the skipped exchange would be a
    semantics change, not an optimization."""
    from pyspark.sql import functions as F

    from nomba_data_pipeline_spark.operators.dedup import (
        SHINGLE_N,
        lsh_bands,
        minhash_bands,
        minhash_signatures,
        shingle_set,
    )

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id",
        # force heavy shingle duplication: every doc's text repeated 3x
        F.concat_ws(" ", "text", "text", "text").alias("text"),
    )
    # the fixture really does duplicate shingles (multiset > set)
    n_multi = shingle_set(docs, distinct=False).count()
    n_set = shingle_set(docs).count()
    assert n_multi > n_set >= 1

    via_set = lsh_bands(minhash_signatures(shingle_set(docs)))
    via_multi = minhash_bands(docs)
    assert via_multi.exceptAll(via_set).count() == 0
    assert via_set.exceptAll(via_multi).count() == 0
    # shingle width respected: short docs produce no bands either way
    short = docs.limit(0)
    assert minhash_bands(short).count() == 0 and SHINGLE_N >= 2


def test_shingle_set_mapside_distinct_equals_global_distinct(spark):
    """shingle_set's set form dedups map-side (array_distinct before the
    explode) — pin that it is exactly the old explode().distinct() set
    on a corpus with forced duplicate shingles, and that the dedup costs
    no shuffle (the optimization IS the removed exchange)."""
    from pyspark.sql import functions as F

    from nomba_data_pipeline_spark.operators.dedup import shingle_set

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id",
        # every doc's text repeated 3x: heavy within-doc duplication
        F.concat_ws(" ", "text", "text", "text").alias("text"),
    )
    new = shingle_set(docs)
    ref = shingle_set(docs, distinct=False).distinct()
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0
    # map-side: no Exchange anywhere in the set form's physical plan
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
