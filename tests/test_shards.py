"""Training-shard assignment: reproducibility under arbitrary input
partitioning, salt independence, and the single-exchange plan shape.
Oracle parity of the graded window form lives in
test_queries_vs_duckdb.py (corpus_shuffle_shards)."""

from pyspark.sql import functions as F

from nomba_data_pipeline_spark.catalog import load_table
from nomba_data_pipeline_spark.operators.shards import shard_assignment
from tests.conftest import SF_SMALL


def _assign(df, n=4):
    return sorted(
        (r.doc_id, r.shard, r.pos) for r in shard_assignment(df, n).collect()
    )


def test_assignment_invariant_to_input_partitioning(spark):
    """Shard and position are content-addressed: any repartitioning of
    the input must produce the identical global shuffle."""
    docs = load_table(spark, SF_SMALL, "documents")
    base = _assign(docs)
    assert base == _assign(docs.repartition(7))
    assert base == _assign(docs.orderBy(F.desc("n_chars")))
    # positions are a 1..k dense sequence per shard
    per_shard = {}
    for _id, shard, pos in base:
        per_shard.setdefault(shard, []).append(pos)
    for shard, ps in per_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_resalting_reshuffles_without_resharding(spark):
    """The order stream is independent of the shard stream: a new salt
    must keep every shard's membership while permuting positions."""
    docs = load_table(spark, SF_SMALL, "documents")
    a = shard_assignment(docs, 4, salt="shard")
    b = shard_assignment(docs, 4, salt="shard:epoch2")
    am = {r.doc_id: (r.shard, r.pos) for r in a.collect()}
    bm = {r.doc_id: (r.shard, r.pos) for r in b.collect()}
    # membership moves with the salt (different buckets) — so compare
    # order permutation under the SAME shard salt, different order salt
    from nomba_data_pipeline_spark.operators import shards as SH

    orig = SH._md5_stream  # permute only the order stream
    try:
        SH._md5_stream = lambda c, s: orig(c, s + ":x") if "order" in s else orig(c, s)
        c = shard_assignment(docs, 4)
        cm = {r.doc_id: (r.shard, r.pos) for r in c.collect()}
    finally:
        SH._md5_stream = orig
    assert {d: s for d, (s, _) in am.items()} == {d: s for d, (s, _) in cm.items()}
    assert any(am[d][1] != cm[d][1] for d in am), "order salt had no effect"
    assert am != bm


def test_assignment_plan_is_single_exchange(spark):
    """One hash-partition shuffle total: the window's partition is the
    write partition; a second exchange would double the 100 TB wire
    cost of the export."""
    docs = load_table(spark, SF_SMALL, "documents")
    plan = (
        shard_assignment(docs, 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
