"""Deterministic training-shard export — the reproducible global
shuffle a training run reads.

Exporting a corpus for training needs a global shuffle that is
REPRODUCIBLE: which shard a document lands in, and its position inside
the shard, must not depend on input partitioning, cluster size, or
task scheduling — otherwise two exports of the same snapshot feed the
model different batch orders and no run is comparable. Both
coordinates are content-addressed here, same determinism policy as the
mix/split samplers (plans/queries.py q_domain_mix_sample,
q_train_split_assign): shard = md5 bucket of the doc id, intra-shard
order = an INDEPENDENT md5 stream (a second salt), so shard assignment
and shuffle order are uncorrelated, and re-salting reshuffles without
re-sharding.

At 100 TB: `shard_assignment` is one hash-partition exchange plus a
per-shard sort (the window's partition IS the write partition — one
shuffle total, plan-pinned). An exporter writes that frame with
`partitionBy("shard")` after sorting within partitions, so every shard
directory holds its documents already in read order. Shard count sizes
the sort: pick n_shards so a shard fits an executor's sort spill budget
(~shard = corpus/n_shards bytes). The registry row
`corpus_shuffle_shards` grades the assignment against a SQL window.

The reference has no export/shuffle stage at all (its warehouse IS the
endpoint — SURVEY §2); this is part of the LLM-extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _md5_stream(id_col: str, salt: str):
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))


def shard_key_cols(
    n_shards: int, id_col: str = "doc_id", salt: str = "shard"
) -> tuple:
    """(shard, order_key) columns. Shard is an 8-hex-digit md5 bucket
    mod n_shards; order_key is a second, independently salted md5 —
    both pure expressions, so assignment is identical on any engine,
    partitioning or cluster."""
    shard = (
        F.conv(F.substring(_md5_stream(id_col, salt), 1, 8), 16, 10).cast("long")
        % n_shards
    )
    order_key = _md5_stream(id_col, salt + ":order")
    return shard, order_key


def shard_assignment(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """(id, shard, pos): every document's shard and its 1-based position
    in the shard's shuffled read order. ONE exchange (hash on shard) +
    a per-shard sort, graded against a plain SQL window."""
    shard, order_key = shard_key_cols(n_shards, id_col, salt)
    w = Window.partitionBy("shard").orderBy("__ok", id_col)
    return (
        docs.select(id_col, shard.alias("shard"), order_key.alias("__ok"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )
