"""Deduplication operators for the documents table.

Scale-extension surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard. No reference analogue —
the reference's only dedup is keep-latest-per-key
(reference base_loader.py:492-531, covered by ParquetTable.merge_upsert_dedup).

Design for 100 TB:
  * Exact dedup: one hash-shuffle on a 32-char fingerprint — the minimum
    possible work; map-side partial aggregation applies.
  * MinHash/LSH: shingle explode -> per-(doc, seed) min-hash -> band
    signatures -> equi-join on (band, band_sig). Candidate generation is
    an equi-join, never an n^2 cross join; band buckets bound skew, and
    the pair set is tiny relative to the corpus.
  * n-gram Jaccard: equi-join on shared shingles with distinct shingle
    sets, so |pairs| is bounded by co-occurrence, not n^2. For web-scale
    corpora you'd pre-filter by MinHash bands first (compose the two).
  * SimHash: explode (token x bit) then two aggregations; all JVM-side
    integer ops, no Python.

Every operator has a DuckDB-SQL twin (suffix ``_sql``) generated from
the same constants, so the driver's oracle executes the *same algorithm*
(identical md5-based hash family, see functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.catalog import read_parquet
from nomba_data_pipeline_spark.functions.hashing import h64, h64_sql
from nomba_data_pipeline_spark.functions.text import (
    fingerprint,
    fingerprint_sql,
    normalized_text_sql,
    tokens,
)

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
SHINGLE_N = 3
SIMHASH_BITS = 60


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by content fingerprint; keeper = min id. One shuffle."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def exact_dedup_groups_sql(table: str = "documents") -> str:
    return f"""
    SELECT {fingerprint_sql('text')} AS fp,
           min(doc_id) AS keeper_id,
           count(*) AS group_size
    FROM {table}
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# shingling (shared by MinHash and Jaccard)
# ---------------------------------------------------------------------------
def shingle_set(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per document (set semantics).

    ``distinct=False`` returns the raw occurrence MULTISET — correct
    whenever the consumer is duplicate-insensitive (e.g. a min()
    aggregation gives byte-identical results over either form).

    The set form dedups MAP-SIDE: distinct-per-(doc_id, shingle) is
    exactly the per-document shingle set, so ``array_distinct`` on the
    per-row shingle array before the explode produces it with ZERO
    shuffle — the old ``explode().distinct()`` form paid a full
    pre-aggregation exchange of (doc_id, shingle) STRING rows, by far
    the widest shuffle of the shingle pipeline (guide §2.4 — remove
    shuffles outright; hash-based array_distinct is linear per row).
    Contract: one input row per document — a caller that feeds
    duplicated doc_id ROWS would get each row's set independently
    (pre-dedup upstream with keep-latest); every corpus in this repo
    has unique doc rows, and the multiset form is row-shape-identical
    either way.
    """
    toked = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    shingle_expr = f"""
        CASE WHEN size(toks) >= {SHINGLE_N}
             THEN transform(sequence(1, size(toks) - {SHINGLE_N - 1}),
                            i -> concat_ws(' ', slice(toks, i, {SHINGLE_N})))
             ELSE array()
        END
    """
    if distinct:
        shingle_expr = f"array_distinct({shingle_expr})"
    return toked.select("doc_id", F.explode(F.expr(shingle_expr)).alias("shingle"))


def shingle_set_sql(table: str = "documents") -> str:
    nt = normalized_text_sql("text")
    return f"""
    SELECT DISTINCT doc_id,
           array_to_string(t[i:i+{SHINGLE_N - 1}], ' ') AS shingle
    FROM (
        SELECT doc_id, t, unnest(range(1, len(t) - {SHINGLE_N - 2})) AS i
        FROM (SELECT doc_id, string_split({nt}, ' ') AS t FROM {table})
        WHERE len(t) >= {SHINGLE_N}
    )
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
# Permutation family over ONE md5 digest, int64-only arithmetic.
# The digest's 32 hex chars carry 128 bits; we slice four independent
# 32-bit lanes (ha..hd) and mix them per permutation with seeded 26-bit
# coefficients: perm_i = A_i*ha + B_i*hb + C_i*hc + D_i*hd. Each product
# < 2^58, the 4-term sum < 2^60 — no overflow in either engine, and the
# coefficient mixes decorrelate the argmins across permutations
# (validated: LSH candidate precision matches the exact-Jaccard pair set
# on the testdata corpus). Profiling drove this design: salted md5 per
# seed cost ~4x the whole rest of the pipeline, and 128-bit modular
# arithmetic (DECIMAL/HUGEINT Carter-Wegman) cost ~2x; lane mixing is
# pure int64 codegen.
import random as _random

_rng = _random.Random(0x5EED)
PERM_COEF = [
    tuple((_rng.getrandbits(26) | 1) for _ in range(4)) for _ in range(NUM_PERM)
]
# 32-bit xor keys scramble each lane BEFORE scaling: without them the
# positive linear combos share ordering across permutations (the same
# shingle tends to minimize every perm -> correlated bands -> candidate
# precision collapses; measured 26x more false candidates).
PERM_XOR = [tuple(_rng.getrandbits(32) for _ in range(4)) for _ in range(NUM_PERM)]
_LANES = [(1, 8), (9, 8), (17, 8), (25, 8)]  # (hex offset, length) per lane


def _perm_expr(seed: int, xor_fn: str = "spark") -> str:
    a, b, c, d = PERM_COEF[seed]
    k1, k2, k3, k4 = PERM_XOR[seed]
    if xor_fn == "spark":
        x = lambda lane, k: f"({lane} ^ {k})"  # noqa: E731
    else:  # duckdb
        x = lambda lane, k: f"xor({lane}, {k})"  # noqa: E731
    return (
        f"{a} * {x('ha', k1)} + {b} * {x('hb', k2)}"
        f" + {c} * {x('hc', k3)} + {d} * {x('hd', k4)}"
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """Wide MinHash signatures: (doc_id, mh0..mh{NUM_PERM-1}).

    Single groupBy with NUM_PERM min-aggregations — one shuffle on
    doc_id, no seed x shingle row blow-up (a seed cross-join would
    multiply the shuffle volume by NUM_PERM; at 100 TB that is the
    difference between 1x and 16x shuffle IO).
    """
    # md5 once per shingle in its own projection; the 4 lane slices read
    # the materialized hex (CollapseProject keeps non-cheap exprs with
    # multiple consumers in their own project — inlining would run md5
    # 4x per row, measured +0.4s on the sf0.1 pair query)
    pre = shingles.select("doc_id", F.md5(F.col("shingle")).alias("__h"))
    lanes = [
        F.conv(F.substring(F.col("__h"), off, ln), 16, 10)
        .cast("long")
        .alias(name)
        for name, (off, ln) in zip(("ha", "hb", "hc", "hd"), _LANES)
    ]
    hashed = pre.select("doc_id", *lanes)
    aggs = [F.min(F.expr(_perm_expr(s))).alias(f"mh{s}") for s in range(NUM_PERM)]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(signatures: DataFrame) -> DataFrame:
    """Band signatures from the wide layout: stack BANDS rows per doc,
    each the comma-join of its ROWS_PER_BAND minhashes (seed order)."""
    band_cols = []
    for b in range(BANDS):
        members = [
            F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)
        ]
        band_cols.append(F.concat_ws(",", *members).alias(f"b{b}"))
    wide = signatures.select("doc_id", *band_cols)
    stack_expr = (
        f"stack({BANDS}, "
        + ", ".join(f"{b}, b{b}" for b in range(BANDS))
        + ") as (band, band_sig)"
    )
    return wide.selectExpr("doc_id", stack_expr)


_PAIR_EXPR = """
    flatten(transform(ds, (x, i) ->
        transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))
"""


def _bucket_pairs(bucketed: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """All (a < b) pairs co-resident in a bucket, via ONE aggregation:
    collect each bucket's (sorted) doc list and expand pairs with an
    array expression. Avoids the self-join that would recompute the
    whole upstream pipeline per side (Spark does not reuse non-exchange
    subplans). Pair fan-out is quadratic in bucket size — inherent to
    bucket pairing however it is executed; buckets are near-dup groups
    and stay small."""
    buckets = (
        bucketed.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    return (
        buckets.select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )


def minhash_bands(docs: DataFrame) -> DataFrame:
    """The corpus's LSH band table: lsh_bands ∘ minhash_signatures over
    the shingle MULTISET. min() is duplicate-insensitive, so the
    signatures (hence bands, hence every downstream pair/collision set)
    are IDENTICAL to the distinct-shingle form — but skipping the set
    dedup removes the (doc_id, shingle-string) pre-aggregation exchange
    entirely (guide §2.4): the groupBy(doc_id) that follows partially
    aggregates map-side, so the only shuffle left carries one
    NUM_PERM-long row per (doc × input partition). Every band-building
    path (pair query, incremental probe, index write/append, streaming
    maintenance) goes through here so the form cannot drift."""
    return lsh_bands(minhash_signatures(shingle_set(docs, distinct=False)))


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-duplicate pairs: any shared LSH band bucket."""
    return _bucket_pairs(minhash_bands(docs), ["band", "band_sig"])


def _minhash_bands_cte(table: str = "documents") -> str:
    """The shared WITH-clause prefix every banded-LSH oracle builds on:
    shingles → 4-lane md5 split → per-doc minhash signatures → stacked
    band rows. ONE copy, so a NUM_PERM/BANDS/lane change cannot drift
    between the pair, incremental, and verified oracles."""
    mins = ",\n               ".join(
        f"min({_perm_expr(seed, 'duckdb')}) AS mh{seed}" for seed in range(NUM_PERM)
    )
    band_rows = []
    for b in range(BANDS):
        members = ", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        band_rows.append(
            f"SELECT doc_id, {b} AS band, concat_ws(',', {members}) AS band_sig FROM mh"
        )
    bands_union = "\n        UNION ALL ".join(band_rows)
    return f"""sh AS ({shingle_set_sql(table)}),
    hashed AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS ha,
               CAST(concat('0x', substr(md5(shingle), 9, 8)) AS BIGINT) AS hb,
               CAST(concat('0x', substr(md5(shingle), 17, 8)) AS BIGINT) AS hc,
               CAST(concat('0x', substr(md5(shingle), 25, 8)) AS BIGINT) AS hd
        FROM sh
    ),
    mh AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
        {bands_union}
    )"""


def minhash_lsh_pairs_sql(table: str = "documents") -> str:
    return f"""
    WITH {_minhash_bands_cte(table)}
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y ON x.band = y.band AND x.band_sig = y.band_sig
    WHERE x.doc_id < y.doc_id
    """



# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard over shingle sets for pairs sharing >= 1 shingle."""
    # sh feeds two aggregations (sizes + per-shingle buckets); Spark does
    # not share common subplans across branches, so checkpoint lazily to
    # compute the normalize+explode+dedup pipeline once per action
    sh = shingle_set(docs).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # pairs per shared shingle via the bucket-pair expansion (one pass
    # over sh instead of a three-way self-join recomputation)
    per_shingle = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    common = (
        per_shingle.select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_sql(table: str = "documents", threshold: float = 0.5) -> str:
    return f"""
    WITH sh AS ({shingle_set_sql(table)}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(c.common AS DOUBLE) / CAST(a.sz + b.sz - c.common AS DOUBLE), 6) AS jaccard
    FROM common c
    JOIN sizes a ON c.doc_a = a.doc_id
    JOIN sizes b ON c.doc_b = b.doc_id
    WHERE round(CAST(c.common AS DOUBLE) / CAST(a.sz + b.sz - c.common AS DOUBLE), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash) fingerprints
# ---------------------------------------------------------------------------
WINNOW_K = 5  # k-gram (token) length
WINNOW_W = 4  # window of consecutive k-gram hashes


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS scheme): hash every k-token gram, slide a w-window over the
    hash sequence, keep each window's minimum — the classic
    rolling-hash fingerprint set, robust to local edits.

    Pure expression pipeline: tokens -> k-gram hash array (transform)
    -> per-window min (nested transform over slices) -> explode
    distinct. Output: (doc_id, fp) fingerprint set.
    """
    toked = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    # explode (index, gram) pairs -> one md5 per gram (linear), then
    # rebuild the ordered hash sequence with array_sort(collect_list(
    # struct(i, h))) — deterministic regardless of shuffle arrival order
    # (plain collect_list after a shuffle is not). Window minima are then
    # a per-row transform over the materialized hs array (computed once).
    grams = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""
                CASE WHEN size(toks) >= {WINNOW_K}
                     THEN transform(sequence(1, size(toks) - {WINNOW_K - 1}),
                                    j -> struct(j AS i,
                                                concat_ws(' ', slice(toks, j, {WINNOW_K})) AS g))
                     ELSE array()
                END
                """
            )
        ).alias("ig"),
    ).select("doc_id", F.col("ig.i").alias("i"), h64(F.col("ig.g")).alias("h"))
    seqs = grams.groupBy("doc_id").agg(
        F.expr("transform(array_sort(collect_list(struct(i, h))), x -> x.h)").alias("hs")
    )
    fps = F.expr(
        f"""
        CASE WHEN size(hs) >= {WINNOW_W}
             THEN array_distinct(transform(sequence(1, size(hs) - {WINNOW_W - 1}),
                                           i -> array_min(slice(hs, i, {WINNOW_W}))))
             ELSE array(array_min(hs))
        END
        """
    )
    # no trailing .distinct(): doc_id is unique after the groupBy and
    # fps is already per-row distinct (array_distinct in the >=W branch,
    # single-element in the else branch) — the global dedup was a
    # provable no-op costing one full exchange (guide §2.4)
    return seqs.select("doc_id", F.explode(fps).alias("fp"))


def winnow_fingerprints_sql(table: str = "documents") -> str:
    """DuckDB twin: same k-grams, same ordered hash sequence
    (list(... ORDER BY i) is explicit there), same window minima."""
    nt = normalized_text_sql("text")
    gram_hash = h64_sql("gram")
    return f"""
    WITH toked AS (SELECT doc_id, string_split({nt}, ' ') AS t FROM {table}),
    grams AS (
        SELECT doc_id, i,
               array_to_string(list_slice(t, i, i + {WINNOW_K - 1}), ' ') AS gram
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - {WINNOW_K - 2})) AS i
              FROM toked WHERE len(t) >= {WINNOW_K})
    ),
    seqs AS (
        SELECT doc_id, list({gram_hash} ORDER BY i) AS hs FROM grams GROUP BY doc_id
    )
    SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(hs) >= {WINNOW_W}
             THEN list_distinct(list_transform(range(1, len(hs) - {WINNOW_W - 2}),
                                i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1}))))
             ELSE [list_min(hs)]
        END) AS fp
    FROM seqs
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document (token multiplicity preserved).

    Wide single-pass form: one token explode, one groupBy(doc_id) with
    SIMHASH_BITS signed-bit-count aggregations, then a pure projection
    reassembles the bits. No (token x bit) row blow-up — the shuffle
    carries |tokens| rows, not |tokens| * 60.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")).select(
        "doc_id", F.explode("toks").alias("token")
    )
    hashed = toks.select("doc_id", h64(F.col("token")).alias("h"))
    # packed bit counters: 3 lanes x 21 bits per 64-bit sum -> 20
    # aggregates instead of 60 (measured ~2x on the agg stage; the
    # aggregation buffer drops from 60 to 21 longs per group). Lane
    # arithmetic is exact for docs up to 2^21 (~2M) tokens — far past
    # any sane document; chunk larger blobs upstream. Bit rule is
    # unchanged: bit j set iff set-count > n/2 (strict; ties -> 0),
    # i.e. 2*cnt_j > n, identical to the oracle's sum(+1/-1) > 0.
    lane_bits, lanes = 21, 3
    packed_aggs = []
    groups = list(range(0, SIMHASH_BITS, lanes))
    for g in groups:
        parts = [
            f"(((h >> {j}) & 1) << {pos * lane_bits})"
            for pos, j in enumerate(range(g, min(g + lanes, SIMHASH_BITS)))
        ]
        packed_aggs.append(F.sum(F.expr(" + ".join(parts))).alias(f"p{g}"))
    per_doc = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *packed_aggs
    )
    # branch-free reassembly in ONE parsed expression: bit j = sign bit
    # of (n - 2*cnt_j), i.e. 1 iff set-count > n/2 (ties -> 0, matching
    # the oracle). A 60-term when()-chain built as nested Column ops
    # cost ~1s of driver-side analysis per invocation — the arithmetic
    # form parses once and keeps the tree flat.
    mask = (1 << lane_bits) - 1
    terms = [
        f"((((n - 2 * ((p{g} >> {pos * lane_bits}) & {mask})) >> 63) & 1) << {j})"
        for g in groups
        for pos, j in enumerate(range(g, min(g + lanes, SIMHASH_BITS)))
    ]
    return per_doc.select(
        "doc_id", F.expr(" + ".join(terms)).cast("long").alias("simhash")
    )


SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15


def simhash_near_dup(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash near-duplicate pairs: (doc_a, doc_b, hamming) with
    hamming <= max_hamming, candidates generated by 15-bit band-equality
    LSH over the 60-bit signature.

    Recall note: band equality GUARANTEES recall only for hamming <=
    SIMHASH_BANDS - 1 (pigeonhole); above that this is a candidate
    filter, the standard production trade (full recall would need the
    n^2 scan this avoids). The DuckDB oracle runs the identical banding,
    so results match exactly.
    """
    # signatures ride along through the band buckets, so pair expansion
    # yields (id, sig) pairs directly — no join back to the signature
    # table (which would recompute or reshuffle it twice)
    sh = simhash(docs)
    banded = sh.select(
        F.struct("doc_id", "simhash").alias("ds_elem"),
        F.explode(
            F.expr(
                f"""
                transform(sequence(0, {SIMHASH_BANDS - 1}),
                          b -> struct(b AS band,
                                      (shiftright(simhash, b * {SIMHASH_BAND_BITS})
                                       & {(1 << SIMHASH_BAND_BITS) - 1}) AS band_val))
                """
            )
        ).alias("bv"),
    ).select("ds_elem", F.col("bv.band").alias("band"), F.col("bv.band_val").alias("band_val"))
    buckets = (
        banded.groupBy("band", "band_val")
        .agg(F.array_sort(F.collect_set("ds_elem")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = buckets.select(F.explode(F.expr(_PAIR_EXPR)).alias("p")).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.bit_count(F.expr("p.a.simhash ^ p.b.simhash")).alias("hamming"),
    )
    return (
        pairs.filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_near_dup_sql(table: str = "documents", max_hamming: int = 8) -> str:
    band_rows = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band,"
        f" (simhash >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1} AS band_val"
        " FROM sh"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
    WITH sh AS ({simhash_sql(table)}),
    banded AS (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIT)) AS INT) AS hamming
    FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id
    WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIT)) <= {max_hamming}
    """


def simhash_sql(table: str = "documents") -> str:
    nt = normalized_text_sql("text")
    th = h64_sql("token")
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({nt}, ' ')) AS token FROM {table}
    ),
    hashed AS (SELECT doc_id, {th} AS h FROM toks),
    per_doc AS (
        SELECT doc_id,
               {bit_sums}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {assemble} AS simhash FROM per_doc
    """


# ---------------------------------------------------------------------------
# incremental dedup against an indexed corpus
# ---------------------------------------------------------------------------
def dedup_against_bands(new_docs: DataFrame, corpus_bands: DataFrame) -> DataFrame:
    """Flag each NEW doc that collides with the indexed corpus in any
    LSH band bucket: (doc_id, is_dup). This is the daily-crawl shape —
    dedup an incoming batch against 100 TB of already-ingested text
    WITHOUT self-joining the corpus:

      * the batch's bands are broadcast, so the corpus band table only
        STREAMS through a broadcast hash join — zero corpus shuffle,
        zero corpus signature recompute (it is persisted, see
        minhash_index_write);
      * the match output is at most |batch| x BANDS rows, re-broadcast
        for the final flag join — the corpus never appears after the
        semi pass.

    Same banded-candidate semantics as minhash_lsh_pairs (a collision
    is a candidate near-dup; precision is the LSH band trade, tighten
    with more rows per band or verify survivors with
    ngram_jaccard_pairs on the collided subset).
    """
    batch_bands = minhash_bands(new_docs)
    matched = (
        corpus_bands.join(
            F.broadcast(batch_bands.withColumnRenamed("doc_id", "new_doc_id")),
            ["band", "band_sig"],
        )
        .select("new_doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        new_docs.select("doc_id")
        .distinct()
        .join(
            F.broadcast(matched), new_docs["doc_id"] == matched["new_doc_id"], "left"
        )
        .select("doc_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )


def dedup_against_corpus_sql(table: str = "documents", batch_mod: int = 10) -> str:
    """DuckDB oracle: batch = doc_id % batch_mod == 0, corpus = the
    rest; a batch doc is a dup iff it shares an LSH band bucket with
    any corpus doc. Shares _minhash_bands_cte with every banded oracle
    so both engines run the same hash family."""
    return f"""
    WITH {_minhash_bands_cte(table)}
    SELECT d.doc_id,
           EXISTS (
               SELECT 1
               FROM bands x
               JOIN bands y ON y.band = x.band AND y.band_sig = x.band_sig
               WHERE x.doc_id = d.doc_id AND y.doc_id % {batch_mod} <> 0
           ) AS is_dup
    -- batch docs come from the TABLE, not from bands: a doc shorter
    -- than the shingle width has no band rows but the operator still
    -- reports it (is_dup = false)
    FROM (SELECT DISTINCT doc_id FROM {table} WHERE doc_id % {batch_mod} = 0) d
    """

def minhash_index_write(docs: DataFrame, path: str) -> None:
    """Persist the corpus's LSH band table partitioned by band — the
    one-time signature pass a 100 TB corpus must never repeat. Each
    partition dir holds co-located band_sig rows (repartition avoids
    the tasks x dirs small-file bomb, same as the ANN index writers)."""
    bands = minhash_bands(docs)
    bands.repartition("band").write.mode("overwrite").partitionBy("band").parquet(path)


def minhash_index_append(docs: DataFrame, path: str) -> None:
    """Append new docs' bands, replay-safe: the docs already indexed are
    anti-joined out on doc_id BEFORE signing, so the signature pass runs
    over the delta only."""
    _append_bands(minhash_bands(_not_indexed(docs, path)), path)


def _not_indexed(df: DataFrame, path: str) -> DataFrame:
    """`df` minus the doc_ids the band index at `path` already holds —
    one column-pruned doc_id scan, because a raw parquet append is not
    replay-idempotent."""
    existing = read_parquet(df.sparkSession, path).select("doc_id").distinct()
    return df.join(existing, "doc_id", "left_anti")


def _append_bands(bands: DataFrame, path: str) -> None:
    """The partitioned append of band rows. minhash_index_append and the
    streaming corpus dedup (its cached batch bands, through
    `_not_indexed`) both write here."""
    bands.repartition("band").write.mode("append").partitionBy("band").parquet(path)


def minhash_index_read(spark, path: str) -> DataFrame:
    return read_parquet(spark, path).select(
        "doc_id", F.col("band").cast("int").alias("band"), "band_sig"
    )


def dedup_against_bands_verified(
    new_docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """dedup_against_bands + an exact verification stage: every band
    collision is re-scored with the TRUE n-gram Jaccard, so precision
    is exact (no LSH false positives survive) while the quadratic work
    stays bounded by |collisions|, never |batch| x |corpus|:

      * candidate (batch, corpus) doc pairs come from the broadcast
        band join — the corpus still only streams;
      * corpus shingles are recomputed ONLY for docs that appear in a
        candidate pair (semi-join pushdown before the shingle explode),
        so verification text IO is proportional to the collision set;
      * Jaccard = |A∩B| / (|A|+|B|-|A∩B|) via a shared-shingle count
        join — the ngram_jaccard_pairs shape restricted to candidates.

    Returns (doc_id, is_dup, best_jac): is_dup ⇔ some candidate pair
    verifies at >= threshold; best_jac is the max verified Jaccard
    (0.0 when the batch doc had no collisions at all). Recall is still
    the LSH band trade — verification can only LOWER flag counts.
    """
    batch_bands = minhash_bands(new_docs)
    cand = (
        corpus_bands.join(
            F.broadcast(batch_bands.withColumnRenamed("doc_id", "new_doc_id")),
            ["band", "band_sig"],
        )
        .select(F.col("new_doc_id"), F.col("doc_id").alias("corpus_doc_id"))
        .distinct()
    )
    b_sh = shingle_set(new_docs.join(
        cand.select("new_doc_id").distinct(),
        new_docs["doc_id"] == F.col("new_doc_id"),
        "left_semi",
    ))
    c_sh = shingle_set(corpus_docs.join(
        cand.select("corpus_doc_id").distinct(),
        corpus_docs["doc_id"] == F.col("corpus_doc_id"),
        "left_semi",
    ))
    b_sizes = b_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    c_sizes = c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        b_sh.withColumnRenamed("doc_id", "new_doc_id")
        .join(c_sh.withColumnRenamed("doc_id", "corpus_doc_id"), "shingle")
        .join(F.broadcast(cand), ["new_doc_id", "corpus_doc_id"], "left_semi")
        .groupBy("new_doc_id", "corpus_doc_id")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    scored = (
        cand.join(inter, ["new_doc_id", "corpus_doc_id"], "left")
        .join(b_sizes.withColumnRenamed("doc_id", "new_doc_id"), "new_doc_id")
        .join(c_sizes.withColumnRenamed("doc_id", "corpus_doc_id"), "corpus_doc_id")
        .select(
            "new_doc_id",
            F.round(
                F.coalesce(F.col("ninter"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("ninter"), F.lit(0))),
                6,
            ).alias("jac"),
        )
        .groupBy("new_doc_id")
        .agg(F.max("jac").alias("best_jac"))
    )
    return (
        new_docs.select("doc_id")
        .distinct()
        .join(
            F.broadcast(scored),
            new_docs["doc_id"] == scored["new_doc_id"],
            "left",
        )
        .select(
            "doc_id",
            # a doc with NO collisions is never a dup, regardless of how
            # low the threshold is — coalescing before the compare would
            # flag every collision-free doc at threshold <= 0
            (
                F.col("best_jac").isNotNull() & (F.col("best_jac") >= threshold)
            ).alias("is_dup"),
            F.coalesce("best_jac", F.lit(0.0)).alias("best_jac"),
        )
    )


def dedup_against_corpus_verified_sql(
    table: str = "documents", batch_mod: int = 10, threshold: float = 0.5
) -> str:
    """DuckDB oracle for the verified variant: candidates from the band
    join, exact n-gram Jaccard per candidate pair, max per batch doc."""
    return f"""
    WITH {_minhash_bands_cte(table)},
    cand AS (
        SELECT DISTINCT x.doc_id AS new_doc_id, y.doc_id AS corpus_doc_id
        FROM bands x JOIN bands y
          ON y.band = x.band AND y.band_sig = x.band_sig
        WHERE x.doc_id % {batch_mod} = 0 AND y.doc_id % {batch_mod} <> 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.new_doc_id, c.corpus_doc_id, count(*) AS ninter
        FROM cand c
        JOIN sh a ON a.doc_id = c.new_doc_id
        JOIN sh b ON b.doc_id = c.corpus_doc_id AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.new_doc_id,
               max(round(COALESCE(i.ninter, 0)::DOUBLE
                   / (sa.n + sb.n - COALESCE(i.ninter, 0)), 6)) AS best_jac
        FROM cand c
        LEFT JOIN inter i
          ON i.new_doc_id = c.new_doc_id AND i.corpus_doc_id = c.corpus_doc_id
        JOIN sizes sa ON sa.doc_id = c.new_doc_id
        JOIN sizes sb ON sb.doc_id = c.corpus_doc_id
        GROUP BY 1
    )
    SELECT d.doc_id,
           s.best_jac IS NOT NULL AND s.best_jac >= {threshold} AS is_dup,
           COALESCE(s.best_jac, 0.0) AS best_jac
    FROM (SELECT DISTINCT doc_id FROM {table} WHERE doc_id % {batch_mod} = 0) d
    LEFT JOIN scored s ON s.new_doc_id = d.doc_id
    """


def streaming_corpus_dedup_sql(table: str = "documents", batch_mod: int = 10) -> str:
    """DuckDB oracle for the STREAMING corpus-dedup ledger
    (streaming/microbatch.py corpus_dedup_apply_batch) under ascending
    doc_id arrival: a batch doc is a dup iff it band-collides with the
    standing corpus OR with an earlier-arriving (lower doc_id) batch
    doc. `y % m <> 0 OR y < x` folds both cases: corpus docs block
    regardless of id, batch docs block only the docs after them.
    Non-transitive by design — every batch doc enters the index, so
    this stays a plain EXISTS instead of a recursive greedy set."""
    return f"""
    WITH {_minhash_bands_cte(table)}
    SELECT d.doc_id,
           EXISTS (
               SELECT 1 FROM bands x
               JOIN bands y ON y.band = x.band AND y.band_sig = x.band_sig
               WHERE x.doc_id = d.doc_id
                 AND (y.doc_id % {batch_mod} <> 0 OR y.doc_id < x.doc_id)
           ) AS is_dup
    FROM (SELECT DISTINCT doc_id FROM {table} WHERE doc_id % {batch_mod} = 0) d
    """


# ---------------------------------------------------------------------------
# C4-style boilerplate span removal
# ---------------------------------------------------------------------------
# C4's corpus cleaner removed any three-sentence span that occurred more
# than once across the whole corpus. The fixture's documents carry no
# sentence punctuation, so the span unit here is a fixed non-overlapping
# token window (CHUNK words) — the algorithm is identical: chunk, count
# corpus-wide document frequency per chunk, drop every instance of a
# chunk seen in >= min_df distinct documents, and reassemble what's left
# in original order.
#
# 100 TB shape: chunking is map-only codegen (tokenize once, slice);
# the doc-frequency pass is one hash shuffle on chunk_text with
# map-side partial aggregation; the removal join is a broadcast-able
# equi-join in practice (boilerplate chunks are the df>=2 tail — tiny
# relative to the corpus) but is written as a plain left join so the
# planner can pick broadcast vs shuffle by size (AQE). Reassembly is
# one more shuffle on doc_id. No Python, no explode of raw text twice.
BOILER_CHUNK = 8
BOILER_MIN_DF = 2


def boilerplate_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = BOILER_CHUNK,
    min_df: int = BOILER_MIN_DF,
) -> DataFrame:
    """Per-document result of corpus-wide boilerplate span removal:
    (doc_id, n_chunks, n_kept, kept_tokens, kept_digest). kept_digest
    is md5 of the surviving chunks re-joined in original order, so the
    oracle checks the reconstructed text byte-for-byte without
    shipping it."""
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(tokens(text_col), lambda t: t != "").alias("toks"),
    ).withColumn("n", F.size("toks"))
    chunks = toked.filter(F.col("n") > 0).select(
        "doc_id",
        F.posexplode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(chunk))
        ).alias("chunk_id", "s"),
        F.col("toks"),
        F.col("n"),
    ).select(
        "doc_id",
        "chunk_id",
        F.array_join(F.slice("toks", F.col("s") + 1, F.lit(chunk)), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(chunk), F.col("n") - F.col("s")).cast("long").alias("c_toks"),
    )
    boiler = (
        chunks.groupBy("chunk_text")
        .agg(F.countDistinct("doc_id").alias("dfreq"))
        .filter(F.col("dfreq") >= min_df)
        .select("chunk_text", F.lit(True).alias("is_boiler"))
    )
    flagged = chunks.join(boiler, "chunk_text", "left").select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        "c_toks",
        F.coalesce(F.col("is_boiler"), F.lit(False)).alias("is_boiler"),
    )
    kept_structs = F.array_sort(
        F.collect_list(
            F.when(~F.col("is_boiler"), F.struct("chunk_id", "chunk_text"))
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(~F.col("is_boiler"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~F.col("is_boiler"), F.col("c_toks")).otherwise(0)).alias(
            "kept_tokens"
        ),
        F.md5(
            F.array_join(
                F.transform(kept_structs, lambda s: s.getField("chunk_text")), " "
            )
        ).alias("kept_digest"),
    )


def boilerplate_removal_sql(
    table: str = "documents", chunk: int = BOILER_CHUNK, min_df: int = BOILER_MIN_DF
) -> str:
    nt = normalized_text_sql("text")
    return f"""
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split({nt}, ' '), t -> t <> '') AS toks
        FROM {table}
    ),
    sized AS (SELECT doc_id, toks, len(toks) AS n FROM toked WHERE len(toks) > 0),
    chunks AS (
        SELECT doc_id,
               CAST(u.s // {chunk} AS INT) AS chunk_id,
               array_to_string(toks[u.s + 1 : u.s + {chunk}], ' ') AS chunk_text,
               CAST(least({chunk}, n - u.s) AS BIGINT) AS c_toks
        FROM sized, LATERAL unnest(generate_series(0, n - 1, {chunk})) AS u(s)
    ),
    boiler AS (
        SELECT chunk_text FROM chunks
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= {min_df}
    ),
    flagged AS (
        SELECT c.*, b.chunk_text IS NOT NULL AS is_boiler
        FROM chunks c LEFT JOIN boiler b USING (chunk_text)
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN NOT is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN NOT is_boiler THEN c_toks ELSE 0 END) AS BIGINT)
               AS kept_tokens,
           md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN chunk_text END,
                                   ' ' ORDER BY chunk_id), '')) AS kept_digest
    FROM flagged GROUP BY 1
    """


# ---------------------------------------------------------------------------
# source-precedence dedup (RefinedWeb / multi-source corpus merge)
# ---------------------------------------------------------------------------
def precedence_dedup(
    docs: DataFrame,
    priority_col: str = "prio",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplicate resolution: same content appearing in
    several sources keeps the copy from the highest-priority source
    (lowest `priority_col`), tie-broken by lowest id — the merge rule
    corpus builders apply when combining curated + crawled collections.

    Plan (r16): one fingerprint projection, then ONE fp-keyed exchange
    serving all three statistics as windows over the same partition —
    row_number picks the winner, count(*) is n_copies, and
    size(collect_set(source)) is n_sources (countDistinct cannot ride a
    window; the set is bounded by |sources| per fingerprint, a handful).
    The previous winners-join-groups form evaluated the whole
    scan+fingerprint subtree once PER BRANCH (the docstring's claimed
    exchange reuse never fired — per-branch column pruning makes the
    subtrees differ) and then paid a third sort for the fp join: 6
    document scans and six md5 passes where one suffices. Window
    ordering (prio, id) is a total order (ids unique), so the winner is
    deterministic on both engines."""
    from pyspark.sql import Window

    withfp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.col(priority_col).alias("prio"),
        fingerprint(text_col).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("prio", "doc_id")
    wp = Window.partitionBy("fp")
    return (
        withfp.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wp))
        .withColumn(
            "n_sources", F.size(F.collect_set("source").over(wp)).cast("long")
        )
        .filter((F.col("rn") == 1) & (F.col("n_copies") > 1))
        .select(
            "fp",
            F.col("doc_id").alias("keeper_id"),
            F.col("source").alias("keeper_source"),
            F.col("prio").alias("keeper_prio"),
            "n_copies",
            "n_sources",
        )
    )


def precedence_dedup_sql(union_cte: str) -> str:
    """Oracle twin over a CTE named `u(doc_id, source, prio, text_fp)`
    supplied by the caller (the fingerprint is applied upstream so the
    caller controls normalization)."""
    return f"""
    WITH {union_cte},
    ranked AS (
        SELECT u.*, row_number() OVER (
                   PARTITION BY text_fp ORDER BY prio, doc_id) AS rn,
               count(*) OVER (PARTITION BY text_fp) AS n_copies
        FROM u
    ),
    srcs AS (
        SELECT text_fp, count(DISTINCT source) AS n_sources
        FROM u GROUP BY 1
    )
    SELECT r.text_fp AS fp,
           r.doc_id AS keeper_id,
           r.source AS keeper_source,
           r.prio AS keeper_prio,
           CAST(r.n_copies AS BIGINT) AS n_copies,
           CAST(s.n_sources AS BIGINT) AS n_sources
    FROM ranked r JOIN srcs s USING (text_fp)
    WHERE r.rn = 1 AND r.n_copies > 1
    """


# ---------------------------------------------------------------------------
# shingle containment (asymmetric near-dup: excerpts and quotations)
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.6


def containment_pairs(docs: DataFrame, threshold: float = CONTAINMENT_THRESHOLD) -> DataFrame:
    """Asymmetric containment dedup: |A ∩ B| / min(|A|, |B|) over
    distinct shingle sets — the measure that catches a short document
    QUOTED inside a long one, which symmetric Jaccard dilutes below
    any usable threshold (a 40-shingle excerpt of a 4000-shingle page
    has Jaccard ≤ 0.01 but containment 1.0). Same co-occurrence-
    bounded equi-join shape as ngram_jaccard_pairs — pairs exist only
    where shingles are shared, never n². The threshold compares an
    exact-integer ratio (one IEEE double divide), so the cut is
    engine-identical; the reported score is rounded to 6 dp."""
    # sh feeds THREE branches (sizes + both join sides); checkpoint
    # lazily so tokenize+shingle runs once per action, not per branch
    # (the ngram_jaccard_pairs pattern)
    sh = shingle_set(docs).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # sizes is |docs|-cardinality: no broadcast hint — AQE broadcasts
    # it when it fits and falls back to a shuffle join at corpus scale
    # (same pattern as ngram_jaccard_pairs above)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    scored = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.least("n_a", "n_b"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return scored.select(
        "doc_a", "doc_b", "n_inter", F.round("containment", 6).alias("containment")
    )


def containment_pairs_sql(
    table: str = "documents", threshold: float = CONTAINMENT_THRESHOLD
) -> str:
    return f"""
    WITH sh AS ({shingle_set_sql(table)}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter,
           round(CAST(n_inter AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / least(sa.n, sb.n) >= {threshold}
    """
