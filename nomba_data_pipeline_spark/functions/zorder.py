"""Z-order (Morton) interleaved-bit keys for multi-dimension layout.

Range clustering (``ParquetTable.cluster``) sorts lexicographically:
min/max footer stats become selective for the FIRST sort column, but a
predicate on the second column alone still touches every file. The
Morton key interleaves the bits of two bounded integer codes so that
sorting by the single key places rows close in BOTH dimensions into the
same files — each dimension contributes every other bit, so a range
predicate on either column alone maps to a bounded set of key ranges
and footer stats prune for both (the classic space-filling-curve
layout; ClickHouse exposes the same idea as a multi-column MergeTree
ORDER BY with low-cardinality leading columns — reference
init-clickhouse.sql — and lakehouse formats as OPTIMIZE ZORDER BY).

The interleave is pure integer bit arithmetic, rendered twice from one
generator: as a Spark SQL expression (``shiftleft``/``shiftright`` —
whole-stage-codegen'd, no Python in the hot path) and as DuckDB SQL
(``<<``/``>>``) so the graded row has a bit-for-bit oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interleave_expr(a: str, b: str, bits: int, spark_style: bool) -> str:
    """OR together the shifted bits of `a` (odd positions) and `b`
    (even positions). `a` and `b` must already be integer expressions
    in [0, 2**bits). Every term is fully parenthesized so the rendering
    is precedence-proof in both dialects."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")

    def shr(x: str, n: int) -> str:
        if n == 0:
            return f"({x})"
        return f"shiftright({x}, {n})" if spark_style else f"(({x}) >> {n})"

    def shl(x: str, n: int) -> str:
        if n == 0:
            return f"({x})"
        return f"shiftleft({x}, {n})" if spark_style else f"(({x}) << {n})"

    terms = []
    for i in range(bits):
        terms.append(shl(f"({shr(a, i)} & 1)", 2 * i + 1))
        terms.append(shl(f"({shr(b, i)} & 1)", 2 * i))
    return "(" + " | ".join(terms) + ")"


def zorder_key(a: str, b: str, bits: int = 16) -> Column:
    """Spark Column: Morton-interleave two integer code expressions
    (each already reduced to [0, 2**bits)) into one BIGINT sort key.
    Pure JVM expressions — codegen keeps the rewrite map-side."""
    return F.expr(_interleave_expr(a, b, bits, spark_style=True)).cast("bigint")


def zorder_key_sql(a: str, b: str, bits: int = 16) -> str:
    """DuckDB rendering of :func:`zorder_key` (bit-identical)."""
    return f"CAST({_interleave_expr(a, b, bits, spark_style=False)} AS BIGINT)"


def bounded_code(col: str, lo, hi, bits: int = 16) -> Column:
    """Map a numeric column linearly onto [0, 2**bits) given its
    (lo, hi) bounds — the normalization step before interleaving when
    clustering on raw value ranges. `width_bucket` is a builtin JVM
    expression; callers obtain lo/hi from one tiny agg (or from table
    stats) — NOT from a global sort. Linear scaling is skew-sensitive:
    for heavy-tailed columns pass quantile-derived bounds (e.g.
    approx_percentile 0.001/0.999) so the code space isn't wasted on
    outliers; rows outside [lo, hi] clamp to the edge buckets.
    """
    n = 1 << bits
    return (
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(n - 1),
                (F.expr(f"width_bucket({col}, {lo}, {hi}, {n})") - F.lit(1)).cast(
                    "bigint"
                ),
            ),
        )
    )


def zorder_arrange(df: DataFrame, col_a: str, col_b: str, bits: int,
                   n_files: int | None) -> DataFrame | None:
    """`df` range-partitioned on the Morton key of `col_a` and `col_b`
    and sorted by it within each partition, the key dropped — the shared
    layout of ``ParquetTable.zorder`` and the versioned checkpoint and
    optimize rewrites. One tiny min/max agg gives the bounds (no global
    sort), then one shuffle into `n_files` ranges, or Spark's default
    range partitioning when None. Returns None when either dimension is
    empty or all NULL: there is nothing to order."""
    bounds = df.agg(
        F.min(col_a).alias("alo"),
        F.max(col_a).alias("ahi"),
        F.min(col_b).alias("blo"),
        F.max(col_b).alias("bhi"),
    ).first()
    if bounds is None or bounds["alo"] is None or bounds["blo"] is None:
        return None

    def code(col, lo, hi):
        # width_bucket(x, lo, lo, n) is NULL — a constant column
        # contributes bucket 0 (it carries no ordering information)
        if lo == hi:
            return F.lit(0).cast("bigint")
        return bounded_code(col, lo, hi, bits)

    keyed = (
        df.withColumn("__za", code(col_a, bounds["alo"], bounds["ahi"]))
        .withColumn("__zb", code(col_b, bounds["blo"], bounds["bhi"]))
        .withColumn("__zkey", zorder_key("__za", "__zb", bits))
    )
    rng = (keyed.repartitionByRange(n_files, "__zkey")
           if n_files else keyed.repartitionByRange("__zkey"))
    return rng.sortWithinPartitions("__zkey").drop("__za", "__zb", "__zkey")
