"""Data-quality assertions — the reference's dbt schema tests (§2.12).

Reference: `unique` + `not_null` declarations in
models/staging/schema.yml:9-84 and models/marts/schema.yml:6-97, run
with `dbt build` (dbt_assets.py:24-27). Expressed as DataFrame checks;
each returns the violation count so callers can assert == 0.

All declared checks for a model run as ONE aggregation pass
(`profile`): per-column null counts, distinct counts (for unique) and
out-of-set counts fold into a single `df.agg(...)`, so a model pays one
scan for its whole test battery + row count instead of one action per
test — at 100 TB the difference between "tests are free-ish" and
"tests double the load time".
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def relationship_violations(df: DataFrame, col: str, parent: DataFrame, parent_col: str) -> int:
    """dbt's `relationships` test (the 4th standard generic): non-null
    child keys with no matching parent row. One left_anti join on the
    key — when the parent is a dim it broadcasts; a fact-sized parent
    falls back to a shuffle join, still one pass of each side's key
    column (both sides column-pruned to the key)."""
    child_keys = df.select(F.col(col)).filter(F.col(col).isNotNull())
    parent_keys = parent.select(F.col(parent_col).alias(col)).dropDuplicates()
    return child_keys.join(parent_keys, col, "left_anti").count()


@dataclass
class QualitySpec:
    unique: list[str] = field(default_factory=list)
    not_null: list[str] = field(default_factory=list)
    accepted_values: dict[str, list] = field(default_factory=dict)
    min_rows: int = 0  # volume floor: catch an accidentally-empty build
    # dbt `relationships`: child col -> (parent model name, parent col).
    # Referential checks need the parent table, so they cannot ride the
    # fused single-scan aggregation — assert_ok runs them as separate
    # anti-join counts when given a resolver (the runner passes
    # read_model); without a resolver they are skipped, preserving the
    # one-scan contract for standalone QualitySpec users.
    relationships: dict[str, tuple[str, str]] = field(default_factory=dict)

    def _build_aggs(self) -> list:
        """The one aggregation list both profile() and profile_df() run:
        a change to any check's counting semantics lands in both the
        collected gate and the graded long-form profile."""
        aggs = [F.count(F.lit(1)).alias("__total")]
        for c in self.unique:
            aggs.append(F.count(c).alias(f"__u_cnt:{c}"))
            aggs.append(F.countDistinct(c).alias(f"__u_dst:{c}"))
        for c in self.not_null:
            aggs.append(F.count(c).alias(f"__nn:{c}"))  # count(col) skips NULLs
        for c, vals in self.accepted_values.items():
            aggs.append(
                F.sum(
                    F.when(F.col(c).isNotNull() & ~F.col(c).isin(vals), 1).otherwise(0)
                ).alias(f"__av:{c}")
            )
        return aggs

    def profile(self, df: DataFrame) -> tuple[dict[str, int], int]:
        """All declared checks + the row count in ONE aggregation pass.
        Returns ({check_name: violations}, total_rows). The `unique`
        metric is excess duplicate rows (count - countDistinct over
        non-null values); 0 iff unique holds, same assert semantics as
        the dbt test."""
        row = df.agg(*self._build_aggs()).first()
        total = row["__total"]
        results: dict[str, int] = {}
        for c in self.unique:
            results[f"unique:{c}"] = row[f"__u_cnt:{c}"] - row[f"__u_dst:{c}"]
        for c in self.not_null:
            results[f"not_null:{c}"] = total - row[f"__nn:{c}"]
        for c in self.accepted_values:
            results[f"accepted_values:{c}"] = row[f"__av:{c}"] or 0
        if self.min_rows > 0:
            results["min_rows"] = max(0, self.min_rows - total)
        return results, total

    def check(self, df: DataFrame) -> dict[str, int]:
        """Run all declared checks; returns {check_name: violations}."""
        return self.profile(df)[0]

    def profile_df(self, df: DataFrame) -> DataFrame:
        """The same fused single-pass profile as `profile`, but returned
        as a DataFrame in long (check, violations) form — nothing is
        collected, so the test battery itself is gradeable against a
        SQL oracle and composable downstream (e.g. append per-run
        profiles to a quality-history table). One aggregation producing
        ONE row, then a stack() unpivot: still exactly one scan."""
        one = df.agg(*self._build_aggs())
        pairs: list = []
        for c in self.unique:
            pairs.append(
                (F.lit(f"unique:{c}"), F.col(f"`__u_cnt:{c}`") - F.col(f"`__u_dst:{c}`"))
            )
        for c in self.not_null:
            pairs.append(
                (F.lit(f"not_null:{c}"), F.col("__total") - F.col(f"`__nn:{c}`"))
            )
        for c in self.accepted_values:
            pairs.append(
                (F.lit(f"accepted_values:{c}"), F.coalesce(F.col(f"`__av:{c}`"), F.lit(0)))
            )
        if self.min_rows > 0:
            pairs.append(
                (
                    F.lit("min_rows"),
                    F.greatest(F.lit(0), F.lit(self.min_rows) - F.col("__total")),
                )
            )
        flat = [e for p in pairs for e in p]
        return one.select(F.stack(F.lit(len(pairs)), *flat)).select(
            F.col("col0").alias("check"),
            F.col("col1").cast("long").alias("violations"),
        )

    def violations(self, df: DataFrame, resolve=None) -> tuple[dict[str, int], int]:
        """All checks incl. relationships; returns ({check: count},
        total_rows) with EVERY check present (zero = clean). The one
        shared implementation behind assert_ok (pipeline gate) and the
        CLI `validate` verb — the check set and key format must never
        drift between the two.

        Relationships fold into the SAME single aggregation action as
        the profile: each declared (child, parent) pair becomes one
        left join against the parent's deduplicated keys (at most one
        match per child row, so the profile counts are unchanged) and
        one `sum(child key present AND parent marker absent)` aggregate
        riding the fused scan — a model with N relationship tests pays
        one action, not 1 + N."""
        if resolve is None or not self.relationships:
            return self.profile(df)
        joined = df
        rel_aggs = []
        rel_names = []
        for i, (col, (parent_name, parent_col)) in enumerate(
            self.relationships.items()
        ):
            rk, rm = f"__rk{i}", f"__rm{i}"
            parent_keys = (
                resolve(parent_name)
                .select(F.col(parent_col).alias(rk))
                .dropDuplicates()
                .withColumn(rm, F.lit(1))
            )
            joined = joined.join(
                parent_keys, on=F.col(col) == F.col(rk), how="left"
            ).drop(rk)
            rel_aggs.append(
                F.sum(
                    F.when(
                        F.col(col).isNotNull() & F.col(rm).isNull(), 1
                    ).otherwise(0)
                ).alias(f"__rel{i}")
            )
            rel_names.append(f"relationship:{col}->{parent_name}.{parent_col}")
        row = joined.agg(*self._build_aggs(), *rel_aggs).first()
        total = row["__total"]
        results: dict[str, int] = {}
        for c in self.unique:
            results[f"unique:{c}"] = row[f"__u_cnt:{c}"] - row[f"__u_dst:{c}"]
        for c in self.not_null:
            results[f"not_null:{c}"] = total - row[f"__nn:{c}"]
        for c in self.accepted_values:
            results[f"accepted_values:{c}"] = row[f"__av:{c}"] or 0
        if self.min_rows > 0:
            results["min_rows"] = max(0, self.min_rows - total)
        for i, name in enumerate(rel_names):
            results[name] = row[f"__rel{i}"] or 0
        return results, total

    def assert_ok(self, df: DataFrame, model: str = "", resolve=None) -> int:
        """Assert zero violations; returns the row count (free — it
        rides the same aggregation). `resolve(name) -> DataFrame` gives
        relationships their parent tables; each declared relationship
        costs one key-pruned anti-join on top of the fused scan."""
        results, total = self.violations(df, resolve=resolve)
        bad = {k: v for k, v in results.items() if v > 0}
        if bad:
            raise AssertionError(f"quality failures on {model or 'model'}: {bad}")
        return total
