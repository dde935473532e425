"""Data-quality assertions — the reference's dbt schema tests (§2.12).

Reference: `unique` + `not_null` declarations in
models/staging/schema.yml:9-84 and models/marts/schema.yml:6-97, run
with `dbt build` (dbt_assets.py:24-27). Expressed as DataFrame checks;
each returns the violation count so callers can assert == 0.

A model's checks run in one of two forms, and both hand their raw
metrics to ONE decoder (`QualitySpec._decode`), so the check set, the
`{check: count}` keys and the failure message never drift between them:

  * the FULL gate (`violations` / `assert_ok`): one aggregation pass
    over a stored table — per-column null counts, distinct counts (for
    unique), out-of-set counts and relationship orphans fold into a
    single `df.agg(...)`, so a model pays one scan for its whole test
    battery + row count instead of one action per test. First builds
    of `incremental` and `scd2` models, the CLI `validate` verb, views,
    `versioned_incremental` models and every refresh whose stored files
    or declared checks are not the ones an earlier gate certified run
    this.
  * the WRITE gate (`WriteGate`): the same metrics as Observations on
    the rows a write already materializes — no read-back, no extra
    Spark action. A `table` model's overwrite writes every row, so its
    gate is exact with no certificate. A merge's gate is exact only
    against a certified target: rows the merge carries over unchanged
    were counted by the gate that certified them, so only the written
    rows need counting (the runner decides when that holds).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
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
    # Referential checks need the parent table: with a resolver (the
    # runner passes read_model) each becomes a left join to the parent's
    # keys riding the same aggregation or observation; without one they
    # are skipped, so standalone QualitySpec users never need a parent.
    relationships: dict[str, tuple[str, str]] = field(default_factory=dict)

    def _row_aggs(self) -> list:
        """The per-row metrics: row count, non-null counts, out-of-set
        counts. Plain aggregates, so they run inside `observe` too."""
        aggs = [F.count(F.lit(1)).alias("__total")]
        for c in self.not_null:
            aggs.append(F.count(c).alias(f"__nn:{c}"))  # count(col) skips NULLs
        for c, vals in self.accepted_values.items():
            aggs.append(
                F.sum(
                    F.when(F.col(c).isNotNull() & ~F.col(c).isin(vals), 1).otherwise(0)
                ).alias(f"__av:{c}")
            )
        return aggs

    def _build_aggs(self) -> list:
        """The one aggregation list both violations() and profile_df() run:
        a change to any check's counting semantics lands in both the
        collected gate and the graded long-form profile."""
        aggs = self._row_aggs()
        for c in self.unique:
            aggs.append(F.count(c).alias(f"__u_cnt:{c}"))
            aggs.append(F.countDistinct(c).alias(f"__u_dst:{c}"))
        return aggs

    def profile_df(self, df: DataFrame) -> DataFrame:
        """The same fused single-pass profile as `violations` (without
        relationships), but returned as a DataFrame in long (check,
        violations) form — nothing is collected, so the test battery
        itself is gradeable against a SQL oracle and composable
        downstream (e.g. append per-run profiles to a quality-history
        table). One aggregation producing ONE row, then a stack()
        unpivot: still exactly one scan. The `unique` metric is excess
        duplicate rows (count - countDistinct over non-null values); 0
        iff unique holds, same assert semantics as the dbt test."""
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
        """All checks, plus relationships when `resolve` is given;
        returns ({check: count}, total_rows) with EVERY check present
        (zero = clean). The one decoder of the fused aggregate row,
        behind assert_ok (pipeline gate) and the CLI `validate`
        verb — the check set and key format must never drift between
        them.

        Relationships fold into the SAME single aggregation action as
        the profile: each declared (child, parent) pair becomes one
        left join against the parent's deduplicated keys (at most one
        match per child row, so the profile counts are unchanged) and
        one `sum(child key present AND parent marker absent)` aggregate
        riding the fused scan — a model with N relationship tests pays
        one action, not 1 + N."""
        joined, rel_aggs, _ = self._relationship_join(df, resolve)
        row = joined.agg(*self._build_aggs(), *rel_aggs).first()
        return self._decode(row, resolve is not None), row["__total"]

    def _relationship_join(self, df: DataFrame, resolve):
        """(df left-joined to each declared parent's deduplicated keys,
        the orphan-count aggregates, the marker columns to drop). At
        most one parent row matches a child row, so every other metric
        over the joined frame is unchanged."""
        joined = df
        rel_aggs, marks = [], []
        for i, (col, (parent_name, parent_col)) in enumerate(
            self.relationships.items() if resolve is not None else ()
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
            marks.append(rm)
        return joined, rel_aggs, marks

    def _decode(self, row, with_relationships: bool) -> dict[str, int]:
        """{check: violations} from one fused-aggregate row — the ONE
        decoder behind both gate forms."""
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
        for i, (col, (parent, parent_col)) in enumerate(
            self.relationships.items() if with_relationships else ()
        ):
            results[f"relationship:{col}->{parent}.{parent_col}"] = (
                row[f"__rel{i}"] or 0
            )
        return results

    def assert_ok(self, df: DataFrame, model: str = "", resolve=None) -> int:
        """Assert zero violations; returns the row count (free — it
        rides the same aggregation). `resolve(name) -> DataFrame` gives
        relationships their parent tables; each declared relationship
        costs one key-pruned anti-join on top of the fused scan."""
        results, total = self.violations(df, resolve=resolve)
        _raise_failures(results, model)
        return total


def _raise_failures(results: dict[str, int], model: str = "") -> None:
    """The gate's verdict: raise naming every failed check, else pass."""
    bad = {k: v for k, v in results.items() if v > 0}
    if bad:
        raise AssertionError(f"quality failures on {model or 'model'}: {bad}")


class WriteGate:
    """A model's checks as Observations on the write a refresh already
    does. The merge calls the hooks on the frames it writes:

      * `rows(df)`: every row the write materializes — row count,
        not_null, accepted_values and relationship orphans (a left join
        to the parent's deduplicated keys, observed, its marker column
        dropped again before the write);
      * `delta(df)` / `delta_keys(df)`: the delta rows it writes and a
        deduplicated frame of their keys — `count(key)` on each, because
        Spark rejects `countDistinct` inside `observe`. Their difference
        is the table's excess-duplicate count: the anti-join makes the
        carried keys disjoint from the delta's, and the certified target
        held each carried key once. A keep-latest merge writes one row
        per key and calls neither hook: its excess is 0 by construction;
      * `overwrite(df)`: every row of a `table` model's full overwrite,
        `unique` included. Nothing is carried over, so this form needs
        no certificate.

    Each hook wraps a NEW frame that only the write's plan reaches, once
    — an observed node on two branches of one plan would count twice,
    and one reached by an earlier action would report that action.
    `violations(total)` decodes with QualitySpec's own decoder, over
    the stored row count (parquet footers); rows the merge carried over
    count as certified clean."""

    def __init__(self, spec: QualitySpec, model: str, resolve=None):
        self.spec = spec
        self.model = model
        self.resolve = resolve
        self._observed: list[Observation] = []

    def _observe(self, df: DataFrame, aggs: list) -> DataFrame:
        obs = Observation()
        self._observed.append(obs)
        return df.observe(obs, *aggs)

    def rows(self, df: DataFrame, extra=(), drop=()) -> DataFrame:
        joined, rel_aggs, marks = self.spec._relationship_join(df, self.resolve)
        return self._observe(
            joined, self.spec._row_aggs() + [*extra, *rel_aggs]
        ).drop(*marks, *drop)

    def overwrite(self, df: DataFrame) -> DataFrame:
        """`rows(df)` for a write that replaces the whole table, plus
        `unique` counted in the same plan: `count(key)`, and the rows
        numbered 1 within their key (one per distinct non-NULL key). The
        numbering column is dropped again before the write."""
        extra, numbered = [], []
        for i, c in enumerate(self.spec.unique):
            rn = f"__rn{i}"
            df = df.withColumn(
                rn, F.row_number().over(Window.partitionBy(c).orderBy(c))
            )
            extra += [
                F.count(c).alias(f"__u_cnt:{c}"),
                F.count(F.when(F.col(rn) == 1, F.col(c))).alias(f"__u_dst:{c}"),
            ]
            numbered.append(rn)
        return self.rows(df, extra, numbered)

    def delta(self, df: DataFrame) -> DataFrame:
        return self._count_unique(df, "__u_cnt")

    def delta_keys(self, df: DataFrame) -> DataFrame:
        return self._count_unique(df, "__u_dst")

    def _count_unique(self, df: DataFrame, metric: str) -> DataFrame:
        if not self.spec.unique:
            return df
        return self._observe(
            df, [F.count(c).alias(f"{metric}:{c}") for c in self.spec.unique]
        )

    def violations(self, total: int) -> tuple[dict[str, int], int]:
        """({check: count}, total) — `violations`' result over the
        stored table, given that the written rows were observed and the
        rest is certified."""
        seen: dict = defaultdict(int)
        for o in self._observed:
            for k, v in o.get.items():
                seen[k] += v or 0
        row = defaultdict(int, seen)
        row["__total"] = total
        for c in self.spec.not_null:  # nulls written; carried rows hold none
            row[f"__nn:{c}"] = total - (seen["__total"] - seen[f"__nn:{c}"])
        return self.spec._decode(row, self.resolve is not None), total

    def assert_ok(self, total: int) -> int:
        results, total = self.violations(total)
        _raise_failures(results, self.model)
        return total
