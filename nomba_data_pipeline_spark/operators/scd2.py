"""SCD Type 2 merge — dbt `check`-strategy snapshot, Spark-first (O12).

Reference: dbt snapshot config `strategy='check'`,
`check_cols=['state','occupation']`, `unique_key='user_id'`
(reference dbt_project/nomba_dbt/snapshots/users_snapshot.sql:1-18;
behavior documented in reference README.md:97-105). dbt emits
`dbt_valid_from` / `dbt_valid_to` / `dbt_scd_id` / `dbt_updated_at`;
we use the same column names minus the `dbt_` prefix plus `scd_id`.

Semantics (SURVEY §2.9 O12, §7.4 hard-part 1):
  * new key            -> insert one open version (valid_to IS NULL)
  * changed check-col  -> close current version (valid_to = load_ts) and
                          insert a new open version (null-safe compare <=>)
  * unchanged          -> carry untouched
  * key missing from batch -> carry open (dbt does not hard-delete by default)
  * a key appearing multiple times in one batch -> latest by `order_within_batch`
    wins (documented tie policy; dbt's behavior is undefined here)

Pure DataFrame ops: one full-outer-shaped pass expressed as
open-rows LEFT JOIN batch (classification) + batch LEFT ANTI open
(brand-new keys). At scale both sides are hash-partitioned on the key;
no skew expected on a primary key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

VALID_FROM = "valid_from"
VALID_TO = "valid_to"
SCD_ID = "scd_id"
UPDATED_AT = "updated_at_scd"


def _changed_predicate(check_cols: list[str]) -> Column:
    """Null-safe any-column-differs (dbt uses IS DISTINCT FROM; Spark <=>)."""
    pred = F.lit(False)
    for c in check_cols:
        pred = pred | ~F.col(f"cur.{c}").eqNullSafe(F.col(f"new.{c}"))
    return pred


def _stamp(df: DataFrame, key: str, load_ts: Column) -> DataFrame:
    return (
        df.withColumn(VALID_FROM, load_ts)
        .withColumn(VALID_TO, F.lit(None).cast("timestamp"))
        .withColumn(UPDATED_AT, load_ts)
        .withColumn(SCD_ID, F.md5(F.concat_ws("|", F.col(key), F.col(VALID_FROM))))
    )


def scd2_apply(
    open_rows: DataFrame | None,
    batch: DataFrame,
    key: str,
    check_cols: list[str],
    load_ts: Column | None = None,
    order_within_batch: str | None = None,
    hard_delete: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Core SCD2 step against the OPEN rows only.

    Returns (new_open_state, newly_closed_rows, new_key_rows): the last
    is the open versions of brand-new keys, a subset of new_open_state
    from the same deduplicated batch. Closed history never
    participates — which is what lets the runner store it append-only
    and keep the per-run rewrite cost O(open rows), not O(history).

    hard_delete=True mirrors dbt's `invalidate_hard_deletes`: an open
    key absent from the (full-extract) batch gets its version closed
    with no successor. Default False matches the reference's config
    (users_snapshot.sql:1-18 does not set it).
    """
    if load_ts is None:
        # Freeze NOW() on the driver: F.current_timestamp() is fixed
        # per ACTION, and the two returned frames are materialized by
        # separate actions (closed append, then open overwrite) —
        # per-action stamps would leave a [T1, T2) hole between each
        # closed row's valid_to and its successor's valid_from. The
        # session tz is pinned UTC, so a naive-UTC literal lands on the
        # same instant current_timestamp() would have.
        from datetime import datetime, timezone

        load_ts = F.lit(
            datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0)
        ).cast("timestamp")
    ts = load_ts

    if order_within_batch is not None:
        w = Window.partitionBy(key).orderBy(F.col(order_within_batch).desc())
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        batch = batch.dropDuplicates([key])

    if open_rows is None:
        stamped = _stamp(batch, key, ts)
        return stamped, stamped.limit(0), stamped

    attrs = batch.columns  # the business columns tracked by the snapshot
    cur = open_rows.alias("cur")
    # null-safe key equality: with plain '=', a NULL-key batch row never
    # matches its open version, so every run would both carry the old
    # open row AND insert a fresh one — unbounded open-version growth.
    # The __matched marker (constant non-null on the batch side) is the
    # 'key present in batch' signal, valid for NULL keys too.
    new = batch.withColumn("__matched", F.lit(1)).alias("new")
    key_eq = F.col(f"cur.{key}").eqNullSafe(F.col(f"new.{key}"))
    joined = cur.join(new, on=key_eq, how="left")
    changed_pred = _changed_predicate(check_cols) & F.col("new.__matched").isNotNull()

    # current versions of changed keys -> closed with valid_to = ts
    closed_now = (
        joined.filter(changed_pred)
        .select("cur.*")
        .withColumn(VALID_TO, ts)
        .withColumn(UPDATED_AT, ts)
    )
    # unchanged or key-absent-from-batch -> carried untouched (unless
    # hard_delete closes the absentees)
    if hard_delete:
        absent_pred = F.col("new.__matched").isNull()
        carried_open = joined.filter(~changed_pred & ~absent_pred).select("cur.*")
        closed_deleted = (
            joined.filter(absent_pred)
            .select("cur.*")
            .withColumn(VALID_TO, ts)
            .withColumn(UPDATED_AT, ts)
        )
        closed_now = closed_now.unionByName(closed_deleted)
    else:
        carried_open = joined.filter(~changed_pred).select("cur.*")
    # new versions for changed keys
    opened_changed = _stamp(
        joined.filter(changed_pred).select(*[F.col(f"new.{c}") for c in attrs]), key, ts
    )
    # brand-new keys (null-safe anti join so a NULL key is 'existing'
    # once an open NULL-key version exists)
    opened_new = _stamp(
        new.join(cur, on=key_eq, how="left_anti")
        .select(*[F.col(f"new.{c}") for c in attrs]),
        key,
        ts,
    )
    new_open = carried_open.unionByName(opened_changed).unionByName(opened_new)
    return new_open, closed_now, opened_new


def scd2_merge(
    snapshot: DataFrame | None,
    batch: DataFrame,
    key: str,
    check_cols: list[str],
    load_ts: Column | None = None,
    order_within_batch: str | None = None,
) -> DataFrame:
    """Return the new snapshot table state (closed + carried + opened rows)."""
    if snapshot is None:
        open_new, _, _ = scd2_apply(
            None, batch, key, check_cols, load_ts, order_within_batch
        )
        return open_new
    open_rows = snapshot.filter(F.col(VALID_TO).isNull())
    closed_rows = snapshot.filter(F.col(VALID_TO).isNotNull())
    open_new, closed_now, _ = scd2_apply(
        open_rows, batch, key, check_cols, load_ts, order_within_batch
    )
    return closed_rows.unionByName(closed_now).unionByName(open_new)


def current_rows(snapshot: DataFrame) -> DataFrame:
    """P4 current-version filter (reference dim_users.sql:15)."""
    return snapshot.filter(F.col(VALID_TO).isNull())
