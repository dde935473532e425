"""Time helpers mirroring the reference's timezone + formatting surface.

Reference sites: `toTimeZone(ts,'Africa/Lagos')` in the dbt staging
models (reference dbt_project/.../stg_savings_plan.sql:17-18,
stg_savings_transaction.sql:18-19); datetime string formatting in
mongo_loader.py:161-175 / postgres_loader.py:173-178; `toStartOfMonth`
partition expr init-clickhouse.sql:40.

Session timezone is pinned UTC (session.py), so naive timestamps are
UTC wall-times and `from_utc_timestamp` performs exactly one shift —
the double-conversion hazard called out in SURVEY §7.4(4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LAGOS_TZ = "Africa/Lagos"


def to_lagos(col: Column | str) -> Column:
    """ClickHouse `toTimeZone(ts, 'Africa/Lagos')` equivalent (F2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_utc_timestamp(c, LAGOS_TZ)


def month_start(col: Column | str) -> Column:
    """ClickHouse `toStartOfMonth` — fact partitioning expr (F4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("month", c).cast("date")


def epoch_seconds(col: Column | str) -> Column:
    """Fractional epoch seconds (microsecond precision) for timestamp
    arithmetic — DuckDB `epoch(ts)` equivalent.

    Spark only allows CAST(.. AS DOUBLE) from the tz-aware TIMESTAMP
    type; parquet `timestamp[us]` without a timezone scans as
    TIMESTAMP_NTZ, where the direct cast is an analysis error
    (DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION). The session timezone is
    pinned UTC (session.py, catalog.py), so the NTZ->TZ cast reinterprets
    the wall time as UTC — numerically identical to what the oracle's
    epoch() computes — and works for both timestamp flavors.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")
