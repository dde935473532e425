"""Driver-side parquet metadata: when a path is read with pyarrow on
the driver, and what its footers say.

Two decisions live here and nowhere else:

  * `local_path` — whether a table path is on the driver's local
    filesystem. Only then do metadata reads (footers, 1-row JSON
    sidecars) bypass Spark; every other scheme goes through the
    Hadoop/Spark reader.
  * `read_footer` — per-file row count and exact min/max. Only types
    whose parquet statistics are exact qualify: string bounds may be
    writer-truncated prefixes, so they are never reported.

Errors reading a footer propagate: a local file pyarrow cannot open is
a damaged table, and retrying it through Spark would fail the same way,
only later.
"""

from __future__ import annotations

import datetime as _dt
import os


def local_path(p: str) -> str | None:
    """OS path when `p` is handled on the driver's LOCAL filesystem,
    else None (the caller uses the Hadoop/Spark path). `file:` URIs
    are local by definition; a scheme-qualified anything else (hdfs://,
    s3a://) never is; a scheme-less path counts only when its PARENT
    directory exists locally — on a cluster whose default FS is HDFS
    that probe fails and the Hadoop path is used, so metadata is never
    misrouted to the wrong filesystem."""
    if p.startswith("file:"):
        q = p[len("file:"):]
        while q.startswith("//"):  # file:/// form
            q = q[1:]
        return q
    if "://" in p:
        return None
    return p if os.path.isdir(os.path.dirname(p)) else None


def _hidden(name: str) -> bool:
    # Spark's listing rule (PartitioningAwareFileIndex): `_` and `.`
    # names are metadata or uncommitted residue (`_temporary`,
    # `.tmp-*`), except `_`-prefixed partition directories (`_k=v`)
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(root: str) -> list[str] | None:
    """The parquet data files Spark's reader lists under table
    directory `root` (sorted), or None when `root` is not a local
    directory. Any path component that Spark skips is skipped here too,
    so a crashed writer's `_temporary/` attempt files never reach a
    footer-derived count or high-water mark."""
    local = local_path(root)
    if local is None or not os.path.isdir(local):
        return None
    out = []
    for d, dirs, files in os.walk(local):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        out += [os.path.join(d, f) for f in files
                if f.endswith(".parquet") and not _hidden(f)]
    return sorted(out)


def _exact_stats(col) -> bool:
    typ = col.logical_type.type
    return col.physical_type in ("INT32", "INT64", "FLOAT", "DOUBLE") or typ in (
        "TIMESTAMP", "DATE", "DECIMAL",
    )


def read_footer(path: str, cols=()) -> tuple[int, dict[str, tuple]]:
    """(num_rows, {col: (min, max)}) from one local parquet file's
    footer — no data read. A requested column is left out of the dict
    when the file does not hold it (a partition column, or a column
    added after the file was written), its type has no exact stats, or
    any row group lacks min/max (all-NULL, or an empty file). Timestamp
    bounds come back UTC-naive: pyarrow decodes Spark's instants
    tz-aware, while Spark hands the driver session-naive values pinned
    to UTC (catalog), and `F.lit` compares either."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = md.schema.names
    out = {}
    for c in cols:
        if c not in names:
            continue
        idx = names.index(c)
        if not _exact_stats(md.schema.column(idx)):
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out[c] = (_utc_naive(lo), _utc_naive(hi))
    return md.num_rows, out


def _utc_naive(v):
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v
