"""Driver-side parquet metadata: when a path is read with pyarrow on
the driver, and what its footers say.

Three decisions live here and nowhere else:

  * `local_path` — whether a table path is on the driver's local
    filesystem. Only then do metadata reads (footers, 1-row JSON
    sidecars) bypass Spark; every other scheme goes through the
    Hadoop/Spark reader.
  * `read_footer` — per-file row count and exact min/max. Only types
    whose parquet statistics are exact qualify: string bounds may be
    writer-truncated prefixes, so they are never reported.
  * `spark_schema` — the data schema Spark's parquet reader would
    infer for a local read, so `catalog.read_parquet` can hand it over
    and Spark skips its one-task inference job. Spark's own rule
    (`readSchemaFromFooter`) is the row-metadata JSON the Spark writer
    stores in every footer; pyarrow-written files without it qualify
    only when every column is in a closed list of primitive types
    (and lists of them) whose conversion is unambiguous. Anything
    else answers None, and Spark infers as it always did.

Errors reading a footer propagate: a local file pyarrow cannot open is
a damaged table, and retrying it through Spark would fail the same way,
only later.
"""

from __future__ import annotations

import datetime as _dt
import json
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


def _visible_files(local: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(local):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        out += [os.path.join(d, f) for f in files if not _hidden(f)]
    return sorted(out)


def data_files(root: str) -> list[str] | None:
    """The parquet data files Spark's reader lists under table
    directory `root` (sorted), or None when `root` is not a local
    directory. Any path component that Spark skips is skipped here too,
    so a crashed writer's `_temporary/` attempt files never reach a
    footer-derived count or high-water mark."""
    local = local_path(root)
    if local is None or not os.path.isdir(local):
        return None
    return [f for f in _visible_files(local) if f.endswith(".parquet")]


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


# Spark's writer stores the exact row schema under this footer key, and
# its reader takes the schema from it when present (readSchemaFromFooter)
_SPARK_ROW_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def spark_schema(spark, paths) -> StructType | None:
    """The data schema `spark.read.parquet(*paths)` would infer, from
    the footers of the files it would list, or None when Spark must
    infer it itself. Partition columns are not part of it: with a data
    schema given, Spark still discovers and types `k=v` directories
    exactly as before.

    Answers only for local paths (`local_path`) whose visible files are
    all `.parquet` data files, and then only when
      * every footer holds Spark's row-metadata key and the values are
        byte-equal: that JSON, as Spark would read it; or
      * no footer holds it, all Arrow schemas agree, and every column
        is int32/int64, float/double, bool, UTF8 string, date32,
        `timestamp[us]` or a list of these. A UTC-adjusted timestamp
        is TimestampType; a naive one is TimestampNTZType when the
        session's `spark.sql.parquet.inferTimestampNTZ.enabled` holds,
        else TimestampType — the reader's own rule.
    None for anything else: no files, a glob, a summary file, mixed or
    disagreeing footers, a data column that is also a `k=v` directory
    name, INT96 or NANOS timestamps, unannotated binary, any other
    type."""
    from pyspark.sql.types import StructType

    files = []
    for p in paths:
        local = local_path(p)
        if local is None or any(c in p for c in "*?[{\\"):
            return None
        if os.path.isfile(local):
            files.append(local)
        elif os.path.isdir(local):
            # Spark reads the schema from a parquet summary file first
            if any(os.path.exists(os.path.join(local, m))
                   for m in ("_metadata", "_common_metadata")):
                return None
            files += _visible_files(local)
        else:
            return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    import pyarrow.parquet as pq

    mds = [pq.read_metadata(f) for f in files]
    keys = {(md.metadata or {}).get(_SPARK_ROW_KEY) for md in mds}
    if len(keys) != 1:
        return None
    (key,) = keys
    if key is not None:
        schema = StructType.fromJson(json.loads(key))
    else:
        arrow = mds[0].schema.to_arrow_schema()
        if not all(md.schema.to_arrow_schema().equals(arrow) for md in mds[1:]):
            return None
        ntz = spark.conf.get(
            "spark.sql.parquet.inferTimestampNTZ.enabled", "true").lower() == "true"
        schema = _from_parquet(mds[0].schema, arrow, ntz)
        if schema is None:
            return None
    part_keys = {
        c.split("=", 1)[0].lower()
        for f in files for c in f.split(os.sep)[:-1] if "=" in c
    }
    if part_keys & {n.lower() for n in schema.fieldNames()}:
        return None
    return schema


def _leaf_type(col, ntz: bool):
    """Spark's type for one whitelisted parquet leaf column, else None."""
    from pyspark.sql import types as T

    logical = col.logical_type
    kind = logical.type
    if kind == "NONE":
        return {
            "INT32": T.IntegerType(), "INT64": T.LongType(),
            "FLOAT": T.FloatType(), "DOUBLE": T.DoubleType(),
            "BOOLEAN": T.BooleanType(),
        }.get(col.physical_type)
    if kind == "STRING" and col.physical_type == "BYTE_ARRAY":
        return T.StringType()
    if kind == "DATE" and col.physical_type == "INT32":
        return T.DateType()
    if kind == "TIMESTAMP" and col.physical_type == "INT64":
        ts = json.loads(logical.to_json())
        if ts.get("timeUnit") != "microseconds":
            return None
        if ts.get("isAdjustedToUTC") or not ntz:
            return T.TimestampType()
        return T.TimestampNTZType()
    return None


def _from_parquet(pschema, arrow, ntz: bool):
    """Spark's conversion of a flat parquet schema whose top-level
    fields are whitelisted primitives or lists of them, else None. The
    Arrow schema supplies the shape; each leaf's parquet physical and
    logical type decides its Spark type, since Arrow's restored type can
    differ from what the file physically holds."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if len(arrow) != len(pschema):  # a leaf per field, in order
        return None
    fields = []
    for i, f in enumerate(arrow):
        col = pschema.column(i)
        leaf = _leaf_type(col, ntz)
        if leaf is None:
            return None
        if pa.types.is_list(f.type) or pa.types.is_large_list(f.type):
            elem = f.type.value_field
            if col.max_repetition_level != 1 or pa.types.is_nested(elem.type):
                return None
            fields.append(T.StructField(
                f.name, T.ArrayType(leaf, elem.nullable), f.nullable))
        elif col.max_repetition_level == 0 and not pa.types.is_nested(f.type):
            fields.append(T.StructField(f.name, leaf, f.nullable))
        else:
            return None
    return T.StructType(fields)
