"""Composed Mongo-collection extraction (S1) — the reference's single
most-used ingestion path, re-expressed as one declarative Spark plan.

Reference behavior being mirrored (cited into /root/reference,
dagster_code/clickhouse_load_tool/mongo_loader.py):

* extract_data (:202-317): build query = query_filter + {tracking:
  {"$gte": last_value}}, projection to limit fields, cursor sorted by
  tracking — then per-doc `_process_mongo_document`.
* _process_mongo_document (:118-146): delete field paths, ObjectId/
  datetime -> string, optional one-level flatten, json_util round-trip
  with "$" stripped from keys (kills $oid/$date wrappers).

Spark mapping, in the same order the reference applies them server-side
then per-document:

  stage read (schema-inferred)          <- collection.find()
  .filter(tracking >= last_value)       <- {"$gte": last_value}   (P3)
  .filter(query_filter)                 <- query_filter
  .select(projection)                   <- projection             (P6)
  drop_field_paths(fields_to_delete)    <- _delete_fields_from_doc (P7)
  flatten_structs()                     <- _flatten_document      (P8)
  strip "$" from column names           <- json_str.replace("$","") (P10)

Everything is a column expression, so Catalyst pushes the tracking and
query filters into the stage scan and prunes unprojected columns — the
distributed equivalent of Mongo evaluating the find() server-side. The
cursor's sort-by-tracking is deliberately NOT reproduced: row order
before a shuffle is meaningless in Spark, and the downstream merge
(merge_upsert*) is order-insensitive. No driver-side batching: the
reference streams documents through the driver process (its scale
ceiling); here the stage is read partition-parallel.

The live-connection half of the reference (pymongo cursor -> stage
file) is out of scope in this environment (no Mongo server/driver); the
seam is the staged JSON itself, which is what the reference uploads to
S3 before the warehouse load. `stage_mongo_dump` below produces stage
files with Mongo-extended-JSON shape ($oid wrappers) for tests and the
graded registry row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nomba_data_pipeline_spark.functions.nested import drop_field_paths, flatten_structs
from nomba_data_pipeline_spark.sources.inference import _quote, infer_stage_schema

# micro-precision; Spark's default JSON timestampFormat truncates to
# millis, which would corrupt round-tripped event times
STAGE_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def stage_mongo_dump(df: DataFrame, stage_path: str) -> None:
    """Write a JSON stage file preserving microsecond timestamps —
    stands in for the reference's extract->S3-upload leg.

    Both timestamp flavors need their format pinned: TIMESTAMP columns
    use `timestampFormat`, but TIMESTAMP_NTZ columns (parquet
    timestamp[us] without tz) are serialized with `timestampNTZFormat`,
    whose default truncates to milliseconds — silently corrupting event
    times through the stage round-trip (the reference formats datetimes
    losslessly, mongo_loader.py:161-175)."""
    (
        df.write.mode("overwrite")
        .option("timestampFormat", STAGE_TS_FORMAT)
        .option("timestampNTZFormat", STAGE_TS_FORMAT)
        # keep all-null fields as explicit nulls: the default drops the
        # key from every line, which drops the COLUMN from the inferred
        # stage schema — a projection/delete referencing it would then
        # fail, and an all-null delta would break unionByName against
        # the target (the reference's bson serialization keeps null keys)
        .option("ignoreNullFields", "false")
        .json(stage_path)
    )


def _strip_dollar_names(df: DataFrame) -> DataFrame:
    """P10: reference strips '$' from every serialized key
    (mongo_loader.py:143). Top-level column rename; nested fields get
    theirs stripped when flatten_nested lifts them to top level.
    Collision-safe: a doc carrying both '$type' and 'type' must not
    silently produce two columns named 'type' (the reference's dict
    rebuild silently drops one — here the '$' becomes '_' instead, and
    a still-colliding pathological pair raises)."""
    taken = {c for c in df.columns if "$" not in c}
    renames: dict[str, str] = {}
    for c in df.columns:
        if "$" not in c:
            continue
        t = c.replace("$", "")
        if t in taken or t in renames.values():
            t = c.replace("$", "_")
        if t in taken or t in renames.values():
            raise ValueError(f"cannot sanitize column {c!r}: {t!r} already exists")
        renames[c] = t
    return df.withColumnsRenamed(renames) if renames else df


def extract_mongo_stage(
    spark: SparkSession,
    stage_path: str,
    tracking_column: str | None = None,
    last_value=None,
    query_filter: Column | None = None,
    projection: list[str] | None = None,
    fields_to_delete: list[str] | None = None,
    flatten_nested: bool = False,
    schema: T.StructType | None = None,
) -> DataFrame:
    """One-call S1 extraction mirroring mongo_loader.extract_data's
    signature: incremental $gte + filter + projection + field deletes +
    flatten + $-sanitize, composed as a single Catalyst plan.

    Schema comes from the reference-parity inference (sample-capped,
    date-vote) unless given explicitly; nested structs are preserved so
    fields_to_delete/flatten see the document shape.
    """
    schema = schema or infer_stage_schema(
        spark, stage_path, stringify_nested=False
    )
    raw_fields = [
        T.StructField(
            f.name,
            T.StringType()
            if isinstance(
                f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
            )
            else f.dataType,
        )
        for f in schema.fields
    ]
    df = (
        spark.read.schema(T.StructType(raw_fields))
        .option("mode", "PERMISSIVE")
        .json(stage_path)
    )
    for f in schema.fields:
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            # timestamp_ntz output: matches the parquet `timestamp[us]`
            # (no tz) type of the source tables, so round-tripped frames
            # are schema-identical to what the oracle reads. Parsed
            # DIRECTLY as NTZ: routing through to_timestamp (session-tz
            # LTZ) shifts wall times that fall in a DST spring-forward
            # gap by an hour before the cast back
            df = df.withColumn(f.name, F.to_timestamp_ntz(_quote(f.name)))
        elif isinstance(f.dataType, T.DateType):
            df = df.withColumn(f.name, F.to_date(_quote(f.name)))

    # server-side query semantics first (pushed into the scan)
    if tracking_column is not None and last_value is not None:
        df = df.filter(F.col(tracking_column) >= F.lit(last_value))
    if query_filter is not None:
        df = df.filter(query_filter)
    if projection:
        df = df.select(*projection)
    # then per-document processing
    if fields_to_delete:
        df = drop_field_paths(df, fields_to_delete)
    if flatten_nested:
        # reference parity (P8): _flatten_document lifts ONE level of
        # nesting (mongo_loader.py:83-115); anything still nested after
        # that is serialized to a JSON string (base_loader.py:963-964) —
        # recursive flattening would diverge the warehouse schema for
        # collections nested more than one level deep
        df = flatten_structs(df, recursive=False)
        for name, dtype in df.dtypes:
            if dtype.startswith("struct"):
                df = df.withColumn(name, F.to_json(name))
    return _strip_dollar_names(df)
