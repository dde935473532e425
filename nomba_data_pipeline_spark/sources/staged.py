"""Staged-file interchange: the reference's S3 JSON stage, Spark-first.

Reference surface (cited into /root/reference):
  S3 sink  — base_loader.py:151-225 streams a generator into one JSON
             array file on MinIO; key pattern {load_type}/{src}_to_{tgt}_{ts}.json
             (:784-786).
  S4 source — base_loader.py:228-250 download; ClickHouse-side read via
             the s3() table function (:326-341).
  S8 GCS  — parallel gs:// branch (base_loader.py:300-301,792-794).

Spark mapping: `df.write.json/parquet/orc(stage_path)` + `spark.read...`
— the path scheme (s3a://, gs://, file://) selects the connector, so
the same code serves S3/GCS/HDFS. JSON is kept for reference parity;
parquet is the default at-rest format (columnar, splittable, pushdown);
ORC is the third Spark-native columnar option for warehouses already
standardized on it (same pushdown/pruning path as parquet); CSV is the
lowest-common-denominator interchange leg (header names only — pass the
schema on read; no pushdown, so never the at-rest format).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_stage(df: DataFrame, stage_path: str, fmt: str = "parquet") -> None:
    """S3-sink equivalent: distributed write, no driver-side buffering
    (the reference streams through the driver, base_loader.py:190-193 —
    a scale ceiling Spark removes)."""
    writer = df.write.mode("overwrite")
    if fmt == "json":
        writer.json(stage_path)
    elif fmt == "orc":
        writer.orc(stage_path)
    elif fmt == "csv":
        # header row so the stage is self-describing for names (types
        # still need the schema on read — CSV carries none)
        writer.option("header", "true").csv(stage_path)
    else:
        writer.parquet(stage_path)


def read_stage(
    spark: SparkSession, stage_path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """S4-source equivalent with the reference's drift tolerance:
    PERMISSIVE mode + corrupt-record column stands in for ClickHouse's
    input_format_skip_unknown_fields (base_loader.py:830-841)."""
    if fmt == "json":
        return (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(stage_path)
        )
    if fmt == "orc":
        return spark.read.orc(stage_path)
    if fmt == "csv":
        # schema=None falls back to inference (an extra pass — fine for
        # a stage read-back, wrong for a 100 TB lake table; columnar
        # formats are the at-rest default for exactly this reason)
        reader = spark.read.option("header", "true").option(
            "mode", "PERMISSIVE"
        )
        if schema is not None:
            return reader.schema(schema).csv(stage_path)
        return reader.option("inferSchema", "true").csv(stage_path)
    return spark.read.parquet(stage_path)


def read_stage_with_dlq(
    spark: SparkSession,
    stage_path: str,
    schema,
    dlq_path: str,
    batch_id: str,
) -> tuple[DataFrame, int]:
    """Dead-letter-queue ingestion for a JSON stage: rows that fail to
    parse against `schema` are quarantined (raw line + source file +
    batch id) under `dlq_path/batch_id=<id>` instead of poisoning the
    load, and the good rows come back schema-clean. The reference
    simply skips unknown fields (base_loader.py:830-841) and LOSES
    malformed lines; a production ingest needs them kept, inspectable,
    and replayable.

    Replay-idempotent: the quarantine write overwrites its own
    batch_id directory, so re-running a batch never duplicates DLQ
    rows. The batch is cached for the two passes (good + bad split) —
    also required because Spark disallows queries referencing ONLY
    the internal corrupt-record column; stage batches are
    micro-batch-sized by construction (one load's delta), so the
    cache footprint is the delta, not the lake.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructType

    full = StructType(list(schema.fields)).add("_corrupt_record", StringType())
    raw = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .json(stage_path)
        .withColumn("_src_file", F.input_file_name())
        .cache()
    )
    try:
        bad = raw.filter(F.col("_corrupt_record").isNotNull()).select(
            F.col("_corrupt_record").alias("record"),
            F.col("_src_file").alias("src_file"),
        )
        n_bad = bad.count()
        if n_bad:
            bad.write.mode("overwrite").parquet(f"{dlq_path}/batch_id={batch_id}")
        good = (
            raw.filter(F.col("_corrupt_record").isNull())
            .drop("_corrupt_record", "_src_file")
        )
        return good, n_bad
    finally:
        # `bad` was already counted/written under the cache; `good`
        # references every schema column, so it evaluates fine after
        # unpersist (the corrupt-column-only restriction never applies
        # to it) — eviction just re-reads the stage
        raw.unpersist(False)
