"""SparkSession factory.

The reference pins everything to a single ClickHouse server and relies on
MergeTree for physical layout (reference setup/init-clickhouse.sql:14-53).
Here the physical layer is Spark: AQE re-plans at runtime (coalesce tiny
shuffle partitions, split skewed ones), Arrow accelerates any pandas-UDF
boundary, and the session timezone is pinned UTC so naive source
timestamps never get double-converted (SURVEY §7.4 hard-part 4).

All knobs are chosen for a real cluster but work identically on
local[N]: shuffle partitions sized to cores (AQE coalesces down),
128 MiB scan partitions, 64 MiB broadcast threshold so dimension
tables broadcast instead of shuffling the fact side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Janino-compiled classes kept across queries. Spark's default of 100 is
# less than one refresh cycle of the medallion DAG, so every cycle
# compiled again what the previous one had compiled and then evicted: a
# warm seed-7 `elt_cdc` cycle (sf0.01, 4-core box) compiled 185-188
# classes. At 1024 (about five cycles' worth) warm cycles compiled
# 24-34; those inline a new high-water-mark literal or carry renumbered
# codegen stage ids. Static conf: it only applies when this factory
# creates the session, so a host-supplied session keeps its own value.
CODEGEN_CACHE_ENTRIES = 1024


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM has compiled since it started (Spark's codegen
    compile counter); the difference over a run is that run's compiles."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "nomba-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism; on a cluster the
    master comes from spark-submit and this factory only sets SQL conf.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # INT96 (the legacy default) writes NO column statistics, which
        # silently defeats footer-stat readers (high_water_mark_stats)
        # and min/max pruning on timestamp columns; TIMESTAMP_MICROS is
        # the modern standards-track physical type WITH stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # a guard for regenerated fixtures: the current testdata footers
        # store events.ts as TIMESTAMP(MICROS), but a TIMESTAMP(NANOS)
        # column would not scan at all without this; catalog.load_table
        # converts such a long (tests/test_testdata_schema.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # ONE BLAS thread per Python worker: an executor runs one
        # worker per core, so a multithreaded BLAS inside each worker
        # oversubscribes cores^2-fold and THRASHES — measured 3.7x
        # slower on 32 concurrent 1024^2 GEMMs (r15 A/B on this box;
        # the neardup/ANN Arrow kernels are exactly this shape).
        # Executor-side only: driver-side numpy (single caller) keeps
        # the full-machine BLAS.
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # preferSortMergeJoin: REVERTED to Spark's default (true) in r16
        # after the per-knob validation VERDICT r15 item 1 asked for.
        # The r15 flip to shuffled-hash was justified by a 16-join-row
        # A/B (15/16 faster) but the driver's full headline ground truth
        # regressed the pipeline/merge family under it, and the r16
        # 4-arm interleaved A/B over ALL 12 headline rows
        # (plans/r16/ab_conf4.jsonl) could not confirm a headline-set
        # win for SHJ alone (arm B ~= baseline overall; ann rows worse;
        # the combined r15 config was consistently the worst arm on
        # pipeline_cdc_rerun, ~+45% in all 3 rounds). SHJ's build side
        # also cannot spill (ADVICE r15): a size-estimate miss on a
        # real cluster OOMs where SMJ would have spilled. Clusters that
        # measured a win for their workload can still opt in via
        # SPARK_GRAFT_PREFER_SMJ=false (or a per-query SHUFFLE_HASH
        # hint where a specific join is proven hot).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        # zstd shuffle/spill compression: better ratio than lz4 for a
        # little CPU, so fewer shuffle bytes hit disk and the wire —
        # the trade the guide recommends measuring. KEPT in r16: the
        # per-knob A/B shows zstd-alone never harmed a headline row
        # (arm C matched or beat the lz4 baseline on the pipeline/cdc
        # rows and the ann kernels; plans/r16/ab_conf4.jsonl), it won
        # the r15 16-row battery (36.5 -> 28.9s), and the ratio matters
        # MORE at 100 TB where shuffle I/O, not CPU, binds.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
    )
    if master == "local" or master.startswith("local["):
        # list partition directories on the driver, however many: in
        # local mode a "parallel" listing job's tasks run in this same
        # JVM, so the job only adds its scheduling cost: on a 4-core
        # local[4] session, each of the three 84-task listing jobs a
        # refresh cycle spent on fact_transactions' 84 month directories
        # (over Spark's default threshold of 32 paths) took about 300 ms.
        # Cluster masters keep the default: there the executors list in
        # parallel.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
