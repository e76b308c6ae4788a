"""SparkSession factory and runtime-conf normalization.

The engine is designed for a large multi-executor cluster (AQE, explicit
shuffle partitioning, broadcast thresholds) but tests run on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe to set on an already-running session (runtime confs).
# ``nanosAsLong`` matters because the driver-generated events.parquet stores
# ts as TIMESTAMP(NANOS), which Spark's vectorized parquet reader otherwise
# rejects; with the flag the column surfaces as LongType(nanos) and
# sources.batch converts it to a proper TimestampType at ingest.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # read parquet ms-timestamps as TIMESTAMP (LTZ; UTC session) not NTZ, so
    # unix_millis/window/watermark apply uniformly
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # trust bucket-sorted table files' ordering (one file per bucket,
    # guaranteed by operators.scale.write_bucketed's repartition-first
    # write) so bucketed sort-merge joins skip the per-task Sort; off
    # by default upstream only because the one-file check costs
    # planning time on huge tables
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


# One conf stands for the whole RUNTIME_CONFS set: it is set with the
# rest, and no engine code changes it.
_SENTINEL_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not create (driver
    scenario). This runs on EVERY ``load_table`` call, so a session
    whose sentinel conf already reads ``"true"`` costs one ``conf.get``
    py4j round trip instead of the full ``conf.set`` pass; a session
    whose confs were reset since (a fresh session, or a mid-session
    ``conf.unset``) fails the check and is repaired on the next call."""
    try:
        if spark.conf.get(_SENTINEL_CONF, None) == "true":
            return spark
    except Exception:
        pass  # unreadable conf: re-apply below
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build; session default applies
    return spark


def get_spark(app_name: str = "demo_apache_flink_streaming_mode_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session sized for this host.

    On a real cluster the same confs apply, with shuffle partitions sized
    to ~2-3x total cores and AQE coalescing the rest at runtime.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # long sessions re-codegen per AQE replan; keep JIT from running
        # out of code cache (falls back to interpreter = ~25x slower)
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
