"""SparkSession construction with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def df_debugging_flag(value: str | None) -> str:
    """``SPARK_GRAFT_DF_DEBUGGING`` as the boolean conf string pyspark
    compares against: ``1``/``true``/``yes`` (any case) → ``"true"``,
    anything else (unset included) → ``"false"``."""
    on = (value or "").strip().lower() in ("1", "true", "yes")
    return "true" if on else "false"


def get_spark(
    app_name: str = "python-dtl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults tuned for correctness-at-scale: AQE on (runtime re-planning,
    skew-join handling, partition coalescing), UTC session timezone
    (parquet timestamp round-trips match DuckDB), Arrow enabled for any
    pandas interchange.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # split size of file scans: at 100 TB this is the lever that
        # keeps a scan task's input within executor memory (default
        # 128 MiB; raise for many-small-files layouts, lower for wide
        # rows/heavy decompression)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # reliable-checkpoint files (lsh_dedup_keep's iteration
        # truncation) are reclaimed when their RDD is GC'd instead of
        # accumulating for the session's lifetime
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # origin capture decorates JVM error messages with the Python
        # call site at the cost of ~3 extra py4j round-trips on EVERY
        # DataFrame/Column API call (getActiveSession + conf.get +
        # PySparkCurrentOrigin.set per call) — pure client-side
        # plan-construction overhead, no effect on results or on which
        # exceptions are raised (measured r20: dtl_q5 compile
        # 2.8 s -> 1.1 s, dtl_q6 1.2 s -> 0.2 s).
        # SPARK_GRAFT_DF_DEBUGGING=1/true/yes re-enables call-site-decorated
        # errors for debugging (r20 advice).  Caveat: pyspark caches
        # is_debugging_enabled() process-globally on the first
        # Column-API call, so either value only sticks when get_spark
        # builds the process's FIRST session.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            df_debugging_flag(os.environ.get("SPARK_GRAFT_DF_DEBUGGING")),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
