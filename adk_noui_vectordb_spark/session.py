"""SparkSession factory tuned for the engine.

Local testing runs on local[N] (single JVM); the conf choices below are the
ones that matter on a real multi-executor cluster too:

- AQE on (runtime coalescing + skew-join splitting survive a 100x scale-up
  where static shuffle-partition counts do not),
- Arrow on (every pandas_udf / mapInPandas boundary is Arrow-batched),
- UTC session timezone (parity with naive parquet timestamps, and the only
  sane choice on a geo-distributed cluster),
- shuffle partitions sized for the local core count; on a real cluster AQE
  coalesces from a deliberately-high initial number instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "adk-noui-vectordb-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet (events.ts) is unreadable in Spark 4
        # without this; it is session-wide, so it lives HERE in the factory
        # (load_table also sets it at runtime for externally created
        # sessions, e.g. the driver's vanilla one — same visibility caveat).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # No \r stage-progress lines: the bench driver parses a JSON line
        # from a small output tail, and progress spam can evict it.
        .config("spark.ui.showConsoleProgress", "false")
        # pyspark 4.1 otherwise captures a Python call-site origin
        # (stack inspection) on every DataFrame/Column call, for error
        # messages; plan-building paths make thousands of such calls
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
