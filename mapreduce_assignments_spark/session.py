"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the driver harness (``local[$SPARK_GRAFT_CPUS]``)
but every knob is chosen to also make sense on a real cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing).
- ``spark.sql.shuffle.partitions`` sized to the parallelism at hand —
  on a 1000-executor cluster this should be raised to ~2-3x total cores;
  AQE coalescing makes over-provisioning cheap.
- Arrow enabled for the (rare) Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreduce-assignments-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # some driver testdata generations store TIMESTAMP(NANOS),
        # which the vectorized parquet reader rejects; read as int64
        # nanos and let sources.tables rebuild micro-precision
        # timestamps (it also re-sets this at load time so foreign
        # sessions — e.g. the driver's own harness — behave the same).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
