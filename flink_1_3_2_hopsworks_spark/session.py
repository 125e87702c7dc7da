"""SparkSession bootstrap.

Reference parity: Flink's ``ExecutionEnvironment`` / ``StreamExecutionEnvironment``
(flink-java .../ExecutionEnvironment.java, flink-streaming-java
.../StreamExecutionEnvironment.java) — the single entry object that owns
parallelism, time characteristics and job config. Here that role is played by
one SparkSession with a scale-conscious default config.

Scale posture (100 TB / 1000-executor design, tested on local[32]):
  - AQE on: runtime coalescing, skew-join splitting, dynamic broadcast — the
    knobs that keep a static plan from falling over at 1000x data.
  - shuffle.partitions defaults to the local core count; on a real cluster
    AQE coalesces from a high initial number, so we only pin it locally.
  - Arrow on: every Pandas-UDF crossing is Arrow-batched.
  - UTC session timezone: deterministic timestamp semantics vs. the DuckDB
    oracle and across clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "flink-1.3.2-hopsworks-spark"


def _local_cpus() -> str:
    """Local core count: ``SPARK_GRAFT_CPUS`` when set, else the cores
    this process may run on."""
    return os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, pass ``master=None`` with spark-submit-provided master and a
    higher ``shuffle_partitions`` (or rely on AQE coalescing from the
    ``spark.sql.adaptive`` defaults below).
    """
    cpus = _local_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
