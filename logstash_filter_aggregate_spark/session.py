"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set per
executor; on a real cluster only ``master`` and memory sizing change.
AQE is on so skewed shuffle partitions re-plan at runtime (the
reference's single-worker constraint, ``docs/index.asciidoc:29-30``,
is exactly what this removes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "logstash_filter_aggregate_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    # Shuffle width defaults to the local core count: at 100 TB on a real
    # cluster this would be ~2-3x total executor cores instead, and AQE
    # coalesces the excess.
    if shuffle_partitions is None:
        cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if cores == "*" else max(8, int(cores))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a table bucketed by the task-id column keeps its bucketing even
        # where no operator asks for it: the exact scan then reads it
        # without a task exchange (operators/sessionize.py)
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
