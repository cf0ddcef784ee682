"""Workload matrix for the streaming state shard count: sweep TASK
CARDINALITY at a fixed row count and measure ``streaming_correlate`` at
the default shard count (``stream.DEFAULT_SHARDS``) and at
``SPARK_GRAFT_STREAM_SHARDS`` (512 unless set).

Corpus: ``n_rows`` fixed; ``n_tasks`` ∈ {1k, 50k, 600k(ish)}. Each task
is one start → updates → end lifecycle; arrival order round-robins
tasks (id % n_tasks) so every micro-batch touches a cross-section of
the live tasks, the realistic interleaving for request/job logs. Event
time advances with arrival order so the watermark moves and state
evicts.

Usage: python tools/streaming_matrix.py [n_rows=1500000] [out.json]
       SPARK_GRAFT_CPUS (default 32) sets local[N] and the shuffle
       partitions.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from logstash_filter_aggregate_spark import get_spark  # noqa: E402
from logstash_filter_aggregate_spark.plans.pipeline import example1_config  # noqa: E402
from logstash_filter_aggregate_spark.streaming.stream import (  # noqa: E402
    streaming_correlate,
)

WORK = "/tmp/spark_graft_streammatrix"


def gen_corpus(spark, n_rows: int, n_tasks: int, path: str, files: int = 64) -> None:
    rows_per = max(3, n_rows // n_tasks)
    n_rows = rows_per * n_tasks
    df = spark.range(n_rows).select(
        F.col("id"),
        (F.col("id") % n_tasks).alias("task"),
        (F.col("id") / n_tasks).cast("long").alias("seq"),
    )
    text = (
        F.when(F.col("seq") == 0,
               F.format_string("INFO - t%d - TASK_START - s", "task"))
        .when(F.col("seq") == rows_per - 1,
              F.format_string("INFO - t%d - TASK_END - e", "task"))
        .otherwise(F.format_string("INFO - t%d - SQL - q - %d", "task", "seq"))
    )
    out = df.select(
        F.format_string("c%d", "task").alias("conv_id"),
        F.col("seq").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        text.alias("text"),
        F.lit("none").alias("tool"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
         + F.make_interval(secs=F.col("id") / 1000.0)).alias("ts"),
    )
    out.repartition(files, "id").write.mode("overwrite").parquet(path)


def drive(spark, src_path, schema, shards, name, max_files=8):
    cp = f"{WORK}/cp_{name}"
    shutil.rmtree(cp, ignore_errors=True)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_path)
    )
    cfg = example1_config(timeout=3600.0)
    out = streaming_correlate(src, cfg, shards=shards)
    t0 = time.time()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.time() - t0


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_500_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shards = int(os.environ.get("SPARK_GRAFT_STREAM_SHARDS", "512"))
    spark = get_spark(
        app_name="streaming_matrix", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    results = []
    for n_tasks in (1_000, 50_000, 500_000):
        path = f"{WORK}/corpus_{n_rows}_{n_tasks}.parquet"
        if not os.path.exists(f"{path}/_SUCCESS"):
            gen_corpus(spark, n_rows, n_tasks, path)
        static = spark.read.parquet(path)
        n = static.count()
        row = {"n_tasks": n_tasks, "rows": n, "rows_per_task": n // n_tasks}
        for label, sh in (("default", None), ("sharded", shards)):
            wall = drive(spark, path, static.schema, sh,
                         f"{n_tasks}_{label}")
            row[label] = {
                "wall_s": round(wall, 2),
                "turns_per_sec": round(n / wall, 1),
            }
        row["shard_speedup"] = round(
            row["default"]["wall_s"] / row["sharded"]["wall_s"], 2
        )
        print(json.dumps(row), flush=True)
        results.append(row)
    doc = {
        "metric": "streaming correlate by task cardinality: default vs explicit shard count",
        "n_rows_target": n_rows,
        "cpus": cpus,
        "shards": shards,
        "results": results,
    }
    if out_path:
        with open(out_path, "w") as f:
            f.write(json.dumps(doc) + "\n")


if __name__ == "__main__":
    main()
