"""Capture .explain("formatted") for every bench query into a directory.

Usage: python tools/capture_plans.py <out_dir> [suffix]

Builds the same DataFrames bench.py forces (the noop sink's input) and
writes ``<out_dir>/<query>_<suffix>.txt``. Run once from the round-start
tree (suffix "before") and once from the final tree (suffix "after") so
the judge can check plan claims without running Spark.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from logstash_filter_aggregate_spark import get_spark  # noqa: E402
from logstash_filter_aggregate_spark.operators import dedup, similarity, textstats  # noqa: E402
from logstash_filter_aggregate_spark.plans.pipeline import (  # noqa: E402
    example1_config,
    example3_config,
    run_pipeline,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE_DIR = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/spark_graft_bench")


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture_plans", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    tpath = f"{CACHE_DIR}/transcripts_3000000.parquet"
    t = spark.read.parquet(tpath)
    th = spark.read.parquet(f"{CACHE_DIR}/transcripts_hotskew_3000000.parquet")
    hot1m = spark.read.parquet(f"{CACHE_DIR}/transcripts_hot1m.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]

    from __spark_entry__ import _o16_push_previous_interleaved, _pipe_gap_timeout

    frames = {
        "pipeline_example1": lambda: run_pipeline(spark, t, example1_config(timeout=3600.0)).sessions,
        "pipeline_clicks_timeout": lambda: run_pipeline(spark, t, example3_config(timeout=300.0)).timeout,
        "pipeline_events_gap": lambda: _pipe_gap_timeout(spark, SF_DIR),
        "passthrough_route": lambda: run_pipeline(spark, t, example1_config(timeout=3600.0)).passthrough,
        "hotskew_plain": lambda: run_pipeline(
            spark, th, example3_config(timeout=100_000.0, inactivity_timeout=120.0)
        ).sessions,
        "hotskew_prereduced": lambda: run_pipeline(
            spark, th, example3_config(timeout=100_000.0, inactivity_timeout=120.0),
            prereduce_s=120.0,
        ).sessions,
        "push_previous_exact": lambda: _o16_push_previous_interleaved(spark, SF_DIR),
        "exact_age_hot_task": lambda: run_pipeline(
            spark, hot1m,
            example3_config(timeout=600.0, inactivity_timeout=600.0),
        ).sessions,
        "dedup_minhash": lambda: dedup.minhash_lsh_candidates(docs, k=3, num_hashes=16, bands=8),
        "dedup_exact": lambda: dedup.exact_dedup(docs),
        "textstats": lambda: textstats.quality_features(docs).select(
            "doc_id", "n_tokens", "punct_ratio", "quality_score",
            textstats.lang_id("text").alias("lang_guess"),
        ),
        "ann_bruteforce": lambda: similarity.brute_force_topk(emb, qv, k=10),
    }
    for name, fn in frames.items():
        try:
            df = fn()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR capturing plan: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print("captured", name, flush=True)


if __name__ == "__main__":
    main()
