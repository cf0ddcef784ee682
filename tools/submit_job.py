"""spark-submit entry point: the parse -> enrich -> route -> aggregate
pipeline as a standalone job (north-rule deployment shape:
``spark-submit --master ... --py-files dist/logstash_filter_aggregate_spark.zip
tools/submit_job.py --input ... --output ...``).

Prints one JSON line with wall time, input turns, and turns/sec — the
scaling harness (tools/scaling_bench.py) runs this at two parallelism
levels and reports the efficiency.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcript parquet path")
    ap.add_argument("--output", default=None, help="base path for routed sinks (omit = noop sink)")
    ap.add_argument("--config", default="example1", choices=["example1", "example2", "example3", "example5"])
    ap.add_argument("--timeout", type=float, default=3600.0)
    ap.add_argument("--prereduce-s", type=float, default=None)
    ap.add_argument("--buckets", default="completed,timeout,inline,open,passthrough",
                    help="comma list; 'sessions' = single-job core pipeline")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--count-sinks", action="store_true",
                    help="after the timed region, count each routed bucket "
                         "(for cross-cluster-size per-sink count equality)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("transcript-correlate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from logstash_filter_aggregate_spark.plans import pipeline as P
    from logstash_filter_aggregate_spark.sinks import write_run

    cfg = getattr(P, f"{args.config}_config")(timeout=args.timeout)
    t = spark.read.parquet(args.input)

    buckets = args.buckets.split(",")
    walls = []
    sink_rows = {}
    out = None
    for i in range(args.reps):
        t0 = time.perf_counter()
        out = P.run_pipeline(spark, t, cfg, prereduce_s=args.prereduce_s)
        if args.output:
            manifest = write_run(spark, out, t, args.output, cfg, input_desc=args.input)
            sink_rows = {k: v.get("rows") for k, v in manifest.sinks.items() if "rows" in v}
        else:
            for name, df in out.as_dict().items():
                if name in buckets:
                    df.write.mode("overwrite").format("noop").save()
        walls.append(time.perf_counter() - t0)
        if not (args.count_sinks and i == args.reps - 1):
            P.release_pipeline_caches()  # reps must not reuse the cache
    wall = min(walls)
    if args.count_sinks:
        # UNTIMED, reusing the final rep's persisted frames (released already
        # when --output wrote them): per-sink row
        # counts AND an order-independent content checksum (sum of
        # xxhash64 over the canonical JSON of each row) — both
        # deterministic functions of the routed row MULTISET, so they
        # must be identical across cluster sizes / partitionings (the
        # north rule's per-sink count + routed-row equality)
        from pyspark.sql import functions as F

        sink_rows = {}
        for name, df in out.as_dict().items():
            if name not in buckets:
                continue
            row_json = F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)]))
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(row_json).cast("decimal(38,0)")).alias("chk"),
            ).first()
            sink_rows[name] = {"rows": agg["n"], "checksum": str(agg["chk"])}
        P.release_pipeline_caches()
    n = t.count()
    print(json.dumps({
        "input": args.input, "config": args.config, "turns": n,
        "wall_s": round(wall, 3), "turns_per_sec": round(n / wall, 1),
        "parallelism": spark.sparkContext.defaultParallelism,
        "sinks": sink_rows,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
