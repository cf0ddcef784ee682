"""Per-micro-batch cost breakdown for the sharded streaming tiers.

The r5 probe measured ~2.7 s of FIXED cost per micro-batch on
correlate_gated_sharded (1/10/40 batches = 34.7/41.2/142.4 s) — this
tool attributes it. For each run it drives the query availableNow →
noop and reads the engine's own per-batch accounting
(``StreamingQueryProgress.durationMs`` + ``stateOperators``):

- ``addBatch``      — the batch job itself (scan + shuffle + Python
                      stateful fn + sink), the only term that should
                      scale with rows;
- ``queryPlanning`` / ``getBatch`` / ``latestOffset`` — driver replan
  per batch;
- ``walCommit`` / ``commitOffsets`` — offset/commit log fsyncs;
- ``stateOperators[0]``: ``allUpdatesTimeMs`` (state get+put incl. the
  cell codec inside the Python fn is NOT here — that rides addBatch —
  this is the JVM store), ``commitTimeMs`` (delta file write),
  ``numRowsTotal`` (live state rows).

Usage: python tools/streaming_probe.py [slope|rocksdb|fsync] [turns=3000000] [out.json]
       SPARK_GRAFT_CPUS / SPARK_GRAFT_STREAM_SHARDS honored.
Runs max_files in {64, 8, 2} (≈1 / 8 / 32 micro-batches on the
64-file corpus) so the fixed-vs-variable split falls out of the slope.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from logstash_filter_aggregate_spark import get_spark  # noqa: E402
from logstash_filter_aggregate_spark.plans.pipeline import example1_config  # noqa: E402
from logstash_filter_aggregate_spark.streaming.stream import (  # noqa: E402
    streaming_correlate,
)

WORK = "/tmp/spark_graft_streamprobe"

DUR_KEYS = [
    "addBatch", "getBatch", "latestOffset", "queryPlanning",
    "walCommit", "commitOffsets", "triggerExecution",
]
STATE_KEYS = [
    "allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs",
    "numRowsTotal", "numRowsUpdated",
]


def run_leg(spark, src_path, schema, shards: int, max_files: int,
            cp_root: str = WORK) -> dict:
    cp = f"{cp_root}/cp_{max_files}"
    shutil.rmtree(cp, ignore_errors=True)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_path)
    )
    out = streaming_correlate(src, example1_config(timeout=3600.0), shards=shards)
    t0 = time.time()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    progresses = [
        json.loads(p if isinstance(p, str) else p.json) for p in q.recentProgress
    ]
    batches = []
    for p in progresses:
        d = p.get("durationMs", {})
        row = {k: d.get(k, 0) for k in DUR_KEYS}
        ops = p.get("stateOperators") or []
        if ops:
            row.update({k: ops[0].get(k, 0) for k in STATE_KEYS})
        row["numInputRows"] = p.get("numInputRows", 0)
        batches.append(row)
    tot = {
        k: sum(b.get(k, 0) for b in batches)
        for k in DUR_KEYS + STATE_KEYS[:3]
    }
    return {
        "max_files": max_files,
        "wall_s": round(wall, 2),
        "n_batches": len(batches),
        "totals_ms": tot,
        "per_batch": batches,
    }


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "slope"
    turns = int(sys.argv[2]) if len(sys.argv) > 2 else 3_000_000
    out_path = sys.argv[3] if len(sys.argv) > 3 else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shards = int(os.environ.get("SPARK_GRAFT_STREAM_SHARDS", "512"))
    spark = get_spark(
        app_name="streaming_probe", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    src_path = f"/tmp/spark_graft_bench/transcripts_{turns}.parquet"
    if not os.path.exists(f"{src_path}/_SUCCESS"):
        from logstash_filter_aggregate_spark.sources.transcripts import generate_for_turns

        generate_for_turns(spark, turns, partitions=64).write.mode("overwrite").parquet(src_path)
    static = spark.read.parquet(src_path)
    legs = []
    if mode == "slope":
        # fixed-vs-variable split: same corpus at ~1/8/32 micro-batches
        for max_files in (64, 8, 2):
            legs.append(run_leg(spark, src_path, static.schema, shards, max_files))
    elif mode == "rocksdb":
        # r5 rejected RocksDB WITHOUT changelog checkpointing (per-batch
        # full-snapshot maintenance dominated). Changelog checkpointing
        # uploads only the batch's changed keys — retest both ways.
        for provider, changelog in (("rocksdb", True), ("hdfs", False),
                                    ("rocksdb", False)):
            if provider == "rocksdb":
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass",
                    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
                )
                spark.conf.set(
                    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
                    str(changelog).lower(),
                )
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass",
                    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
                )
            legs.append(run_leg(
                spark, src_path, static.schema, shards, 2,
                cp_root=f"{WORK}_{provider}_{changelog}",
            ))
            legs[-1]["provider"] = provider
            legs[-1]["changelog"] = changelog
    elif mode == "fsync":
        # isolate the state-commit fsync term: same leg, checkpoint on
        # disk (/tmp) vs tmpfs (/dev/shm) — only the durability of the
        # delta-file writes differs
        for cp_root in (WORK, "/dev/shm/spark_graft_streamprobe",
                        WORK, "/dev/shm/spark_graft_streamprobe"):
            legs.append(run_leg(
                spark, src_path, static.schema, shards, 2, cp_root=cp_root,
            ))
            legs[-1]["cp_root"] = cp_root
    for leg in legs:
        print(json.dumps({k: v for k, v in leg.items() if k != "per_batch"}),
              flush=True)
    doc = {
        "metric": "per-micro-batch duration breakdown, correlate_gated_sharded",
        "mode": mode,
        "turns": static.count(),
        "cpus": cpus,
        "shards": shards,
        "legs": legs,
    }
    if out_path:
        with open(out_path, "w") as f:
            f.write(json.dumps(doc) + "\n")
    if mode == "slope" and len(legs) >= 3:
        a, b = legs[1], legs[2]
        if a["n_batches"] and b["n_batches"] != a["n_batches"]:
            dn = b["n_batches"] - a["n_batches"]
            slope = {
                k: round((b["totals_ms"][k] - a["totals_ms"][k]) / dn, 1)
                for k in a["totals_ms"]
            }
            print(json.dumps({"per_extra_batch_ms": slope}))


if __name__ == "__main__":
    main()
