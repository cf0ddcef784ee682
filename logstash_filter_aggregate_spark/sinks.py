"""Routed sinks + run metrics + lineage manifest (SURVEY.md U5, O21, O22).

Each pipeline output bucket (completed / timeout / inline / open /
passthrough) writes to its own directory under a run-scoped path, the
buckets after the first as concurrent Spark jobs; row counts per sink
are captured with ``Observation`` (no extra counting jobs — the metric
rides the write action), and a JSON lineage manifest records the input
files, config fingerprint, per-sink counts, and completion marker. Re-running the same (input, config) run_id skips
completed sinks — idempotent, resumable writes (the batch analog of the
reference's ``aggregate_maps_path`` persistence, ``aggregate.rb:125-140``).

Iceberg note: writers take ``fmt`` — ``"iceberg"`` works unchanged when
a catalog is configured (``spark.sql.catalog...``); this container has no
Iceberg jars, so parquet is the default and tests run on parquet.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError
from pyspark import inheritable_thread_target
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import PipelineConfig, local_path
from logstash_filter_aggregate_spark.plans.pipeline import release_pipeline_caches

log = logging.getLogger(__name__)

SINKS = ("completed", "timeout", "inline", "open", "passthrough")


def config_fingerprint(cfg: PipelineConfig) -> str:
    return hashlib.md5(repr(cfg).encode()).hexdigest()[:16]


def run_id_for(input_desc: str, cfg: PipelineConfig) -> str:
    return hashlib.md5(f"{input_desc}|{config_fingerprint(cfg)}".encode()).hexdigest()[:16]


@dataclass
class RunManifest:
    run_id: str
    input_desc: str
    input_files: list[str]
    config_fingerprint: str
    sinks: dict[str, dict] = field(default_factory=dict)  # sink -> {rows, path, wall_s, done}
    started_at: float = 0.0
    finished_at: float | None = None

    def path(self, base: str) -> str:
        return f"{base}/_lineage/{self.run_id}.json"

    def save(self, base: str) -> None:
        p = self.path(local_path(base))
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=2, default=str)
        os.replace(tmp, p)  # atomic manifest update

    @classmethod
    def load(cls, base: str, run_id: str) -> "RunManifest | None":
        p = f"{local_path(base)}/_lineage/{run_id}.json"
        if not os.path.exists(p):
            return None
        with open(p) as f:
            d = json.load(f)
        return cls(**d)


def input_files_of(df: DataFrame) -> list[str]:
    """The files ``df`` reads; empty, with a warning, when Spark cannot
    list them (the manifest then records no input files)."""
    try:
        return sorted(df.inputFiles())
    except (Py4JError, PySparkException) as e:
        log.warning("input files unknown, manifest records none: %s", e)
        return []


def write_routed(
    outputs: dict[str, DataFrame],
    base_path: str,
    cfg: PipelineConfig,
    input_desc: str,
    fmt: str = "parquet",
    partition_by: dict[str, list[str]] | None = None,
    input_df: DataFrame | None = None,
) -> RunManifest:
    """Write every bucket, resumably.

    - sink path: ``{base_path}/{sink}/run_id={run_id}`` — reruns overwrite
      their own run scope only (idempotent).
    - already-done sinks (per the manifest) are skipped.
    - the pending sinks write as concurrent Spark jobs, one thread each, so
      the driver plans and commits them side by side. The first one writes
      alone and materializes the frames ``run_pipeline`` persisted and its
      lazy checkpoint; the others then start together and read those
      blocks: nothing is computed twice. Each thread keeps the caller's
      local properties (job group, job description); a write with no
      caller description is described as ``write_routed:<sink>``.
    - the manifest is checkpointed as each sink lands, its sinks listed in
      output order. A failing sink does not stop the others: they land
      and checkpoint, then the first error in output order is raised.
    - per-sink row counts via ``Observation`` — no separate count() jobs.
    - the frames ``run_pipeline`` persisted are released when the writes
      end, whether they succeed or raise.
    """
    try:
        run_id = run_id_for(input_desc, cfg)
        manifest = RunManifest.load(base_path, run_id)
        if manifest is None:
            files_src = input_df if input_df is not None else next(iter(outputs.values()))
            manifest = RunManifest(
                run_id=run_id,
                input_desc=input_desc,
                input_files=input_files_of(files_src),
                config_fingerprint=config_fingerprint(cfg),
                started_at=time.time(),
            )
        order = [s for s in outputs if s != "sessions"]
        # resumable: a sink already landed for this run_id is not rewritten
        pending = [s for s in order if not manifest.sinks.get(s, {}).get("done")]
        lock = threading.Lock()

        def write(sink: str, description: str | None) -> None:
            if description is not None:
                outputs[sink].sparkSession.sparkContext.setJobDescription(description)
            path = f"{base_path}/{sink}/run_id={run_id}"
            obs = Observation(f"rows_{sink}")
            t0 = time.perf_counter()
            observed = outputs[sink].observe(obs, F.count(F.lit(1)).alias("rows"))
            writer = observed.write.mode("overwrite").format(fmt)
            for col in (partition_by or {}).get(sink, []):
                writer = writer.partitionBy(col)
            writer.save(path)
            landed = {
                "rows": obs.get["rows"],
                "path": path,
                "wall_s": round(time.perf_counter() - t0, 3),
                "done": True,
            }
            with lock:  # checkpoint after every sink
                done = {**manifest.sinks, sink: landed}
                manifest.sinks = {s: done.pop(s) for s in order if s in done} | done
                manifest.save(base_path)

        if pending:
            spark = outputs[pending[0]].sparkSession
            described = spark.sparkContext.getLocalProperty("spark.job.description") is not None
            with ThreadPoolExecutor(max_workers=len(pending)) as pool:

                def submit(sink: str):
                    # one wrapper per sink: each thread gets its own copy
                    # of the caller's local properties
                    return pool.submit(
                        inheritable_thread_target(spark)(write),
                        sink, None if described else f"write_routed:{sink}",
                    )

                # The first sink writes alone: it materializes the frames
                # every later sink reads (the lazy checkpoint, the guarded
                # and the closed frames). A query that starts while a
                # persisted frame is still being built runs a stage of its
                # own to wait for it; started after, it reads the blocks.
                first = submit(pending[0])
                first.exception()
                futures = [first, *map(submit, pending[1:])]
            errors = [f.exception() for f in futures]
            first_error = next((e for e in errors if e is not None), None)
            if first_error is not None:
                raise first_error
        manifest.finished_at = time.time()
        manifest.save(base_path)
        return manifest
    finally:
        release_pipeline_caches()


def partition_metrics(df: DataFrame) -> DataFrame:
    """Per-input-partition lineage + metrics rows (SURVEY.md O22 /
    north-star "per-partition lineage + metrics"): one row per input
    file-split with its row count — written alongside the manifest so a
    resumed run can account for exactly which splits fed which outputs."""
    return (
        df.groupBy(F.input_file_name().alias("input_file"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )


def write_run(
    spark: SparkSession,
    outputs,
    transcripts: DataFrame,
    base_path: str,
    cfg: PipelineConfig,
    input_desc: str,
    fmt: str = "parquet",
) -> RunManifest:
    """Full run: routed sinks + per-partition lineage table. The pipeline's
    persisted frames are released by ``write_routed`` before the lineage
    table, which reads only ``transcripts``."""
    manifest = write_routed(
        outputs.as_dict(), base_path, cfg, input_desc, fmt=fmt, input_df=transcripts
    )
    if not manifest.sinks.get("_partitions", {}).get("done"):
        pm_path = f"{base_path}/_lineage/partitions/run_id={manifest.run_id}"
        partition_metrics(transcripts).write.mode("overwrite").format(fmt).save(pm_path)
        manifest.sinks["_partitions"] = {"path": pm_path, "done": True}
        manifest.save(base_path)
    return manifest
