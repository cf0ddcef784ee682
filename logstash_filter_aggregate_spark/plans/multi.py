"""Multi-pattern isolation (O24, ``aggregate.rb:543-544``): several
correlation patterns over one event stream, each with its own state
namespace — the two-level ``{task_id_pattern -> {task_id -> map}}`` hash
becomes one pipeline run per config, sharing the parsed input.

Also the run-level metrics observation (O22/O23): per-sink counts ride
the write actions via Observation (sinks.py); live-map count + warning
gauge (``map_count_warning_threshold``, ``aggregate.rb:499-516``) is a
cheap aggregate over the sessions frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import PipelineConfig, validate_configs
from logstash_filter_aggregate_spark.plans.pipeline import PipelineOutputs, run_pipeline


def run_multi(
    spark: SparkSession,
    transcripts: DataFrame,
    configs: list[PipelineConfig],
    groks=None,
    **kwargs,
) -> dict[str, PipelineOutputs]:
    """One outputs bundle per pattern_id. Same task-id value under two
    patterns never shares state (spec'd by the nested-hash keying).

    The grok parse — the most expensive stage — is built ONCE and shared
    by every pattern's pipeline (the reference also parses upstream of
    all its aggregate filters): with more than one pattern, the parsed
    frame is lazily ``localCheckpoint``-ed, so M patterns' consuming
    actions MATERIALIZE the parse once instead of re-executing the regex
    subtree M times (the lineage-truncation tradeoff is PLANS.md's). Each
    pattern then takes it ``pre_parsed`` and checkpoints nothing again. A
    single pattern runs :func:`run_pipeline` on ``transcripts``.

    Each ``run_pipeline`` releases the frames the previous one persisted,
    so only the last pattern's buckets read persisted frames; the others
    recompute from their lineage (identical rows)."""
    from logstash_filter_aggregate_spark.plans.pipeline import parse

    validate_configs(configs)
    shared = len(configs) > 1
    if shared:
        transcripts = parse(transcripts, groks).localCheckpoint(eager=False)
    return {
        cfg.pattern_id: run_pipeline(
            spark, transcripts, cfg, groks=groks, pre_parsed=shared, **kwargs,
        )
        for cfg in configs
    }


def map_count_gauge(sessions: DataFrame, warning_threshold: int = 5000) -> DataFrame:
    """O23: live (still-open) map count vs the warning threshold — the
    reference warns at 5000 resident maps (``aggregate.rb:45,67-68``).
    One row per pattern_id."""
    return (
        sessions.groupBy("pattern_id")
        .agg(
            F.count(F.when(F.col("close_reason") == "open", 1)).alias("live_maps"),
            F.count(F.lit(1)).alias("total_maps"),
        )
        .withColumn("above_warning_threshold", F.col("live_maps") >= warning_threshold)
        .withColumn("warning_threshold", F.lit(warning_threshold))
    )
