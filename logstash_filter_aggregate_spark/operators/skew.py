"""Skew handling for hot conversations (north-star "salted-key
repartitioning and AQE skew handling").

The per-task scan's sort is the one stage a hot task (one conv_id with
100-1000x the median turns) can straggle: all its rows land in a single
partition's sort run. :func:`prereduce` collapses rows into per
``(task, time-bucket)`` *partial rows* BEFORE the task scan — the
heavy shuffle is keyed by ``(task, bucket)`` (the salt), so a hot task
spreads across the cluster; the subsequent ordered scan then sees at
most ``span/bucket`` rows per task instead of millions.

Exactness:
- inactivity-gap splits are EXACT when ``bucket_s <= inactivity_timeout``
  (two rows inside one bucket are less than a bucket apart, so a gap can
  never split mid-bucket);
- the absolute age cap may split mid-bucket; pre-reduction quantizes
  that split to a bucket boundary (error < bucket_s). Configs that need
  exact age caps should not pre-reduce (checked unless
  ``allow_age_approx=True``).

Partial rows reuse the resume-seed mechanism (``_seed_*`` columns,
plans/resume.py): the scan's aggregation dictionary
(``correlate.session_values``) merges them with each fn's natural
combiner, so no second code path exists downstream.

Two eligibility tiers:

- **plain** (:func:`prereduce_eligible`): every rule ``create_or_update``
  with no ``end_of_task`` and no custom timeouts, order-insensitive aggs
  (sum/count/min/max) — the no-end-event shape (docs example #3).
- **end-marked** (handled inside :func:`prereduce`): rules may carry
  ``end_of_task`` and ``create``/``update`` guard actions. The stream is
  pre-split by the running end-marker count and guard inclusion is
  resolved in the SAME narrow pre-window (one exchange of
  engine-columns-only rows); end rows pass through un-partialed so the
  close metadata (close_kind/end_ts/end_turn_idx) stays exact. Guard
  decisions assume no mid-segment gap/age expiry — statically safe when
  both timeouts are effectively infinite (>= NO_EXPIRY_S, the batch
  example #1 shape); otherwise opt in with ``assume_no_expiry=True``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import (
    KIND_COL,
    TASK_ID_COL,
    ConfigurationError,
    PipelineConfig,
)
from logstash_filter_aggregate_spark.operators.correlate import SEED_RULE, _merged_agg_specs, _value_sql

_PREREDUCIBLE_FNS = {"sum", "count", "min", "max"}

# both timeouts at/above this are treated as "no expiry can occur": the
# guard precomputation in end-marked mode is then exact (a 3-year-plus
# event-time span inside one batch would violate it — pass
# assume_no_expiry explicitly in that case, or don't prereduce)
NO_EXPIRY_S = 1e8


def prereduce_eligible(cfg: PipelineConfig) -> bool:
    return (
        all(
            r.map_action == "create_or_update"
            and not r.end_of_task
            and r.custom_timeout is None
            and r.custom_inactivity_timeout is None
            for r in cfg.rules
        )
        and all(s.fn in _PREREDUCIBLE_FNS for r in cfg.rules for s in r.aggs)
    )


def _pre_guard_included(w) -> Column:
    """Guard inclusion resolved in the pre-window with running counts:
    the first can-create row of an end-segment creates the map, later
    ``create`` rows are duplicate-start no-ops, ``update`` rows before the
    creator are no-ops. Exact under prereduce's precondition that no map
    expires mid-segment.

    Why this is a window and not the scan's guard decision: prereduce
    must drop guard-rejected rows *before* it collapses rows into
    partial rows, since a super-row no longer knows which of its rows
    ran the code. The scan runs after the task exchange, and its input
    here is the super-rows. Asking the scan instead would mean a second
    full-volume task exchange plus a Python pass over the hot task
    before the salted one, which is exactly the serial cost prereduce
    exists to avoid. The window runs on a narrow projection, on the JVM,
    in the one pre-window prereduce already needs for its end-marker
    split."""
    run = w.rowsBetween(W.unboundedPreceding, 0)
    cc = (F.col("_action") != "update").cast("int")
    cc_incl = F.coalesce(F.sum(cc).over(run), F.lit(0))
    seg_start = F.lag("_end_flag").over(w).isNull() | (F.lag("_end_flag").over(w) == 1)
    ord_c = F.row_number().over(w)
    cc_before_seg = F.max(
        F.when(seg_start, F.struct(ord_c.alias("o"), (cc_incl - cc).alias("v")))
    ).over(run)["v"]
    cc_in_seg = cc_incl - cc_before_seg
    prior_cc = cc_in_seg - cc
    return (
        F.when((cc == 1) & (prior_cc == 0), F.lit(True))
        .when(F.col("_action") == "create", F.lit(False))
        .otherwise(cc_in_seg >= 1)
    )


def guard_inclusion_frame(classified: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-row guard inclusion ``(conv_id, turn_idx, _g_included)`` for
    guard-gated rules, resolved directly on the classified stream with the
    same narrow pre-window :func:`prereduce` uses — the prereduce-path
    substitute for the scan's effect rows, which on this path come from
    super-rows. Valid under
    prereduce's own precondition (no mid-segment gap/age expiry, enforced
    by :func:`prereduce`); joins back to the full-width stream on the
    (conv_id, turn_idx) row key."""
    w = W.partitionBy(TASK_ID_COL).orderBy("ts", "conv_id", "turn_idx")
    gated = [r.rule_id for r in cfg.rules if r.map_action != "create_or_update"]
    part = classified.where(
        F.col(TASK_ID_COL).isNotNull() & F.col(KIND_COL).isNotNull()
    ).select("conv_id", "turn_idx", "ts", TASK_ID_COL, KIND_COL, "_action", "_end_flag")
    return (
        part.withColumn("_g_included", _pre_guard_included(w))
        .where(F.col(KIND_COL).isin(gated))
        .select("conv_id", "turn_idx", "_g_included")
    )


def prereduce(
    classified: DataFrame,
    cfg: PipelineConfig,
    bucket_s: float | None = None,
    allow_age_approx: bool = False,
    assume_no_expiry: bool = False,
) -> DataFrame:
    """Collapse classified correlation rows into per-(task, segment,
    bucket) partial rows in seed shape. Non-participating rows are
    untouched by the caller (this operates on the correlation stream
    only). End-marked / guarded configs are handled per the module
    docstring; end rows always pass through un-partialed."""
    if any(
        r.custom_timeout is not None or r.custom_inactivity_timeout is not None
        for r in cfg.rules
    ):
        raise ConfigurationError("prereduce does not support custom per-map timeouts")
    if cfg.push_previous_exact:
        # partial rows merge across interleaved runs — the global run
        # structure push_previous_exact needs is gone after bucketing
        raise ConfigurationError("prereduce is incompatible with push_previous_exact")
    if not all(s.fn in _PREREDUCIBLE_FNS for r in cfg.rules for s in r.aggs):
        raise ConfigurationError(
            "prereduce requires order-insensitive aggregations (sum/count/min/max)"
        )
    has_ends = any(r.end_of_task for r in cfg.rules)
    has_guards = any(r.map_action != "create_or_update" for r in cfg.rules)
    no_expiry = (
        cfg.timeout >= NO_EXPIRY_S and cfg.effective_inactivity_timeout >= NO_EXPIRY_S
    )
    if has_guards and not (no_expiry or assume_no_expiry):
        raise ConfigurationError(
            "prereduce with create/update guard actions precomputes guard "
            "inclusion assuming no mid-segment gap/age expiry; that holds "
            "statically only when both timeouts are effectively infinite — "
            "pass assume_no_expiry=True to accept it for this data"
        )
    inact = float(cfg.effective_inactivity_timeout)
    if bucket_s is None:
        bucket_s = min(inact, 3600.0) if no_expiry else inact
    if bucket_s > inact:
        raise ConfigurationError(f"bucket_s={bucket_s} must be <= inactivity_timeout={inact}")
    if cfg.timeout < NO_EXPIRY_S and not allow_age_approx:
        # the age cap always exists (default 1800s); quantization error is
        # < bucket_s — callers opt in explicitly
        raise ConfigurationError(
            "prereduce quantizes absolute-age splits to bucket boundaries "
            "(error < bucket_s); pass allow_age_approx=True to accept"
        )

    from logstash_filter_aggregate_spark.operators.correlate import narrow_for_correlation

    merged = _merged_agg_specs(cfg)
    ts_sec = F.col("ts").cast("timestamp").cast("double")
    bucket = F.floor(ts_sec / F.lit(float(bucket_s)))

    # aggregate over the pre-projected _v_ columns (projected=True): the
    # whole prereduce stage — pre-window included — carries narrow rows
    partials = []
    for name, (fn, sources) in merged.items():
        val = F.expr(_value_sql(sources, projected=True))
        if fn == "sum":
            partials.append(F.sum(val).alias(f"_seed_{name}"))
        elif fn == "count":
            partials.append(
                F.count(F.when(F.col(KIND_COL).isin([r for r, _ in sources]), 1)).alias(f"_seed_{name}")
            )
        elif fn == "min":
            partials.append(F.min(val).alias(f"_seed_{name}"))
        elif fn == "max":
            partials.append(F.max(val).alias(f"_seed_{name}"))

    participating = narrow_for_correlation(
        classified.where(F.col(TASK_ID_COL).isNotNull() & F.col(KIND_COL).isNotNull()),
        cfg,
    )
    narrow = participating.schema

    seg_key: list = []
    ends = None
    if has_ends or has_guards:
        # ONE narrow pre-window on the task key: running end-count splits
        # segments; guard inclusion (if any) resolves in the same window
        w = W.partitionBy(TASK_ID_COL).orderBy("ts", "conv_id", "turn_idx")
        pre_seg = F.coalesce(
            F.sum((F.col("_end_flag") == 1).cast("int")).over(
                w.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        participating = participating.withColumn("_pre_seg", pre_seg)
        if has_guards:
            participating = (
                participating.withColumn("_pre_inc", _pre_guard_included(w))
                .where(F.col("_pre_inc"))
                .drop("_pre_inc")
            )
        seg_key = [F.col("_pre_seg")]
        # end rows carry the close metadata (close_kind/end_ts/end_turn_idx)
        # and their own agg inputs — they pass through exactly
        ends = participating.where(F.col("_end_flag") == 1).drop("_pre_seg")
        participating = participating.where(F.col("_end_flag") == 0)

    reduced = (
        participating.groupBy(TASK_ID_COL, F.col("conv_id"), *seg_key, bucket.alias("_bucket"))
        .agg(
            F.min("ts").alias("ts"),                            # arrival position of the bucket
            F.min("ts").alias("_seed_creation_ts"),
            F.max("ts").alias("_seed_lastevent_ts"),
            F.count(F.lit(1)).alias("_seed_nevents"),
            F.min("turn_idx").alias("turn_idx"),
            *partials,
        )
        .drop("_bucket", "_pre_seg")
        .withColumns(
            {
                KIND_COL: F.lit(SEED_RULE),
                "_end_flag": F.lit(0),
                "_action": F.lit("create_or_update"),
                "_custom_timeout": F.lit(None).cast("double"),
                "_custom_inactivity": F.lit(None).cast("double"),
            }
        )
    )
    if ends is not None:
        reduced = reduced.unionByName(ends, allowMissingColumns=True)
    # the scan reads every pre-evaluated input column, typed as the
    # narrow stream types it, even when only partial rows remain
    for f in narrow.fields:
        if f.name.startswith(("_v_", "_e_")) and f.name not in reduced.columns:
            reduced = reduced.withColumn(f.name, F.lit(None).cast(f.dataType))
    return reduced


def hot_task_counts(classified: DataFrame, threshold: int = 100_000) -> DataFrame:
    """Diagnostic: approximate per-task row counts above a threshold —
    the O23 map-count warning generalized to row skew
    (``aggregate.rb:499-516``)."""
    return (
        classified.groupBy(TASK_ID_COL)
        .agg(F.count(F.lit(1)).alias("rows"))
        .where(F.col("rows") >= threshold)
    )
