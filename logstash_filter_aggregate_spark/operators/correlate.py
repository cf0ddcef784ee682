"""Map-action guards, the aggregation dictionary, and session routing
(SURVEY.md O3, O4-O7, O13-O15, O19, O20).

One ``groupBy`` over the session key ``(_task_id, _end_seg, _gap_seg,
_age_seg)`` replaces the reference's per-event map mutation
(``aggregate.rb:199-246``): Catalyst runs it partial+final, so the
"map" never lives on one node. Routing then classifies each session by
how its map died — ``end_of_task`` deletion (``aggregate.rb:240``),
expiry (``aggregate.rb:396-398,420-445``), immediate ``map_meta.timeout=0``
eviction (``aggregate.rb:259-274``) — or didn't (still live at
end-of-input, the shutdown-persistence analog ``aggregate.rb:154-175``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import (
    KIND_COL,
    ORDER_COL,
    TASK_ID_COL,
    AggSpec,
    ConfigurationError,
    CorrelationRule,
    PipelineConfig,
)

SESSION_KEY = [TASK_ID_COL, "_end_seg", "_gap_seg", "_age_seg"]
SEED_RULE = "_seed"  # rule id of partial rows (resume seeds / prereduce super-rows)
META_COLS = {
    "pattern_id", "task_id", "conv_id", "creation_ts", "lastevent_ts",
    "nevents", "close_kind", "end_ts", "end_turn_idx", "tags",
}


def apply_guards(sessions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """``map_action`` semantics (O3, ``aggregate.rb:202-217``):

    - the map is created by the first row in the session whose action can
      create (``create`` / ``create_or_update``);
    - ``update`` rows before creation are no-ops (``spec:72-84``);
    - ``create`` rows after creation are no-ops — duplicate start keeps
      the first map (``spec:52-68``);
    - sessions with no creating row never materialize a map at all.

    Stays on the single task-partition exchange (no shuffle on the full
    SESSION_KEY): the count of can-create rows seen *at the segment start*
    is propagated forward with the running latest-group-start trick, so
    per-segment creator detection is a subtraction of running counts.
    """
    from logstash_filter_aggregate_spark.operators.sessionize import _running, _w, seg_start_flag

    if all(r.map_action == "create_or_update" for r in cfg.rules):
        # every matched row both creates and updates (aggregate.rb:202:
        # create_or_update never hits a guard return): the first row of
        # each segment creates the map and every row is included — no
        # guard windows needed. This matters most in exact_age_cap mode,
        # where the mapInArrow scan's output reports no partitioning: with
        # no post-scan window, the only shuffle after the scan carries
        # per-session aggregation PARTIALS instead of the event stream.
        return sessions.withColumn("_included", F.lit(True))

    w = _w()
    cc = (F.col("_action") != "update").cast("int")
    cc_incl = F.coalesce(_running(F.sum(cc)), F.lit(0))          # can-creates at/before me (task-wide)
    cc_before_seg = _running(
        F.max(F.when(seg_start_flag(), F.struct(F.col(ORDER_COL).alias("o"), (cc_incl - cc).alias("v"))))
    )["v"]                                                        # can-creates strictly before my segment
    sessions = sessions.withColumn("_cc_in_seg", cc_incl - cc_before_seg)
    # _cc_in_seg counts can-create rows in my segment at-or-before me
    prior_cc = F.col("_cc_in_seg") - cc
    included = (
        F.when((cc == 1) & (prior_cc == 0), F.lit(True))          # I create the map
        .when(F.col("_action") == "create", F.lit(False))         # duplicate start: no-op (spec:52-68)
        .otherwise(F.col("_cc_in_seg") >= 1)                      # update/c-o-u after a creator
    )
    _ = w
    return sessions.withColumn("_included", included).drop("_cc_in_seg")


def _merged_agg_specs(cfg: PipelineConfig) -> dict[str, tuple[str, list[tuple[str, str]]]]:
    """Map keys are shared across filter blocks in the reference (example
    #1: start inits ``sql_duration``, update accumulates into it) — merge
    same-named AggSpecs across rules; the fn must agree."""
    merged: dict[str, tuple[str, list[tuple[str, str]]]] = {}
    for r in cfg.rules:
        for s in r.aggs:
            if s.name in META_COLS or s.name in SESSION_KEY:
                raise ConfigurationError(f"agg name {s.name!r} collides with a reserved column")
            fn, sources = merged.setdefault(s.name, (s.fn, []))
            if fn != s.fn:
                raise ConfigurationError(
                    f"agg {s.name!r} uses fn {s.fn!r} in rule {r.rule_id!r} but {fn!r} elsewhere"
                )
            sources.append((r.rule_id, s.col or "1"))
    return merged


def _value_expr(sources: list[tuple[str, str]], projected: bool = False) -> Column:
    expr: Column = F.lit(None)
    for rid, col in sources:
        src = F.col(value_col_name(rid, col)) if projected else F.expr(col)
        expr = F.when(F.col("_rule_id") == rid, src).otherwise(expr)
    return expr


def _hashed_col(prefix: str, rule_id: str, key: str) -> str:
    # stable engine-column name per (rule, key) — one naming scheme for
    # every pre-projected column family riding the narrow stream
    import hashlib as _h

    return f"{prefix}_{rule_id}_{_h.md5(key.encode()).hexdigest()[:8]}"


def value_col_name(rule_id: str, expr: str) -> str:
    """Pre-evaluated aggregation input (``_v_*``)."""
    return _hashed_col("_v", rule_id, expr)


def emit_col_name(rule_id: str, out_name: str) -> str:
    """Pre-evaluated ``emit`` output column (``_e_*``, O18) riding the
    narrow correlation stream — needed when the emit rule is guard-gated
    (``map_action`` create/update), because the emission then depends on
    ``_included``, which only exists after sessionize+guards."""
    return _hashed_col("_e", rule_id, out_name)


NARROW_BASE = [
    "conv_id", "turn_idx", "ts", TASK_ID_COL, KIND_COL,
    "_end_flag", "_action", "_custom_timeout", "_custom_inactivity",
]


def narrow_for_correlation(classified: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Project the correlation stream down to the engine columns plus
    pre-evaluated aggregation inputs (``_v_<rule>_<hash>``) BEFORE the
    task-id exchange: the shuffle and the window sort then carry narrow
    rows instead of raw text + every parsed capture — the columnar
    equivalent of predicate/projection pushdown for the stateful stage."""
    vcols: dict[str, Column] = {}
    for r in cfg.rules:
        for s in r.aggs:
            if not s.col:
                continue
            name = value_col_name(r.rule_id, s.col)
            if name not in vcols:
                vcols[name] = F.when(F.col(KIND_COL) == r.rule_id, F.expr(s.col)).alias(name)
        if r.emit and r.map_action != "create_or_update":
            # guard-gated emit rule: the emission fires only for _included
            # rows, decided post-sessionize — pre-evaluate the emit
            # expressions here so the inline bucket reads them off the
            # guarded frame without a second pass over the raw stream
            for out_name, e in r.emit.items():
                cname = emit_col_name(r.rule_id, out_name)
                vcols[cname] = F.when(F.col(KIND_COL) == r.rule_id, F.expr(e)).alias(cname)
    seed_cols = [c for c in classified.columns if c.startswith("_seed_")]

    narrow_base: list[Column | str] = list(NARROW_BASE)
    import re as _re

    m = _re.fullmatch(r"%\{(\w+)\}", cfg.task_id)
    field = m.group(1) if m else None
    if field in classified.columns and dict(classified.dtypes).get(field) == "string":
        # Single string-field task id: downstream, rows with a NULL
        # _task_id or _rule_id are dropped before any window (sessionize),
        # and for matched rows the classify CASE equals the raw attribute
        # — so aliasing the ATTRIBUTE here is semantically identical. It
        # matters for bucketed tables: Catalyst propagates the scan's
        # HashPartitioning through attribute aliases but not through CASE
        # expressions, so a table bucketed by this column runs the entire
        # correlation stage with ZERO event-stream exchange
        # (tests/test_plans.py::test_bucketed_table_elides_task_exchange).
        narrow_base[narrow_base.index(TASK_ID_COL)] = F.col(field).alias(TASK_ID_COL)
    return classified.select(*narrow_base, *seed_cols, *vcols.values())


def _agg_column(
    name: str, fn: str, sources: list[tuple[str, str]], with_seeds: bool,
    projected: bool = False,
) -> Column:
    """The aggregation dictionary (O6) — every entry a Catalyst built-in
    with map-side partial aggregation. Order-sensitive fns (`first`,
    `last`, `collect_list`) ride on ``_ord`` via struct min/max /
    sort_array, so results are independent of partitioning (the departure
    from the reference's arrival-order ``-w 1`` mode).

    ``with_seeds``: resumed runs inject one seed row per previously-open
    map (plans/resume.py, the ``aggregate_maps_path`` reload analog,
    ``aggregate.rb:136-140``) carrying the prior partial aggregate in
    ``_seed_<name>``; each fn merges it with its natural combiner."""
    # count never evaluates its source (and "1" is not projected)
    val = _value_expr(sources, projected) if fn != "count" else F.lit(None)
    inc = F.col("_included")
    is_seed = F.col("_rule_id") == SEED_RULE
    seed_val = F.col(f"_seed_{name}") if with_seeds else F.lit(None)
    if with_seeds and fn in ("sum", "min", "max", "first", "last"):
        val = F.when(is_seed, seed_val).otherwise(val)
    val = F.when(inc, val)
    rule_match = F.when(inc & F.col("_rule_id").isin([r for r, _ in sources]), 1)
    if fn == "sum":
        return F.sum(val).alias(name)
    if fn == "count":
        if with_seeds:
            # count merges as a sum of weights: seed weight = prior count
            return F.sum(
                F.when(inc & is_seed, F.coalesce(seed_val.cast("long"), F.lit(0)))
                .when(rule_match.isNotNull(), F.lit(1))
                .otherwise(F.lit(0))
            ).alias(name)
        return F.count(rule_match).alias(name)
    if fn == "min":
        return F.min(val).alias(name)
    if fn == "max":
        return F.max(val).alias(name)
    if fn == "avg":
        # handled via _avg_partials in aggregate_sessions (sum+count
        # helpers make avg resumable across runs)
        raise AssertionError("avg is expanded by aggregate_sessions, not _agg_column")
    if fn == "first":
        # ||= first non-null in turn order (docs/index.asciidoc:136); a
        # seed row has the minimum _ord in its session, so it wins here.
        # min_by instead of min-of-struct: no per-row struct allocation,
        # ~20% cheaper in the aggregate stage; _ord is unique per session
        # so the tie-order caveat of min_by cannot bite.
        return F.min_by(val, F.when(val.isNotNull(), F.col(ORDER_COL))).alias(name)
    if fn == "last":
        return F.max_by(val, F.when(val.isNotNull(), F.col(ORDER_COL))).alias(name)
    if fn in ("collect_list", "collect_set"):
        # map['towns'] << {...} in arrival order (docs/index.asciidoc:231-233)
        new_items = F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(val.isNotNull() & ~is_seed, F.struct(F.col(ORDER_COL).alias("o"), val.alias("v")))
                )
            ),
            lambda x: x["v"],
        )
        if with_seeds:
            # seed carries the prior array; prepend it (seed is earliest).
            # at most one seed per session, so an unordered first is fine
            prior = F.first(F.when(inc & is_seed, seed_val), ignorenulls=True)
            new_items = F.concat(_empty_if_null(prior, new_items), new_items)
        if fn == "collect_set":
            return F.array_distinct(new_items).alias(name)
        return new_items.alias(name)
    raise ConfigurationError(f"unhandled agg fn {fn!r}")


def _empty_if_null(arr: Column, like: Column) -> Column:
    # empty array of the same element type as `like`
    return F.coalesce(arr, F.slice(like, 1, 0))


def _avg_partials(
    name: str, sources: list[tuple[str, str]], with_seeds: bool, projected: bool,
    available: set[str],
) -> list[Column]:
    """avg decomposed into ``_avg_sum_<name>`` / ``_avg_cnt_<name>``
    partials so the OPEN bucket carries mergeable state — resumed runs
    combine seed sum+count with the new rows' (the reference's map would
    hold the running sum and count explicitly; a bare average is not a
    mergeable aggregate). The visible ``<name>`` column is derived after
    the groupBy."""
    val = (_value_expr(sources, projected) if sources else F.lit(None)).cast("double")
    inc = F.col("_included")
    is_seed = F.col("_rule_id") == SEED_RULE
    if with_seeds:
        if f"_seed__avg_sum_{name}" not in available:
            raise ConfigurationError(
                f"agg {name!r}: resuming avg needs _avg_sum_/_avg_cnt_ helper "
                "columns in the open-maps input — was it produced by an older config?"
            )
        sum_src = F.when(is_seed, F.col(f"_seed__avg_sum_{name}")).otherwise(val)
        cnt_src = (
            F.when(is_seed, F.coalesce(F.col(f"_seed__avg_cnt_{name}"), F.lit(0)))
            .otherwise(F.when(val.isNotNull(), F.lit(1)).otherwise(F.lit(0)))
        )
    else:
        sum_src = val
        cnt_src = F.when(val.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    return [
        F.sum(F.when(inc, sum_src)).alias(f"_avg_sum_{name}"),
        F.sum(F.when(inc, cnt_src).otherwise(F.lit(0))).cast("long").alias(f"_avg_cnt_{name}"),
    ]


def aggregate_sessions(guarded: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """One row per task-instance map: aggregation values + ``map_meta``
    (creation/lastevent timestamps, ``aggregate.rb:521-535``) + how the
    session closed. Seed rows from a resumed run (plans/resume.py)
    contribute their prior creation time / event count."""
    merged = _merged_agg_specs(cfg)
    with_seeds = "_seed_nevents" in guarded.columns
    projected = any(c.startswith("_v_") for c in guarded.columns)
    inc = F.col("_included")
    ord_c = F.col(ORDER_COL)

    creation_src = (
        F.coalesce(F.col("_seed_creation_ts"), F.col("ts")) if with_seeds else F.col("ts")
    )
    lastevent_src = (
        F.coalesce(F.col("_seed_lastevent_ts"), F.col("ts"))
        if with_seeds and "_seed_lastevent_ts" in guarded.columns
        else F.col("ts")
    )
    nevents_w = (
        F.coalesce(F.col("_seed_nevents"), F.lit(1)) if with_seeds else F.lit(1)
    )
    aggs = [
        F.min(F.when(inc, creation_src)).alias("creation_ts"),       # O4 aggregate.rb:525-528
        F.max(F.when(inc, lastevent_src)).alias("lastevent_ts"),     # O5 aggregate.rb:220-221
        F.sum(F.when(inc, nevents_w).otherwise(F.lit(0))).alias("nevents"),
        # min_by/max_by instead of min/max-of-struct: same value (_ord is
        # unique within a session), no per-row struct allocation
        F.min_by(F.col("conv_id"), F.when(inc, ord_c)).alias("conv_id"),
        # the close row is by construction the last row of its segment
        F.max(
            F.when(
                inc & (F.col("_close_flag") == 1),
                F.when(F.col("_end_flag") == 1, F.lit("end")).otherwise(F.lit("custom0")),
            )
        ).alias("close_kind"),
        F.max(F.when(inc & (F.col("_close_flag") == 1), F.col("ts"))).alias("end_ts"),
        F.max(F.when(inc & (F.col("_close_flag") == 1), F.col("turn_idx"))).alias("end_turn_idx"),
        # last-set per-map override wins (aggregate.rb:243-246)
        F.max_by(
            F.col("_custom_timeout"), F.when(inc & (F.col("_custom_timeout") > 0), ord_c)
        ).alias("_session_timeout"),
        F.max_by(
            F.col("_custom_inactivity"), F.when(inc & (F.col("_custom_inactivity") > 0), ord_c)
        ).alias("_session_inactivity"),
    ]
    avg_names: list[str] = []
    available = set(guarded.columns)
    for n, (fn, srcs) in merged.items():
        if fn == "avg":
            avg_names.append(n)
            aggs.extend(_avg_partials(n, srcs, with_seeds, projected, available))
        else:
            aggs.append(_agg_column(n, fn, srcs, with_seeds, projected))
    out = (
        guarded.groupBy(*SESSION_KEY)
        .agg(*aggs)
        .where(F.col("nevents") > 0)  # sessions with no creating row never made a map
        .withColumn("pattern_id", F.lit(cfg.pattern_id))
        .withColumnRenamed(TASK_ID_COL, "task_id")
    )
    for n in avg_names:
        out = out.withColumn(
            n,
            F.when(
                F.col(f"_avg_cnt_{n}") > 0, F.col(f"_avg_sum_{n}") / F.col(f"_avg_cnt_{n}")
            ),
        )
    return out


@dataclass
class RoutedSessions:
    """The fan-out buckets (SURVEY.md U5; FIXTURES.md sinks)."""

    completed: DataFrame   # end_of_task-closed maps, end-row-enriched (O7/O8)
    timeout: DataFrame     # expired maps pushed as timeout events (O9-O15)
    inline: DataFrame      # map_meta.timeout=0 immediate evictions (O17)
    open: DataFrame        # maps still live at end-of-input (persistence analog O21)
    sessions: DataFrame    # every materialized map, with close_reason


def route_sessions(
    sessions: DataFrame, cfg: PipelineConfig, watermark_df: DataFrame | None = None
) -> RoutedSessions:
    """Classify each map by how it died and split the buckets:
    :func:`split_sessions` over :func:`close_sessions`."""
    return split_sessions(close_sessions(sessions, cfg, watermark_df), cfg)


# helper columns close_sessions adds; every bucket drops them
_ROUTE_COLS = ["_end_seg", "_gap_seg", "_age_seg", "_is_last", "_watermark",
               "_session_timeout", "_session_inactivity", "close_kind"]


def close_sessions(
    sessions: DataFrame, cfg: PipelineConfig, watermark_df: DataFrame | None = None
) -> DataFrame:
    """Set each map's ``close_reason``.

    Expiry is event-time (the reference's only deterministic mode,
    ``spec:374-390``): a non-last session of a task was by construction
    expired by the arrival of the task's next event
    (``aggregate.rb:420-445``); the last session is checked against the
    end-of-input watermark ``max(lastevent_ts)`` — expired maps would
    have been pushed by the periodic flush (``aggregate.rb:386-416``),
    live maps survive to shutdown (``aggregate.rb:154-175``).
    """
    w_task = W.partitionBy("pattern_id", "task_id")
    seg = F.struct("_end_seg", "_gap_seg", "_age_seg")
    is_last = (F.max(seg).over(w_task) == seg).cast("boolean")
    sessions = sessions.withColumn("_is_last", is_last)

    # End-of-input "now" (the event-time analog of the final flush's
    # Time.now, aggregate.rb:388-390). Computed from the RAW input when
    # provided — a scan-only, column-pruned subtree — instead of from
    # `sessions`, which would recompute the whole pipeline a second time
    # just to produce one scalar.
    if watermark_df is not None:
        wm = watermark_df.agg(F.max("ts").alias("_watermark"))
    else:
        wm = sessions.agg(F.max("lastevent_ts").alias("_watermark"))
    sessions = sessions.crossJoin(F.broadcast(wm))

    eff_timeout = F.coalesce(F.col("_session_timeout"), F.lit(float(cfg.timeout)))
    eff_inact = F.coalesce(
        F.col("_session_inactivity"), F.lit(float(cfg.effective_inactivity_timeout))
    )
    wm_s = F.col("_watermark").cast("timestamp").cast("double")
    age_expired = wm_s - F.col("creation_ts").cast("timestamp").cast("double") > eff_timeout
    gap_expired = wm_s - F.col("lastevent_ts").cast("timestamp").cast("double") > eff_inact
    if cfg.timeout_timestamp_field is None:
        # processing-time mode: no wall clock passes during the replay, so
        # nothing is expired at the final flush either (config.py docs)
        age_expired = F.lit(False)
        gap_expired = F.lit(False)

    reason = (
        F.when(F.col("close_kind") == "end", F.lit("completed"))
        .when(F.col("close_kind") == "custom0", F.lit("inline"))
        .when(~F.col("_is_last"), F.lit("timeout"))          # expired on next arrival
        .when(age_expired | gap_expired, F.lit("timeout"))   # expired vs watermark
        .otherwise(F.lit("open"))
    )
    return sessions.withColumn("close_reason", reason)


def split_sessions(sessions: DataFrame, cfg: PipelineConfig) -> RoutedSessions:
    """The buckets of a :func:`close_sessions` frame, each a filter over
    it: a persisted closed frame feeds every bucket without recomputing
    the correlation or re-scanning the input for the watermark."""
    def _as_open(df: DataFrame) -> DataFrame:
        # the OPEN bucket is the persistence analog of aggregate_maps_path
        # (O21): it must carry the map's effective custom timeout
        # overrides (the reference Marshal-dumps map_meta too,
        # aggregate.rb:125-140) — a resumed map must keep its overridden
        # clocks, not fall back to the pattern defaults
        keep = [d for d in _ROUTE_COLS if d not in ("_session_timeout", "_session_inactivity")]
        return (
            df.drop(*keep)
            .withColumnRenamed("_session_timeout", "map_custom_timeout")
            .withColumnRenamed("_session_inactivity", "map_custom_inactivity")
        )

    completed = sessions.where(F.col("close_reason") == "completed").drop(*_ROUTE_COLS)

    if cfg.push_previous_map_as_event:
        # O16 (aggregate.rb:205-208,314-320,341-344): with ≤1 live map
        # (guaranteed by the pop-on-creation discipline), every
        # non-completed map is pushed via create_timeout_event — by the
        # next map creation (pop), by same-task expiry-on-arrival, or at
        # final flush; only the globally last-created map gets the
        # shutdown tag (aggregate.rb:348-351, O20).
        pushed = sessions.where(F.col("close_reason").isin("timeout", "open"))
        # globally-last-created map via broadcast agg (a partition-less
        # window would drag every session through one partition)
        glast = pushed.agg(F.max(F.struct("creation_ts", "task_id")).alias("_g"))
        pushed = pushed.crossJoin(F.broadcast(glast)).withColumn(
            "_g_last", F.col("_g") == F.struct("creation_ts", "task_id")
        ).drop("_g")
        timeout = _timeout_event(pushed, cfg, final_col="_g_last").drop(*_ROUTE_COLS, "_g_last")
        inline_rows = sessions.where(F.col("close_reason") == "inline")
        inline = _timeout_event(inline_rows, cfg, final_col=None).drop(*_ROUTE_COLS)
        open_maps = _as_open(sessions.where(F.lit(False)))
        return RoutedSessions(
            completed=completed, timeout=timeout, inline=inline,
            open=open_maps, sessions=sessions.drop(*_ROUTE_COLS),
        )

    timeout_rows = sessions.where(F.col("close_reason") == "timeout")
    inline_rows = sessions.where(F.col("close_reason") == "inline")
    if cfg.push_map_as_event_on_timeout:
        timeout = _timeout_event(timeout_rows, cfg, final_col=None).drop(*_ROUTE_COLS)
        inline = _timeout_event(inline_rows, cfg, final_col=None).drop(*_ROUTE_COLS)
    else:
        # without push, expired maps are silently discarded
        # (aggregate.rb:399-400 only collects events when configured)
        timeout = timeout_rows.limit(0).drop(*_ROUTE_COLS)
        inline = inline_rows.limit(0).drop(*_ROUTE_COLS)

    open_maps = _as_open(sessions.where(F.col("close_reason") == "open"))
    return RoutedSessions(
        completed=completed,
        timeout=timeout,
        inline=inline,
        open=open_maps,
        sessions=sessions.drop(*_ROUTE_COLS),
    )


def _timeout_event(df: DataFrame, cfg: PipelineConfig, final_col: str | None) -> DataFrame:
    """Timeout-event construction (O13/O14, ``aggregate.rb:281-311``):
    the event is built from the map alone; ``timeout_task_id_field``
    receives the task id, ``timeout_tags`` are appended, ``timeout_code``
    runs as plain column expressions. Rows where ``final_col`` is true
    additionally get ``_aggregatefinalflush`` (``aggregate.rb:348-351``)."""
    if cfg.timeout_task_id_field:
        df = df.withColumn(cfg.timeout_task_id_field, F.col("task_id"))
    base = (
        F.array(*[F.lit(t) for t in cfg.timeout_tags])
        if cfg.timeout_tags
        else F.array().cast("array<string>")
    )
    tags = base
    if final_col is not None:
        tags = F.when(
            F.col(final_col), F.array_union(base, F.array(F.lit("_aggregatefinalflush")))
        ).otherwise(base)
    df = df.withColumn("tags", tags)
    for name, expr in (cfg.timeout_code or {}).items():
        df = df.withColumn(name, F.expr(expr))
    return df
