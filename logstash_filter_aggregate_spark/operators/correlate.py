"""The aggregation dictionary and session routing (SURVEY.md O4-O7,
O13-O15, O19, O20); the map-action guards (O3) run in ``sessionize``.

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

from pyspark.sql import Column, DataFrame
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
from logstash_filter_aggregate_spark.sqltext import case, double, ident, quote, with_columns

SESSION_KEY = [TASK_ID_COL, "_end_seg", "_gap_seg", "_age_seg"]
SEED_RULE = "_seed"  # rule id of partial rows (resume seeds / prereduce super-rows)
META_COLS = {
    "pattern_id", "task_id", "conv_id", "creation_ts", "lastevent_ts",
    "nevents", "close_kind", "end_ts", "end_turn_idx", "tags",
}


def apply_guards(sessions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The ``map_action`` guards (O3) run inside :func:`sessionize`, which
    emits ``_included`` in both modes; this returns its input, for
    callers of the former two-step ``apply_guards(sessionize(...))``."""
    return sessions


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


def _value_sql(sources: list[tuple[str, str]], projected: bool = False) -> str:
    """Each row's input to one merged aggregate: the source of the rule
    that matched it (its pre-evaluated ``_v_*`` column when
    ``projected``), NULL for other rows."""
    expr = "NULL"
    for rid, col in sources:
        src = ident(value_col_name(rid, col)) if projected else f"({col})"
        expr = case([(f"_rule_id = {quote(rid)}", src)], expr)
    return expr


def _value_expr(sources: list[tuple[str, str]], projected: bool = False) -> Column:
    """:func:`_value_sql` as a Column."""
    return F.expr(_value_sql(sources, projected))


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
    ``_included``, which only exists after sessionize."""
    return _hashed_col("_e", rule_id, out_name)


NARROW_BASE = [
    "conv_id", "turn_idx", "ts", TASK_ID_COL, KIND_COL,
    "_end_flag", "_action", "_custom_timeout", "_custom_inactivity",
]


def narrow_for_correlation(classified: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Project the correlation stream down to the engine columns plus
    pre-evaluated aggregation inputs (``_v_<rule>_<hash>``) BEFORE the
    task-id exchange: the shuffle and the scan's sort then carry narrow
    rows instead of raw text + every parsed capture — the columnar
    equivalent of predicate/projection pushdown for the stateful stage."""
    vcols: dict[str, str] = {}
    for r in cfg.rules:
        matched = f"{KIND_COL} = {quote(r.rule_id)}"
        for sp in r.aggs:
            if sp.col:
                vcols.setdefault(value_col_name(r.rule_id, sp.col), case([(matched, f"({sp.col})")]))
        if r.emit and r.map_action != "create_or_update":
            # guard-gated emit rule: the emission fires only for _included
            # rows, decided post-sessionize — pre-evaluate the emit
            # expressions here so the inline bucket reads them off the
            # guarded frame without a second pass over the raw stream
            for out_name, e in r.emit.items():
                vcols[emit_col_name(r.rule_id, out_name)] = case([(matched, f"({e})")])
    seed_cols = [ident(c) for c in classified.columns if c.startswith("_seed_")]

    narrow_base = list(NARROW_BASE)
    import re as _re

    m = _re.fullmatch(r"%\{(\w+)\}", cfg.task_id)
    field = m.group(1) if m else None
    if field in classified.columns and dict(classified.dtypes).get(field) == "string":
        # Single string-field task id: downstream, rows with a NULL
        # _task_id or _rule_id are dropped before the scan (sessionize),
        # and for matched rows the classify CASE equals the raw attribute
        # — so aliasing the ATTRIBUTE here is semantically identical. It
        # matters for bucketed tables: Catalyst propagates the scan's
        # HashPartitioning through attribute aliases but not through CASE
        # expressions, so a table bucketed by this column runs the entire
        # correlation stage with ZERO event-stream exchange
        # (tests/test_plans.py::test_bucketed_table_elides_task_exchange).
        narrow_base[narrow_base.index(TASK_ID_COL)] = f"{ident(field)} AS {TASK_ID_COL}"
    return classified.selectExpr(
        *narrow_base, *seed_cols, *[f"{e} AS {ident(n)}" for n, e in vcols.items()]
    )


def _agg_column(
    name: str, fn: str, sources: list[tuple[str, str]], with_seeds: bool,
    projected: bool = False,
) -> str:
    """The aggregation dictionary (O6) — every entry a Catalyst built-in
    with map-side partial aggregation. Order-sensitive fns (`first`,
    `last`, `collect_list`) ride on ``_ord`` via min_by/max_by /
    sort_array, so results are independent of partitioning (the departure
    from the reference's arrival-order ``-w 1`` mode).

    ``with_seeds``: resumed runs inject one seed row per previously-open
    map (plans/resume.py, the ``aggregate_maps_path`` reload analog,
    ``aggregate.rb:136-140``) carrying the prior partial aggregate in
    ``_seed_<name>``; each fn merges it with its natural combiner."""
    # count never evaluates its source (and "1" is not projected)
    val = _value_sql(sources, projected) if fn != "count" else "NULL"
    inc = "_included"
    is_seed = f"_rule_id = {quote(SEED_RULE)}"
    seed_val = ident(f"_seed_{name}") if with_seeds else "NULL"
    if with_seeds and fn in ("sum", "min", "max", "first", "last"):
        val = case([(is_seed, seed_val)], val)
    val = case([(inc, val)])
    in_rules = ", ".join(quote(r) for r, _ in sources)
    rule_match = case([(f"{inc} AND _rule_id IN ({in_rules})", "1")])
    if fn == "sum":
        agg = f"sum({val})"
    elif fn == "count":
        if with_seeds:
            # count merges as a sum of weights: seed weight = prior count
            agg = "sum(" + case(
                [
                    (f"{inc} AND {is_seed}", f"coalesce(CAST({seed_val} AS BIGINT), 0)"),
                    (f"{rule_match} IS NOT NULL", "1"),
                ],
                "0",
            ) + ")"
        else:
            agg = f"count({rule_match})"
    elif fn in ("min", "max"):
        agg = f"{fn}({val})"
    elif fn == "avg":
        # handled via _avg_partials in aggregate_sessions (sum+count
        # helpers make avg resumable across runs)
        raise AssertionError("avg is expanded by aggregate_sessions, not _agg_column")
    elif fn in ("first", "last"):
        # ||= first non-null in turn order (docs/index.asciidoc:136); a
        # seed row has the minimum _ord in its session, so it wins here.
        # min_by instead of min-of-struct: no per-row struct allocation,
        # ~20% cheaper in the aggregate stage; _ord is unique per session
        # so the tie-order caveat of min_by cannot bite.
        by = "min_by" if fn == "first" else "max_by"
        agg = f"{by}({val}, CASE WHEN {val} IS NOT NULL THEN {ORDER_COL} END)"
    elif fn in ("collect_list", "collect_set"):
        # map['towns'] << {...} in arrival order (docs/index.asciidoc:231-233)
        item = case([(f"{val} IS NOT NULL AND NOT ({is_seed})", f"struct({ORDER_COL} AS o, {val} AS v)")])
        agg = f"transform(sort_array(collect_list({item})), x -> x.v)"
        if with_seeds:
            # seed carries the prior array; prepend it (seed is earliest).
            # at most one seed per session, so an unordered first is fine;
            # an empty slice of the new items types a missing prior
            prior = f"first({case([(f'{inc} AND {is_seed}', seed_val)])}, true)"
            agg = f"concat(coalesce({prior}, slice({agg}, 1, 0)), {agg})"
        if fn == "collect_set":
            agg = f"array_distinct({agg})"
    else:
        raise ConfigurationError(f"unhandled agg fn {fn!r}")
    return f"{agg} AS {ident(name)}"


def _avg_partials(
    name: str, sources: list[tuple[str, str]], with_seeds: bool, projected: bool,
    available: set[str],
) -> list[str]:
    """avg decomposed into ``_avg_sum_<name>`` / ``_avg_cnt_<name>``
    partials so the OPEN bucket carries mergeable state — resumed runs
    combine seed sum+count with the new rows' (the reference's map would
    hold the running sum and count explicitly; a bare average is not a
    mergeable aggregate). The visible ``<name>`` column is derived after
    the groupBy."""
    val = f"CAST({_value_sql(sources, projected) if sources else 'NULL'} AS DOUBLE)"
    is_seed = f"_rule_id = {quote(SEED_RULE)}"
    counted = case([(f"{val} IS NOT NULL", "1")], "0")
    if with_seeds:
        if f"_seed__avg_sum_{name}" not in available:
            raise ConfigurationError(
                f"agg {name!r}: resuming avg needs _avg_sum_/_avg_cnt_ helper "
                "columns in the open-maps input — was it produced by an older config?"
            )
        sum_src = case([(is_seed, ident(f"_seed__avg_sum_{name}"))], val)
        cnt_src = case([(is_seed, f"coalesce({ident(f'_seed__avg_cnt_{name}')}, 0)")], counted)
    else:
        sum_src, cnt_src = val, counted
    return [
        f"sum(CASE WHEN _included THEN {sum_src} END) AS {ident(f'_avg_sum_{name}')}",
        f"CAST(sum(CASE WHEN _included THEN {cnt_src} ELSE 0 END) AS BIGINT) AS {ident(f'_avg_cnt_{name}')}",
    ]


def aggregate_sessions(guarded: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """One row per task-instance map: aggregation values + ``map_meta``
    (creation/lastevent timestamps, ``aggregate.rb:521-535``) + how the
    session closed. Seed rows from a resumed run (plans/resume.py)
    contribute their prior creation time / event count."""
    merged = _merged_agg_specs(cfg)
    available = set(guarded.columns)
    with_seeds = "_seed_nevents" in available
    projected = any(c.startswith("_v_") for c in available)

    creation_src = "coalesce(_seed_creation_ts, ts)" if with_seeds else "ts"
    lastevent_src = (
        "coalesce(_seed_lastevent_ts, ts)"
        if with_seeds and "_seed_lastevent_ts" in available
        else "ts"
    )
    nevents_w = "coalesce(_seed_nevents, 1)" if with_seeds else "1"
    closing = "_included AND _close_flag = 1"
    aggs = [
        f"min(CASE WHEN _included THEN {creation_src} END) AS creation_ts",    # O4 aggregate.rb:525-528
        f"max(CASE WHEN _included THEN {lastevent_src} END) AS lastevent_ts",  # O5 aggregate.rb:220-221
        f"sum(CASE WHEN _included THEN {nevents_w} ELSE 0 END) AS nevents",
        # min_by/max_by instead of min/max-of-struct: same value (_ord is
        # unique within a session), no per-row struct allocation
        f"min_by(conv_id, CASE WHEN _included THEN {ORDER_COL} END) AS conv_id",
        # the close row is by construction the last row of its segment
        f"max(CASE WHEN {closing} THEN CASE WHEN _end_flag = 1 THEN 'end' ELSE 'custom0' END END) AS close_kind",
        f"max(CASE WHEN {closing} THEN ts END) AS end_ts",
        f"max(CASE WHEN {closing} THEN turn_idx END) AS end_turn_idx",
        # last-set per-map override wins (aggregate.rb:243-246)
        f"max_by(_custom_timeout, CASE WHEN _included AND _custom_timeout > 0 THEN {ORDER_COL} END)"
        " AS _session_timeout",
        f"max_by(_custom_inactivity, CASE WHEN _included AND _custom_inactivity > 0 THEN {ORDER_COL} END)"
        " AS _session_inactivity",
        # the scan marks the rows of each task's last map
        "bool_or(_is_last) AS _is_last",
    ]
    names = [
        "creation_ts", "lastevent_ts", "nevents", "conv_id", "close_kind", "end_ts",
        "end_turn_idx", "_session_timeout", "_session_inactivity", "_is_last",
    ]
    if cfg.push_previous_map_as_event:
        # the map's last row in arrival order: the final flush tags the
        # map holding the globally last row (split_sessions)
        aggs.append(f"max(CASE WHEN _included THEN struct({lastevent_src} AS ts, conv_id, turn_idx) END) AS _last_row")
        names.append("_last_row")
    avg_names: list[str] = []
    for n, (fn, srcs) in merged.items():
        if fn == "avg":
            avg_names.append(n)
            aggs.extend(_avg_partials(n, srcs, with_seeds, projected, available))
            names += [f"_avg_sum_{n}", f"_avg_cnt_{n}"]
        else:
            aggs.append(_agg_column(n, fn, srcs, with_seeds, projected))
            names.append(n)
    avgs = [
        f"CASE WHEN {ident(f'_avg_cnt_{n}')} > 0 THEN {ident(f'_avg_sum_{n}')} / {ident(f'_avg_cnt_{n}')} END"
        f" AS {ident(n)}"
        for n in avg_names
    ]
    return (
        guarded.groupBy(*SESSION_KEY)
        .agg(*[F.expr(a) for a in aggs])
        .where("nevents > 0")  # sessions with no creating row never made a map
        .selectExpr(
            f"{TASK_ID_COL} AS task_id", *SESSION_KEY[1:], *[ident(n) for n in names],
            f"{quote(cfg.pattern_id)} AS pattern_id", *avgs,
        )
    )


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
               "_session_timeout", "_session_inactivity", "close_kind", "_last_row"]


def close_sessions(
    sessions: DataFrame, cfg: PipelineConfig, watermark_df: DataFrame | None = None
) -> DataFrame:
    """Set each map's ``close_reason``.

    Expiry is event-time (the reference's only deterministic mode,
    ``spec:374-390``): a map that is not its task's last (``_is_last``,
    which the scan sets) was by construction expired by the arrival of
    the task's next event (``aggregate.rb:420-445``); the last map is
    checked against the end-of-input watermark ``max(lastevent_ts)`` —
    expired maps would have been pushed by the periodic flush
    (``aggregate.rb:386-416``), live maps survive to shutdown
    (``aggregate.rb:154-175``).
    """
    # End-of-input "now" (the event-time analog of the final flush's
    # Time.now, aggregate.rb:388-390). Computed from the RAW input when
    # provided — a scan-only, column-pruned subtree — instead of from
    # `sessions`, which would recompute the whole pipeline a second time
    # just to produce one scalar.
    if watermark_df is not None:
        wm = watermark_df.agg(F.expr("max(ts) AS _watermark"))
    else:
        wm = sessions.agg(F.expr("max(lastevent_ts) AS _watermark"))
    sessions = sessions.crossJoin(F.broadcast(wm))

    if cfg.timeout_timestamp_field is None:
        # processing-time mode: no wall clock passes during the replay, so
        # nothing is expired at the final flush either (config.py docs)
        expired = "false"
    else:
        def age(c: str) -> str:
            return f"CAST(CAST(_watermark AS TIMESTAMP) AS DOUBLE) - CAST(CAST({c} AS TIMESTAMP) AS DOUBLE)"

        eff_timeout = f"coalesce(_session_timeout, {double(cfg.timeout)})"
        eff_inact = f"coalesce(_session_inactivity, {double(cfg.effective_inactivity_timeout)})"
        expired = f"{age('creation_ts')} > {eff_timeout} OR {age('lastevent_ts')} > {eff_inact}"

    reason = case(
        [
            ("close_kind = 'end'", "'completed'"),
            ("close_kind = 'custom0'", "'inline'"),
            ("NOT _is_last", "'timeout'"),                     # expired on next arrival
            (expired, "'timeout'"),                            # expired vs watermark
        ],
        "'open'",
    )
    return with_columns(sessions, {"close_reason": reason})


def split_sessions(sessions: DataFrame, cfg: PipelineConfig) -> RoutedSessions:
    """The buckets of a :func:`close_sessions` frame, each a filter over
    it: a persisted closed frame feeds every bucket without recomputing
    the correlation or re-scanning the input for the watermark."""
    cols = sessions.columns
    route = {c.lower() for c in _ROUTE_COLS}

    def bucket(reason: str) -> DataFrame:
        return sessions.where(f"close_reason = {quote(reason)}")

    def without_route(df: DataFrame) -> DataFrame:
        return df.selectExpr(*[ident(c) for c in cols if c.lower() not in route])

    def as_open(df: DataFrame) -> DataFrame:
        # the OPEN bucket is the persistence analog of aggregate_maps_path
        # (O21): it must carry the map's effective custom timeout
        # overrides (the reference Marshal-dumps map_meta too,
        # aggregate.rb:125-140) — a resumed map must keep its overridden
        # clocks, not fall back to the pattern defaults
        renamed = {"_session_timeout": "map_custom_timeout", "_session_inactivity": "map_custom_inactivity"}
        return df.selectExpr(*[
            f"{c} AS {renamed[c]}" if c in renamed else ident(c)
            for c in cols if c in renamed or c.lower() not in route
        ])

    # close_reason survives the route columns: a plain bucket filters the
    # route-free frame (the optimizer runs the filter below the projection)
    routed = without_route(sessions)
    completed = routed.where("close_reason = 'completed'")

    if cfg.push_previous_map_as_event:
        # O16 (aggregate.rb:205-208,314-320,341-344): with ≤1 live map
        # (guaranteed by the pop-on-creation discipline), every
        # non-completed map is pushed via create_timeout_event — by the
        # next map creation (pop), by same-task expiry-on-arrival, or at
        # final flush. The map live at shutdown is the one holding the
        # last row in arrival order, if that map was not closed: only it
        # gets the shutdown tag (aggregate.rb:348-351, O20).
        pushed = sessions.where("close_reason IN ('timeout', 'open')")
        # the global last row via broadcast agg (a partition-less window
        # would drag every session through one partition)
        glast = sessions.agg(F.expr("max(_last_row) AS _g"))
        pushed = with_columns(
            pushed.crossJoin(F.broadcast(glast)),
            {"_g_last": "_g = _last_row"},
            drop=["_g"],
        )
        timeout = _timeout_event(pushed, cfg, final_col="_g_last", drop=[*_ROUTE_COLS, "_g_last"])
        inline = _timeout_event(bucket("inline"), cfg, final_col=None, drop=_ROUTE_COLS)
        return RoutedSessions(
            completed=completed, timeout=timeout, inline=inline,
            open=as_open(sessions.where("false")), sessions=routed,
        )

    if cfg.push_map_as_event_on_timeout:
        timeout = _timeout_event(bucket("timeout"), cfg, final_col=None, drop=_ROUTE_COLS)
        inline = _timeout_event(bucket("inline"), cfg, final_col=None, drop=_ROUTE_COLS)
    else:
        # without push, expired maps are silently discarded
        # (aggregate.rb:399-400 only collects events when configured)
        timeout = routed.limit(0)
        inline = routed.limit(0)

    return RoutedSessions(
        completed=completed,
        timeout=timeout,
        inline=inline,
        open=as_open(bucket("open")),
        sessions=routed,
    )


def _timeout_event(
    df: DataFrame, cfg: PipelineConfig, final_col: str | None, drop=()
) -> DataFrame:
    """Timeout-event construction (O13/O14, ``aggregate.rb:281-311``):
    the event is built from the map alone; ``timeout_task_id_field``
    receives the task id, ``timeout_tags`` are appended, ``timeout_code``
    runs as plain column expressions, each seeing the ones before it.
    Rows where ``final_col`` is true additionally get
    ``_aggregatefinalflush`` (``aggregate.rb:348-351``). The ``drop``
    columns are removed once the code has run."""
    base = (
        f"array({', '.join(quote(t) for t in cfg.timeout_tags)})"
        if cfg.timeout_tags
        else "CAST(array() AS ARRAY<STRING>)"
    )
    tags = base
    if final_col is not None:
        tags = case([(ident(final_col), f"array_union({base}, array('_aggregatefinalflush'))")], base)
    steps = [{"tags": tags}]
    if cfg.timeout_task_id_field:
        steps[0] = {cfg.timeout_task_id_field: "task_id", **steps[0]}
    steps += [{name: f"({expr})"} for name, expr in (cfg.timeout_code or {}).items()]
    for i, step in enumerate(steps):
        df = with_columns(df, step, drop=drop if i == len(steps) - 1 else ())
    return df
