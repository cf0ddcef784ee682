"""The aggregation dictionary and session routing (SURVEY.md O4-O7,
O13-O15, O19, O20); the map-action guards (O3) run in ``sessionize``.

The reference mutates one map per task inside the filter call
(``aggregate.rb:199-246``). Here the per-task scan of ``sessionize``
walks each task's rows once and folds them into one session row per map
with :func:`session_values`, the one aggregation dictionary: batch calls
it inside the scan, streaming inside its shard step, and both merge
partial maps (resume seeds, pre-reduced super-rows, streaming's carried
cells) with the same combiners. Routing then classifies each session by
how its map died — ``end_of_task`` deletion (``aggregate.rb:240``),
expiry (``aggregate.rb:396-398,420-445``), immediate ``map_meta.timeout=0``
eviction (``aggregate.rb:259-274``) — or didn't (still live at
end-of-input, the shutdown-persistence analog ``aggregate.rb:154-175``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField

from logstash_filter_aggregate_spark.config import (
    KIND_COL,
    TASK_ID_COL,
    ConfigurationError,
    PipelineConfig,
)
from logstash_filter_aggregate_spark.sqltext import case, double, ident, quote, with_columns

SEED_RULE = "_seed"  # rule id of partial rows (resume seeds / prereduce super-rows)
# the columns of a session row ahead of its aggregation columns
SESSION_COLS = (
    "task_id", "_end_seg", "_gap_seg", "_age_seg", "creation_ts", "lastevent_ts", "nevents",
    "conv_id", "close_kind", "end_ts", "end_turn_idx", "_session_timeout", "_session_inactivity",
    "_is_last",
)
# names an agg may not take: the scan's other output columns (an effect
# row's key, rule and _v_/_e_ inputs, the row-kind flag) and the columns
# the buckets add
_RESERVED = (*SESSION_COLS, "_last_row", "turn_idx", KIND_COL, "_included", "pattern_id", "tags",
             TASK_ID_COL)


def apply_guards(sessions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The ``map_action`` guards (O3) run inside :func:`sessionize`'s
    scan, so its output is already guarded; this returns its input, for
    callers of ``apply_guards(sessionize(...))``."""
    return sessions


def _merged_agg_specs(cfg: PipelineConfig) -> dict[str, tuple[str, list[tuple[str, str]]]]:
    """Map keys are shared across filter blocks in the reference (example
    #1: start inits ``sql_duration``, update accumulates into it) — merge
    same-named AggSpecs across rules; the fn must agree."""
    merged: dict[str, tuple[str, list[tuple[str, str]]]] = {}
    for r in cfg.rules:
        for s in r.aggs:
            if s.name in _RESERVED or s.name.startswith(("_v_", "_e_")):
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
    (``map_action`` create/update): whether the row emits is known only
    in the scan, which hands the row's ``_e_*`` values out on its effect
    row."""
    return _hashed_col("_e", rule_id, out_name)


NARROW_BASE = [
    "conv_id", "turn_idx", "ts", TASK_ID_COL, KIND_COL,
    "_end_flag", "_action", "_custom_timeout", "_custom_inactivity",
]


def narrow_for_correlation(classified: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Project the correlation stream down to the engine columns, partial
    rows' ``_seed_*`` columns and the pre-evaluated per-row inputs
    (evaluated unless the stream carries them already) BEFORE the task-id
    exchange: the shuffle and the scan's sort
    then carry narrow rows instead of raw text + every parsed capture —
    the columnar equivalent of predicate/projection pushdown for the
    stateful stage.

    The inputs are each rule's aggregation inputs (``_v_*``) and, for
    guard-gated emit rules, the emit outputs (``_e_*``) the scan's effect
    rows carry, NULL on other rules' rows."""
    vcols: dict[str, str] = {}
    for r in cfg.rules:
        matched = f"{KIND_COL} = {quote(r.rule_id)}"
        for sp in r.aggs:
            if sp.col:
                vcols.setdefault(value_col_name(r.rule_id, sp.col), case([(matched, f"({sp.col})")]))
        if r.emit and r.map_action != "create_or_update":
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
    return classified.selectExpr(*narrow_base, *seed_cols, *[
        ident(n) if n in classified.columns else f"{e} AS {ident(n)}" for n, e in vcols.items()
    ])


# fns whose partial (a resume seed's or a pre-reduced super-row's
# _seed_<name>) is one value of the result's type
_ONE_VALUE_PARTIALS = ("sum", "min", "max", "first", "last")


def agg_specs(cfg: PipelineConfig) -> dict[str, tuple[str, list[tuple[str, str | None]]]]:
    """The merged aggregation dictionary, each source as ``(rule id, its
    pre-evaluated input column)``; ``count`` never reads its source, so
    its column is None."""
    return {
        name: (fn, [(rid, None if fn == "count" else value_col_name(rid, col)) for rid, col in sources])
        for name, (fn, sources) in _merged_agg_specs(cfg).items()
    }


def session_agg_fields(df: DataFrame, cfg: PipelineConfig) -> list[StructField]:
    """The aggregation columns of a session row, in dictionary order,
    ``avg`` as its ``_avg_sum_``/``_avg_cnt_`` partials (the reference's
    map would hold the running sum and count; a bare average does not
    merge across resumes).

    The types come from Catalyst: ``sum`` / ``first`` / ``collect_list``
    over ``df``'s ``_v_*`` inputs (each partial row's ``_seed_*`` value
    in their place, where ``df`` carries partial rows) are analyzed, not
    run, so Spark's own typing rules hold (``sum`` of an int is a long,
    of a ``DECIMAL(18,6)`` a ``DECIMAL(28,6)``)."""
    cols = set(df.columns)
    with_seeds = "_seed_nevents" in cols
    merged = _merged_agg_specs(cfg)
    probes = []
    for name, (fn, sources) in merged.items():
        if fn == "avg" and with_seeds and f"_seed__avg_sum_{name}" not in cols:
            raise ConfigurationError(
                f"agg {name!r}: resuming avg needs _avg_sum_/_avg_cnt_ helper "
                "columns in the open-maps input — was it produced by an older config?"
            )
        if fn in ("avg", "count"):
            continue
        val = _value_sql(sources, projected=True)
        if with_seeds and fn in _ONE_VALUE_PARTIALS and f"_seed_{name}" in cols:
            val = case([(f"_rule_id = {quote(SEED_RULE)}", ident(f"_seed_{name}"))], val)
        probe = "sum" if fn == "sum" else "collect_list" if fn.startswith("collect") else "first"
        probes.append(f"{probe}({val}) AS {ident(name)}")
    typed = df.selectExpr(*probes).schema if probes else None
    fields = []
    for name, (fn, _) in merged.items():
        if fn == "avg":
            fields += [StructField(f"_avg_sum_{name}", DoubleType()), StructField(f"_avg_cnt_{name}", LongType())]
        elif fn == "count":
            fields.append(StructField(name, LongType()))
        else:
            t = typed[name].dataType
            fields.append(StructField(name, ArrayType(t.elementType) if isinstance(t, ArrayType) else t))
    return fields


def session_values(specs: dict, column, sid: np.ndarray, n_sess: int, types: dict) -> dict:
    """The aggregation dictionary (O6) over the sessions of one chunk of
    rows: one Arrow array of ``n_sess`` values per column of
    :func:`session_agg_fields`.

    ``specs`` is :func:`agg_specs`; ``column(name)`` returns a chunk
    column as an Arrow array (None when absent); ``sid`` is the session
    of each row, -1 where the row's code did not run; ``types`` maps each
    output column to its Arrow type. Rows fold in chunk order within
    their session (the scan's ``(ts, conv_id, turn_idx)`` order): sum,
    min and max skip NULLs; ``first`` / ``last`` are the first / last
    non-NULL value (``||=`` in turn order, docs/index.asciidoc:136);
    ``collect_list`` / ``collect_set`` the non-NULL values in order
    (``map['towns'] << {...}``, docs/index.asciidoc:231-233), the set
    keeping first occurrences; ``count`` the rows its rules matched;
    ``avg`` a double sum and a count.

    Partial rows (rule :data:`SEED_RULE`: resume seeds, pre-reduced
    super-rows, streaming's carried maps) carry a prior map in
    ``_seed_<name>`` (``_seed__avg_sum_<name>`` / ``_cnt_`` for avg),
    merged with each fn's combiner: added for sum, count and avg,
    compared for min and max, a value at the partial row's position for
    first and last, a list spliced in there for the collects."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = np.flatnonzero(sid >= 0)
    rows = rows[np.argsort(sid[rows], kind="stable")]
    s = sid[rows]
    n = len(rows)
    rule = column("_rule_id").take(rows)
    is_seed = pc.fill_null(pc.equal(rule, SEED_RULE), False)
    seeded = is_seed.to_numpy(zero_copy_only=False)

    def col(name, t):
        c = column(name)
        return pa.nulls(n, t) if c is None else c.take(rows).cast(t)

    def value(sources, t):
        v = pa.nulls(n, t)
        for rid, vcol in sources:
            v = pc.if_else(pc.equal(rule, rid), col(vcol, t), v)
        return v

    def total(w):
        return pa.array(np.bincount(s, weights=w, minlength=n_sess).astype(np.int64))

    out = {}
    for name, (fn, sources) in specs.items():
        seed = f"_seed_{name}"
        if fn == "count":
            w = pc.fill_null(pc.is_in(rule, pa.array([r for r, _ in sources])), False)
            w = w.to_numpy(zero_copy_only=False).astype(np.int64)
            w[seeded] = pc.fill_null(col(seed, pa.int64()), 0).to_numpy()[seeded]
            out[name] = total(w)
        elif fn == "avg":
            v = value(sources, pa.float64())
            w = v.is_valid().to_numpy(zero_copy_only=False).astype(np.int64)
            w[seeded] = pc.fill_null(col(f"_seed__avg_cnt_{name}", pa.int64()), 0).to_numpy()[seeded]
            v = pc.if_else(is_seed, col(f"_seed__avg_sum_{name}", pa.float64()), v)
            out[f"_avg_sum_{name}"] = session_fold(s, n_sess, v, "sum")
            out[f"_avg_cnt_{name}"] = total(w)
        elif fn.startswith("collect"):
            t = types[name]
            v = value(sources, t.value_type)
            valid = v.is_valid().to_numpy(zero_copy_only=False)
            offsets = np.concatenate([[0], np.cumsum(valid)]).astype(np.int32)
            own = pa.ListArray.from_arrays(offsets, v.filter(pa.array(valid))).cast(t)
            lists = pc.if_else(is_seed, col(seed, t), own)
            lengths = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
            per = np.bincount(s, weights=lengths, minlength=n_sess).astype(np.int64)
            offsets = np.concatenate([[0], np.cumsum(per)]).astype(np.int32)
            res = pa.ListArray.from_arrays(offsets, pc.list_flatten(lists)).cast(t)
            if fn == "collect_set":
                res = pa.array([_distinct(x) for x in res.to_pylist()], type=t)
            out[name] = res
        else:
            t = types[name]
            v = value(sources, t)
            if fn in _ONE_VALUE_PARTIALS:
                v = pc.if_else(is_seed, col(seed, t), v)
            out[name] = session_fold(s, n_sess, v, fn)
    return out


def session_fold(s: np.ndarray, n_sess: int, v, how: str):
    """``v`` (aligned with the non-decreasing session ids ``s``) folded to
    one value per session: ``sum`` / ``min`` / ``max`` over the non-NULL
    values, ``first`` / ``last`` the first / last non-NULL one; NULL
    where a session has none. Numbers and timestamps fold in numpy;
    other types (strings, decimals) through Arrow's hash aggregation,
    whose engine costs each worker some 40 MB to load."""
    import pyarrow as pa

    valid = v.is_valid().to_numpy(zero_copy_only=False)
    if how in ("first", "last"):
        at = first_rows(s[valid], n_sess, last=how == "last")
        idx = np.zeros(n_sess, dtype=np.int64)
        idx[at >= 0] = np.flatnonzero(valid)[at[at >= 0]]
        return v.take(pa.array(idx, mask=at < 0))
    t = v.type
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_timestamp(t):
        x = v.filter(pa.array(valid)).cast(pa.float64() if pa.types.is_floating(t) else pa.int64())
        at = first_rows(s[valid], n_sess)
        out = np.zeros(n_sess, dtype=x.type.to_pandas_dtype())
        if len(x):
            # NaN sorts above every number in Spark: min skips it, max
            # returns it
            ufunc = {"sum": np.add, "min": np.fmin, "max": np.maximum}[how]
            out[at >= 0] = ufunc.reduceat(x.to_numpy(), at[at >= 0])
        return pa.array(out, mask=at < 0).cast(t if how != "sum" or pa.types.is_floating(t) else pa.int64())
    folded = pa.table({"s": s, "v": v}).group_by("s", use_threads=False).aggregate([("v", how)])
    at = np.full(n_sess, -1, dtype=np.int64)
    at[folded.column("s").to_numpy()] = np.arange(folded.num_rows)
    return folded.column(f"v_{how}").combine_chunks().take(pa.array(at, mask=at < 0))


def first_rows(s: np.ndarray, n_sess: int, last: bool = False) -> np.ndarray:
    """Per session, the position in the non-decreasing ids ``s`` of its
    first (``last``: last) entry; -1 where it has none."""
    at = np.full(n_sess, -1, dtype=np.int64)
    if len(s):
        starts = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
        at[s[starts]] = np.r_[starts[1:], len(s)] - 1 if last else starts
    return at


def _distinct(xs: list) -> list:
    """``xs`` without repeats, first occurrences in order (Spark's
    ``array_distinct``); unhashable values (structs as dicts, arrays as
    lists) are keyed by their JSON."""
    try:
        return list(dict.fromkeys(xs))
    except TypeError:
        firsts: dict = {}
        for x in xs:
            firsts.setdefault(json.dumps(x, default=str), x)
        return list(firsts.values())


def session_columns(cfg: PipelineConfig) -> list[str]:
    """The columns of a session row, in order: :data:`SESSION_COLS`,
    ``_last_row`` for push_previous configs, the aggregation columns."""
    names = [*SESSION_COLS, *(["_last_row"] if cfg.push_previous_map_as_event else [])]
    for name, (fn, _) in _merged_agg_specs(cfg).items():
        names += [f"_avg_sum_{name}", f"_avg_cnt_{name}"] if fn == "avg" else [name]
    return names


def aggregate_sessions(guarded: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """One row per task-instance map: aggregation values + ``map_meta``
    (creation/lastevent timestamps, ``aggregate.rb:521-535``) + how the
    session closed. The scan of ``sessionize`` already folded every map
    into its session row, so this keeps the session rows (not the effect
    rows, which ``_included`` flags) and adds ``pattern_id`` and each
    avg's mean."""
    avgs = [
        f"CASE WHEN {ident(f'_avg_cnt_{n}')} > 0 THEN {ident(f'_avg_sum_{n}')} / {ident(f'_avg_cnt_{n}')} END"
        f" AS {ident(n)}"
        for n, (fn, _) in _merged_agg_specs(cfg).items() if fn == "avg"
    ]
    return guarded.where("NOT _included").selectExpr(
        *[ident(n) for n in session_columns(cfg)], f"{quote(cfg.pattern_id)} AS pattern_id", *avgs,
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
