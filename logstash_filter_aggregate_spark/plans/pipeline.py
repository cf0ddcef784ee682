"""End-to-end pipeline composition (SURVEY.md §3.6):

``parse (U1) -> enrich (U4) -> classify (U2) -> sessionize and guards
(O8-O12, O3) -> aggregate (O4-O6) -> route (O13-O16, U5)`` plus the
passthrough event stream (tags O19, cancel U3) and inline emissions
(O18). The logical plan is declared once; Catalyst/AQE pick the
physical strategy. One shuffle on the hot path: the ``_task_id``
exchange of the narrow event rows ahead of the per-task scan, which
returns one row per map (see :func:`run_pipeline`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import (
    AggSpec,
    CorrelationRule,
    PipelineConfig,
)
from logstash_filter_aggregate_spark.functions.grok import (
    CompiledGrok,
    apply_grok_jvm,
    compile_grok,
)
from logstash_filter_aggregate_spark.operators.classify import classify
from logstash_filter_aggregate_spark.operators.correlate import (
    aggregate_sessions,
    close_sessions,
    split_sessions,
)
from logstash_filter_aggregate_spark.operators.sessionize import sessionize
from logstash_filter_aggregate_spark.sqltext import all_of, any_of, case, ident, quote, with_columns


# Frames the most recent run_pipeline persisted: the guarded frame of
# gated configs and the closed sessions frame. write_routed releases them
# when it finishes and the next run_pipeline releases whatever is left, so
# nothing stays pinned and no run reads an earlier run's cache (a cached
# scan can serve a rewritten input at the same path).
# Releasing is safe: both frames are deterministic functions of their
# inputs, so a still-lazy consumer merely recomputes identical rows.
_LIVE_CACHES: list[DataFrame] = []


def _persisted(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_CACHES.append(df)
    return df


def release_pipeline_caches() -> None:
    """Unpersist the frames the last ``run_pipeline`` persisted. Frames
    of a stopped SparkContext are only dropped: stopping freed their
    blocks, and unpersisting through it would raise."""
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        if not df.sparkSession._jsparkSession.sparkContext().isStopped():
            df.unpersist()


@dataclass
class PipelineOutputs:
    completed: DataFrame
    timeout: DataFrame
    inline: DataFrame
    open: DataFrame
    passthrough: DataFrame
    sessions: DataFrame

    def as_dict(self) -> dict[str, DataFrame]:
        return {
            "completed": self.completed,
            "timeout": self.timeout,
            "inline": self.inline,
            "open": self.open,
            "passthrough": self.passthrough,
            "sessions": self.sessions,
        }


# The grok dictionary for the canonical transcript line formats
# (FIXTURES.md §1; reference patterns docs/index.asciidoc:52,165).
DEFAULT_GROKS: list[tuple[str, str]] = [
    # specific before generic (grok break_on_match: first match wins)
    ("error", r"%{LOGLEVEL:loglevel} - %{NOTSPACE:taskid} - TOOL - %{WORD:err_tool} - E%{INT:err_code:int}"),
    ("click", r"%{LOGLEVEL:loglevel} - %{NOTSPACE:taskid} - Clicked %{WORD:click_target}"),
    ("task", r"%{LOGLEVEL:loglevel} - %{NOTSPACE:taskid} - %{NOTSPACE:logger} - %{WORD:label}( - %{INT:duration:int})?"),
]


def compile_groks(patterns: list[tuple[str, str]] | None = None) -> list[CompiledGrok]:
    return [compile_grok(n, p) for n, p in (patterns or DEFAULT_GROKS)]


def parse(df: DataFrame, groks: list[CompiledGrok] | None = None) -> DataFrame:
    return apply_grok_jvm(df, "text", groks or compile_groks())


def enrich(df: DataFrame, dims: dict[str, DataFrame] | None = None) -> DataFrame:
    """Broadcast dimension join (U4): dims keyed by their join column."""
    for key, dim in (dims or {}).items():
        df = df.join(F.broadcast(dim), on=key, how="left")
    return df


def _code_ran(r: CorrelationRule, with_incl: bool) -> str:
    """True where the reference would actually RUN this rule's codeblock
    (``aggregate.rb:226``): the rule matched, the task id resolved
    (``aggregate.rb:183`` returns before the code otherwise), and the
    map-action guard passed (``aggregate.rb:203,216`` return before the
    code for a no-map ``update`` / duplicate ``create``). Emissions,
    exception tagging and cancellation are all code side-effects, so all
    three gate on this. For guard-gated rules the inclusion bit arrives
    pre-joined as ``_g_included`` (NULL ⇒ the row never reached the
    sessionized stream ⇒ the code did not run)."""
    cond = [f"_rule_id = {quote(r.rule_id)}", "_task_id IS NOT NULL"]
    if r.map_action != "create_or_update" and with_incl:
        cond.append("coalesce(_g_included, false)")
    return all_of(cond)


def _exception_flag(cfg: PipelineConfig, with_incl: bool, with_tagged: bool = False) -> str:
    """O19: a row whose codeblock RAN with a NULL required agg input — the
    reference's code would raise and tag ``_aggregateexception``
    (``aggregate.rb:229-237``). Gated rules' contribution arrives either
    as the joined ``_g_included`` bit (``with_incl``) or pre-decided as
    the broadcast ``_g_tagged`` key set (``with_tagged``)."""
    flags = ["coalesce(_g_tagged, false)"] if with_tagged else []
    for r in cfg.rules:
        req = [s for s in r.aggs if s.required and s.col]
        if not req:
            continue
        if r.map_action != "create_or_update" and with_tagged:
            continue  # handled by the _g_tagged key set
        nulls = any_of([f"({s.col}) IS NULL" for s in req])
        flags.append(all_of([_code_ran(r, with_incl), nulls]))
    return any_of(flags)


def passthrough_stream(
    classified: DataFrame,
    cfg: PipelineConfig,
    incl_df: DataFrame | None = None,
    tagged_df: DataFrame | None = None,
) -> DataFrame:
    """The event stream continuing downstream (the reference yields every
    non-cancelled event, ``aggregate.rb:251-254``): original columns +
    accumulated tags; rows consumed by cancel rules dropped (U3,
    ``docs/index.asciidoc:235,244``). Both the cancel and the
    ``_aggregateexception`` tag are code side-effects, so they only apply
    where the code ran (:func:`_code_ran`).

    Guard-gated code rules need per-row inclusion, delivered one of two
    ways (configs without gated code rules pay neither — no join is
    planned):

    - ``tagged_df`` (gated REQUIRED-agg rules, the common case): the
      keys of the scan's effect rows that raise, broadcast onto the
      stream — the passthrough stays scan-shaped (zero event-stream
      shuffle); the build side reads the persisted scan output.
    - ``incl_df`` (the prereduce path, or gated CANCEL rules): the keys
      ``(conv_id, turn_idx, _g_included)`` of the rows whose gated code
      ran, joined on the row key — one extra exchange of the passthrough
      stream.
    """
    df = classified
    if incl_df is not None:
        df = df.join(incl_df, ["conv_id", "turn_idx"], "left")
    elif tagged_df is not None:
        df = df.join(F.broadcast(tagged_df), ["conv_id", "turn_idx"], "left")
    with_incl = incl_df is not None
    cancels = [_code_ran(r, with_incl) for r in cfg.rules if r.cancel]
    if cancels:
        df = df.where(f"NOT {any_of(cancels)}")
    exc = _exception_flag(cfg, with_incl, with_tagged=tagged_df is not None and incl_df is None)
    tags = case([(exc, "array_union(parse_tags, array('_aggregateexception'))")], "parse_tags")
    return with_columns(
        df,
        {"tags": tags},
        drop=[
            "_rule_id", "_task_id", "_end_flag", "_action", "_cancel",
            "_custom_timeout", "_custom_inactivity", "parse_tags", "_g_included", "_g_tagged",
        ],
    )


def inline_emissions(
    classified: DataFrame,
    cfg: PipelineConfig,
    guarded: DataFrame | None = None,
    incl_df: DataFrame | None = None,
) -> DataFrame | None:
    """O18 (``new_event_block``, ``aggregate.rb:91,226``): each row whose
    codeblock ran for a rule with ``emit`` produces one derived event
    immediately. The code runs only past the task-id resolution and the
    map-action guard (:func:`_code_ran`), so:

    - rules with ``create_or_update`` emit straight off the classified
      stream (guard always passes) — zero extra shuffle;
    - guard-gated rules read the pre-evaluated ``_e_*`` columns off the
      effect rows of the ``guarded`` scan output (riding the existing
      task exchange), or — on the prereduce path, where the scan sees
      super-rows — join ``incl_df`` back to the classified rows of that
      rule.
    """
    from logstash_filter_aggregate_spark.operators.correlate import emit_col_name

    outs: list[DataFrame] = []
    for r in cfg.rules:
        if not r.emit:
            continue
        if r.map_action != "create_or_update" and guarded is not None:
            rows = guarded.where(f"_rule_id = {quote(r.rule_id)} AND _included")
            outs.append(
                rows.selectExpr(*[f"{ident(emit_col_name(r.rule_id, n))} AS {ident(n)}" for n in r.emit])
            )
            continue
        if r.map_action != "create_or_update" and incl_df is not None:
            rows = classified.join(incl_df, ["conv_id", "turn_idx"], "left").where(
                _code_ran(r, with_incl=True)
            )
        else:
            rows = classified.where(_code_ran(r, with_incl=False))
        outs.append(rows.selectExpr(*[f"({e}) AS {ident(n)}" for n, e in r.emit.items()]))
    if not outs:
        return None
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o, allowMissingColumns=True)
    return df


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    groks: list[CompiledGrok] | None = None,
    dims: dict[str, DataFrame] | None = None,
    open_maps: DataFrame | None = None,
    prereduce_s: float | None = None,
    prereduce_assume_no_expiry: bool = False,
    pre_parsed: bool = False,
) -> PipelineOutputs:
    """The routed outputs of one correlation, as lazy frames: building
    them starts no Spark job.

    The job set correlates once (PLANS.md): the closed sessions frame is
    persisted and every session bucket is a filter over it. Configs whose
    passthrough depends on guard results read one lazily checkpointed
    classified stream (one parse), and persist the scan's output, whose
    session rows feed the buckets and whose effect rows feed the
    passthrough and the gated emits. The frames are released by
    ``write_routed`` or the next ``run_pipeline``.

    ``open_maps``: the previous run's ``open`` bucket — resumes the
    still-live maps (plans/resume.py, the aggregate_maps_path analog).

    ``prereduce_s``: hot-conversation skew handling (operators/skew.py):
    collapse correlation rows into per-(task, bucket) partial rows before
    the per-task scan. Exact for gap splits when ``prereduce_s <=
    inactivity_timeout``; absolute-age splits quantize to bucket
    boundaries (opting in accepts that).

    ``pre_parsed``: ``transcripts`` already went through :func:`parse`
    and its caller owns its materialization (run_multi checkpoints the
    parse it shares across patterns), so it is not checkpointed again."""
    from logstash_filter_aggregate_spark.plans.resume import inject_seeds

    release_pipeline_caches()  # this run persists its own frames below
    parsed = transcripts if pre_parsed else parse(transcripts, groks)
    parsed = enrich(parsed, dims)
    classified = classify(parsed, cfg)
    # rules whose code side-effects (emit / exception tag / cancel) are
    # guard-gated: their effects depend on per-row _included
    gated = [r for r in cfg.rules if r.map_action != "create_or_update"]
    gated_emit = any(r.emit for r in gated)
    gated_cancel = any(r.cancel for r in gated)
    gated_req = any(any(s.required and s.col for s in r.aggs) for r in gated)
    if (gated_cancel or gated_req) and not pre_parsed:
        # the passthrough joins guard results back onto the stream, so the
        # correlation and the passthrough both read the classified stream:
        # one lazy checkpoint makes that one parse. It sits on the
        # exchange-free stream only — over an exchange, AQE would run the
        # shuffle stages while this plan is built.
        classified = classified.localCheckpoint(eager=False)
    if prereduce_s is not None:
        from logstash_filter_aggregate_spark.operators.skew import prereduce

        correlated_in = prereduce(
            classified, cfg, bucket_s=prereduce_s, allow_age_approx=True,
            assume_no_expiry=prereduce_assume_no_expiry,
        )
    else:
        # narrow the correlation stream before the task-id exchange: the
        # shuffle/sort carry engine columns + pre-evaluated agg inputs
        # only, never raw text or unused captures
        from logstash_filter_aggregate_spark.operators.correlate import narrow_for_correlation

        correlated_in = narrow_for_correlation(classified, cfg)
    correlated_in = inject_seeds(correlated_in, open_maps, cfg)

    guarded = sessionize(correlated_in, cfg)
    if prereduce_s is None and (gated_emit or gated_cancel or gated_req):
        # the gated side effects read the scan's effect rows besides its
        # session rows: persisting the output runs the task exchange and
        # the scan once for the job set. It holds one row per map plus
        # one per effect, a small fraction of the input.
        guarded = _persisted(guarded)

    # per-row inclusion for gated code side-effects (see the
    # passthrough_stream docstring for the cost model of each delivery).
    # Prereduce: the scan sees super-rows, so inclusion resolves on the
    # classified stream with the narrow pre-window instead (valid under
    # prereduce's own no-mid-segment-expiry precondition).
    incl_df = None
    tagged_df = None
    if prereduce_s is not None:
        if gated_emit or gated_cancel or gated_req:
            from logstash_filter_aggregate_spark.operators.skew import guard_inclusion_frame

            incl_df = guard_inclusion_frame(classified, cfg)
    elif gated_cancel:
        # every code-ran row of a gated cancel rule is an effect row
        incl_df = guarded.where("_included").selectExpr("conv_id", "turn_idx", "true AS _g_included")
    elif gated_req:
        # the effect rows the reference's code raises on: a NULL required input
        from logstash_filter_aggregate_spark.operators.correlate import value_col_name

        raises = [
            all_of([f"_rule_id = {quote(r.rule_id)}", any_of(
                [f"{ident(value_col_name(r.rule_id, s.col))} IS NULL" for s in r.aggs if s.required and s.col]
            )])
            for r in gated if any(s.required and s.col for s in r.aggs)
        ]
        tagged_df = guarded.where(all_of(["_included", any_of(raises)])).selectExpr(
            "conv_id", "turn_idx", "true AS _g_tagged"
        )

    # watermark from the raw input: scan-only (ts column pruned down to
    # the parquet reader). The closed frame is persisted, so the buckets
    # share one aggregate and one watermark scan.
    closed = _persisted(
        close_sessions(aggregate_sessions(guarded, cfg), cfg, watermark_df=transcripts)
    )
    routed = split_sessions(closed, cfg)

    inline = routed.inline
    emitted = inline_emissions(
        classified, cfg,
        guarded=guarded if (gated_emit and prereduce_s is None) else None,
        incl_df=incl_df if gated_emit else None,
    )
    if emitted is not None:
        inline = inline.unionByName(emitted, allowMissingColumns=True)

    return PipelineOutputs(
        completed=routed.completed,
        timeout=routed.timeout,
        inline=inline,
        open=routed.open,
        passthrough=passthrough_stream(
            classified, cfg,
            incl_df=incl_df if (gated_cancel or gated_req) else None,
            tagged_df=tagged_df,
        ),
        sessions=routed.sessions,
    )


# ---------------------------------------------------------------------------
# Canonical configs mirroring the reference's documented examples
# ---------------------------------------------------------------------------

def example1_config(**overrides) -> PipelineConfig:
    """Example #1 (docs/index.asciidoc:36-93; spec:86-133): start/update/end
    correlation summing sql duration. Start = map_action create; update/end
    = map_action update (the spec helper's canonical filters, spec:8-13)."""
    defaults = dict(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "start", "logger = 'TASK_START'", map_action="create",
                aggs=(AggSpec("sql_duration", "sum", "cast(0 as long)"),),
            ),
            CorrelationRule(
                "update", "logger = 'SQL'", map_action="update",
                aggs=(AggSpec("sql_duration", "sum", "duration", required=True),),
            ),
            CorrelationRule(
                "end", "logger = 'TASK_END'", map_action="update", end_of_task=True,
            ),
        ),
        timeout=120.0,
    )
    defaults.update(overrides)
    return PipelineConfig(**defaults)


def example2_config(**overrides) -> PipelineConfig:
    """Example #2 (docs/index.asciidoc:96-136): no start event; the update
    rule both creates and accumulates (||= init is sum's identity)."""
    defaults = dict(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "update", "logger = 'SQL'",
                aggs=(AggSpec("sql_duration", "sum", "duration"),),
            ),
            CorrelationRule("end", "logger = 'TASK_END'", end_of_task=True),
        ),
        timeout=120.0,
    )
    defaults.update(overrides)
    return PipelineConfig(**defaults)


def example3_config(**overrides) -> PipelineConfig:
    """Example #3 (docs/index.asciidoc:139-192; spec:197-206): no end event
    — click counting pushed on timeout with timeout_task_id_field, tags,
    and timeout_code."""
    defaults = dict(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "click", "click_target is not null",
                aggs=(AggSpec("clicks", "count"),),
            ),
        ),
        timeout=600.0,
        push_map_as_event_on_timeout=True,
        timeout_task_id_field="user_id",
        timeout_tags=("_aggregatetimeout",),
        timeout_code={"several_clicks": "clicks > 1"},
    )
    defaults.update(overrides)
    return PipelineConfig(**defaults)


def example4_config(**overrides) -> PipelineConfig:
    """Example #4 (docs/index.asciidoc:195-245; spec:332-342): contiguous
    runs of task ids — collect towns per country, cancel source rows,
    push each map when the next task id arrives (push_previous)."""
    defaults = dict(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "town", "logger = 'Town'", cancel=True,
                aggs=(AggSpec("towns", "collect_list", "named_struct('town_name', label)"),),
            ),
        ),
        timeout=1800.0,
        push_previous_map_as_event=True,
        timeout_task_id_field="country_name",
    )
    defaults.update(overrides)
    return PipelineConfig(**defaults)


def example5_config(**overrides) -> PipelineConfig:
    """Example #5 (docs/index.asciidoc:248-319; spec:219-265): long-running
    activity — absolute timeout + shorter inactivity_timeout."""
    defaults = dict(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "update", "logger = 'SQL'",
                aggs=(
                    AggSpec("total_duration", "sum", "duration"),
                    AggSpec("queries", "count"),
                ),
            ),
        ),
        timeout=600.0,
        inactivity_timeout=300.0,
        push_map_as_event_on_timeout=True,
        timeout_task_id_field="task_id_at_timeout",
        timeout_tags=("_aggregatetimeout",),
    )
    defaults.update(overrides)
    return PipelineConfig(**defaults)
