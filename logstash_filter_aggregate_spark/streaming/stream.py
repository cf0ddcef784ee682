"""Structured Streaming variant (SURVEY.md §7 item 5).

:func:`streaming_correlate` / :func:`streaming_passthrough` run the full
map lifecycle (``map_action`` guards, ``end_of_task``, duplicate-start,
inactivity and absolute timeouts) via ``applyInPandasWithState``. State
is keyed by shard, ``_shard = pmod(xxhash64(_task_id), shards)``: one
state row per shard holds the cells of every live task hashing into it,
each cell being the reference's per-task map (``aggregate.rb:199-246``).
One Python call per shard per micro-batch runs the reference's serial
algorithm over every task of the shard (:mod:`streaming.shard`), so the
per-call framework cost is paid per shard, not per task.
``push_previous_map_as_event`` configs run on ONE shard walked in arrival
order, so its single live map pops on every task-id change as the
reference's serial run does (``aggregate.rb:205-208``). The batch
engine remains the correctness reference; tests assert the streaming
results match it on the same input.

The parse/classify stages are the same Catalyst expressions as batch —
they work unchanged on a streaming DataFrame.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from logstash_filter_aggregate_spark.config import ConfigurationError, PipelineConfig
from logstash_filter_aggregate_spark.operators.classify import classify
from logstash_filter_aggregate_spark.operators.correlate import (
    _merged_agg_specs,
    emit_col_name,
    session_agg_fields,
    value_col_name,
)
from logstash_filter_aggregate_spark.plans.pipeline import compile_groks, parse
from logstash_filter_aggregate_spark.sqltext import case, quote

# State shards of every streaming query that keeps task state: 16 per
# core on a 4-core machine (MIGRATION.md's sizing). A constant, not
# derived from the session conf, because a task's shard must not move
# when a checkpoint restarts (the count is recorded in the state and
# checked on decode).
DEFAULT_SHARDS = 64


def _shard_count(shards: int | None, cfg: PipelineConfig | None = None) -> int:
    if shards is not None and (isinstance(shards, bool) or not isinstance(shards, int) or shards < 1):
        raise ValueError(f"shards must be a positive int or None, got {shards!r}")
    if cfg is not None and cfg.push_previous_map_as_event:
        # the one live map pops on every task-id change (aggregate.rb:205-208)
        if shards not in (None, 1):
            raise ValueError(
                f"push_previous_map_as_event streams on one state shard, got shards={shards!r}"
            )
        return 1
    return DEFAULT_SHARDS if shards is None else shards


OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("task_id", T.StringType()),
        T.StructField("sink", T.StringType()),  # completed | timeout | inline
        T.StructField("creation_ts", T.TimestampType()),
        T.StructField("lastevent_ts", T.TimestampType()),
        T.StructField("nevents", T.LongType()),
        T.StructField("map_json", T.StringType()),  # the reference's map, as JSON
    ]
)


# json.dumps(v, default=str) without building an encoder per call
_to_json = json.JSONEncoder(default=str).encode


def _map_json(specs: dict, sess, flush=None) -> list[str]:
    """Each map of ``sess`` (an Arrow table of session rows, or of evicted
    cells under the session names) as the sinks carry it: JSON
    (``default=str``) of the entries something went into — no NULL, no
    zero count, no empty collection — in dictionary order, each ``avg``
    the mean of its ``_avg_sum_`` / ``_avg_cnt_`` partials. ``flush``
    marks the maps a heartbeat popped with the final-flush tag
    (``aggregate.rb:348-351``)."""
    entries = []
    for name, (fn, _) in specs.items():
        if fn == "avg":
            sums, cnts = (sess.column(f"_avg_{p}_{name}").to_pylist() for p in ("sum", "cnt"))
            vals = [s / c if c else None for s, c in zip(sums, cnts)]
        else:
            vals = [None if v == [] or (fn == "count" and v == 0) else v for v in sess.column(name).to_pylist()]
        entries.append((name, vals))
    out = []
    for i in range(sess.num_rows):
        m = {name: vals[i] for name, vals in entries if vals[i] is not None}
        if flush is not None and flush[i]:
            m["tags"] = ["_aggregatefinalflush"]
        out.append(_to_json(m))
    return out


def streaming_correlate(
    stream_df: DataFrame,
    cfg: PipelineConfig,
    groks=None,
    watermark: str = "10 minutes",
    shards: int | None = None,
    time_mode: str = "event",
) -> DataFrame:
    """Full-map-lifecycle streaming correlation. Returns one appended row
    per closed map with a ``sink`` column; split to routed sinks with
    ``foreachBatch`` filters.

    ``shards``: the number of state shards (``None`` = :data:`DEFAULT_SHARDS`).
    Each task's cell lives in the state row of shard
    ``pmod(xxhash64(task_id), shards)``; one Python call per touched shard
    per micro-batch walks all of its tasks (see :mod:`streaming.shard`).
    The count is part of the checkpoint: restarting a query with another
    count raises. A timeout push lands in the first micro-batch that
    invokes the expired task's shard. Raise ``shards`` for long-lived
    sparse sessions, where each batch touches few of many live tasks.

    ``time_mode``: ``'event'`` (default) expires maps by EVENT time —
    the deterministic model the batch engine replays and the oracles
    certify. ``'processing'`` is the reference's DEFAULT clock
    (``Time.now``, aggregate.rb:487 / the periodic flush at :312): a map
    expires ``timeout`` WALL seconds after it was created or
    ``inactivity_timeout`` after its last arrival, regardless of event
    timestamps — checked on arrival and via
    ``GroupStateTimeout.ProcessingTimeTimeout`` timers (one per shard at
    the min remaining cell deadline), so a LIVE stream honors it exactly
    where the batch engine can only model its instantaneous-replay limit.
    Documented divergences: timings depend on the wall clock (tests
    assert structure, not latencies); ``map_meta.timeout = 0`` instant
    eviction still fires, but >0 per-map overrides are event-mode
    features and are ignored. The timers make Spark plan a no-data batch
    after every batch, so such a query never ends under ``availableNow``
    (:func:`stream_to_routed_sinks` refuses it): run it with a
    ``processingTime`` trigger and ``stop()`` it.

    ``push_previous_map_as_event``: one state shard (``shards`` must be
    None or 1), walked in arrival order ``(ts, conv_id, turn_idx)``. The
    arrival of another task pops the live map as a ``timeout`` row, and
    a heartbeat row (event time) pops it as the final flush, its
    ``map_json`` carrying ``"tags": ["_aggregatefinalflush"]``. The pops
    are the reference's exact ones whatever ``push_previous_exact`` says;
    micro-batches must arrive in event-time order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from logstash_filter_aggregate_spark.streaming.shard import make_correlate_shard_fn

    _check_time_mode(time_mode)
    shards = _shard_count(shards, cfg)
    # the batch engine's agg specs and pre-projected input columns: a
    # config batch rejects is rejected here too. Each input is NULL off
    # its rule's rows, as on the batch engine's narrow stream; a bare
    # `ts` input would otherwise alias the event-time column, and Spark
    # refuses a stream with two.
    def gated(rid: str, e: str) -> str:
        return case([(f"_rule_id = {quote(rid)}", f"({e})")])

    value_cols = {
        value_col_name(rid, col): gated(rid, col)
        for fn_, sources in _merged_agg_specs(cfg).values() if fn_ != "count"
        for rid, col in sources
    }
    value_cols.update(
        (emit_col_name(r.rule_id, n), gated(r.rule_id, e))
        for r in cfg.rules for n, e in (r.emit or {}).items()
    )
    parsed = parse(stream_df, groks or compile_groks())
    classified = classify(parsed, cfg)
    # Heartbeat rows (conv_id == HEARTBEAT_CONV, matching no rule) pass
    # the match filter so they can advance the event-time watermark —
    # the mechanism replay_routed uses to flush state timeouts on a
    # finite corpus. They reach the stateful fn with a null task id,
    # which keeps no state and emits nothing (push_previous: it pops the
    # live map as the final flush). (A filter predicate alone
    # can't protect the watermark: Catalyst splits conjunctions and
    # pushes the non-ts conjuncts below the EventTimeWatermark node.)
    # processing mode needs no event-time watermark (timers are wall
    # clock; late events are a non-concept under the real-time model)
    wm = (
        classified if time_mode == "processing"
        else classified.withWatermark("ts", watermark)
    )
    part = (
        wm.where(
            (F.col("_task_id").isNotNull() & F.col("_rule_id").isNotNull())
            | (F.col("conv_id") == HEARTBEAT_CONV)
        )
        .select(
            "_task_id", "_rule_id", "conv_id", "turn_idx", "ts", "_action", "_end_flag",
            "_custom_timeout", "_custom_inactivity",
            *[F.expr(e).alias(n) for n, e in value_cols.items()],
        )
    )
    int_cols = frozenset(
        n for n in value_cols if isinstance(part.schema[n].dataType, T.IntegralType)
    )
    aggs = pa.schema([(f.name, to_arrow_type(f.dataType)) for f in session_agg_fields(part, cfg)])
    fn = make_correlate_shard_fn(cfg, shards, part.columns, aggs, int_cols, time_mode=time_mode)
    return _shard_keyed(part, fn, OUTPUT_SCHEMA, shards, time_mode)


def _check_time_mode(time_mode: str) -> None:
    if time_mode not in ("event", "processing"):
        raise ValueError(f"time_mode must be 'event' or 'processing', got {time_mode!r}")


def _shard_keyed(part: DataFrame, fn, out_schema: T.StructType, shards: int,
                 time_mode: str) -> DataFrame:
    """``part`` grouped by its task's state shard through the stateful ``fn``."""
    from logstash_filter_aggregate_spark.streaming.shard import SHARD_STATE_SCHEMA

    return (
        part.withColumn("_shard", F.pmod(F.xxhash64("_task_id"), F.lit(shards)))
        .groupBy("_shard")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=SHARD_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if time_mode == "processing"
                else GroupStateTimeout.EventTimeTimeout
            ),
        )
    )


STREAM_SINKS = ("completed", "timeout", "inline", "emit")
# reserved conv_id for replay_routed's watermark-advancing sentinel rows
HEARTBEAT_CONV = "__heartbeat__"


def stream_to_routed_sinks(
    correlated: DataFrame,
    base_path: str,
    checkpoint: str,
    fmt: str = "parquet",
    available_now: bool = True,
):
    """U5 for the streaming variant: fan the :func:`streaming_correlate`
    output out to one directory per sink. ``writeStream`` supports a
    single sink per query, so the fan-out happens inside ONE
    ``foreachBatch`` riding ONE checkpoint (the reference's multi-output
    fan-out, ``docs/index.asciidoc`` routed outputs, over a stream).

    Exactly-once on replay: each micro-batch writes to a Hive-style
    ``batch_id=N`` subdirectory with ``overwrite`` mode — a batch replayed
    after a crash overwrites its own directory instead of appending
    duplicates (the standard idempotent-foreachBatch pattern). Readers
    just ``spark.read.parquet(f"{base_path}/<sink>")``.

    ``available_now`` is refused for processing-time state, whose timers
    make Spark plan a no-data batch after every batch, so it never ends.
    """
    if available_now and _keeps_processing_timers(correlated):
        raise ValueError(
            "an availableNow trigger never ends a query whose state keeps processing-time "
            "timers (time_mode='processing'): pass available_now=False for the processingTime "
            "trigger and stop() the query once its data has drained"
        )

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for sink in STREAM_SINKS:
                rows = batch_df.where(F.col("sink") == sink).drop("sink")
                rows.write.mode("overwrite").format(fmt).save(
                    f"{base_path}/{sink}/batch_id={batch_id}"
                )
        finally:
            batch_df.unpersist()

    writer = (
        correlated.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _keeps_processing_timers(df: DataFrame) -> bool:
    """True when a stateful operator of ``df``'s plan times out by processing time."""
    todo = [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if (node.getClass().getSimpleName() == "FlatMapGroupsInPandasWithState"
                and node.timeout().toString() == "ProcessingTimeTimeout"):
            return True
        todo += [node.children().apply(i) for i in range(node.children().size())]
    return False


def streaming_inline_emissions(stream_df: DataFrame, cfg: PipelineConfig, groks=None) -> DataFrame:
    """O18 over a stream: ``new_event_block`` emissions for
    ``create_or_update`` rules are stateless per matched row (the guard
    always passes, ``aggregate.rb:202``), so they are a plain streaming
    projection — no state, no watermark. Guard-gated emit rules
    (``map_action`` create/update) depend on per-row map state that keyed
    streaming state CAN express but this helper does not implement; they
    raise rather than silently emit rows the reference would suppress
    (:func:`streaming_correlate`'s ``sink='emit'`` rows cover them)."""
    gated = [r.rule_id for r in cfg.rules if r.emit and r.map_action != "create_or_update"]
    if gated:
        raise ConfigurationError(
            f"streaming inline emissions require map_action='create_or_update' "
            f"for emit rules (guard-gated here: {gated}); gated emit rules ARE "
            f"supported by streaming_correlate — read its sink='emit' rows "
            f"(payload in map_json), emitted exactly where the codeblock runs"
        )
    parsed = parse(stream_df, groks or compile_groks())
    classified = classify(parsed, cfg)
    outs = []
    for r in cfg.rules:
        if not r.emit:
            continue
        rows = classified.where(
            (F.col("_rule_id") == r.rule_id) & F.col("_task_id").isNotNull()
        )
        outs.append(rows.select(*[F.expr(e).alias(n) for n, e in r.emit.items()]))
    if not outs:
        raise ConfigurationError("no emit rules in config")
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o, allowMissingColumns=True)
    return df


_PT_ENGINE_COLS = (
    "_rule_id", "_task_id", "_end_flag", "_action", "_cancel",
    "_custom_timeout", "_custom_inactivity",
)


def streaming_passthrough(
    stream_df: DataFrame,
    cfg: PipelineConfig,
    groks=None,
    watermark: str = "10 minutes",
    shards: int | None = None,
    time_mode: str = "event",
) -> DataFrame:
    """O19 + U3 over a stream — the streaming parity of the batch
    ``passthrough_stream``: every non-cancelled event continues
    downstream (``aggregate.rb:251-254``) carrying its accumulated tags;
    rows whose codeblock would raise (NULL required agg input) are tagged
    ``_aggregateexception``; rows consumed by cancel rules are dropped.

    Two tiers, matching how much state the config needs:

    - **ungated configs** (every rule ``create_or_update``): the guard
      always passes, so tags and cancels are pure column expressions —
      the batch :func:`passthrough_stream` works unchanged on the
      streaming frame (stateless, no watermark, full Catalyst codegen).
    - **guard-gated cancel / required-agg rules**: whether the code ran
      depends on per-task map state, so PARTICIPATING rows ride the same
      shard-keyed state walk as :func:`streaming_correlate`
      (expiry-on-arrival before the guard, duplicate-create and
      no-map-update suppression, ``map_meta`` overrides, ``end_of_task``
      deletion — mirroring ``aggregate.rb:179-246``), emitting each input
      row back out with its tags, or not at all when cancelled.
      Non-participating rows (no rule / unresolved task id) take a
      stateless branch that is unioned in — a self-union of the source,
      so each branch tracks the same files independently.

    Scale note: the gated tier serializes the participating rows
    (full width) through one Arrow round-trip per micro-batch — the
    price of reference-exact guard decisions on a stream; the batch
    engine remains the cheap path for bulk replays.

    ``shards`` and ``time_mode``: as for :func:`streaming_correlate`; a
    gated query in processing time never ends under ``availableNow``, so
    run it with a ``processingTime`` trigger and ``stop()`` it.
    """
    from logstash_filter_aggregate_spark.streaming.shard import make_passthrough_shard_fn

    _check_time_mode(time_mode)
    shards = _shard_count(shards)
    parsed = parse(stream_df, groks or compile_groks())
    classified = classify(parsed, cfg)
    gated_relevant = [
        r for r in cfg.rules
        if r.map_action != "create_or_update"
        and (r.cancel or any(s.required and s.col for s in r.aggs))
    ]
    if not gated_relevant:
        from logstash_filter_aggregate_spark.plans.pipeline import passthrough_stream

        return passthrough_stream(classified, cfg)

    req_cols = [
        F.expr(col).alias(name) for name, col in {
            value_col_name(r.rule_id, s.col): s.col
            for r in cfg.rules for s in r.aggs if s.required and s.col
        }.items()
    ]
    participates = F.col("_task_id").isNotNull() & F.col("_rule_id").isNotNull()
    out_cols = [
        c for c in classified.columns
        if c not in _PT_ENGINE_COLS and c != "parse_tags"
    ]
    out_schema = T.StructType(
        [classified.schema[c] for c in out_cols]
        + [T.StructField("tags", T.ArrayType(T.StringType()))]
    )
    stateless = (
        classified.where(~participates)
        .withColumn("tags", F.col("parse_tags"))
        .select(*out_cols, "tags")
    )
    wm = (
        classified if time_mode == "processing"
        else classified.withWatermark("ts", watermark)
    )
    part = (
        wm.where(participates)
        .select(*classified.columns, *req_cols)
    )
    fn = make_passthrough_shard_fn(cfg, out_cols, shards, time_mode=time_mode)
    return _shard_keyed(part, fn, out_schema, shards, time_mode).unionByName(stateless)


def replay_routed(
    spark,
    input_dir: str,
    cfg: PipelineConfig,
    base_path: str,
    checkpoint: str,
    groks=None,
    watermark: str = "10 minutes",
    final_flush: bool = True,
    shards: int | None = None,
) -> None:
    """Finite-corpus replay through the streaming engine with a FULL
    final flush — the streaming analog of the batch engine's end-of-input
    watermark routing.

    Structured Streaming only fires event-time state timeouts as the
    watermark advances with new data, so the last sessions of a finite
    replay would sit in state forever. ``final_flush=True`` writes ONE
    sentinel heartbeat row into a SIBLING staging directory
    (``{base_path}/_heartbeat_src`` — never into ``input_dir``, which
    stays byte-identical to what the caller handed in; batch re-runs
    over the same directory see no sentinel and compute their watermark
    from real data only). The stream reads the union of both
    directories; the sentinel matches no correlation rule and carries a
    far-future ``ts`` that advances the watermark past every registered
    expiry — max(timeout, inactivity, literal custom overrides) plus
    the watermark delay — so every remaining map routes to its sink,
    exactly like the batch engine's final flush. The staging dir is
    rewritten with ``overwrite`` each call, so repeated replays never
    accumulate sentinels (the horizon is always computed from the real
    corpus, not from a previous sentinel). A push_previous config's
    sentinel pops the live map on arrival, tagged as the final flush.

    **Checkpoint compatibility**: this two-source union shape is pinned
    by the checkpoint from the FIRST cycle. A checkpoint created by an
    older single-source build of this function cannot be resumed (Spark
    rejects a changed streaming-source count) — use a fresh
    ``checkpoint`` directory when upgrading; likewise delete any
    sentinel file an older build appended INSIDE ``input_dir`` (current
    builds never write there, but a leftover one would be re-read as
    data). ``shards`` is recorded in the checkpoint too (see
    :func:`streaming_correlate`): pass the same count on every call.
    """
    import re as _re

    shards = _shard_count(shards, cfg)
    schema = spark.read.parquet(input_dir).schema
    hb_dir = f"{base_path}/_heartbeat_src"
    # the union source must exist from the FIRST cycle: a checkpoint pins
    # the source count, so the heartbeat leg is an (initially empty)
    # parquet dir rather than a source added later
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(hb_dir)

    def _cycle() -> None:
        src = (
            spark.readStream.schema(schema).parquet(input_dir)
            .unionByName(spark.readStream.schema(schema).parquet(hb_dir))
        )
        q = stream_to_routed_sinks(
            streaming_correlate(
                src, cfg, groks=groks, watermark=watermark, shards=shards
            ),
            base_path, checkpoint,
        )
        q.awaitTermination()

    _cycle()
    if not final_flush:
        return
    # horizon: past every possible registered expiry. Non-literal custom
    # timeout expressions can register per-map expiries we cannot bound
    # statically — refuse rather than silently dropping tail sessions.
    horizons = [float(cfg.timeout), float(cfg.effective_inactivity_timeout)]
    for r in cfg.rules:
        for expr in (r.custom_timeout, r.custom_inactivity_timeout):
            if expr is None:
                continue
            if _re.fullmatch(r"\d+(\.\d+)?", expr.strip()):
                horizons.append(float(expr))
            else:
                raise ValueError(
                    f"final_flush cannot bound the flush horizon for rule "
                    f"{r.rule_id!r}: custom timeout {expr!r} is not a numeric "
                    f"literal — pass final_flush=False and flush manually, or "
                    f"use literal overrides"
                )
    m = _re.fullmatch(r"(\d+)\s*(second|minute|hour|day)s?", watermark.strip())
    if not m:
        raise ValueError(
            f"final_flush cannot parse watermark delay {watermark!r} "
            f"(expected '<n> second|minute|hour|day[s]')"
        )
    delay_s = float(m.group(1)) * {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[m.group(2)]
    max_ts = spark.read.parquet(input_dir).agg(F.max("ts")).first()[0]
    if max_ts is None:
        return  # empty corpus: no state to flush
    hb_ts = max_ts + __import__("datetime").timedelta(seconds=max(horizons) + delay_s + 1)
    # build the sentinel by FIELD NAME so any column order works; non-ts
    # string columns default to the sentinel marker, everything else NULL
    hb_vals = {}
    for f in schema.fields:
        if f.name == "ts":
            hb_vals[f.name] = hb_ts
        elif f.name == "conv_id":
            hb_vals[f.name] = HEARTBEAT_CONV
        elif f.dataType.simpleString() == "string":
            hb_vals[f.name] = "__heartbeat__"
        else:
            hb_vals[f.name] = None
    hb = spark.createDataFrame([tuple(hb_vals[f.name] for f in schema.fields)], schema)
    hb.coalesce(1).write.mode("overwrite").parquet(hb_dir)
    # two cycles: the heartbeat batch advances the watermark at its END,
    # and state timers registered against the old watermark fire in the
    # NEXT batch (a restart on the same checkpoint runs one batch that
    # applies the checkpointed watermark to state even with no new data)
    _cycle()
    _cycle()
