"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md
§2 (plus the training-pipeline extras); ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL over the same parquet tables.

Every per-operator query is routed THROUGH the package operators
(``classify``/``sessionize``/``apply_guards``/``aggregate_sessions``/
``route_sessions``/``run_pipeline``), so the oracle certifies the engine
code itself, not a parallel reimplementation. Operators whose primitives
DuckDB lacks entirely (xxhash64-based SimHash buckets, hyperplane
signatures for near-dup pairs) are rows-only checks — noted inline; the
MinHash+LSH and LSH-top-k paths carry *property oracles*: their output is
verified against the exact Jaccard / exact cosine computed independently
in SQL.

Column-name discipline: every computed column is aliased identically in
the Spark query and the oracle SQL (the driver sorts columns by name
before value-hashing). Doubles are rounded and cast to DOUBLE on both
sides; sums that feed hashes aggregate DECIMAL to avoid float
summation-order noise.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import (
    ORDER_COL,
    TASK_ID_COL,
    AggSpec,
    ConfigurationError,
    CorrelationRule,
    PipelineConfig,
    validate_configs,
)
from logstash_filter_aggregate_spark.operators import dedup, multimodal, similarity, textstats
from logstash_filter_aggregate_spark.operators.classify import classify, task_id_expr
from logstash_filter_aggregate_spark.operators.correlate import (
    _timeout_event,
    aggregate_sessions,
    apply_guards,
    route_sessions,
)
from logstash_filter_aggregate_spark.operators.sessionize import sessionize
from logstash_filter_aggregate_spark.plans.multi import map_count_gauge, run_multi
from logstash_filter_aggregate_spark.plans.pipeline import compile_groks, run_pipeline
from logstash_filter_aggregate_spark.sources.transcripts import events_as_transcripts

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


GAP_S = 21_600.0        # 6h inactivity gap for the sessionization queries
AGE_S = 86_400.0        # 24h absolute age cap
BIG_TIMEOUT = 1e9       # effectively disables a timeout dimension

# deterministic query vector for similarity queries: embedding of vec_id 0
_QVEC_CACHE: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    if sf_dir not in _QVEC_CACHE:
        _QVEC_CACHE[sf_dir] = [
            float(x) for x in _emb(spark, sf_dir).where("vec_id = 0").first()["embedding"]
        ]
    return _QVEC_CACHE[sf_dir]


def _events_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table in classified-ready shape: the engine's ORDER_BY is
    (ts, conv_id, turn_idx), so turn_idx := event_id reproduces the oracle's
    ORDER BY ts, event_id tiebreak exactly."""
    return _events(spark, sf_dir).select(
        "user_id", "event_type", "value", "event_id", "ts",
        F.lit("c").alias("conv_id"),
        F.col("event_id").cast("long").alias("turn_idx"),
    )


def _engine_sessions(spark: SparkSession, sf_dir: str, cfg: PipelineConfig) -> DataFrame:
    """classify -> sessionize -> guards -> aggregate through the package."""
    cl = classify(_events_shaped(spark, sf_dir), cfg)
    g = apply_guards(sessionize(cl, cfg), cfg)
    return aggregate_sessions(g, cfg)


def _engine_routed(spark: SparkSession, sf_dir: str, cfg: PipelineConfig):
    shaped = _events_shaped(spark, sf_dir)
    cl = classify(shaped, cfg)
    g = apply_guards(sessionize(cl, cfg), cfg)
    return route_sessions(aggregate_sessions(g, cfg), cfg, watermark_df=shaped)


def _any_rule_cfg(**kw) -> PipelineConfig:
    defaults = dict(
        task_id="%{user_id}",
        rules=(CorrelationRule("any", "event_type is not null"),),
        timeout=BIG_TIMEOUT,
    )
    defaults.update(kw)
    return PipelineConfig(**defaults)


# ---------------------------------------------------------------------------
# the full-engine pipeline configs used by the pipe_* queries
# ---------------------------------------------------------------------------

def _start_end_config() -> PipelineConfig:
    """signup=start(create) / click=update / purchase=end over the events
    stream rendered as transcript text (example #1 shape)."""
    return PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("start", "etype = 'signup'", map_action="create"),
            CorrelationRule(
                "update", "etype = 'click'", map_action="update",
                aggs=(
                    AggSpec("clicks", "count"),
                    AggSpec("click_total", "sum", "val"),
                ),
            ),
            CorrelationRule("end", "etype = 'purchase'", map_action="update", end_of_task=True),
        ),
        timeout=BIG_TIMEOUT,
    )


def _no_start_config() -> PipelineConfig:
    """Example #2 shape (docs/index.asciidoc:96-136): NO start event — the
    click rule both creates and accumulates (create_or_update, the ||=
    init); purchase is an update-guarded end_of_task. A purchase with no
    open map (no click since the last purchase) is a no-op per the update
    guard (aggregate.rb:203)."""
    return PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "click", "etype = 'click'",
                aggs=(
                    AggSpec("clicks", "count"),
                    AggSpec("click_total", "sum", "val"),
                ),
            ),
            CorrelationRule("end", "etype = 'purchase'", map_action="update", end_of_task=True),
        ),
        timeout=BIG_TIMEOUT,
    )


def _gap_config() -> PipelineConfig:
    return PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "any", "etype is not null",
                aggs=(AggSpec("n_ev", "count"), AggSpec("val_total", "sum", "val")),
            ),
        ),
        timeout=BIG_TIMEOUT,
        inactivity_timeout=GAP_S,
        push_map_as_event_on_timeout=True,
        timeout_task_id_field="uid",
        timeout_code={"several": "n_ev > 1"},
    )


EVENT_GROK = [(
    "event",
    r"%{LOGLEVEL:loglevel} - %{NOTSPACE:taskid} - EVENT - %{WORD:etype} - %{INT:val:int}",
)]


def _pipe_start_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_as_transcripts(spark, sf_dir)
    out = run_pipeline(spark, t, _start_end_config(), groks=compile_groks(EVENT_GROK))
    return out.completed.select(
        "task_id", "clicks",
        F.coalesce(F.col("click_total"), F.lit(0)).cast("long").alias("click_total"),
        "nevents", "creation_ts", "lastevent_ts",
    )


def _pipe_no_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_as_transcripts(spark, sf_dir)
    out = run_pipeline(spark, t, _no_start_config(), groks=compile_groks(EVENT_GROK))
    return out.completed.select(
        "task_id", "clicks",
        F.coalesce(F.col("click_total"), F.lit(0)).cast("long").alias("click_total"),
        "nevents", "creation_ts", "lastevent_ts",
    )


def _staged_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Stage events_as_transcripts(sf_dir) as parquet for file-source
    streaming replays. The cache key is a CONTENT fingerprint of sf_dir
    (file sizes + mtimes), not just _SUCCESS: a regenerated corpus at the
    same sf — or two corpora sharing the dir-name suffix — must not
    replay stale staged data against a fresh batch/oracle side."""
    import hashlib
    import os

    tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    src_dir = f"/tmp/spark_graft_stream_src/{tag}"
    ev_dir = os.path.join(sf_dir, "events.parquet")
    walk_root = ev_dir if os.path.isdir(ev_dir) else sf_dir
    fp_parts = []
    for root, _dirs, files in sorted(os.walk(walk_root)):
        for f in sorted(files):
            st_ = os.stat(os.path.join(root, f))
            fp_parts.append(f"{os.path.join(root, f)}:{st_.st_size}:{st_.st_mtime_ns}")
    fp = hashlib.sha256("|".join(fp_parts).encode()).hexdigest()[:16]
    fp_file = f"{src_dir}/_fingerprint"
    stale = True
    if os.path.exists(f"{src_dir}/_SUCCESS") and os.path.exists(fp_file):
        with open(fp_file) as fh:
            stale = fh.read().strip() != fp
    if stale:
        events_as_transcripts(spark, sf_dir).write.mode("overwrite").parquet(src_dir)
        with open(fp_file, "w") as fh:
            fh.write(fp)
    return src_dir


def _stream_start_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Structured Streaming variant (streaming/stream.py
    applyInPandasWithState full map lifecycle) oracle-checked: the same
    events stream replayed through a file source with an availableNow
    trigger. The completed sink emits on end-event ARRIVAL — no watermark
    tail involved — so it must equal the batch example #1 oracle exactly,
    INCLUDING session timestamps: the state keeps epoch-seconds doubles
    whose error is <= 0.19µs for current epochs, so the µs rounding at
    emission (stream.py) recovers the original microsecond exactly."""
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    src_dir = _staged_stream_src(spark, sf_dir)
    schema = spark.read.parquet(src_dir).schema
    # the driver parquet carries TIMESTAMP_NTZ; streaming watermarks
    # require TIMESTAMP (session tz is UTC, so the instant is unchanged)
    src = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming_correlate(src, _start_end_config(), groks=compile_groks(EVENT_GROK))
    name = "st_start_end_" + src_dir.rsplit("/", 1)[-1]
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("streaming replay did not finish within 600s")
    got = spark.table(name).where("sink = 'completed'")
    jnum = lambda k: F.coalesce(  # noqa: E731
        F.get_json_object("map_json", f"$.{k}").cast("double"), F.lit(0.0)
    ).cast("long")
    return got.select(
        "task_id",
        jnum("clicks").alias("clicks"),
        jnum("click_total").alias("click_total"),
        "nevents",
        F.col("creation_ts").cast("timestamp_ntz").alias("creation_ts"),
        F.col("lastevent_ts").cast("timestamp_ntz").alias("lastevent_ts"),
    )


def _pipe_gap_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_as_transcripts(spark, sf_dir)
    out = run_pipeline(spark, t, _gap_config(), groks=compile_groks(EVENT_GROK))
    return out.timeout.select(
        "uid", "n_ev",
        F.col("val_total").cast("long").alias("val_total"),
        "creation_ts", "lastevent_ts", "several",
    )


def _pipe_push_previous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16/O20 through the engine: task id = calendar day, which is
    contiguous in global event-time order — each day's map is pushed when
    the next day's first event arrives (aggregate.rb:205-208,314-320);
    only the globally-last map carries _aggregatefinalflush
    (aggregate.rb:348-351)."""
    t = events_as_transcripts(spark, sf_dir).withColumn(
        "day", F.to_date("ts").cast("string")
    )
    cfg = PipelineConfig(
        task_id="%{day}",
        rules=(
            CorrelationRule(
                "any", "etype is not null",
                aggs=(AggSpec("n_ev", "count"), AggSpec("val_total", "sum", "val")),
            ),
        ),
        timeout=BIG_TIMEOUT,
        push_previous_map_as_event=True,
        timeout_task_id_field="day_key",
    )
    out = run_pipeline(spark, t, cfg, groks=compile_groks(EVENT_GROK))
    return out.timeout.select(
        "day_key", "n_ev",
        F.col("val_total").cast("long").alias("val_total"),
        "creation_ts", "lastevent_ts",
        F.array_contains("tags", "_aggregatefinalflush").alias("final_flush"),
    )


def _o16_push_previous_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 strict mode through the engine: interleaved task ids over the
    GLOBAL event order form one map per contiguous run (the reference's
    single-live-map pop discipline). The engine computes the global index
    with the distributed two-pass ranking (operators/order.py), not a
    partition-less window."""
    t = events_as_transcripts(spark, sf_dir)
    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("any", "etype is not null", aggs=(AggSpec("n_ev", "count"),)),
        ),
        timeout=BIG_TIMEOUT,
        push_previous_map_as_event=True,
        push_previous_exact=True,
        timeout_task_id_field="uid",
    )
    out = run_pipeline(spark, t, cfg, groks=compile_groks(EVENT_GROK))
    return out.timeout.select(
        "uid", "n_ev", "creation_ts", "lastevent_ts",
        F.array_contains("tags", "_aggregatefinalflush").alias("final_flush"),
    )


def _pipe_custom_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17 through the engine: error rows carry map_meta.timeout=0
    (immediate eviction+push -> inline bucket, spec:392-409); signup rows
    set a 3600s per-map override (>0 path, spec:410-421) that decides
    expiry against the end-of-input watermark."""
    t = events_as_transcripts(spark, sf_dir)
    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("err", "etype = 'error'", custom_timeout="0.0"),
            CorrelationRule("sign", "etype = 'signup'", custom_timeout="3600.0"),
            CorrelationRule(
                "any", "etype is not null",
                aggs=(AggSpec("n_ev", "count"), AggSpec("val_total", "sum", "val")),
            ),
        ),
        timeout=BIG_TIMEOUT,
        push_map_as_event_on_timeout=True,
        timeout_task_id_field="uid",
    )
    out = run_pipeline(spark, t, cfg, groks=compile_groks(EVENT_GROK))

    def sel(df: DataFrame, bucket: str) -> DataFrame:
        return df.select(
            F.lit(bucket).alias("bucket"), "uid", "n_ev",
            F.coalesce(F.col("val_total"), F.lit(0)).cast("long").alias("val_total"),
            "creation_ts", "lastevent_ts",
        )

    open_maps = out.open.withColumn("uid", F.col("task_id"))
    return (
        sel(out.inline, "inline")
        .unionByName(sel(out.timeout, "timeout"))
        .unionByName(sel(open_maps, "open"))
    )


def _route_counts_config() -> PipelineConfig:
    return PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "err", "etype = 'error'", cancel=True,
                emit={"uid": "taskid", "err_val": "val"},
            ),
            CorrelationRule("end", "etype = 'purchase'", end_of_task=True),
            CorrelationRule("any", "etype is not null", aggs=(AggSpec("n_ev", "count"),)),
        ),
        timeout=BIG_TIMEOUT,
    )


def _sink_counts(spark: SparkSession, sf_dir: str, cfg: PipelineConfig) -> DataFrame:
    """Per-sink routed counts from ONE run_pipeline call."""
    t = events_as_transcripts(spark, sf_dir)
    out = run_pipeline(spark, t, cfg, groks=compile_groks(EVENT_GROK))
    parts = [
        df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(name).alias("sink"), "n")
        for name, df in out.as_dict().items()
        if name != "sessions"
    ]
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


def _pipe_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/U3/O22 from ONE run_pipeline call: per-sink routed counts with
    cancel (error rows consumed from the passthrough, docs:235,244) and
    inline emissions (new_event_block, aggregate.rb:91,226)."""
    return _sink_counts(spark, sf_dir, _route_counts_config())


def _o18_inline_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18: the emitted rows themselves (content-level check)."""
    t = events_as_transcripts(spark, sf_dir)
    out = run_pipeline(spark, t, _route_counts_config(), groks=compile_groks(EVENT_GROK))
    return out.inline.select("uid", F.col("err_val").cast("long").alias("err_val"))


def _guarded_route_config() -> PipelineConfig:
    """Guard-gated code side-effects (aggregate.rb:203,216 return before
    the code at :226): only signup creates a map; the error rule's emit +
    cancel are ``update``-guarded, so an error with no live map must
    neither emit nor be consumed; the update-guarded purchase closes only
    a live map."""
    return PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("start", "etype = 'signup'", map_action="create"),
            CorrelationRule(
                "err", "etype = 'error'", map_action="update", cancel=True,
                emit={"uid": "taskid", "err_val": "val"},
            ),
            CorrelationRule("end", "etype = 'purchase'", map_action="update", end_of_task=True),
            CorrelationRule("any", "etype is not null", map_action="update"),
        ),
        timeout=BIG_TIMEOUT,
    )


def _pipe_route_counts_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipe_route_counts variant the r2 verdict asked for: the emit
    (and cancel) rule is ``map_action='update'`` — sinks count only the
    side-effects whose codeblock actually ran."""
    return _sink_counts(spark, sf_dir, _guarded_route_config())


def _o18b_guarded_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 under an update-guarded emit rule: emission content restricted
    to rows with a live map (a signup earlier in the segment)."""
    t = events_as_transcripts(spark, sf_dir)
    out = run_pipeline(spark, t, _guarded_route_config(), groks=compile_groks(EVENT_GROK))
    return out.inline.select("uid", F.col("err_val").cast("long").alias("err_val"))


def _o19b_guarded_exception_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19 under an update-guarded required-agg rule, THROUGH run_pipeline
    (exercises the guard-inclusion join on the passthrough): a required
    NULL only tags rows whose codeblock ran."""
    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("start", "etype = 'signup'", map_action="create"),
            CorrelationRule(
                "val", "etype is not null", map_action="update",
                aggs=(AggSpec("v", "sum", "CASE WHEN val >= 0 THEN val END", required=True),),
            ),
        ),
        timeout=BIG_TIMEOUT,
    )
    t = events_as_transcripts(spark, sf_dir)
    out = run_pipeline(spark, t, cfg, groks=compile_groks(EVENT_GROK))
    return out.passthrough.where("etype is not null").groupBy("etype").agg(
        F.sum(F.array_contains("tags", "_aggregateexception").cast("int"))
        .cast("long").alias("n_tagged"),
        F.count(F.lit(1)).alias("n_total"),
    )


def _stream_passthrough_guarded(
    spark: SparkSession, sf_dir: str, shards: int | None = None
) -> DataFrame:
    """O19/U3 over a STREAM (round-4 streaming passthrough parity): the
    o19b config replayed through streaming_passthrough — the keyed state
    walk decides guard inclusion, so `_aggregateexception` tags appear
    exactly where the batch engine (and the reference codeblock) would
    raise. Same aggregate shape and ORACLE as o19b_guarded_exception_tags,
    so the driver certifies batch/stream/SQL three-way agreement.
    ``shards`` routes the replay through the shard-keyed state tier
    (streaming/shard.py — state amortization for high-cardinality task
    ids), certifying ITS guard decisions against the same SQL oracle."""
    from logstash_filter_aggregate_spark.streaming.stream import streaming_passthrough

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("start", "etype = 'signup'", map_action="create"),
            CorrelationRule(
                "val", "etype is not null", map_action="update",
                aggs=(AggSpec("v", "sum", "CASE WHEN val >= 0 THEN val END", required=True),),
            ),
        ),
        timeout=BIG_TIMEOUT,
    )
    src_dir = _staged_stream_src(spark, sf_dir)
    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming_passthrough(
        src, cfg, groks=compile_groks(EVENT_GROK), shards=shards
    )
    name = f"st_pt_guarded_{shards or 'key'}_" + src_dir.rsplit("/", 1)[-1]
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("streaming passthrough replay did not finish within 600s")
    return spark.table(name).where("etype is not null").groupBy("etype").agg(
        F.sum(F.array_contains("tags", "_aggregateexception").cast("int"))
        .cast("long").alias("n_tagged"),
        F.count(F.lit(1)).alias("n_total"),
    )


def _pipe_resume_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21 through the engine: split the stream at its midpoint, seed run B
    with run A's open maps (the aggregate_maps_path reload analog,
    aggregate.rb:136-140), and return the UNION of both runs' timeout
    pushes — which must equal the single full run (= the plain gap oracle)."""
    t = events_as_transcripts(spark, sf_dir)
    cfg = _gap_config()
    mm = t.agg(F.min("ts").alias("a"), F.max("ts").alias("b")).first()
    split = mm["a"] + (mm["b"] - mm["a"]) / 2
    c1 = t.where(F.col("ts") < F.lit(split))
    c2 = t.where(F.col("ts") >= F.lit(split))
    a = run_pipeline(spark, c1, cfg, groks=compile_groks(EVENT_GROK))
    b = run_pipeline(
        spark, c2, cfg, groks=compile_groks(EVENT_GROK),
        open_maps=a.open.localCheckpoint(),
    )

    def sel(o) -> DataFrame:
        return o.timeout.select(
            "uid", "n_ev",
            F.col("val_total").cast("long").alias("val_total"),
            "creation_ts", "lastevent_ts", "several",
        )

    return sel(a).unionByName(sel(b))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- O2: task-id extraction + unresolved-skip through task_id_expr
    # (the sprintf-compile path, aggregate.rb:182-183)
    def o02(spark, sf):
        ev = _events(spark, sf)
        return (
            ev.select(task_id_expr("conv-%{user_id}").alias("task_id"))
            .where(F.col("task_id").isNotNull())
            .groupBy("task_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    q["o02_task_id_extract"] = o02

    # --- O4/O5: map creation + last-event tracking via aggregate_sessions
    def o04(spark, sf):
        sess = _engine_sessions(spark, sf, _any_rule_cfg())
        return sess.select(
            F.col("task_id").alias("user_id"), "creation_ts", "lastevent_ts", "nevents"
        )
    q["o04_map_lifecycle_meta"] = o04

    # --- O6: the aggregation dictionary (sum/count/min/max/first/last)
    # through the engine's _agg_column entries
    def o06(spark, sf):
        cfg = _any_rule_cfg(rules=(
            CorrelationRule("any", "event_type is not null", aggs=(
                AggSpec("click_value_sum", "sum",
                        "CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END"),
                AggSpec("clicks", "sum", "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"),
                AggSpec("min_value", "min", "value"),
                AggSpec("max_value", "max", "value"),
                # cents-integer input: the double sum of integers is
                # EXACT (order-independent), so the avg quotient is
                # bit-identical on both engines — a raw-float avg lands
                # on round-half boundaries (the data is 2-decimal) where
                # summation-order ULP noise flips the rounded digit
                # (surfaced by the 10x sf1 sweep)
                AggSpec("avg_value", "avg", "CAST(round(value * 100) AS BIGINT)"),
                AggSpec("first_type", "first", "CASE WHEN value IS NOT NULL THEN event_type END"),
                AggSpec("last_type", "last", "CASE WHEN value IS NOT NULL THEN event_type END"),
            )),
        ))
        sess = _engine_sessions(spark, sf, cfg)
        return sess.select(
            F.col("task_id").alias("user_id"),
            F.col("click_value_sum").cast("double").alias("click_value_sum"),
            F.col("clicks").cast("long").alias("clicks"),
            "min_value", "max_value",
            F.round("avg_value", 6).cast("double").alias("avg_value"),
            "first_type", "last_type",
        )
    q["o06_agg_dictionary"] = o06

    # --- O7/O8: end-event enrichment on the completed bucket (the map's
    # aggregate lands on the task-closing event, aggregate.rb:226,240)
    def o07(spark, sf):
        cfg = _any_rule_cfg(rules=(
            CorrelationRule("click", "event_type = 'click'",
                            aggs=(AggSpec("sql_duration", "sum", "CAST(value AS DECIMAL(18,6))"),)),
            CorrelationRule("end", "event_type = 'purchase'", end_of_task=True),
            CorrelationRule("any", "event_type is not null"),
        ))
        routed = _engine_routed(spark, sf, cfg)
        return routed.completed.select(
            F.col("task_id").alias("user_id"),
            F.col("end_turn_idx").cast("long").alias("event_id"),
            F.coalesce(F.col("sql_duration"), F.lit(0)).cast("double").alias("sql_duration"),
        )
    q["o07_end_enrichment"] = o07

    # --- O8: end-of-task instance split via sessionize's _end_seg
    def o08(spark, sf):
        cfg = _any_rule_cfg(rules=(
            CorrelationRule("end", "event_type = 'purchase'", end_of_task=True),
            CorrelationRule("any", "event_type is not null"),
        ))
        sess = _engine_sessions(spark, sf, cfg)
        return sess.select(
            F.col("task_id").alias("user_id"),
            F.col("_end_seg").cast("long").alias("instance"),
            "nevents", "creation_ts",
        )
    q["o08_end_of_task_split"] = o08

    # --- O9: absolute-age expiry flags via the engine's window age pass
    # (single pass == "crossed relative to first creation", aggregate.rb:396)
    def o09(spark, sf):
        from logstash_filter_aggregate_spark.operators.sessionize import _w, _window_age_seg

        part = (
            _events_shaped(spark, sf)
            .withColumn(TASK_ID_COL, F.col("user_id").cast("string"))
            .withColumn(ORDER_COL, F.row_number().over(_w()))
            .withColumn("_end_seg", F.lit(0))
            .withColumn("_gap_seg", F.lit(0))
        )
        cfg = _any_rule_cfg(timeout=AGE_S)
        flagged = _window_age_seg(part, cfg, passes=1)
        return flagged.groupBy(F.col(TASK_ID_COL).alias("user_id")).agg(
            F.sum((F.col("_age_seg") > 0).cast("int")).cast("long").alias("n_past_age_cap")
        )
    q["o09_single_pass_age_flags"] = o09  # certifies the passes=1 window flags ONLY; the default 2-pass and exact modes are o09b/o09c

    # --- O9 default path: the engine-default 2-pass iterated suffix split
    # (gap + age interplay) — certified against a 2-pass SQL oracle
    def o09b(spark, sf):
        cfg = _any_rule_cfg(timeout=AGE_S, inactivity_timeout=GAP_S)
        sess = _engine_sessions(spark, sf, cfg)
        return sess.select(
            F.col("task_id").alias("user_id"), "creation_ts", "lastevent_ts", "nevents"
        )
    q["o09b_age_cap_two_pass"] = o09b

    # --- O9 exact mode: the applyInPandas session-hop scan — certified
    # against a recursive-CTE oracle replaying the session state machine
    def o09c(spark, sf):
        cfg = _any_rule_cfg(timeout=AGE_S, inactivity_timeout=GAP_S, exact_age_cap=True)
        sess = _engine_sessions(spark, sf, cfg)
        return sess.select(
            F.col("task_id").alias("user_id"), "creation_ts", "lastevent_ts", "nevents"
        )
    q["o09c_age_cap_exact"] = o09c

    # --- O10/O12: inactivity-gap sessionization via sessionize's _gap_seg
    def o10(spark, sf):
        cfg = _any_rule_cfg(inactivity_timeout=GAP_S)
        sess = _engine_sessions(spark, sf, cfg)
        return sess.select(
            F.col("task_id").alias("user_id"),
            F.col("_gap_seg").cast("long").alias("session_idx"),
            "nevents", "creation_ts", "lastevent_ts",
        )
    q["o10_gap_sessionize"] = o10

    # --- O13/O14: timeout-event construction via _timeout_event
    def o13(spark, sf):
        cfg = _any_rule_cfg(
            inactivity_timeout=GAP_S,
            timeout_task_id_field="timeout_task_id",
            timeout_tags=("_aggregatetimeout",),
            timeout_code={"several_events": "nevents > 1"},
        )
        sess = _engine_sessions(spark, sf, cfg)
        ev = _timeout_event(sess, cfg, final_col=None)
        return ev.select(
            "timeout_task_id", "nevents", "several_events",
            F.element_at("tags", 1).alias("tag"), "creation_ts",
        )
    q["o13_timeout_projection"] = o13

    # --- U2: conditional routing / event-kind classification
    def u02(spark, sf):
        ev = _events(spark, sf)
        kind = (
            F.when(F.col("event_type") == "signup", "start")
            .when(F.col("event_type") == "purchase", "end")
            .when(F.col("event_type").isin("click", "view"), "update")
            .otherwise("other")
        )
        return ev.groupBy(kind.alias("kind")).agg(F.count(F.lit(1)).alias("n"))
    q["u02_classify_route_counts"] = u02

    # --- U4: broadcast dimension enrichment
    def u04(spark, sf):
        ev = _events(spark, sf)
        dim = spark.createDataFrame(
            [("click", "engagement"), ("view", "engagement"),
             ("purchase", "revenue"), ("signup", "acquisition"), ("error", "ops")],
            ["event_type", "family"],
        )
        return (
            ev.join(F.broadcast(dim), "event_type", "left")
            .groupBy("family")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_total"),
            )
        )
    q["u04_broadcast_enrich"] = u04

    # --- O19: exception capture + tagging via passthrough_stream
    def o19(spark, sf):
        from logstash_filter_aggregate_spark.plans.pipeline import passthrough_stream

        cfg = _any_rule_cfg(rules=(
            CorrelationRule("val", "event_type is not null", aggs=(
                AggSpec("v", "sum", "CASE WHEN value >= 0 THEN value END", required=True),
            )),
        ))
        shaped = _events_shaped(spark, sf).withColumn(
            "parse_tags", F.array().cast("array<string>")
        )
        pt = passthrough_stream(classify(shaped, cfg), cfg)
        return pt.groupBy("event_type").agg(
            F.sum(F.array_contains("tags", "_aggregateexception").cast("int"))
            .cast("long").alias("n_tagged"),
            F.count(F.lit(1)).alias("n_total"),
        )
    q["o19_exception_tags"] = o19

    # --- O22/O23: live-map count gauge over the engine's routed sessions
    def o23(spark, sf):
        routed = _engine_routed(spark, sf, _any_rule_cfg(inactivity_timeout=GAP_S))
        return map_count_gauge(routed.sessions, warning_threshold=50).select(
            "pattern_id", "live_maps", "total_maps", "above_warning_threshold"
        )
    q["o23_map_count_gauge"] = o23

    # --- O24: multi-pattern isolation via run_multi (two patterns, one stream)
    def o24(spark, sf):
        t = events_as_transcripts(spark, sf)
        cfg_user = PipelineConfig(
            task_id="%{taskid}", pattern_id="by_user",
            rules=(CorrelationRule("any", "etype is not null"),), timeout=BIG_TIMEOUT,
        )
        cfg_type = PipelineConfig(
            task_id="%{etype}", pattern_id="by_type",
            rules=(CorrelationRule("any", "etype is not null"),), timeout=BIG_TIMEOUT,
        )
        outs = run_multi(spark, t, [cfg_user, cfg_type], groks=compile_groks(EVENT_GROK))
        sel = lambda o: o.sessions.select("pattern_id", "task_id", F.col("nevents").alias("n"))  # noqa: E731
        return sel(outs["by_user"]).unionByName(sel(outs["by_type"]))
    q["o24_multi_pattern_isolation"] = o24

    # --- O25: register-time config validation (aggregate.rb:86-133,
    # spec:15-31): each check attempted against the real config model
    def o25(spark, sf):
        cases: list[tuple[str, bool]] = []

        def attempt(name: str, fn) -> None:
            try:
                fn()
                cases.append((name, False))
            except ConfigurationError:
                cases.append((name, True))

        ok_rule = CorrelationRule("a", "true")
        attempt("task_id_without_pattern",
                lambda: PipelineConfig(task_id="static", rules=(ok_rule,)))
        attempt("inactivity_gt_timeout",
                lambda: PipelineConfig(task_id="%{x}", rules=(ok_rule,),
                                       timeout=10.0, inactivity_timeout=20.0))
        attempt("inactivity_eq_timeout_ok",
                lambda: PipelineConfig(task_id="%{x}", rules=(ok_rule,),
                                       timeout=10.0, inactivity_timeout=10.0))
        attempt("duplicate_rule_id",
                lambda: PipelineConfig(task_id="%{x}",
                                       rules=(ok_rule, CorrelationRule("a", "false"))))
        attempt("unknown_agg_fn", lambda: AggSpec("x", "median", "v"))
        attempt("agg_without_col", lambda: AggSpec("x", "sum"))
        attempt("bad_map_action", lambda: CorrelationRule("a", "true", map_action="upsert"))
        attempt("push_previous_needs_create_or_update",
                lambda: PipelineConfig(
                    task_id="%{x}",
                    rules=(CorrelationRule("a", "true", map_action="create"),),
                    push_previous_map_as_event=True))
        attempt("timeout_nonpositive",
                lambda: PipelineConfig(task_id="%{x}", rules=(ok_rule,), timeout=0.0))
        attempt("no_rules", lambda: PipelineConfig(task_id="%{x}", rules=()))
        attempt("duplicate_pattern_id",
                lambda: validate_configs([
                    PipelineConfig(task_id="%{x}", rules=(ok_rule,), pattern_id="p"),
                    PipelineConfig(task_id="%{y}", rules=(ok_rule,), pattern_id="p"),
                ]))
        attempt("valid_config",
                lambda: PipelineConfig(task_id="%{x}", rules=(ok_rule,)))
        return spark.createDataFrame(cases, "check_name string, raises boolean")
    q["o25_config_validation"] = o25

    # --- full-engine pipelines (grok parse -> correlate -> route)
    q["pipe_start_end_correlation"] = _pipe_start_end
    q["pipe_no_start_example2"] = _pipe_no_start
    q["stream_start_end_correlation"] = _stream_start_end
    q["pipe_gap_timeout_push"] = _pipe_gap_timeout
    q["pipe_push_previous"] = _pipe_push_previous          # O16 + O20
    q["o16_push_previous_interleaved"] = _o16_push_previous_interleaved  # O16 strict
    q["pipe_custom_timeout"] = _pipe_custom_timeout        # O17
    q["pipe_route_counts"] = _pipe_route_counts            # U5 + U3 + O22
    q["o18_inline_emissions"] = _o18_inline_emissions      # O18
    q["pipe_route_counts_guarded"] = _pipe_route_counts_guarded  # O3 × U3/O18
    q["o18b_guarded_emissions"] = _o18b_guarded_emissions  # O18 guard-gated
    q["o19b_guarded_exception_tags"] = _o19b_guarded_exception_tags  # O19 guard-gated
    q["stream_passthrough_guarded"] = _stream_passthrough_guarded  # O19/U3 over a stream

    def _stream_pt_sharded(spark, sf):
        # the shard-keyed state tier against the same SQL oracle
        return _stream_passthrough_guarded(spark, sf, shards=32)
    q["stream_passthrough_sharded"] = _stream_pt_sharded
    q["pipe_resume_seeds"] = _pipe_resume_seeds            # O21

    # --- U1: grok/regex parse (JVM backend; pandas backend is rows-only)
    def u01(spark, sf):
        t = events_as_transcripts(spark, sf)
        return t.select(
            F.regexp_extract("text", r"^(\w+) - (\d+) - EVENT - (\w+) - (-?\d+)$", 3).alias("etype"),
            F.regexp_extract("text", r"^(\w+) - (\d+) - EVENT - (\w+) - (-?\d+)$", 4).cast("long").alias("val"),
        ).groupBy("etype").agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("val_sum"))
    q["u01_regex_parse"] = u01

    # --- U1b: composite access-log grok (COMMONAPACHELOG shape) — lines
    # synthesized from event columns, so the oracle recomputes the
    # aggregate from the raw columns with no regex at all
    def u01b(spark, sf):
        from logstash_filter_aggregate_spark.functions.grok import (
            COMMONAPACHELOG_GROK,
            apply_grok_jvm,
            compile_grok,
        )

        ev = _events(spark, sf)
        lines = ev.select(
            F.format_string(
                '10.0.%d.1 - user%d [10/Oct/2000:13:55:36 -0700] "%s /e/%d HTTP/1.1" 200 %d',
                (F.col("user_id") % 256).cast("int"),
                F.col("user_id"),
                F.upper("event_type"),
                F.col("event_id"),
                (F.floor("value") + 1000).cast("long"),
            ).alias("text")
        )
        g = compile_grok("apache", COMMONAPACHELOG_GROK)
        parsed = apply_grok_jvm(lines, "text", [g])
        return parsed.groupBy("verb").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bytes").alias("bytes_sum"),
            F.count_distinct("clientip").alias("n_ips"),
        )
    q["u01b_grok_apache"] = u01b

    # --- dedup family
    def dd_exact(spark, sf):
        return dedup.exact_dedup(_docs(spark, sf))
    q["dd_exact_dedup"] = dd_exact

    def dd_jaccard(spark, sf):
        d = _docs(spark, sf).where("doc_id < 80")
        return dedup.ngram_jaccard_pairs(d, k=3, min_jaccard=0.01).select(
            "id_a", "id_b", F.round("jaccard", 6).cast("double").alias("jaccard")
        )
    q["dd_ngram_jaccard"] = dd_jaccard

    def _flood_guard(cand, corpus, max_pair_frac: float, sentinel: list):
        """Precision bound for the LSH property oracles: the recall checks
        (candidates ∩ exact relation == exact relation) cannot catch a
        regression that FLOODS candidates (e.g. a banding bug making every
        pair a candidate) — an all-pairs candidate set trivially contains
        the exact relation. This guard emits one SENTINEL row iff
        count(candidates) > max_pair_frac * C(corpus, 2); the sentinel is
        unioned into the compared result, so a flood breaks the oracle's
        row/hash match instead of passing silently.

        The bound is a PAIR-SPACE PRUNING fraction, not a corpus-
        proportional count: with single-row (r=1) bands, the candidate
        count legitimately scales with the number of moderately-similar
        pairs — corpus-structure-dependent and near-quadratic on
        clustered corpora (the 10x sf1 sweep corpus is 10x-replicated by
        construction and measures 15.6M minhash candidates from 50k
        docs = 1.2% of the pair space; a docs-proportional bound
        false-tripped there, twice, before this form). Asserting "the
        bucketing prunes >=95-99% of all pairs" holds at every measured
        scale while a signature/banding collapse (every pair a
        candidate) exceeds it by >=20x.

        Returns ``(cand, guard)`` with ``cand`` persisted: the count leg
        and the caller's verify join share one materialization instead of
        re-executing the LSH candidate subtree twice (the driver's
        ContextCleaner reclaims the blocks once the frame is unreferenced)."""
        cand = cand.persist()
        breach = (
            cand.agg(F.count(F.lit(1)).alias("_nc"))
            .crossJoin(corpus.agg(F.count(F.lit(1)).alias("_nb")))
            .where(
                F.col("_nc")
                > F.lit(max_pair_frac) * F.col("_nb") * (F.col("_nb") - 1) / 2
            )
        )
        return cand, breach.select(*sentinel)

    def dd_minhash(spark, sf):
        # property oracle: with 16 bands of 1 row, the per-pair miss
        # probability at jaccard >= 0.6 is (1-0.6)^16 ~= 4e-7, so LSH
        # candidates ∩ exact-jaccard >= 0.6 must equal the exact pair set
        # (recall check); the inner join bounds the RESULT's precision by
        # construction, and the _flood_guard bounds the candidate count
        # itself (<=5% of the pair space; measured 1.3% at the 10x sweep).
        d = _docs(spark, sf)
        cand = dedup.minhash_lsh_candidates(d, k=3, num_hashes=16, bands=16, max_bucket=4096)
        exact = dedup.ngram_jaccard_pairs(d, k=3, min_jaccard=0.6)
        cand, guard = _flood_guard(cand, d, 0.05, [
            F.lit(-1).cast("long").alias("id_a"), F.lit(-1).cast("long").alias("id_b"),
            F.lit(-1.0).alias("jaccard"),
        ])
        return cand.join(exact, ["id_a", "id_b"]).select(
            "id_a", "id_b", F.round("jaccard", 6).cast("double").alias("jaccard")
        ).unionByName(guard)
    q["dd_minhash_lsh"] = dd_minhash

    def dd_simhash(spark, sf):
        # property oracle: identical text => identical SimHash => hamming 0
        # and all 4 pigeonhole blocks equal, so every identical-text pair
        # MUST surface as a candidate regardless of banding. Plant copies
        # of the first 5 docs; engine candidates ∩ the identical-text pair
        # relation must equal that relation exactly (recall check — the
        # inner join bounds precision by construction, as in dd_minhash_lsh).
        d = _docs(spark, sf).select("doc_id", "text")
        planted = d.where("doc_id < 5").select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        alld = d.unionByName(planted)
        cand = dedup.simhash_near_dups(alld, max_hamming=10, max_bucket=8192)
        a, b = alld.alias("a"), alld.alias("b")
        exact = a.join(
            b, (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        cand, guard = _flood_guard(cand, alld, 0.05, [
            F.lit(-1).cast("long").alias("id_a"), F.lit(-1).cast("long").alias("id_b"),
            F.lit(-1).cast("long").alias("hamming"),
        ])  # <=5% of the pair space (measured 0.7% at the 10x sweep)
        return cand.join(exact, ["id_a", "id_b"]).select(
            "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
        ).unionByName(guard)
    q["dd_simhash"] = dd_simhash

    def dd_incremental_exact(spark, sf):
        # batch-incremental exact dedup (operators/incremental.py): the
        # corpus split at its id midpoint into two arrival batches, each
        # deduped against a persisted hash store — the union of survivors
        # must equal the full-corpus one-shot relation (min doc_id per
        # normalized content), which IS the SQL oracle.
        import uuid

        from logstash_filter_aggregate_spark.operators.incremental import (
            incremental_exact_dedup,
        )

        d = _docs(spark, sf).select("doc_id", "text")
        mid = (d.agg(F.max("doc_id")).first()[0] + 1) // 2
        store = f"/tmp/spark_graft_inc/{uuid.uuid4().hex}"
        s1 = incremental_exact_dedup(d.where(F.col("doc_id") < mid), store, batch_id=0)
        s2 = incremental_exact_dedup(d.where(F.col("doc_id") >= mid), store, batch_id=1)
        # s1/s2 are localCheckpoint-pinned inside the operator, so the
        # throwaway store can be dropped before the driver collects
        shutil.rmtree(store, ignore_errors=True)
        return s1.unionByName(s2).select("doc_id", "content_hash")
    q["dd_incremental_exact"] = dd_incremental_exact

    def dd_incremental_minhash(spark, sf):
        # property oracle for the incremental near-dup path: batch 2
        # carries planted copies of 5 batch-1 docs; its batch-vs-store
        # candidates intersected with the identical-text relation must
        # equal that relation (identical text => identical signature =>
        # every band matches => est_jaccard exactly 1.0). Flood guard
        # bounds the candidate mass as in dd_minhash_lsh.
        import uuid

        from logstash_filter_aggregate_spark.operators.incremental import (
            incremental_minhash_candidates,
        )

        d = _docs(spark, sf).select("doc_id", "text")
        mid = (d.agg(F.max("doc_id")).first()[0] + 1) // 2
        b1 = d.where(F.col("doc_id") < mid)
        planted = b1.where("doc_id < 5").select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        b2 = d.where(F.col("doc_id") >= mid).unionByName(planted)
        store = f"/tmp/spark_graft_inc/{uuid.uuid4().hex}"
        incremental_minhash_candidates(
            b1, store, k=3, num_hashes=16, bands=16, max_bucket=4096, batch_id=0
        )
        cand = incremental_minhash_candidates(
            b2, store, k=3, num_hashes=16, bands=16, max_bucket=4096, batch_id=1
        ).where("source = 'store'")
        # cand is localCheckpoint-pinned inside the operator: drop the
        # throwaway store now rather than accumulating /tmp dirs per run
        shutil.rmtree(store, ignore_errors=True)
        n1, o1 = b1.alias("n"), b2.alias("o")
        exact = o1.join(n1, F.col("o.text") == F.col("n.text")).select(
            F.col("o.doc_id").alias("new_id"), F.col("n.doc_id").alias("peer_id")
        )
        corpus = b1.unionByName(b2)
        cand, guard = _flood_guard(cand, corpus, 0.05, [
            F.lit(-1).cast("long").alias("new_id"),
            F.lit(-1).cast("long").alias("peer_id"),
            F.lit(-1.0).alias("est_j"),
        ])
        return cand.join(exact, ["new_id", "peer_id"]).select(
            "new_id", "peer_id",
            F.col("est_jaccard").cast("double").alias("est_j"),
        ).unionByName(guard)
    q["dd_incremental_minhash"] = dd_incremental_minhash

    def dd_incremental_embedding(spark, sf):
        # property oracle for the incremental ANN near-dup path: batch 2
        # carries planted copies of 5 batch-1 vectors; identical embedding
        # => identical hyperplane signature => same store bucket => exact
        # cosine verifies at 1.0. Engine store-pairs ∩ the cross-batch
        # identical-embedding relation must equal that relation.
        import uuid

        from logstash_filter_aggregate_spark.operators.incremental import (
            incremental_embedding_candidates,
        )

        e = _emb(spark, sf).select("vec_id", "embedding")
        mid = (e.agg(F.max("vec_id")).first()[0] + 1) // 2
        b1 = e.where(F.col("vec_id") < mid)
        planted = b1.where("vec_id < 5").select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        b2 = e.where(F.col("vec_id") >= mid).unionByName(planted)
        store = f"/tmp/spark_graft_inc/{uuid.uuid4().hex}"
        incremental_embedding_candidates(
            b1, store, num_planes=8, min_cosine=0.99, max_bucket=8192, batch_id=0
        )
        cand = incremental_embedding_candidates(
            b2, store, num_planes=8, min_cosine=0.99, max_bucket=8192, batch_id=1
        ).where("source = 'store'")
        shutil.rmtree(store, ignore_errors=True)  # cand is checkpoint-pinned
        n1, o1 = b1.alias("n"), b2.alias("o")
        exact = o1.join(
            n1, F.col("o.embedding") == F.col("n.embedding")
        ).select(
            F.col("o.vec_id").alias("new_id"), F.col("n.vec_id").alias("peer_id")
        )
        corpus = b1.unionByName(b2)
        cand, guard = _flood_guard(cand, corpus, 0.05, [
            F.lit(-1).cast("long").alias("new_id"),
            F.lit(-1).cast("long").alias("peer_id"),
            F.lit(-1.0).alias("cos"),
        ])
        return cand.join(exact, ["new_id", "peer_id"]).select(
            "new_id", "peer_id",
            F.round("cos_sim", 4).cast("double").alias("cos"),
        ).unionByName(guard)
    q["dd_incremental_embedding"] = dd_incremental_embedding

    def dd_stream_ingest(spark, sf):
        # the streaming ingestion seam end-to-end (streaming/ingest.py):
        # documents arrive as two mtime-ordered micro-batches through a
        # file source; foreachBatch exact-dedups each against the
        # persisted store with both idempotency layers live. The union
        # of survivors must equal the one-shot relation — the same SQL
        # oracle as dd_incremental_exact, now through the real streaming
        # seam.
        import os
        import uuid

        from logstash_filter_aggregate_spark.streaming.ingest import (
            stream_dedup_to_store,
        )

        d = _docs(spark, sf).select("doc_id", "text")
        mid = (d.agg(F.max("doc_id")).first()[0] + 1) // 2
        base = f"/tmp/spark_graft_inc/stream_{uuid.uuid4().hex}"
        src = f"{base}/src"
        os.makedirs(src)
        for k, pred in enumerate((f"doc_id < {mid}", f"doc_id >= {mid}")):
            tmp = f"{base}/tmp"
            d.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            shutil.move(os.path.join(tmp, part), os.path.join(src, f"{k:03d}.parquet"))
        q_ = stream_dedup_to_store(
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
            f"{base}/store", f"{base}/out", f"{base}/cp",
        )
        q_.awaitTermination(300)
        out = (
            spark.read.option("basePath", f"{base}/out").parquet(f"{base}/out")
            .select("doc_id", "content_hash")
            .localCheckpoint()        # pin before the throwaway dirs drop
        )
        shutil.rmtree(base, ignore_errors=True)
        return out
    q["dd_stream_ingest"] = dd_stream_ingest

    # --- similarity family
    def sim_brute(spark, sf):
        out = similarity.brute_force_topk(_emb(spark, sf), _query_vec(spark, sf), k=10)
        return out.select("vec_id", F.round("cos_sim", 4).cast("double").alias("cos_sim"))
    q["sim_bruteforce_topk"] = sim_brute

    def sim_lsh(spark, sf):
        # property oracle built on the guarantee LSH actually provides:
        # near-duplicate retrieval. Positive scaling preserves every
        # hyperplane sign, so planted scaled copies of the query vector
        # have hamming distance 0 AND cosine 1.0 — radius-0 pruning must
        # retrieve exactly {query, planted copies} as the top-k while
        # scanning only signature-equal rows. (Exact top-k over the
        # near-random bulk is brute_force_topk's job, oracle'd above.)
        emb = _emb(spark, sf)
        qv = _query_vec(spark, sf)
        qcol = F.array(*[F.lit(float(v)) for v in qv])
        planted = spark.range(5).select(
            (F.col("id") + 1_000_000).alias("vec_id"),
            F.transform(
                qcol, lambda x: x * (F.lit(1.0) + (F.col("id") + 1) / F.lit(100.0))
            ).cast("array<float>").alias("embedding"),
        )
        allv = emb.select("vec_id", "embedding").unionByName(planted)
        out = similarity.lsh_topk(allv, qv, k=6, max_hamming=0)
        # precision bound: rebuild the radius-0 candidate set with the
        # same construction lsh_topk uses and require it to stay a small
        # fraction of the corpus — a signature collapse (constant
        # hyperplane sig => every row a candidate) would otherwise still
        # return the correct top-k and pass the recall oracle silently
        sig = similarity.hyperplane_signature(F.col("embedding"), 16, len(qv))
        qsig = spark.range(1).select(
            similarity.hyperplane_signature(qcol, 16, len(qv)).alias("qsig")
        )
        cand = (
            allv.withColumn("_sig", sig)
            .crossJoin(F.broadcast(qsig))
            .where(F.col("_sig") == F.col("qsig"))
        )
        n_sig = (
            cand.agg(F.count(F.lit(1)).alias("_nc"))
            .crossJoin(allv.agg(F.count(F.lit(1)).alias("_nb")))
            .where(F.col("_nc") > 0.1 * F.col("_nb"))
        )
        guard = n_sig.select(
            F.lit(-1).cast("long").alias("vec_id"), F.lit(-1.0).alias("cos_sim"),
        )
        return out.select(
            "vec_id", F.round("cos_sim", 4).cast("double").alias("cos_sim")
        ).unionByName(guard)
    q["sim_lsh_topk"] = sim_lsh

    def sim_ivf(spark, sf):
        # property oracle, same construction as sim_lsh_topk: cell
        # assignment (max-cosine centroid) is scale-invariant, so planted
        # scaled copies of the query land in the query's own cell — the
        # rank-1 probe — and the exact rank over probed candidates must
        # return exactly the cosine-1.0 set. (No separate flood guard:
        # the candidate set is structurally n_probe/n_cells of the corpus
        # by construction, and a broken cell assignment fails the recall
        # check above — the planted copies would miss the probed cell.)
        emb = _emb(spark, sf)
        qv = _query_vec(spark, sf)
        qcol = F.array(*[F.lit(float(v)) for v in qv])
        planted = spark.range(5).select(
            (F.col("id") + 1_000_000).alias("vec_id"),
            F.transform(
                qcol, lambda x: x * (F.lit(1.0) + (F.col("id") + 1) / F.lit(100.0))
            ).cast("array<float>").alias("embedding"),
        )
        allv = emb.select("vec_id", "embedding").unionByName(planted)
        out = similarity.ivf_topk(allv, qv, k=6, n_cells=8, n_probe=2, train_iters=2)
        return out.select("vec_id", F.round("cos_sim", 4).cast("double").alias("cos_sim"))
    q["sim_ivf_topk"] = sim_ivf

    def sim_neardup(spark, sf):
        # property oracle: identical embeddings => identical hyperplane
        # signature => same bucket => exact-cosine verify at 1.0. Plant
        # copies of the first 5 vectors; engine pairs ∩ the identical-
        # embedding relation must equal that relation (recall check; the
        # inner join bounds precision, as in dd_minhash_lsh/dd_simhash).
        e = _emb(spark, sf).select("vec_id", "embedding")
        planted = e.where("vec_id < 5").select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        allv = e.unionByName(planted)
        pairs = similarity.embedding_near_dup_pairs(
            allv, num_planes=8, min_cosine=0.99, max_bucket=8192
        )
        a, b = allv.alias("a"), allv.alias("b")
        exact = a.join(
            b,
            (F.col("a.embedding") == F.col("b.embedding"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        pairs, guard = _flood_guard(pairs, allv, 0.01, [
            F.lit(-1).cast("long").alias("id_a"), F.lit(-1).cast("long").alias("id_b"),
            F.lit(-1.0).alias("cos_sim"),
        ])  # <=1% of the pair space (measured 0.045% at the 10x sweep)
        return pairs.join(exact, ["id_a", "id_b"]).select(
            "id_a", "id_b", F.round("cos_sim", 4).cast("double").alias("cos_sim")
        ).unionByName(guard)
    q["sim_embedding_near_dup"] = sim_neardup

    # --- text analysis family
    def ts_tokens(spark, sf):
        d = _docs(spark, sf)
        return textstats.quality_features(d).groupBy("lang").agg(
            F.sum("n_tokens").alias("tokens_total"),
            F.round(F.avg("punct_ratio"), 6).cast("double").alias("avg_punct_ratio"),
            F.sum("stopword_hits").alias("stopword_total"),
            F.round(F.avg("quality_score"), 6).cast("double").alias("avg_quality"),
        )
    q["ts_token_quality"] = ts_tokens

    def ts_lang(spark, sf):
        d = _docs(spark, sf)
        return d.select(
            textstats.lang_id("text").alias("lang_guess"),
            textstats.fingerprint("text").alias("fp"),
        ).groupBy("lang_guess").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("fp").alias("n_fingerprints"),
        )
    q["ts_lang_fingerprint"] = ts_lang

    def ts_bpe(spark, sf):
        d = _docs(spark, sf)
        return d.select(
            "doc_id", textstats.bpe_token_estimate("text").cast("long").alias("bpe_tokens")
        )
    q["ts_bpe_estimate"] = ts_bpe

    # --- multimodal plumbing
    def mm_meta(spark, sf):
        m = multimodal.synth_media(_docs(spark, sf))
        return m.groupBy("meta.kind").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("payload")).alias("payload_bytes"),
        ).withColumnRenamed("kind", "kind")
    q["mm_binary_meta"] = mm_meta

    def mm_features(spark, sf):
        # byte_sum = sum of the first 8 payload bytes, recovered exactly
        # from the float32 features (x*255 rounds to the integer byte), so
        # the mapInPandas fake decode is SQL-checkable from md5 hex.
        m = multimodal.synth_media(_docs(spark, sf).where("doc_id < 200"))
        f = multimodal.extract_features(m, dim=8)
        return f.select(
            "media_id", "n_bytes",
            F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double") * 255.0))
            .cast("long").alias("byte_sum"),
        )
    q["mm_feature_extract"] = mm_features

    return q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full parse -> correlate -> route pipeline (example #1
    shape) on the sf0.001 events stream rendered as transcripts."""
    return _pipe_start_end(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_PIPE_START_END_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(floor(value) AS BIGINT) AS val,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
  FROM events
),
g AS (
  SELECT *, min(CASE WHEN event_type = 'signup' THEN rn END)
              OVER (PARTITION BY user_id, seg) AS creator
  FROM e
),
inc AS (
  SELECT * FROM g
  WHERE creator IS NOT NULL AND rn >= creator
    AND NOT (event_type = 'signup' AND rn > creator)
    AND event_type IN ('signup', 'click', 'purchase')
)
SELECT CAST(user_id AS VARCHAR) AS task_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       CAST(COALESCE(sum(CASE WHEN event_type = 'click' THEN val END), 0) AS BIGINT) AS click_total,
       count(*) AS nevents,
       min(ts) AS creation_ts,
       max(ts) AS lastevent_ts
FROM inc
GROUP BY user_id, seg
HAVING bool_or(event_type = 'purchase')
"""

# Example #2 oracle. Sessions cannot span a purchase: a purchase either
# closes the open map or (update guard, aggregate.rb:203) is a no-op that
# provably had no open map — no click since the previous purchase implies
# no map, by induction over purchases. So segmenting at EVERY purchase and
# keeping segments that end in a purchase and contain >= 1 click is exact.
_PIPE_NO_START_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(floor(value) AS BIGINT) AS val,
         COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
  FROM events
  WHERE event_type IN ('click', 'purchase')
)
SELECT CAST(user_id AS VARCHAR) AS task_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       CAST(COALESCE(sum(CASE WHEN event_type = 'click' THEN val END), 0) AS BIGINT) AS click_total,
       count(*) AS nevents,
       min(ts) AS creation_ts,
       max(ts) AS lastevent_ts
FROM e
GROUP BY user_id, seg
HAVING bool_or(event_type = 'purchase')
   AND sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
"""

_PIPE_GAP_SQL = f"""
WITH t AS (
  SELECT user_id, ts, event_id, CAST(floor(value) AS BIGINT) AS val,
         CASE WHEN extract(epoch FROM ts) - lag(extract(epoch FROM ts)) OVER w > {GAP_S}
              THEN 1 ELSE 0 END AS gap_flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(gap_flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM t
),
agg AS (
  SELECT CAST(user_id AS VARCHAR) AS uid, user_id, sess,
         count(*) AS n_ev, CAST(sum(val) AS BIGINT) AS val_total,
         min(ts) AS creation_ts, max(ts) AS lastevent_ts
  FROM s GROUP BY user_id, sess
),
wm AS (SELECT max(lastevent_ts) AS w FROM agg)
SELECT uid, n_ev, val_total, creation_ts, lastevent_ts, n_ev > 1 AS several
FROM agg, wm
WHERE sess < (SELECT max(sess) FROM agg a2 WHERE a2.user_id = agg.user_id)
   OR extract(epoch FROM wm.w) - extract(epoch FROM lastevent_ts) > {GAP_S}
"""

_GAP_SESSIONS_CTE = f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN extract(epoch FROM ts) - lag(extract(epoch FROM ts))
                OVER (PARTITION BY user_id ORDER BY ts, event_id) > {GAP_S}
              THEN 1 ELSE 0 END AS gap_flag
  FROM events
),
s AS (
  SELECT *, sum(gap_flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM t
),
agg AS (
  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS nevents,
         min(ts) AS creation_ts, max(ts) AS lastevent_ts
  FROM s GROUP BY user_id, session_idx
)
"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["o02_task_id_extract"] = (
        "SELECT format('conv-{}', user_id) AS task_id, count(*) AS n "
        "FROM events WHERE user_id IS NOT NULL GROUP BY user_id"
    )
    o["o04_map_lifecycle_meta"] = (
        "SELECT CAST(user_id AS VARCHAR) AS user_id, min(ts) AS creation_ts, "
        "max(ts) AS lastevent_ts, count(*) AS nevents FROM events "
        "WHERE event_type IS NOT NULL GROUP BY user_id"
    )
    o["o06_agg_dictionary"] = """
        WITH r AS (
          SELECT user_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type IS NOT NULL
        )
        SELECT CAST(user_id AS VARCHAR) AS user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS click_value_sum,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
               min(value) AS min_value,
               max(value) AS max_value,
               CAST(round(avg(CAST(round(value * 100) AS BIGINT)), 6) AS DOUBLE) AS avg_value,
               arg_min(event_type, rn) FILTER (WHERE value IS NOT NULL) AS first_type,
               arg_max(event_type, rn) FILTER (WHERE value IS NOT NULL) AS last_type
        FROM r GROUP BY user_id
    """
    o["o07_end_enrichment"] = """
        WITH e AS (
          SELECT user_id, ts, event_id, event_type, value,
                 COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
          FROM events WHERE event_type IS NOT NULL
        )
        SELECT CAST(user_id AS VARCHAR) AS user_id,
               CAST(max(CASE WHEN event_type = 'purchase' THEN event_id END) AS BIGINT) AS event_id,
               CAST(COALESCE(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS sql_duration
        FROM e GROUP BY user_id, seg
        HAVING bool_or(event_type = 'purchase')
    """
    o["o08_end_of_task_split"] = """
        WITH e AS (
          SELECT user_id, ts,
                 COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS instance
          FROM events WHERE event_type IS NOT NULL
        )
        SELECT CAST(user_id AS VARCHAR) AS user_id, CAST(instance AS BIGINT) AS instance,
               count(*) AS nevents, min(ts) AS creation_ts
        FROM e GROUP BY user_id, instance
    """
    o["o09_single_pass_age_flags"] = f"""
        WITH e AS (
          SELECT user_id, extract(epoch FROM ts) AS tsec,
                 min(extract(epoch FROM ts)) OVER (PARTITION BY user_id) AS creation
          FROM events WHERE event_type IS NOT NULL
        )
        SELECT CAST(user_id AS VARCHAR) AS user_id,
               CAST(sum(CASE WHEN tsec - creation > {AGE_S} THEN 1 ELSE 0 END) AS BIGINT) AS n_past_age_cap
        FROM e GROUP BY user_id
    """
    # 2-pass iterated suffix split (the sessionize default): pass p
    # re-anchors creation at the first row of each (gap, age-so-far)
    # group; crossings are a contiguous suffix (ts non-decreasing), so
    # plain per-group min(ts) windows reproduce the running
    # latest-group-start trick exactly.
    o["o09b_age_cap_two_pass"] = f"""
        WITH b AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR extract(epoch FROM ts) - extract(epoch FROM lag(ts) OVER w) > {GAP_S}
                      THEN 1 ELSE 0 END AS gflag
          FROM events WHERE event_type IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        g AS (
          SELECT *, sum(gflag) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gseg
          FROM b
        ),
        p1 AS (
          SELECT *, CASE WHEN extract(epoch FROM ts) - extract(epoch FROM
                   min(ts) OVER (PARTITION BY user_id, gseg)) > {AGE_S} THEN 1 ELSE 0 END AS a1
          FROM g
        ),
        p2 AS (
          SELECT *, CASE WHEN extract(epoch FROM ts) - extract(epoch FROM
                   min(ts) OVER (PARTITION BY user_id, gseg, a1)) > {AGE_S} THEN 1 ELSE 0 END AS a2
          FROM p1
        )
        SELECT CAST(user_id AS VARCHAR) AS user_id, min(ts) AS creation_ts,
               max(ts) AS lastevent_ts, count(*) AS nevents
        FROM p2 GROUP BY user_id, gseg, a1, a2
    """
    # exact session-hop scan: a recursive CTE replays the per-row state
    # machine (session restarts when the age cap crosses; gap blocks are
    # precomputed), one recursion step per row within a gap block
    o["o09c_age_cap_exact"] = f"""
        WITH RECURSIVE base AS (
          SELECT user_id, ts, event_id,
                 row_number() OVER w AS rn,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR extract(epoch FROM ts) - extract(epoch FROM lag(ts) OVER w) > {GAP_S}
                      THEN 1 ELSE 0 END AS gflag
          FROM events WHERE event_type IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        blocks AS (
          SELECT *, sum(gflag) OVER (PARTITION BY user_id ORDER BY rn) AS blk FROM base
        ),
        firsts AS (
          SELECT user_id, blk, min(rn) AS frn FROM blocks GROUP BY user_id, blk
        ),
        rec AS (
          SELECT b.user_id, b.blk, b.rn, b.ts, b.ts AS sts
          FROM blocks b JOIN firsts f
            ON b.user_id = f.user_id AND b.blk = f.blk AND b.rn = f.frn
          UNION ALL
          SELECT b.user_id, b.blk, b.rn, b.ts,
                 CASE WHEN extract(epoch FROM b.ts) - extract(epoch FROM r.sts) > {AGE_S}
                      THEN b.ts ELSE r.sts END AS sts
          FROM rec r JOIN blocks b
            ON b.user_id = r.user_id AND b.blk = r.blk AND b.rn = r.rn + 1
        )
        SELECT CAST(user_id AS VARCHAR) AS user_id, min(ts) AS creation_ts,
               max(ts) AS lastevent_ts, count(*) AS nevents
        FROM rec GROUP BY user_id, blk, sts
    """
    o["o10_gap_sessionize"] = _GAP_SESSIONS_CTE + """
        SELECT CAST(user_id AS VARCHAR) AS user_id, session_idx, nevents,
               creation_ts, lastevent_ts
        FROM agg
    """
    o["o13_timeout_projection"] = _GAP_SESSIONS_CTE + """
        SELECT CAST(user_id AS VARCHAR) AS timeout_task_id, nevents,
               nevents > 1 AS several_events,
               '_aggregatetimeout' AS tag, creation_ts
        FROM agg
    """
    o["u02_classify_route_counts"] = """
        SELECT CASE WHEN event_type = 'signup' THEN 'start'
                    WHEN event_type = 'purchase' THEN 'end'
                    WHEN event_type IN ('click', 'view') THEN 'update'
                    ELSE 'other' END AS kind,
               count(*) AS n
        FROM events GROUP BY 1
    """
    o["u04_broadcast_enrich"] = """
        WITH dim(event_type, family) AS (VALUES
          ('click', 'engagement'), ('view', 'engagement'), ('purchase', 'revenue'),
          ('signup', 'acquisition'), ('error', 'ops'))
        SELECT family, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_total
        FROM events LEFT JOIN dim USING (event_type)
        GROUP BY family
    """
    o["o19_exception_tags"] = """
        SELECT event_type,
               CAST(sum(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tagged,
               count(*) AS n_total
        FROM events GROUP BY event_type
    """
    o["o23_map_count_gauge"] = _GAP_SESSIONS_CTE + f"""
        , a2 AS (
          SELECT *, max(session_idx) OVER (PARTITION BY user_id) AS mx,
                 (SELECT max(lastevent_ts) FROM agg) AS w
          FROM agg
        )
        SELECT 'p0' AS pattern_id,
               CAST(sum(CASE WHEN session_idx = mx
                          AND extract(epoch FROM w) - extract(epoch FROM lastevent_ts) <= {GAP_S}
                         THEN 1 ELSE 0 END) AS BIGINT) AS live_maps,
               count(*) AS total_maps,
               CAST(sum(CASE WHEN session_idx = mx
                          AND extract(epoch FROM w) - extract(epoch FROM lastevent_ts) <= {GAP_S}
                         THEN 1 ELSE 0 END) AS BIGINT) >= 50 AS above_warning_threshold
        FROM a2
    """
    o["o24_multi_pattern_isolation"] = """
        SELECT 'by_user' AS pattern_id, CAST(user_id AS VARCHAR) AS task_id, count(*) AS n
        FROM events GROUP BY user_id
        UNION ALL
        SELECT 'by_type' AS pattern_id, event_type AS task_id, count(*) AS n
        FROM events GROUP BY event_type
    """
    o["o25_config_validation"] = """
        SELECT * FROM (VALUES
          ('task_id_without_pattern', TRUE),
          ('inactivity_gt_timeout', TRUE),
          ('inactivity_eq_timeout_ok', FALSE),
          ('duplicate_rule_id', TRUE),
          ('unknown_agg_fn', TRUE),
          ('agg_without_col', TRUE),
          ('bad_map_action', TRUE),
          ('push_previous_needs_create_or_update', TRUE),
          ('timeout_nonpositive', TRUE),
          ('no_rules', TRUE),
          ('duplicate_pattern_id', TRUE),
          ('valid_config', FALSE)
        ) AS t(check_name, raises)
    """
    o["pipe_start_end_correlation"] = _PIPE_START_END_SQL
    o["pipe_no_start_example2"] = _PIPE_NO_START_SQL
    # streaming completed sink == batch example #1 oracle, including the
    # session timestamps (see _stream_start_end docstring)
    o["stream_start_end_correlation"] = _PIPE_START_END_SQL
    o["pipe_gap_timeout_push"] = _PIPE_GAP_SQL
    o["pipe_push_previous"] = """
        WITH d AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day_key, CAST(ts AS DATE) AS day,
                 ts, CAST(floor(value) AS BIGINT) AS val
          FROM events WHERE event_type IS NOT NULL
        ),
        agg AS (
          SELECT day_key, day, count(*) AS n_ev, CAST(sum(val) AS BIGINT) AS val_total,
                 min(ts) AS creation_ts, max(ts) AS lastevent_ts
          FROM d GROUP BY day_key, day
        )
        SELECT day_key, n_ev, val_total, creation_ts, lastevent_ts,
               day = (SELECT max(day) FROM agg) AS final_flush
        FROM agg
    """
    o["o16_push_previous_interleaved"] = """
        WITH c AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(user_id) OVER (ORDER BY ts, event_id) IS NULL THEN 1
                      WHEN lag(user_id) OVER (ORDER BY ts, event_id) <> user_id THEN 1
                      ELSE 0 END AS chg
          FROM events WHERE event_type IS NOT NULL
        ),
        r AS (
          SELECT *, sum(chg) OVER (ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
          FROM c
        ),
        agg AS (
          SELECT run_id, CAST(min(user_id) AS VARCHAR) AS uid, count(*) AS n_ev,
                 min(ts) AS creation_ts, max(ts) AS lastevent_ts
          FROM r GROUP BY run_id
        )
        SELECT uid, n_ev, creation_ts, lastevent_ts,
               run_id = (SELECT max(run_id) FROM agg) AS final_flush
        FROM agg
    """
    # per-row replay of the reference with per-map clocks (a recursive
    # CTE, one step per row of a user): a row first expires the live map
    # on arrival when the map's own clocks ran out (aggregate.rb:194-199,
    # 420-445), then its codeblock runs on the live or new map: signup
    # sets map_meta.timeout = 3600 (aggregate.rb:243-246), error sets 0
    # and evicts the map after its code (aggregate.rb:259-274). The
    # task's last map is checked against the end-of-input watermark.
    o["pipe_custom_timeout"] = f"""
        WITH RECURSIVE base AS (
          SELECT user_id, ts, event_type, CAST(floor(value) AS BIGINT) AS val,
                 extract(epoch FROM ts) AS tsec,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type IS NOT NULL
        ),
        rec AS (
          SELECT user_id, rn, tsec, CAST(1 AS BIGINT) AS sid, tsec AS creation,
                 CASE WHEN event_type = 'signup' THEN 3600.0 ELSE {BIG_TIMEOUT} END AS eff_to,
                 event_type <> 'error' AS alive
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.user_id, b.rn, b.tsec, r.sid + CAST(n.fresh AS BIGINT) AS sid,
                 CASE WHEN n.fresh THEN b.tsec ELSE r.creation END AS creation,
                 CASE WHEN b.event_type = 'signup' THEN 3600.0
                      WHEN n.fresh THEN {BIG_TIMEOUT} ELSE r.eff_to END AS eff_to,
                 b.event_type <> 'error' AS alive
          FROM rec r
          JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
          CROSS JOIN LATERAL (
            SELECT NOT r.alive
                   OR b.tsec - r.creation > r.eff_to
                   OR b.tsec - r.tsec > {BIG_TIMEOUT} AS fresh
          ) n
        ),
        maps AS (
          SELECT r.user_id, r.sid,
                 CAST(count(*) FILTER (WHERE b.event_type NOT IN ('error', 'signup')) AS BIGINT) AS n_ev,
                 CAST(COALESCE(sum(b.val) FILTER (WHERE b.event_type NOT IN ('error', 'signup')), 0) AS BIGINT) AS val_total,
                 min(b.ts) AS creation_ts, max(b.ts) AS lastevent_ts,
                 bool_or(b.event_type = 'error') AS evicted,
                 arg_max(r.eff_to, r.rn) AS eff_to
          FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn
          GROUP BY r.user_id, r.sid
        ),
        wm AS (SELECT max(extract(epoch FROM ts)) AS w FROM events)
        SELECT CASE WHEN evicted THEN 'inline'
                    WHEN sid < max(sid) OVER (PARTITION BY user_id) THEN 'timeout'
                    WHEN wm.w - extract(epoch FROM creation_ts) > eff_to
                      OR wm.w - extract(epoch FROM lastevent_ts) > {BIG_TIMEOUT} THEN 'timeout'
                    ELSE 'open' END AS bucket,
               CAST(user_id AS VARCHAR) AS uid, n_ev, val_total, creation_ts, lastevent_ts
        FROM maps, wm
    """
    o["pipe_route_counts"] = """
        WITH last_ev AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_type IS NOT NULL
        )
        SELECT 'completed' AS sink, count(*) AS n FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'timeout' AS sink, CAST(0 AS BIGINT) AS n
        UNION ALL
        SELECT 'inline' AS sink, count(*) AS n FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT 'open' AS sink, count(*) AS n FROM last_ev WHERE rn = 1 AND event_type <> 'purchase'
        UNION ALL
        SELECT 'passthrough' AS sink, count(*) AS n FROM events
        WHERE event_type IS NOT NULL AND event_type <> 'error'
    """
    o["o18_inline_emissions"] = """
        SELECT CAST(user_id AS VARCHAR) AS uid, CAST(floor(value) AS BIGINT) AS err_val
        FROM events WHERE event_type = 'error'
    """
    # Guard-gated variants: segments split after every purchase row (the
    # engine splits on the end flag pre-guard; equivalent to the reference
    # for update-guarded ends — an excluded end implies a creator-less
    # segment, where nothing was live to keep open); a row's codeblock ran
    # iff a signup precedes it within its segment.
    _GUARDED_SEG_CTE = """
        WITH e AS (
          SELECT user_id, ts, event_id, event_type, CAST(floor(value) AS BIGINT) AS val,
                 COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
          FROM events WHERE event_type IS NOT NULL
        ),
        i AS (
          SELECT *, sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id, seg ORDER BY ts, event_id) AS n_creators
          FROM e
        )
    """
    o["o18b_guarded_emissions"] = _GUARDED_SEG_CTE + """
        SELECT CAST(user_id AS VARCHAR) AS uid, val AS err_val
        FROM i WHERE event_type = 'error' AND n_creators >= 1
    """
    o["pipe_route_counts_guarded"] = _GUARDED_SEG_CTE + """
        , g AS (
          SELECT user_id, seg,
                 bool_or(event_type = 'purchase') AS has_p,
                 bool_or(event_type = 'signup') AS has_c,
                 sum(CASE WHEN event_type = 'error' AND n_creators >= 1 THEN 1 ELSE 0 END) AS inc_err
          FROM i GROUP BY user_id, seg
        )
        SELECT 'completed' AS sink, CAST(COALESCE(sum(CASE WHEN has_p AND has_c THEN 1 ELSE 0 END), 0) AS BIGINT) AS n FROM g
        UNION ALL
        SELECT 'timeout' AS sink, CAST(0 AS BIGINT) AS n
        UNION ALL
        SELECT 'inline' AS sink, CAST(COALESCE(sum(inc_err), 0) AS BIGINT) AS n FROM g
        UNION ALL
        SELECT 'open' AS sink, CAST(COALESCE(sum(CASE WHEN has_c AND NOT has_p THEN 1 ELSE 0 END), 0) AS BIGINT) AS n FROM g
        UNION ALL
        SELECT 'passthrough' AS sink,
               (SELECT count(*) FROM events WHERE event_type IS NOT NULL)
               - CAST(COALESCE(sum(inc_err), 0) AS BIGINT) AS n
        FROM g
    """
    o["o19b_guarded_exception_tags"] = """
        WITH i AS (
          SELECT user_id, ts, event_id, event_type, CAST(floor(value) AS BIGINT) AS val,
                 sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS n_creators
          FROM events WHERE event_type IS NOT NULL
        )
        SELECT event_type AS etype,
               CAST(sum(CASE WHEN event_type <> 'signup' AND n_creators >= 1 AND val < 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_tagged,
               count(*) AS n_total
        FROM i GROUP BY event_type
    """
    # streaming passthrough == batch passthrough == the same SQL oracle
    o["stream_passthrough_guarded"] = o["o19b_guarded_exception_tags"]
    o["stream_passthrough_sharded"] = o["o19b_guarded_exception_tags"]
    o["pipe_resume_seeds"] = _PIPE_GAP_SQL
    o["u01_regex_parse"] = """
        WITH t AS (
          SELECT format('INFO - {} - EVENT - {} - {}', user_id, event_type,
                        CAST(floor(value) AS BIGINT)) AS text
          FROM events
        )
        SELECT regexp_extract(text, '^(\\w+) - (\\d+) - EVENT - (\\w+) - (-?\\d+)$', 3) AS etype,
               count(*) AS n,
               CAST(sum(CAST(regexp_extract(text, '^(\\w+) - (\\d+) - EVENT - (\\w+) - (-?\\d+)$', 4) AS BIGINT)) AS BIGINT) AS val_sum
        FROM t GROUP BY 1
    """
    o["u01b_grok_apache"] = """
        SELECT upper(event_type) AS verb, count(*) AS n,
               CAST(sum(CAST(floor(value) AS BIGINT) + 1000) AS BIGINT) AS bytes_sum,
               count(DISTINCT format('10.0.{}.1', user_id % 256)) AS n_ips
        FROM events GROUP BY 1
    """
    o["dd_exact_dedup"] = """
        SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
               min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents GROUP BY 1
    """
    _NGRAM_SQL = """
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS t
          FROM documents {doc_filter}
        ),
        -- shingles joined with '|' (absent from normalized tokens), so tuple
        -- identity matches the engine's hash-chain shingles exactly
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(t) >= 3
                   THEN list_transform(generate_series(1, len(t) - 2),
                        i -> concat_ws('|', t[i], t[i+1], t[i+2]))
                   ELSE [] END) AS sh
          FROM toks
        ),
        ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
                 count(*) AS n_inter
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
        )
        SELECT id_a, id_b,
               CAST(round(n_inter * 1.0 / (n_a + n_b - n_inter), 6) AS DOUBLE) AS jaccard
        FROM inter
        WHERE n_inter * 1.0 / (n_a + n_b - n_inter) >= {threshold}
    """
    o["dd_ngram_jaccard"] = _NGRAM_SQL.format(doc_filter="WHERE doc_id < 80", threshold="0.01")
    # property oracle for MinHash+LSH: candidates verified at exact
    # jaccard >= 0.6 must equal the exact pair set (see queries())
    o["dd_minhash_lsh"] = _NGRAM_SQL.format(doc_filter="", threshold="0.6")
    # property oracle for SimHash: planted identical-text copies (and any
    # natural duplicate texts) have hamming 0 and must all be candidates
    o["dd_simhash"] = """
        WITH alld AS (
          SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
          UNION ALL
          SELECT CAST(doc_id + 1000000 AS BIGINT) AS id, text
          FROM documents WHERE doc_id < 5
        )
        SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming
        FROM alld a JOIN alld b ON a.text = b.text AND a.id < b.id
    """
    # incremental exact dedup: survivors across midpoint-split batches
    # == the one-shot relation (min doc_id per normalized content)
    o["dd_incremental_exact"] = """
        SELECT min(doc_id) AS doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                 AS content_hash
        FROM documents GROUP BY 2
    """
    # the streaming ingestion seam shares the incremental-exact relation
    o["dd_stream_ingest"] = o["dd_incremental_exact"]
    # incremental minhash property oracle: planted identical-text copies
    # in batch 2 must surface as batch-vs-store candidates at est 1.0
    o["dd_incremental_minhash"] = """
        WITH mid AS (SELECT (max(doc_id) + 1) // 2 AS m FROM documents),
        b1 AS (SELECT doc_id, text FROM documents, mid WHERE doc_id < m),
        b2 AS (
          SELECT doc_id, text FROM documents, mid WHERE doc_id >= m
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents, mid
          WHERE doc_id < 5 AND doc_id < m
        )
        SELECT o.doc_id AS new_id, n.doc_id AS peer_id,
               CAST(1.0 AS DOUBLE) AS est_j
        FROM b2 o JOIN b1 n ON o.text = n.text
    """
    # incremental embedding property oracle: planted identical embeddings
    # in batch 2 must surface as batch-vs-store pairs at exact cosine 1.0
    o["dd_incremental_embedding"] = """
        WITH mid AS (SELECT (max(vec_id) + 1) // 2 AS m FROM embeddings),
        b1 AS (SELECT vec_id, embedding FROM embeddings, mid WHERE vec_id < m),
        b2 AS (
          SELECT vec_id, embedding FROM embeddings, mid WHERE vec_id >= m
          UNION ALL
          SELECT vec_id + 1000000, embedding FROM embeddings, mid
          WHERE vec_id < 5 AND vec_id < m
        )
        SELECT o.vec_id AS new_id, n.vec_id AS peer_id,
               CAST(1.0 AS DOUBLE) AS cos
        FROM b2 o JOIN b1 n ON o.embedding = n.embedding
    """
    # property oracle for embedding near-dup: planted identical embeddings
    # share the full LSH signature and verify at cosine 1.0
    o["sim_embedding_near_dup"] = """
        WITH allv AS (
          SELECT CAST(vec_id AS BIGINT) AS id, embedding FROM embeddings
          UNION ALL
          SELECT CAST(vec_id + 1000000 AS BIGINT) AS id, embedding
          FROM embeddings WHERE vec_id < 5
        )
        SELECT a.id AS id_a, b.id AS id_b, CAST(1.0 AS DOUBLE) AS cos_sim
        FROM allv a JOIN allv b ON a.embedding = b.embedding AND a.id < b.id
    """
    _BRUTE_TOPK_SQL = """
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               CAST(round(
                 list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 4) AS DOUBLE) AS cos_sim
        FROM embeddings, q
        ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))) DESC, vec_id
        LIMIT 10
    """
    o["sim_bruteforce_topk"] = _BRUTE_TOPK_SQL
    # property oracle for LSH top-k: planted scaled copies of the query
    # (cosine 1.0, identical signature) must be retrieved exactly
    o["sim_lsh_topk"] = """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        planted AS (
          SELECT CAST(1000000 + i AS BIGINT) AS vec_id,
                 list_transform(qv, x -> x * (1.0 + (i + 1) / 100.0)) AS e
          FROM q, generate_series(0, 4) AS t(i)
        ),
        allv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
          UNION ALL
          SELECT vec_id, e FROM planted
        )
        SELECT vec_id,
               CAST(round(list_dot_product(e, qv)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))), 4) AS DOUBLE) AS cos_sim
        FROM allv, q
        ORDER BY list_dot_product(e, qv)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))) DESC, vec_id
        LIMIT 6
    """
    # same planted-copy property oracle for IVF (cell assignment is
    # scale-invariant; the query's cell is the rank-1 probe)
    o["sim_ivf_topk"] = o["sim_lsh_topk"]
    o["ts_token_quality"] = """
        WITH n AS (
          SELECT lang, text, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
          FROM documents
        ),
        f AS (
          SELECT lang,
                 length(text) AS n_chars2,
                 CASE WHEN length(norm) = 0 THEN 0 ELSE len(regexp_split_to_array(norm, '\\s+')) END AS n_tokens,
                 len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
                 len(regexp_extract_all(' ' || norm || ' ', '\\s(?:the|and|of|to|a|in|is|it)\\s')) AS stopword_hits
          FROM n
        ),
        sc AS (
          SELECT lang, n_tokens, stopword_hits,
                 round(punct * 1.0 / greatest(n_chars2, 1), 6) AS punct_ratio,
                 round((CASE WHEN n_tokens >= 5 THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN n_tokens > 0
                          AND n_chars2 * 1.0 / n_tokens >= 3
                          AND n_chars2 * 1.0 / n_tokens <= 12 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN punct * 1.0 < 0.2 * greatest(n_chars2, 1) THEN 0.2 ELSE 0.0 END)
                 + (CASE WHEN stopword_hits > 0 THEN 0.1 ELSE 0.0 END), 2) AS quality_score
          FROM f
        )
        SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
               CAST(round(avg(punct_ratio), 6) AS DOUBLE) AS avg_punct_ratio,
               CAST(sum(stopword_hits) AS BIGINT) AS stopword_total,
               CAST(round(avg(quality_score), 6) AS DOUBLE) AS avg_quality
        FROM sc GROUP BY lang
    """
    o["ts_lang_fingerprint"] = """
        WITH n AS (
          SELECT ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' ' AS norm,
                 md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
          FROM documents
        ),
        s AS (
          SELECT fp,
                 len(regexp_extract_all(norm, '\\s(?:the|and|of|to|a|in|is|it)\\s')) AS s_en,
                 len(regexp_extract_all(norm, '\\s(?:der|die|und|das|ist|nicht|ein)\\s')) AS s_de,
                 len(regexp_extract_all(norm, '\\s(?:le|la|et|les|des|est|une)\\s')) AS s_fr,
                 len(regexp_extract_all(norm, '\\s(?:el|la|de|que|los|es|una)\\s')) AS s_es
          FROM n
        ),
        lg AS (
          SELECT fp, CASE
            WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS lang_guess
          FROM s
        )
        SELECT lang_guess, count(*) AS n, count(DISTINCT fp) AS n_fingerprints
        FROM lg GROUP BY lang_guess
    """
    o["ts_bpe_estimate"] = """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
        FROM documents
    """
    o["mm_binary_meta"] = """
        SELECT CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               count(*) AS n,
               CAST(sum(octet_length(unhex(md5(text) || md5(text || 'x')))) AS BIGINT) AS payload_bytes
        FROM documents GROUP BY 1
    """
    o["mm_feature_extract"] = """
        WITH h AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id, md5(text) AS hx
          FROM documents WHERE doc_id < 200
        )
        SELECT media_id, CAST(32 AS BIGINT) AS n_bytes,
               CAST(list_sum(list_transform(generate_series(0, 7), i ->
                 (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1))) AS BIGINT) AS byte_sum
        FROM h
    """
    return o
