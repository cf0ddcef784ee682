"""Streaming variant vs the batch correctness reference."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule
from logstash_filter_aggregate_spark.plans.pipeline import example1_config, example3_config, run_pipeline
from logstash_filter_aggregate_spark.sources.transcripts import generate_transcripts
from tests.conftest import T0, make_transcript


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream_in"))
    t = generate_transcripts(spark, n_convs=24, hot_convs=0)
    t.write.mode("overwrite").parquet(p)
    return p


def _run_stream(spark, stream_dir, df_fn, name):
    schema = spark.read.parquet(stream_dir).schema
    src = spark.readStream.schema(schema).parquet(stream_dir)
    out = df_fn(src)
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_correlate_matches_batch_completed(spark, stream_dir):
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    cfg = example1_config(timeout=3600.0)
    got = _run_stream(
        spark, stream_dir, lambda src: streaming_correlate(src, cfg), "stream_ex1"
    ).where("sink = 'completed'")
    rows = {
        r.task_id: (json.loads(r.map_json).get("sql_duration"), r.nevents)
        for r in got.collect()
    }
    batch = run_pipeline(spark, spark.read.parquet(stream_dir), cfg)
    expect = {r.task_id: (r.sql_duration, r.nevents) for r in batch.completed.collect()}
    assert rows == expect


def test_streaming_gap_expiry_on_arrival(spark, stream_dir):
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    # S8 conv: gap of 4000s > timeout 600 -> expiry pushed on arrival of
    # the third event, exactly like spec:374-390
    cfg = example3_config(
        timeout=600.0,
        rules=(
            CorrelationRule(
                "update", "logger = 'SQL'",
                aggs=(AggSpec("total", "sum", "duration"),),
            ),
        ),
    )
    got = _run_stream(
        spark, stream_dir, lambda src: streaming_correlate(src, cfg), "stream_s8"
    )
    pushed = got.where("sink = 'timeout' and task_id = '100007'").collect()
    assert len(pushed) == 1
    assert json.loads(pushed[0].map_json)["total"] == 3  # 1 + 2 pushed; 4 stays open


def test_streaming_hot_key_multichunk_order(spark, tmp_path):
    # a hot task whose micro-batch exceeds arrow maxRecordsPerBatch
    # arrives at the stateful fn as SEVERAL Arrow chunks with no
    # cross-chunk ordering guarantee — the fn must sort the materialized
    # whole, or guards/expiry corrupt. Force tiny chunks and check the
    # result matches batch.
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    import datetime as dt

    from tests.conftest import T0

    p = str(tmp_path / "hot_in")
    # one hot task, 400 clicks: 50s spacing with a 250s jump every 37th
    # row -> ~10 gap sessions, all but the last pushed on arrival
    rows = [
        ("hot", i, "user", f"INFO - hotuser - Clicked {'One' if i % 2 else 'Two'}", "none",
         T0 + dt.timedelta(seconds=i * 50 + (i // 37) * 250))
        for i in range(400)
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    # scatter the rows across files so the key's Arrow chunks arrive
    # genuinely out of event-time order
    t.orderBy(F.hash("turn_idx")).coalesce(4).write.mode("overwrite").parquet(p)
    cfg = example3_config(timeout=100_000.0, inactivity_timeout=120.0)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        got = _run_stream(
            spark, p, lambda src: streaming_correlate(src, cfg), "stream_hot_chunks"
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    batch = run_pipeline(spark, spark.read.parquet(p), cfg)
    # hot conv: 400 turns at 1s spacing, gap 120 -> one map, stays open in
    # the batch run; streaming leaves it in state (no row emitted), so
    # compare the COMPLETED/TIMEOUT emissions for every task
    got_rows = sorted(
        (r.task_id, r.sink, r.creation_ts, r.nevents) for r in got.collect()
    )
    exp_rows = sorted(
        (r.task_id, "timeout", r.creation_ts, r.nevents)
        for r in batch.timeout.collect()
    )
    assert len(exp_rows) >= 5  # the test must actually exercise pushes
    assert got_rows == exp_rows


def test_streaming_custom_timeouts_match_reference(spark, tmp_path):
    # O17 in the streaming variant: =0 evicts+pushes immediately (inline
    # sink), >0 overrides the map's expiry-on-arrival clock
    import datetime as dt
    import json

    from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate
    from tests.conftest import T0

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("db", "err_tool = 'db'", aggs=(AggSpec("errors", "count"),)),
            CorrelationRule(
                "err", "err_code is not null",
                aggs=(AggSpec("errors", "count"),), custom_timeout="0",
            ),
            CorrelationRule(
                "click", "click_target is not null",
                aggs=(AggSpec("clicks", "count"),), custom_timeout="10",
            ),
        ),
        timeout=600.0,
        push_map_as_event_on_timeout=True,
    )
    rows = [
        # task t: click, error -> immediate eviction with the merged map
        ("c1", 0, "user", "INFO - t - Clicked One", "none", T0),
        ("c1", 1, "tool", "ERROR - t - TOOL - http - E503", "http", T0 + dt.timedelta(seconds=1)),
        # task u: the click override (10s) expires the map at +50
        ("c2", 0, "user", "INFO - u - Clicked One", "none", T0),
        ("c2", 1, "user", "INFO - u - Clicked Two", "none", T0 + dt.timedelta(seconds=50)),
        ("c2", 2, "user", "INFO - u - Clicked Three", "none", T0 + dt.timedelta(seconds=55)),
        # task v: the db error's rule sets no map_meta.timeout; the err rule
        # after it, which also matches the row, sets 0 but does not apply
        # (first match wins), so the map stays open with 3 events
        ("c3", 0, "user", "INFO - v - Clicked One", "none", T0 + dt.timedelta(seconds=53)),
        ("c3", 1, "tool", "ERROR - v - TOOL - db - E500", "db", T0 + dt.timedelta(seconds=54)),
        ("c3", 2, "user", "INFO - v - Clicked Two", "none", T0 + dt.timedelta(seconds=55)),
    ]
    p = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.mode("overwrite").parquet(p)

    got = _run_stream(spark, p, lambda src: streaming_correlate(src, cfg), "stream_custom")
    by = {(r.task_id, r.sink): r for r in got.collect()}
    inline = by[("t", "inline")]
    assert inline.nevents == 2
    assert json.loads(inline.map_json) == {"clicks": 1, "errors": 1}
    pushed = by[("u", "timeout")]
    assert json.loads(pushed.map_json) == {"clicks": 1}  # expired by the 10s override
    assert ("u", "inline") not in by and ("u", "completed") not in by
    assert not [k for k in by if k[0] == "v"]

    batch = run_pipeline(spark, spark.read.parquet(p), cfg)
    closed = sorted(
        (r.task_id, sink, r.nevents)
        for sink in ("completed", "timeout", "inline")
        for r in getattr(batch, sink).collect()
    )
    assert closed == sorted((t, sink, r.nevents) for (t, sink), r in by.items())
    assert sorted((r.task_id, r.nevents) for r in batch.open.collect()) == [("u", 2), ("v", 3)]


def test_stream_to_routed_sinks_matches_batch_and_replays_idempotent(spark, stream_dir, tmp_path):
    from logstash_filter_aggregate_spark.streaming.stream import (
        stream_to_routed_sinks,
        streaming_correlate,
    )

    base = str(tmp_path / "sinks")
    cp = str(tmp_path / "cp")
    schema = spark.read.parquet(stream_dir).schema

    def run_once():
        src = spark.readStream.schema(schema).parquet(stream_dir)
        q = stream_to_routed_sinks(
            streaming_correlate(src, example1_config(timeout=3600.0)), base, cp
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(f"{base}/completed")
    batch = run_pipeline(
        spark, spark.read.parquet(stream_dir), example1_config(timeout=3600.0)
    )
    expect = {(r.task_id, r.nevents) for r in batch.completed.collect()}
    assert {(r.task_id, r.nevents) for r in got.collect()} == expect

    # restart on the same checkpoint: no new input -> no new batches, the
    # sink content is unchanged (idempotent replay contract)
    run_once()
    assert spark.read.parquet(f"{base}/completed").count() == len(expect)


@pytest.mark.parametrize("shards", [None, 5])
def test_replay_routed_final_flush_matches_batch(spark, tmp_path, shards):
    # a finite replay must flush the tail: streaming timeout sink ==
    # batch timeout ∪ open (the reference's flush(final: true) pushes
    # every remaining map, aggregate.rb:154-175). Both legs (the default
    # shard count and 5 shards) drive the heartbeat final flush through
    # the shard timers (one per shard, min cell expiry): the sentinel
    # watermark must evict every cell.
    from logstash_filter_aggregate_spark.streaming.stream import replay_routed

    p = str(tmp_path / "in")
    generate_transcripts(spark, n_convs=30).write.parquet(p)
    cfg = example3_config(timeout=600.0)
    replay_routed(spark, p, cfg, str(tmp_path / "out"), str(tmp_path / "cp"),
                  shards=shards)

    got = spark.read.parquet(str(tmp_path / "out" / "timeout"))
    # the heartbeat sentinel lives in a sibling staging dir, NOT in the
    # caller's input_dir — the batch run reads the input unfiltered
    batch = run_pipeline(spark, spark.read.parquet(p), cfg)
    expect = {(r.task_id, r.nevents) for r in batch.timeout.collect()} | {
        (r.task_id, r.nevents) for r in batch.open.collect()
    }
    assert {(r.task_id, r.nevents) for r in got.collect()} == expect
    assert len(expect) > 0
    # the source dataset is untouched: no sentinel rows leaked into it
    assert spark.read.parquet(p).where("conv_id = '__heartbeat__'").count() == 0


def _click_pp_cfg():
    from logstash_filter_aggregate_spark.config import PipelineConfig

    return PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "click", "click_target is not null",
                aggs=(AggSpec("clicks", "count"),),
            ),
        ),
        timeout=1e9,
        push_previous_map_as_event=True,
        push_previous_exact=True,
        timeout_task_id_field="uid",
    )


def _pp_stream_vs_batch(spark, tmp_path, cfg, slices):
    """push_previous over a stream, one slice per micro-batch and a
    heartbeat after the last row, next to batch's timeout rows on the
    whole input: (task, nevents, creation, last event, clicks, final)."""
    from tests.conftest import heartbeat, stream_timeout_rows, write_stream_files

    in_dir = str(tmp_path / "in")
    last = max(r[-1] for rows in slices for r in rows)
    files = write_stream_files(
        spark, in_dir, [make_transcript(spark, rows) for rows in slices] + [heartbeat(spark, last + 1)]
    )
    got = sorted(
        (r.task_id, r.nevents, r.creation_ts, r.lastevent_ts, json.loads(r.map_json).get("clicks"),
         "_aggregatefinalflush" in json.loads(r.map_json).get("tags", []))
        for r in stream_timeout_rows(spark, in_dir, cfg, tmp_path)
    )
    batch = run_pipeline(spark, spark.read.parquet(*files[:-1]), cfg)
    expect = sorted(
        (r.uid, r.nevents, r.creation_ts, r.lastevent_ts, r.clicks, "_aggregatefinalflush" in r.tags)
        for r in batch.timeout.collect()
    )
    assert got == expect
    return got


def test_stream_push_previous_matches_batch(spark, tmp_path):
    # O16 over a stream: the one-shard arrival-order walk must equal the
    # batch engine's exact push_previous on the full input — including a
    # task run that SPANS a micro-batch boundary (the carried map merges
    # with its continuation) and the final-flush tag on the last map,
    # popped by the heartbeat
    # contiguous runs: A×3 | B×2 ‖ B×2 C×1 ‖ C×1 A×2   (‖ = file boundary;
    # the B and C runs each span one)
    slices = [
        [(0, "INFO - A - Clicked One", 0), (1, "INFO - A - Clicked One", 1),
         (2, "INFO - A - Clicked One", 2), (3, "INFO - B - Clicked One", 3),
         (4, "INFO - B - Clicked One", 4)],
        [(5, "INFO - B - Clicked One", 5), (6, "INFO - B - Clicked One", 6),
         (7, "INFO - C - Clicked One", 7)],
        [(8, "INFO - C - Clicked One", 8), (9, "INFO - A - Clicked One", 9),
         (10, "INFO - A - Clicked One", 10)],
    ]
    got = _pp_stream_vs_batch(spark, tmp_path, _click_pp_cfg(), slices)
    # the spanning runs really merged: B has one 4-event map, C one 2-event
    by_task = {(t, n) for t, n, *_ in got}
    assert ("B", 4) in by_task and ("C", 2) in by_task and ("A", 3) in by_task
    assert [(t, n) for t, n, *_, final in got if final] == [("A", 2)]


def test_stream_push_previous_creation_tie(spark, tmp_path):
    # two maps created at the SAME ts in one batch: the carried map must
    # be the one live after the ARRIVAL-order last row (A, turn 1), not
    # the lexically-larger task id (Z) — carrying Z would wrongly merge
    # it with its continuation in the next batch
    slices = [
        [(0, "INFO - Z - Clicked One", 100), (1, "INFO - A - Clicked One", 100)],
        [(2, "INFO - Z - Clicked One", 101)],
    ]
    got = _pp_stream_vs_batch(spark, tmp_path, _click_pp_cfg(), slices)
    # three single-event maps — NO wrongly-merged (Z, 2) map
    assert [(t, n, final) for t, n, *_, final in got] == [
        ("A", 1, False), ("Z", 1, False), ("Z", 1, True)
    ]


def test_streaming_inline_emissions(spark, tmp_path):
    # O18 over a stream: stateless emissions for create_or_update rules
    from logstash_filter_aggregate_spark.config import CorrelationRule, PipelineConfig
    from logstash_filter_aggregate_spark.streaming.stream import streaming_inline_emissions

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "err", "err_tool is not null",
                emit={"uid": "taskid", "code": "err_code"},
            ),
        ),
        timeout=1e9,
    )
    p = str(tmp_path / "in")
    rows = [
        (0, "ERROR - u1 - TOOL - http - E503", 0),
        (1, "INFO - u1 - Clicked One", 1),
        (2, "ERROR - u2 - TOOL - sql - E500", 2),
    ]
    make_transcript(spark, rows).write.parquet(p)
    schema = spark.read.parquet(p).schema
    src = spark.readStream.schema(schema).parquet(p)
    out = streaming_inline_emissions(src, cfg)
    name = "st_inline_emit"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    got = sorted((r.uid, r.code) for r in spark.table(name).collect())
    assert got == [("u1", 503), ("u2", 500)]

    # guard-gated emit rules must refuse (they need per-row map state)
    import pytest

    from logstash_filter_aggregate_spark.config import ConfigurationError

    gated = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "err", "err_tool is not null", map_action="update",
                emit={"uid": "taskid"},
            ),
        ),
        timeout=1e9,
    )
    with pytest.raises(ConfigurationError):
        streaming_inline_emissions(src, gated)


def test_streaming_gated_emissions_match_batch(spark, tmp_path):
    # guard-gated emit rules through the STATEFUL streaming engine: the
    # state walk makes the guard decision, so sink='emit' rows fire
    # exactly where the batch engine emits (update-before-create and
    # duplicate-create rows suppressed)
    import json as _json

    from logstash_filter_aggregate_spark.config import CorrelationRule, PipelineConfig
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "start", "logger = 'TASK_START'", map_action="create",
                emit={"s": "taskid"},
            ),
            CorrelationRule(
                "err", "err_tool is not null", map_action="update",
                emit={"uid": "taskid", "code": "err_code"},
            ),
        ),
        timeout=1e9,
    )
    rows = [
        (0, "ERROR - u1 - TOOL - http - E503", 0),   # before start: no emit
        (1, "INFO - u1 - TASK_START - start", 1),    # creates -> start emits
        (2, "INFO - u1 - TASK_START - start", 2),    # duplicate: no emit
        (3, "ERROR - u1 - TOOL - http - E504", 3),   # included: emits
        (4, "ERROR - u1 - TOOL - http - E700", 4),   # included: emits
    ]
    p = str(tmp_path / "in")
    make_transcript(spark, rows).write.parquet(p)
    schema = spark.read.parquet(p).schema
    src = (
        spark.readStream.schema(schema).parquet(p)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming_correlate(src, cfg)
    name = "st_gated_emit"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    emitted = [
        _json.loads(r.map_json)
        for r in spark.table(name).where("sink = 'emit'").collect()
    ]
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    got = sorted(((e.get("uid"), e.get("code"), e.get("s")) for e in emitted), key=key)
    batch = run_pipeline(spark, spark.read.parquet(p), cfg)
    expect = sorted(((r.uid, r.code, r.s) for r in batch.inline.collect()), key=key)
    assert got == expect
    assert got == [("u1", 504, None), ("u1", 700, None), (None, None, "u1")]


def test_streaming_fuzz_matches_reference_simulator(spark, tmp_path):
    # the randomized reference-semantics fuzz, replayed through the
    # STREAMING engine: per-event state machine vs the independent
    # simulator. The final flush pushes every surviving map, so the
    # streaming timeout sink must equal sim timeout ∪ open. Two legs per
    # shape: replay_routed over the whole input in one batch, and three
    # ts-ordered files read one per micro-batch plus a heartbeat, so maps
    # are carried across batches and evicted by the watermark
    import random

    from logstash_filter_aggregate_spark.config import PipelineConfig
    from logstash_filter_aggregate_spark.streaming.stream import (
        replay_routed,
        stream_to_routed_sinks,
        streaming_correlate,
    )
    from tests.conftest import heartbeat, write_stream_files
    from tests.test_fuzz_reference import _LINES, _scenario_rows, _shapes, simulate

    rng = random.Random(20260817)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    def sink_rows(base, streams):
        got: dict[str, list] = {tid: [] for tid in streams}
        for sink in ("completed", "timeout", "inline"):
            try:
                rows_df = spark.read.parquet(f"{base}/{sink}").collect()
            except Exception:
                continue
            for r in rows_df:
                m = json.loads(r.map_json)
                got[r.task_id].append((
                    sink, r.nevents,
                    (r.creation_ts - T0).total_seconds(),
                    (r.lastevent_ts - T0).total_seconds(),
                    int(m.get("val_sum") or 0),
                ))
        return got

    for shape, (cfg_kw, sim_rules, kinds) in _shapes().items():
        cfg = PipelineConfig(task_id="%{taskid}", **cfg_kw)
        streams = {
            f"st{shape}{i:02d}": _scenario_rows(rng, kinds, n_max=30) for i in range(10)
        }
        data, wm = [], 0.0
        for tid, rows in streams.items():
            for j, (kind, ts, val) in enumerate(rows):
                data.append((tid, j, "user", _LINES[kind].format(tid=tid, val=val),
                             "none", T0 + dt.timedelta(seconds=ts)))
                wm = max(wm, ts)
        p = str(tmp_path / f"in_{shape}")
        spark.createDataFrame(data, schema).repartition(4).write.parquet(p)
        base = str(tmp_path / f"out_{shape}")
        replay_routed(spark, p, cfg, base, str(tmp_path / f"cp_{shape}"))

        data.sort(key=lambda r: r[-1])
        k = len(data) // 3
        files = str(tmp_path / f"files_{shape}")
        write_stream_files(spark, files, [
            *[spark.createDataFrame(part, schema) for part in (data[:k], data[k:2 * k], data[2 * k:])],
            heartbeat(spark, wm + 10_000),
        ])
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(files)
        q = stream_to_routed_sinks(streaming_correlate(src, cfg), f"{files}_out", f"{files}_cp")
        assert q.awaitTermination(300)

        for leg, out in (("one batch", base), ("three files", f"{files}_out")):
            got = sink_rows(out, streams)
            for tid, rows in streams.items():
                exp = simulate(rows, sim_rules, cfg.timeout,
                               cfg.effective_inactivity_timeout, wm)
                # final flush: sim's open survivors are pushed as timeout
                exp_cmp = [("timeout" if b == "open" else b, n, c, l, s)
                           for (b, n, c, l, s, _rr) in exp]
                assert sorted(got[tid]) == sorted(exp_cmp), (
                    shape, leg, tid, rows, sorted(got[tid]), sorted(exp_cmp)
                )


# the sink rows of the late-row case, as the engine wrote them when its
# shard step still walked tasks itself
_LATE_ROW = [
    ("t", "completed", T0 + dt.timedelta(seconds=10), T0 + dt.timedelta(seconds=30), 4,
     '{"sql_duration": 5}'),
    ("u", "timeout", T0 + dt.timedelta(seconds=10), T0 + dt.timedelta(seconds=20), 3,
     '{"sql_duration": 5}'),
]


def test_streaming_late_row_follows_its_carried_map(spark, tmp_path):
    # a row inside the watermark whose ts precedes its task's carried
    # creation and last event joins the carried map: the map keeps its
    # creation and last event and counts the row. t then completes; u's
    # map is pushed by the heartbeat's watermark
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate
    from tests.conftest import heartbeat, write_stream_files

    cfg = example1_config(timeout=3600.0, push_map_as_event_on_timeout=True)
    files = [
        [("c1", 0, "INFO - t - TASK_START - s", 10), ("c1", 1, "INFO - t - SQL - q - 2", 20),
         ("c2", 0, "INFO - u - TASK_START - s", 10), ("c2", 1, "INFO - u - SQL - q - 4", 20)],
        [("c1", 2, "INFO - t - SQL - q - 3", 5), ("c1", 3, "INFO - t - TASK_END - e", 30),
         ("c2", 2, "INFO - u - SQL - q - 1", 5)],
    ]
    p = str(tmp_path / "in")
    write_stream_files(spark, p, [make_transcript(spark, f) for f in files] + [heartbeat(spark, 10_000)])
    src = spark.readStream.schema(spark.read.parquet(p).schema).option("maxFilesPerTrigger", 1).parquet(p)
    q = (
        streaming_correlate(src, cfg).writeStream.format("memory").queryName("late_row")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    got = sorted(
        (r.task_id, r.sink, r.creation_ts, r.lastevent_ts, r.nevents, r.map_json)
        for r in spark.table("late_row").collect()
    )
    assert got == _LATE_ROW


def test_streaming_late_closing_row_keeps_the_last_event(spark, tmp_path):
    # a late end row (inside the watermark, earlier than the carried
    # map's last event) closes the map without moving its lastevent_ts
    # back: the map's latest event, as the batch scan folds every map
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate
    from tests.conftest import write_stream_files

    files = [[(0, "INFO - t - TASK_START - s", 10), (1, "INFO - t - SQL - q - 2", 20)],
             [(2, "INFO - t - TASK_END - e", 15)]]
    p = str(tmp_path / "in")
    write_stream_files(spark, p, [make_transcript(spark, f) for f in files])
    src = spark.readStream.schema(spark.read.parquet(p).schema).option("maxFilesPerTrigger", 1).parquet(p)
    q = (
        streaming_correlate(src, example1_config(timeout=3600.0)).writeStream.format("memory")
        .queryName("late_end").outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    assert [(r.sink, r.creation_ts, r.lastevent_ts, r.nevents) for r in spark.table("late_end").collect()] == [
        ("completed", T0 + dt.timedelta(seconds=10), T0 + dt.timedelta(seconds=20), 3)
    ]


@pytest.mark.parametrize("shards", [None, 7])
def test_streaming_passthrough_matches_batch_gated(spark, tmp_path, shards):
    # O19 + U3 over a stream, guard-gated (the round-3 verdict's missing
    # streaming column): same config family as pipe_route_counts_guarded
    # — an update-guarded required-agg rule (exception tags only where a
    # live map exists) plus an update-guarded cancel rule (consumed only
    # where the code ran). The streaming passthrough must equal the
    # batch passthrough row-for-row, tags included.
    from logstash_filter_aggregate_spark.config import (
        AggSpec,
        CorrelationRule,
        PipelineConfig,
    )
    from logstash_filter_aggregate_spark.streaming.stream import streaming_passthrough

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
            CorrelationRule(
                "sql", "logger = 'SQL'", map_action="update",
                aggs=(AggSpec("dur", "sum", "duration", required=True),),
            ),
            CorrelationRule(
                "click", "click_target is not null", map_action="update", cancel=True,
            ),
            CorrelationRule(
                "end", "logger = 'TASK_END'", map_action="update", end_of_task=True,
            ),
        ),
        timeout=600.0, inactivity_timeout=120.0,
    )
    rows = [
        (0, "INFO - u1 - SQL - q", 0),             # orphan update: no map -> kept, UNtagged
        (1, "INFO - u1 - Clicked btn", 1),         # orphan cancel: code never ran -> kept
        (2, "INFO - u1 - TASK_START - s", 2),      # creates
        (3, "INFO - u1 - SQL - q", 3),             # live map, null duration -> tagged
        (4, "INFO - u1 - SQL - q - 7", 4),         # live map, duration ok -> kept plain
        (5, "INFO - u1 - Clicked btn", 5),         # live map -> cancelled (dropped)
        (6, "INFO - u1 - TASK_START - s", 6),      # duplicate create: no-op, kept
        (7, "INFO - u1 - TASK_END - e", 7),        # ends the task
        (8, "INFO - u1 - SQL - q", 8),             # after end: no map -> kept, UNtagged
        (9, "INFO - u2 - SQL - q", 200),           # new task, orphan -> kept untagged
        (10, "INFO - u2 - TASK_START - s", 201),   # creates
        (11, "INFO - u2 - SQL - q", 330),          # gap 129s > 120 -> map expired on arrival: orphan, untagged
        (12, "not a parseable line", 331),         # non-participating: passes with parse tags
    ]
    p = str(tmp_path / "pt_in")
    make_transcript(spark, rows).write.parquet(p)
    t = spark.read.parquet(p)

    batch_pt = run_pipeline(spark, t, cfg).passthrough

    schema = t.schema
    src = (
        spark.readStream.schema(schema).parquet(p)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming_passthrough(src, cfg, shards=shards)
    name = f"st_passthrough_gated_{shards or 'default'}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)

    def norm(df):
        return sorted(
            (r["conv_id"], r["turn_idx"], tuple(sorted(r["tags"] or [])))
            for r in df.select("conv_id", "turn_idx", "tags").collect()
        )

    got = norm(spark.table(name))
    want = norm(batch_pt)
    assert got == want, (got, want)
    # the scenario exercises every branch: at least one tagged row, one
    # cancelled row, and the non-participating row
    tagged = [r for r in got if "_aggregateexception" in r[2]]
    assert len(tagged) == 1 and tagged[0][1] == 3
    assert all(r[1] != 5 for r in got)


def test_streaming_passthrough_ungated_is_stateless(spark, stream_dir):
    # ungated configs take the stateless tier: plain column ops, no
    # state store in the plan, and row parity with the batch passthrough
    from logstash_filter_aggregate_spark.streaming.stream import streaming_passthrough

    cfg = example3_config(timeout=600.0)
    t = spark.read.parquet(stream_dir)
    want = run_pipeline(spark, t, cfg).passthrough.count()

    schema = t.schema
    src = (
        spark.readStream.schema(schema).parquet(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming_passthrough(src, cfg)
    assert "FlatMapGroupsInPandasWithState" not in out._jdf.queryExecution().analyzed().toString()
    name = "st_passthrough_plain"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    assert spark.table(name).count() == want


def test_parse_compiles_once_per_stream(spark, stream_dir, tmp_path):
    # a second drain of the same files (fresh checkpoint, one file per
    # micro-batch) and a second batch run compile no new class: every
    # micro-batch reuses the first run's generated code, which a seeded
    # optimizer barrier defeats (streaming re-seeds it on every batch)
    from logstash_filter_aggregate_spark.sinks import write_routed
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    cfg = example1_config(timeout=3600.0)
    schema = spark.read.parquet(stream_dir).schema

    def drain(i):
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stream_dir)
        q = (
            streaming_correlate(src, cfg).writeStream.format("memory").queryName(f"compile_once_{i}")
            .option("checkpointLocation", str(tmp_path / f"cp{i}"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        assert len(q.recentProgress) > 1

    def batch(i):
        out = run_pipeline(spark, spark.read.parquet(stream_dir), cfg)
        write_routed(out.as_dict(), str(tmp_path / f"sinks{i}"), cfg, input_desc=f"compile-once-{i}")

    for run in (drain, batch):
        run(0)
        before = compiles.getCount()
        run(1)
        assert compiles.getCount() - before == 0, run.__name__
