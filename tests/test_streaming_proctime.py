"""Processing-time (wall-clock) state expiry — the reference's DEFAULT
clock (``aggregate.rb:487`` ``Time.now``; periodic flush ``:312``).

Wall timings are nondeterministic, so these tests assert STRUCTURE
(which rows exist and their event-time fields) under generous polling
deadlines, never exact latencies — the reference's own real-time specs
can only sleep the same way (spec:61,185,198).
"""

import json
import time

import pytest
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.plans.pipeline import example1_config, run_pipeline
from logstash_filter_aggregate_spark.streaming.stream import (
    streaming_correlate,
    streaming_passthrough,
)
from tests.conftest import make_transcript


def _append(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


def _poll(fn, deadline_s=120.0, every=0.5):
    t0 = time.time()
    while time.time() - t0 < deadline_s:
        v = fn()
        if v:
            return v
        time.sleep(every)
    return fn()


def _start(spark, in_dir, schema, df_fn, name):
    src = spark.readStream.schema(schema).parquet(in_dir)
    return (
        df_fn(src).writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(processingTime="1 second").start()
    )


@pytest.mark.parametrize("shards", [None, 16])
def test_proc_time_completed_and_wall_timeout(spark, tmp_path, shards):
    # one task completes normally; one start-only task must be pushed by
    # the WALL clock. The completed task's events span 2 h of EVENT time
    # with timeout=3 s — in processing mode that must NOT split the map
    # (the chunk replays instantaneously; aggregate.rb's Time.now never
    # advances between rows of one batch).
    in_dir = str(tmp_path / "in")
    cfg = example1_config(timeout=3.0, push_map_as_event_on_timeout=True)
    rows = [
        ("c1", 1, "INFO - t_done - TASK_START - s", 0),
        ("c1", 2, "INFO - t_done - SQL - q - 5", 3600),
        ("c1", 3, "INFO - t_done - TASK_END - e", 7200),
        ("c2", 1, "INFO - t_hang - TASK_START - s", 0),
        ("c2", 2, "INFO - t_hang - SQL - q - 2", 1),
    ]
    df = make_transcript(spark, rows)
    _append(df, in_dir)
    name = f"proc_basic_{shards or 0}"
    q = _start(
        spark, in_dir, df.schema,
        lambda src: streaming_correlate(
            src, cfg, time_mode="processing", shards=shards
        ),
        name,
    )
    try:
        done = _poll(
            lambda: spark.table(name).where("sink = 'completed'").collect()
        )
        assert len(done) == 1 and done[0].task_id == "t_done"
        assert json.loads(done[0].map_json)["sql_duration"] == 5
        assert done[0].nevents == 3       # event-time gap never split the map
        to = _poll(
            lambda: spark.table(name).where("sink = 'timeout'").collect()
        )
        assert len(to) == 1 and to[0].task_id == "t_hang"
        assert json.loads(to[0].map_json)["sql_duration"] == 2
        assert to[0].nevents == 2
    finally:
        q.stop()


@pytest.mark.parametrize("shards", [None, 16])
def test_proc_time_recreate_after_wall_expiry(spark, tmp_path, shards):
    # a start-only map expires by wall clock; a LATER start for the same
    # task id creates a fresh map that then completes — two independent
    # lifecycles for one task id, separated only by wall time
    in_dir = str(tmp_path / "in")
    cfg = example1_config(timeout=2.0, push_map_as_event_on_timeout=True)
    df1 = make_transcript(spark, [("c1", 1, "INFO - t1 - TASK_START - s", 0)])
    _append(df1, in_dir)
    name = f"proc_recreate_{shards or 0}"
    q = _start(
        spark, in_dir, df1.schema,
        lambda src: streaming_correlate(
            src, cfg, time_mode="processing", shards=shards
        ),
        name,
    )
    try:
        to = _poll(
            lambda: spark.table(name).where("sink = 'timeout'").collect()
        )
        assert len(to) == 1 and to[0].nevents == 1
        # second lifecycle: start + end arriving after the expiry
        _append(make_transcript(spark, [
            ("c1", 2, "INFO - t1 - TASK_START - s", 10),
            ("c1", 3, "INFO - t1 - SQL - q - 4", 11),
            ("c1", 4, "INFO - t1 - TASK_END - e", 12),
        ]), in_dir)
        done = _poll(
            lambda: spark.table(name).where("sink = 'completed'").collect()
        )
        assert len(done) == 1 and done[0].task_id == "t1"
        assert json.loads(done[0].map_json)["sql_duration"] == 4
        assert done[0].nevents == 3
    finally:
        q.stop()


def test_proc_time_completed_matches_batch_when_nothing_expires(spark, tmp_path):
    # with a wall timeout far beyond the test's runtime, processing mode
    # reduces to pure end_of_task correlation — completed rows must match
    # the batch engine run with clocks the corpus can't cross
    from logstash_filter_aggregate_spark.sources.transcripts import generate_transcripts

    in_dir = str(tmp_path / "in")
    t = generate_transcripts(spark, n_convs=12, hot_convs=0)
    t.write.mode("overwrite").parquet(in_dir)
    cfg = example1_config(timeout=1e9)
    q = _start(
        spark, in_dir, t.schema,
        lambda src: streaming_correlate(src, cfg, time_mode="processing"),
        "proc_parity",
    )
    try:
        batch = run_pipeline(spark, spark.read.parquet(in_dir), cfg)
        expect = {
            r.task_id: (r.sql_duration, r.nevents) for r in batch.completed.collect()
        }
        got_rows = _poll(
            lambda: (
                lambda rs: rs if len(rs) == len(expect) else None
            )(spark.table("proc_parity").where("sink = 'completed'").collect())
        )
        got = {
            r.task_id: (json.loads(r.map_json).get("sql_duration"), r.nevents)
            for r in got_rows
        }
        assert got == expect
    finally:
        q.stop()


@pytest.mark.parametrize("shards", [None, 16])
def test_proc_time_passthrough_guard_decisions(spark, tmp_path, shards):
    # the gated passthrough's keep/tag decisions don't depend on the
    # clock while nothing expires: processing mode must match the event
    # mode's availableNow replay on the same rows
    from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule

    cfg = example1_config(
        timeout=1e9,
        rules=(
            CorrelationRule(
                "start", "logger = 'TASK_START'", map_action="create",
            ),
            CorrelationRule(
                "update", "logger = 'SQL'", map_action="update",
                aggs=(AggSpec("d", "sum", "duration", required=True),),
            ),
            CorrelationRule(
                "end", "logger = 'TASK_END'", map_action="update",
                end_of_task=True, cancel=True,
            ),
        ),
    )
    rows = [
        ("c1", 0, "INFO - u1 - SQL - q", 0),        # orphan update: kept untagged
        ("c1", 1, "INFO - u1 - TASK_START - s", 1),
        ("c1", 2, "INFO - u1 - SQL - q", 2),        # live map, null duration: tagged
        ("c1", 3, "INFO - u1 - SQL - q - 7", 3),    # kept plain
        ("c1", 4, "INFO - u1 - TASK_END - e", 4),   # cancelled (consumed)
        ("c1", 5, "INFO - u1 - SQL - q", 5),        # after end: kept untagged
    ]
    df = make_transcript(spark, rows)
    in_dir = str(tmp_path / "in")
    _append(df, in_dir)

    def normalize(rows_):
        return sorted((r.turn_idx, tuple(r.tags or [])) for r in rows_)

    # event-mode availableNow reference
    src = spark.readStream.schema(df.schema).parquet(in_dir)
    qe = (
        streaming_passthrough(src, cfg)
        .writeStream.format("memory").queryName(f"pt_event_{shards or 0}")
        .outputMode("append").trigger(availableNow=True).start()
    )
    qe.awaitTermination(120)
    expect = normalize(spark.table(f"pt_event_{shards or 0}").collect())

    qp = _start(
        spark, in_dir, df.schema,
        lambda s: streaming_passthrough(
            s, cfg, time_mode="processing", shards=shards
        ),
        f"pt_proc_{shards or 0}",
    )
    try:
        got_rows = _poll(
            lambda: (
                lambda rs: rs if len(rs) == len(expect) else None
            )(spark.table(f"pt_proc_{shards or 0}").collect())
        )
        assert normalize(got_rows) == expect
        assert len(expect) == 5            # the cancel consumed exactly one
    finally:
        qp.stop()


def test_proc_time_mode_validation(spark):
    df = make_transcript(spark, [("c1", 1, "INFO - t - TASK_START - s", 0)])
    cfg = example1_config()
    with pytest.raises(ValueError, match="time_mode"):
        streaming_correlate(df, cfg, time_mode="wall")


def test_available_now_refuses_processing_time_state(spark, tmp_path):
    # processing-time timers make Spark plan a no-data batch after every
    # batch, so an availableNow query over such state never ends: the
    # routed sinks refuse the combination before the query starts
    from logstash_filter_aggregate_spark.streaming.stream import stream_to_routed_sinks

    in_dir, cp = str(tmp_path / "in"), str(tmp_path / "cp")
    df = make_transcript(spark, [("c1", 1, "INFO - t - TASK_START - s", 0)])
    _append(df, in_dir)
    src = spark.readStream.schema(df.schema).parquet(in_dir)
    for out in (streaming_correlate(src, example1_config(), time_mode="processing"),
                streaming_passthrough(src, example1_config(), time_mode="processing")):
        with pytest.raises(ValueError, match=r"processingTime.*stop\(\)"):
            stream_to_routed_sinks(out, str(tmp_path / "out"), cp)
    assert not (tmp_path / "cp").exists()


def test_available_now_processing_time_passthrough_keeps_running(spark, tmp_path):
    # the case the refusal stands for: gated streaming_passthrough in
    # processing time under availableNow writes every row, then keeps
    # running no-data batches instead of terminating
    in_dir = str(tmp_path / "in")
    df = make_transcript(spark, [
        ("c1", 1, "INFO - t - TASK_START - s", 0), ("c1", 2, "INFO - t - SQL - q - 5", 1),
    ])
    _append(df, in_dir)
    q = (
        streaming_passthrough(spark.readStream.schema(df.schema).parquet(in_dir), example1_config(),
                              time_mode="processing")
        .writeStream.format("memory").queryName("pt_avail_now").outputMode("append")
        .trigger(availableNow=True).start()
    )
    try:
        assert _poll(lambda: spark.table("pt_avail_now").count() == 2, deadline_s=10.0)
        assert not q.awaitTermination(3) and q.isActive
    finally:
        q.stop()
