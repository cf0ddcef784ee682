"""Shard-keyed streaming state (streaming/shard.py).

Every streaming query multiplexes its live tasks' state cells into one
state-store row per ``pmod(xxhash64(task_id), shards)`` group. These
tests pin output equality across shard counts (one shard for every
task, the default, and about one cell per shard) and with the batch
engine across every sink kind, carried state across micro-batches, the
watermark-eviction path that stands in for per-task timers, the shard
count recorded in the checkpoint, and the plan shape.
"""

import datetime as dt
import json
import re
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig
from logstash_filter_aggregate_spark.plans.pipeline import example1_config
from logstash_filter_aggregate_spark.sources.transcripts import generate_transcripts
from tests.conftest import T0, make_transcript


def _run_stream(spark, path, df_fn, name, max_files=None):
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    out = df_fn(reader.parquet(path))
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    return spark.table(name)


# one shard for every task, the default, and about one cell per shard
SHARD_COUNTS = (1, None, 4096)


def _sink_rows(df):
    """Sink rows with ``map_json`` compared as rendered text: the JSON of
    a map must not depend on which tasks shared its shard's chunk."""
    return sorted(
        (r.task_id, r.sink, r.creation_ts, r.lastevent_ts, r.nevents, r.map_json)
        for r in df.collect()
    )


def test_shard_correlate_equals_per_key_multibatch(spark, tmp_path):
    # full-lifecycle equality across shard counts on a generated corpus
    # driven through several micro-batches (carried cells,
    # expiry-on-arrival, completes), byte-equal map_json included
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    p = str(tmp_path / "in")
    generate_transcripts(spark, n_convs=40, hot_convs=2).repartition(5).write.parquet(p)
    cfg = example1_config(timeout=3600.0)
    # hash-partitioned files replayed one per batch arrive out of TIME
    # order; the default 10-min watermark would fire timers against that
    # replay artifact nondeterministically (file listing order), which
    # can evict every map before its end event arrives. A watermark
    # beyond the corpus span keeps mid-replay timers quiet in every leg
    # so the equality (and non-emptiness) is deterministic.
    wm = "30 days"
    legs = [
        _sink_rows(_run_stream(
            spark, p, lambda s, n=n: streaming_correlate(s, cfg, watermark=wm, shards=n),
            f"shard_co_{n or 'default'}", max_files=1,
        ))
        for n in SHARD_COUNTS
    ]
    assert legs[0] and all(leg == legs[0] for leg in legs[1:])
    # sql_duration sums a long column (null on other rules' rows): it
    # renders as a JSON integer, like the batch engine's long column
    sums = [json.loads(r[-1])["sql_duration"] for r in legs[0] if r[1] == "completed"]
    assert sums and all(type(v) is int for v in sums)
    assert not any(re.search(r'"sql_duration": -?\d+\.', r[-1]) for r in legs[0])


def test_shard_correlate_custom_timeouts(spark, tmp_path):
    # O17 through the shard tier: custom_timeout=0 -> inline eviction,
    # >0 override -> expiry-on-arrival push (same scenario as
    # test_streaming_custom_timeouts_match_reference, at 3 shards)
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
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
        ("c1", 0, "user", "INFO - t - Clicked One", "none", T0),
        ("c1", 1, "tool", "ERROR - t - TOOL - http - E503", "http", T0 + dt.timedelta(seconds=1)),
        ("c2", 0, "user", "INFO - u - Clicked One", "none", T0),
        ("c2", 1, "user", "INFO - u - Clicked Two", "none", T0 + dt.timedelta(seconds=50)),
        ("c2", 2, "user", "INFO - u - Clicked Three", "none", T0 + dt.timedelta(seconds=55)),
    ]
    p = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(p)
    got = _run_stream(
        spark, p, lambda s: streaming_correlate(s, cfg, shards=3), "shard_custom"
    )
    by = {(r.task_id, r.sink): r for r in got.collect()}
    inline = by[("t", "inline")]
    assert inline.nevents == 2
    assert json.loads(inline.map_json) == {"clicks": 1, "errors": 1}
    assert json.loads(by[("u", "timeout")].map_json) == {"clicks": 1}
    assert ("u", "inline") not in by and ("u", "completed") not in by


def test_shard_gated_emissions_match_per_key(spark, tmp_path):
    # O18 emit rows at every shard count: fire exactly where the code
    # runs (update-before-create and duplicate-create suppressed), with
    # globally-numbered sessions feeding the per-row running count
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
        (4, "ERROR - u2 - TOOL - http - E700", 4),   # second task, orphan: no emit
        (5, "INFO - u2 - TASK_START - start", 5),    # creates -> start emits
        (6, "ERROR - u2 - TOOL - http - E701", 6),   # included: emits
    ]
    p = str(tmp_path / "in")
    make_transcript(spark, rows).write.parquet(p)

    def run(shards, name):
        got = _run_stream(
            spark, p,
            lambda s: streaming_correlate(
                s.withColumn("ts", F.col("ts").cast("timestamp")), cfg, shards=shards
            ),
            name,
        )
        rows_ = [
            (r.task_id, r.nevents, tuple(sorted(json.loads(r.map_json).items())))
            for r in got.where("sink = 'emit'").collect()
        ]
        return sorted(rows_)

    legs = [run(n, f"shard_emit_{n or 'default'}") for n in SHARD_COUNTS]
    assert all(leg == legs[0] for leg in legs[1:])
    assert len(legs[0]) == 4  # 2 start emits + E504 + E701
    # err_code is a long column, null on the start rows sharing the
    # chunk: its payload renders as a JSON integer
    codes = [dict(m)["code"] for _t, _n, m in legs[0] if "code" in dict(m)]
    assert sorted(codes) == [504, 701] and all(type(c) is int for c in codes)


def test_shard_eviction_pushes_timeout_on_shardmates_batch(spark, tmp_path):
    # the shard tier replaces per-task timers with watermark eviction:
    # an expired task's timeout row is pushed when ITS SHARD is next
    # invoked — here by a different task hashing into the same shard
    # (shards=1 forces the collision)
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(CorrelationRule("click", "click_target is not null",
                               aggs=(AggSpec("clicks", "count"),)),),
        timeout=600.0,
        push_map_as_event_on_timeout=True,
    )
    p = str(tmp_path / "in")
    sch = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    batches = [
        [("a1", 0, "user", "INFO - A - Clicked One", "none", T0),
         ("a1", 1, "user", "INFO - A - Clicked Two", "none", T0 + dt.timedelta(seconds=1))],
        [("c1", 0, "user", "INFO - C - Clicked One", "none", T0 + dt.timedelta(seconds=5000))],
        [("d1", 0, "user", "INFO - D - Clicked One", "none", T0 + dt.timedelta(seconds=6000))],
    ]
    for b in batches:
        spark.createDataFrame(b, sch).repartition(1).write.mode("append").parquet(p)

    got = _run_stream(
        spark, p,
        lambda s: streaming_correlate(s, cfg, watermark="10 seconds", shards=1),
        "shard_evict", max_files=1,
    )
    pushed = {(r.task_id, r.sink): r for r in got.collect()}
    # A expired mid-stream (watermark ~4990 after C's batch) and was
    # evicted by a later shard invocation carrying OTHER tasks' data;
    # C expired at the final watermark (~5990 >= 5600) via the shard
    # timer (hasTimedOut path); D (expiry 6600) stays open
    assert set(pushed) == {("A", "timeout"), ("C", "timeout")}
    a = pushed[("A", "timeout")]
    assert a.nevents == 2 and json.loads(a.map_json) == {"clicks": 2}
    assert json.loads(pushed[("C", "timeout")].map_json) == {"clicks": 1}


def test_shard_passthrough_fuzz_carried_state(spark, tmp_path):
    # randomized guard-gated streams through the SHARD passthrough in two
    # micro-batches (cells cross the restart inside multiplexed state
    # rows), verified against the independent per-row reference simulator
    import random

    from logstash_filter_aggregate_spark.streaming.stream import streaming_passthrough
    from tests.test_fuzz_reference import (
        _LINES,
        _pt_shapes,
        _scenario_rows,
        simulate_passthrough,
    )

    rng = random.Random(20260824)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    shape, (cfg_kw, sim_rules, kinds) = next(iter(_pt_shapes().items()))
    cfg = PipelineConfig(task_id="%{taskid}", **cfg_kw)
    streams = {f"sh{i:02d}": _scenario_rows(rng, kinds, n_max=25) for i in range(8)}
    data, wm = [], 0.0
    for tid, rows in streams.items():
        for j, (kind, ts, val) in enumerate(rows):
            data.append((tid, j, "user", _LINES[kind].format(tid=tid, val=val),
                         "none", T0 + dt.timedelta(seconds=ts)))
            wm = max(wm, ts)
    split = T0 + dt.timedelta(seconds=wm * 0.5)
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    df = spark.createDataFrame(data, schema)
    df.where(F.col("ts") < F.lit(split)).repartition(2).write.parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_passthrough(stream, cfg, watermark="100000 seconds", shards=5)
            .writeStream.format("parquet")
            .option("path", out_dir).option("checkpointLocation", cp)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(300)

    run_once()
    df.where(F.col("ts") >= F.lit(split)).repartition(2).write.mode("append").parquet(src)
    run_once()

    got = {
        (r.conv_id, r.turn_idx): tuple(sorted(r.tags or []))
        for r in spark.read.parquet(out_dir).select("conv_id", "turn_idx", "tags").collect()
    }
    n_exp = 0
    for tid, rows in streams.items():
        for idx, kept, tagged in simulate_passthrough(
            rows, sim_rules, cfg.timeout, cfg.effective_inactivity_timeout
        ):
            if not kept:
                assert (tid, idx) not in got, (tid, idx)
                continue
            n_exp += 1
            want = ("_aggregateexception",) if tagged else ()
            assert got.get((tid, idx)) == want, (tid, idx, got.get((tid, idx)), want)
    assert len(got) == n_exp


def test_cell_codec_roundtrip_fuzz():
    # property fuzz for the Arrow IPC cell codec (no Spark): cell tables
    # of unicode task ids, finite clocks, overrides, wall clocks and NULL
    # or typed partials (timestamp, date, decimal, list, avg's pair)
    # survive the round trip exactly; another shard count is refused, and
    # so is a cell set of the older SGC2/SGC3 codec, naming a fresh
    # checkpoint
    import struct as _struct

    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logstash_filter_aggregate_spark.streaming.shard import _cell_bytes, _cell_table, _shard_plan

    aggs = pa.schema([
        ("n", pa.int64()), ("_avg_sum_a", pa.float64()), ("_avg_cnt_a", pa.int64()),
        ("at", pa.timestamp("us", tz="UTC")), ("day", pa.date32()), ("dec", pa.decimal128(18, 6)),
        ("towns", pa.list_(pa.string())),
    ])
    schema = _shard_plan(example1_config(), 1, "event", [], aggs).cells
    finite = st.floats(allow_nan=False, allow_infinity=False, min_value=-1e15, max_value=1e15)
    clock = st.datetimes(min_value=dt.datetime(1970, 1, 1), max_value=dt.datetime(2200, 1, 1))
    opt = st.one_of(st.none(), st.floats(min_value=1e-3, max_value=1e9))
    partials = {
        "n": st.integers(-2**40, 2**40), "_avg_sum_a": finite, "_avg_cnt_a": st.integers(0, 2**40),
        "at": clock, "day": st.dates(), "towns": st.lists(st.text(max_size=8), max_size=4),
        "dec": st.decimals(min_value=-10**11, max_value=10**11, places=6, allow_nan=False,
                           allow_infinity=False),
    }
    cell = st.fixed_dictionaries({
        "_task_id": st.text(min_size=1, max_size=64), "_seed_creation_ts": clock,
        "_seed_lastevent_ts": clock, "_seed_nevents": st.integers(0, 2**40),
        "_custom_timeout": opt, "_custom_inactivity": opt, "_wall_cap": opt, "_wall_last": opt,
        **{f"_seed_{k}": st.one_of(st.none(), v) for k, v in partials.items()},
    })

    @settings(max_examples=300, deadline=None)
    @given(st.lists(cell, max_size=32), st.integers(1, 1 << 20))
    def check(cells, shards):
        table = pa.Table.from_pylist(cells, schema=schema)
        blob = _cell_bytes(table, shards)
        assert _cell_table(blob, shards).equals(table)
        with pytest.raises(ValueError, match=rf"shards={shards}\b.*shards={shards + 1}\b"):
            _cell_table(blob, shards + 1)

    check()
    for legacy in (b"SGC3" + _struct.pack("<QQQ", 0, 0, 3), b"SGC2" + _struct.pack("<QQ", 0, 0)):
        with pytest.raises(ValueError, match="fresh checkpoint"):
            _cell_table(legacy, 3)


def _stream_src(spark, path):
    return spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)


def _gated_passthrough_cfg():
    return example1_config(timeout=3600.0)


def test_shard_count_must_be_a_positive_int(spark, tmp_path):
    # shards=0 used to be falsy and silently select task-keyed state;
    # every entry point now rejects it before building a plan or a job
    from logstash_filter_aggregate_spark.streaming.stream import (
        replay_routed,
        streaming_correlate,
        streaming_passthrough,
    )

    p = str(tmp_path / "in")
    make_transcript(spark, [(0, "INFO - t - TASK_START - s", 0)]).write.parquet(p)
    cfg = _gated_passthrough_cfg()
    for bad in (0, -3, 2.0, True, "8"):
        with pytest.raises(ValueError, match="shards must be a positive int"):
            streaming_correlate(_stream_src(spark, p), cfg, shards=bad)
        with pytest.raises(ValueError, match="shards must be a positive int"):
            streaming_passthrough(_stream_src(spark, p), cfg, shards=bad)
    with pytest.raises(ValueError, match="shards must be a positive int"):
        replay_routed(spark, p, cfg, str(tmp_path / "out"), str(tmp_path / "cp"), shards=0)
    assert not (tmp_path / "out").exists()


def test_restart_with_another_shard_count_fails_loudly(spark, tmp_path):
    # a checkpoint records its shard count: resuming it with another
    # count would strand the live cells in their old shards (pushed
    # later as timeouts while the same tasks restart fresh elsewhere),
    # so the restart fails and names both counts
    from pyspark.errors import StreamingQueryException

    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    cfg = example1_config(timeout=3600.0)
    sch = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    tasks = [f"k{i}" for i in range(12)]
    src, cp, out = (str(tmp_path / d) for d in ("src", "cp", "out"))

    def append(rows):
        spark.createDataFrame(rows, sch).repartition(1).write.mode("append").parquet(src)

    def run(shards):
        q = (
            streaming_correlate(_stream_src(spark, src), cfg, watermark="30 days",
                                shards=shards)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append").trigger(availableNow=True).start()
        )
        return q.awaitTermination(300)

    append([(t, 0, "user", f"INFO - {t} - TASK_START - s", "none", T0) for t in tasks])
    assert run(3)
    append([(t, 1, "user", f"INFO - {t} - SQL - q - 5", "none", T0 + dt.timedelta(seconds=1))
            for t in tasks])
    with pytest.raises(StreamingQueryException, match=r"shards=3\b.*shards=5\b"):
        run(5)
    # the recorded count resumes the query and completes nothing yet
    assert run(3)
    append([(t, 2, "user", f"INFO - {t} - TASK_END - e", "none", T0 + dt.timedelta(seconds=2))
            for t in tasks])
    assert run(3)
    done = spark.read.parquet(out).where("sink = 'completed'").collect()
    assert sorted(r.task_id for r in done) == sorted(tasks)
    assert {json.loads(r.map_json)["sql_duration"] for r in done} == {5}


# SQL durations 2, NULL, 2 | 8, NULL: what each fn folds them to, plus
# values the cell codec's JSON holds as text (a timestamp, decimals) and
# a NaN, which Spark's min skips
_ONE_DICTIONARY = {
    **{fn: (fn, "duration", want) for fn, want in {
        "sum": 12, "count": 5, "min": 2, "max": 8, "avg": 4.0, "first": 2, "last": 8,
        "collect_list": [2, 2, 8], "collect_set": [2, 8],
    }.items()},
    "first_ts": ("first", "ts", T0 + dt.timedelta(seconds=1)),
    "collect_list_decimal": (
        "collect_list", "CAST(duration AS DECIMAL(18,6))", [Decimal("2.000000")] * 2 + [Decimal("8.000000")]
    ),
    "min_nan": ("min", "IF(duration = 8, double('NaN'), double(duration))", 2.0),
}


@pytest.mark.parametrize("case", list(_ONE_DICTIONARY))
def test_streaming_avg_across_micro_batches_matches_batch(spark, tmp_path, case):
    # one aggregation dictionary on both engines: a map carried across two
    # micro-batches (its cell's partial merged into the second batch's
    # rows), the batch engine over the whole input, and the batch engine
    # resuming the second half from the first half's open bucket all hold
    # the same value, NULL inputs skipped (avg keeps [sum, count]
    # partials, so it is 4.0, not the mean of the two halves' means)
    from logstash_filter_aggregate_spark.plans.pipeline import run_pipeline
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    fn, col, want = _ONE_DICTIONARY[case]
    cfg = example1_config(
        timeout=3600.0,
        rules=(
            CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
            CorrelationRule(
                "sql", "logger = 'SQL'", map_action="update",
                aggs=(AggSpec("v", fn, col),),
            ),
            CorrelationRule("end", "logger = 'TASK_END'", map_action="update", end_of_task=True),
        ),
    )
    p = str(tmp_path / "in")
    halves = (
        [(0, "INFO - t - TASK_START - s", 0), (1, "INFO - t - SQL - q - 2", 1),
         (2, "INFO - t - SQL - q", 2), (3, "INFO - t - SQL - q - 2", 3)],
        [(4, "INFO - t - SQL - q - 8", 4), (5, "INFO - t - SQL - q", 5),
         (6, "INFO - t - TASK_END - e", 6)],
    )
    for rows in halves:
        make_transcript(spark, rows).coalesce(1).write.mode("append").parquet(p)
    got = _run_stream(
        spark, p, lambda s: streaming_correlate(s, cfg, shards=3), f"shard_{case}", max_files=1
    ).collect()
    assert [(r.task_id, r.sink, r.nevents) for r in got] == [("t", "completed", 7)]
    # map_json renders timestamps (UTC) and decimals as text
    rendered = want.replace(tzinfo=dt.timezone.utc) if isinstance(want, dt.datetime) else want
    assert json.loads(got[0].map_json) == {"v": json.loads(json.dumps(rendered, default=str))}

    batch = run_pipeline(spark, spark.read.parquet(p), cfg).completed.collect()
    first = run_pipeline(spark, make_transcript(spark, halves[0]), cfg)
    assert first.completed.count() == 0
    resumed = run_pipeline(
        spark, make_transcript(spark, halves[1]), cfg, open_maps=first.open
    ).completed.collect()
    assert [(r.nevents, r.v) for r in batch] == [(7, want)]
    assert [(r.nevents, r.v) for r in resumed] == [(7, want)]


@pytest.mark.parametrize("aggs", [
    # one agg name under two fns
    ((AggSpec("x", "sum", "duration"),), (AggSpec("x", "max", "duration"),)),
    # an agg name that collides with a sink column
    ((AggSpec("nevents", "count"),), ()),
], ids=["conflicting_fn", "reserved_name"])
def test_streaming_rejects_configs_batch_rejects(spark, tmp_path, aggs):
    # streaming builds its agg specs with the batch engine's merge, so a
    # config the batch engine rejects fails here too, before any job runs
    from logstash_filter_aggregate_spark.config import ConfigurationError
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

    p = str(tmp_path / "in")
    make_transcript(spark, [(0, "INFO - t - TASK_START - s", 0)]).write.parquet(p)
    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("start", "logger = 'TASK_START'", aggs=aggs[0]),
            CorrelationRule("sql", "logger = 'SQL'", aggs=aggs[1]),
        ),
    )
    with pytest.raises(ConfigurationError):
        streaming_correlate(_stream_src(spark, p), cfg)


def _stateful_group_keys(df) -> list[str]:
    plan = df._jdf.queryExecution().analyzed().toString()
    return re.findall(r"FlatMapGroupsInPandasWithState fn\(.*?\)#\d+, \[(\w+)#", plan)


def test_default_streaming_plans_key_state_by_shard(spark, tmp_path):
    # the one state tier: the default correlate and gated passthrough
    # plans group their stateful function by _shard, never by _task_id,
    # with the default shard count in the shard expression
    from logstash_filter_aggregate_spark.streaming.stream import (
        DEFAULT_SHARDS,
        streaming_correlate,
        streaming_passthrough,
    )

    p = str(tmp_path / "in")
    make_transcript(spark, [(0, "INFO - t - TASK_START - s", 0)]).write.parquet(p)
    cfg = _gated_passthrough_cfg()
    for time_mode in ("event", "processing"):
        for df in (
            streaming_correlate(_stream_src(spark, p), cfg, time_mode=time_mode),
            streaming_passthrough(_stream_src(spark, p), cfg, time_mode=time_mode),
        ):
            assert _stateful_group_keys(df) == ["_shard"]
            plan = df._jdf.queryExecution().analyzed().toString()
            assert re.search(
                rf"pmod\(xxhash64\(_task_id#\d+, 42\), cast\({DEFAULT_SHARDS} as bigint\)\)", plan
            )


def _golden_rows(spark, tmp_path):
    """The sink rows of two streams, as ``(task_id, sink, nevents,
    map_json)``. Example #1's shape with the nine fns over ``duration``
    plus a timestamp, a date and a decimal ``last``, and a guard-gated
    emit rule: t's map is carried across a micro-batch and completes, u's
    is carried and evicted by the heartbeat's watermark. Then example #4
    (push_previous): spain's map spans a file boundary and the heartbeat
    pops it as the final flush."""
    from logstash_filter_aggregate_spark.plans.pipeline import example4_config
    from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate
    from tests.conftest import heartbeat, write_stream_files

    fns = ("sum", "count", "min", "max", "avg", "first", "last", "collect_list", "collect_set")
    aggs = tuple(AggSpec(f"v_{fn}", fn, "duration") for fn in fns) + (
        AggSpec("last_ts", "last", "ts"),
        AggSpec("last_date", "last", "CAST(ts AS DATE)"),
        AggSpec("last_dec", "last", "CAST(duration AS DECIMAL(18,6))"),
    )
    cfg = example1_config(
        timeout=3600.0, push_map_as_event_on_timeout=True,
        rules=(
            CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
            CorrelationRule("sql", "logger = 'SQL'", map_action="update", aggs=aggs,
                            emit={"d": "duration", "at": "ts", "who": "taskid"}),
            CorrelationRule("end", "logger = 'TASK_END'", map_action="update", end_of_task=True),
        ),
    )
    files = [
        [(0, "INFO - t - TASK_START - s", 0), (1, "INFO - t - SQL - q - 2", 1),
         (2, "INFO - t - SQL - q", 2), (3, "INFO - t - SQL - q - 2", 3.5),
         (4, "INFO - u - TASK_START - s", 4), (5, "INFO - u - SQL - q - 3", 5.25)],
        [(6, "INFO - t - SQL - q - 8", 6), (7, "INFO - t - SQL - q", 7.125),
         (8, "INFO - t - TASK_END - e", 8)],
    ]
    pp_files = [
        [(0, "INFO - france - Town - paris", 0), (1, "INFO - france - Town - lyon", 1),
         (2, "INFO - spain - Town - madrid", 2)],
        [(3, "INFO - spain - Town - sevilla", 3)],
    ]
    out = []
    for name, c, fs, hb in (("golden", cfg, files, 10_000), ("golden_pp", example4_config(), pp_files, 4)):
        p = str(tmp_path / name)
        write_stream_files(spark, p, [make_transcript(spark, f) for f in fs] + [heartbeat(spark, hb)])
        got = _run_stream(spark, p, lambda s, c=c: streaming_correlate(s, c), name, max_files=1)
        out += [(r.task_id, r.sink, r.nevents, r.map_json) for r in got.collect()]
    return sorted(out)


# map_json as the sinks carry it, byte for byte (the other tests parse it)
_GOLDEN = [
    ('france', 'timeout', 2,
     '{"towns": [{"town_name": "paris"}, {"town_name": "lyon"}]}'),
    ('spain', 'timeout', 2,
     '{"towns": [{"town_name": "madrid"}, {"town_name": "sevilla"}], '
     '"tags": ["_aggregatefinalflush"]}'),
    ('t', 'completed', 7,
     '{"v_sum": 12, "v_count": 5, "v_min": 2, "v_max": 8, "v_avg": 4.0, "v_first": 2, '
     '"v_last": 8, "v_collect_list": [2, 2, 8], "v_collect_set": [2, 8], '
     '"last_ts": "2026-01-01 00:00:07.125000+00:00", "last_date": "2026-01-01", '
     '"last_dec": "8.000000"}'),
    ('t', 'emit', 2,
     '{"d": 2, "at": "2026-01-01 00:00:01", "who": "t"}'),
    ('t', 'emit', 3,
     '{"d": null, "at": "2026-01-01 00:00:02", "who": "t"}'),
    ('t', 'emit', 4,
     '{"d": 2, "at": "2026-01-01 00:00:03.500000", "who": "t"}'),
    ('t', 'emit', 5,
     '{"d": 8, "at": "2026-01-01 00:00:06", "who": "t"}'),
    ('t', 'emit', 6,
     '{"d": null, "at": "2026-01-01 00:00:07.125000", "who": "t"}'),
    ('u', 'emit', 2,
     '{"d": 3, "at": "2026-01-01 00:00:05.250000", "who": "u"}'),
    ('u', 'timeout', 2,
     '{"v_sum": 3, "v_count": 1, "v_min": 3, "v_max": 3, "v_avg": 3.0, "v_first": 3, '
     '"v_last": 3, "v_collect_list": [3], "v_collect_set": [3], '
     '"last_ts": "2026-01-01 00:00:05.250000+00:00", "last_date": "2026-01-01", '
     '"last_dec": "3.000000"}'),
]


def test_map_json_golden(spark, tmp_path):
    # the rendered text of every entry kind: the nine fns (a long sum as
    # an integer, avg as the mean of its partials), a timestamp, a date
    # and a decimal, a map carried across a micro-batch and one evicted
    # from the carried state, struct collections, the final-flush tag and
    # gated emit payloads (an integral input with NULLs as an integer)
    assert _golden_rows(spark, tmp_path) == _GOLDEN
