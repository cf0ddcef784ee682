"""push_previous_map_as_event (O16; docs example #4; spec:323-372)."""

from logstash_filter_aggregate_spark.plans.pipeline import example4_config, run_pipeline
from tests.conftest import make_transcript


ROWS = [
    (0, "INFO - france - Town - paris", 0),
    (1, "INFO - france - Town - lyon", 1),
    (2, "INFO - spain - Town - madrid", 2),
    (3, "INFO - spain - Town - sevilla", 3),
]


def test_push_on_new_task_id(spark):
    # spec:332-342 — arrival of 'spain' pushes the 'france' map
    out = run_pipeline(spark, make_transcript(spark, ROWS), example4_config())
    pushed = {r.task_id: r for r in out.timeout.collect()}
    assert set(pushed) == {"france", "spain"}
    assert [t.town_name for t in pushed["france"].towns] == ["paris", "lyon"]
    assert pushed["france"].country_name == "france"
    assert pushed["france"].tags == []
    # spec:358-371 — the last map is force-flushed at shutdown with the tag
    assert pushed["spain"].tags == ["_aggregatefinalflush"]
    assert out.open.count() == 0


def test_cancel_consumes_source_rows(spark):
    out = run_pipeline(spark, make_transcript(spark, ROWS), example4_config())
    assert out.passthrough.count() == 0


def test_interleaved_ids_still_push_each_run(spark):
    rows = [
        (0, "INFO - a - Town - t1", 0),
        (1, "INFO - b - Town - t2", 1),
        (2, "INFO - a - Town - t3", 2),
    ]
    out = run_pipeline(spark, make_transcript(spark, rows), example4_config())
    pushed = sorted(
        ((r.task_id, [t.town_name for t in r.towns]) for r in out.timeout.collect()),
    )
    # reference (serial): creation of b pops a{t1}; arrival of a (map gone,
    # expired? no — popped) creates a fresh a{t3}; shutdown pops b then a.
    # Our batch form groups per (task, session): a's two events share one
    # session (no gap/end between them) — a documented divergence for
    # *interleaved* ids; contiguous-run data (the documented use case,
    # docs/index.asciidoc:197-204 "aggregating results of jdbc input")
    # matches exactly.
    assert ("b", ["t2"]) in pushed


def test_inline_emission(spark):
    # O18 (spec:423-434): rules with emit produce immediate derived events
    from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "click", "click_target is not null",
                aggs=(AggSpec("clicks", "count"),),
                emit={"new_field": "'new_value'", "from_task": "taskid"},
            ),
        ),
        timeout=600.0,
    )
    rows = [(0, "INFO - t1 - Clicked One", 0)]
    out = run_pipeline(spark, make_transcript(spark, rows), cfg)
    em = out.inline.collect()
    assert len(em) == 1
    assert em[0].new_field == "new_value" and em[0].from_task == "t1"


def test_push_previous_exact_interleaved_matches_reference(spark):
    # O16 strict mode: interleaved ids form SEPARATE maps per contiguous
    # run in global order, exactly like the reference's single-live-map
    # pop discipline (aggregate.rb:205-208,314-320)
    rows = [
        (0, "INFO - a - Town - t1", 0),
        (1, "INFO - b - Town - t2", 1),
        (2, "INFO - a - Town - t3", 2),
    ]
    cfg = example4_config(push_previous_exact=True)
    out = run_pipeline(spark, make_transcript(spark, rows), cfg)
    pushed = sorted(
        (r.task_id, tuple(t.town_name for t in r.towns), "_aggregatefinalflush" in r.tags)
        for r in out.timeout.collect()
    )
    # reference: b's creation pops a{t1}; a's return pops b{t2}; shutdown
    # force-flushes a{t3} with the final tag
    assert pushed == [
        ("a", ("t1",), False),
        ("a", ("t3",), True),
        ("b", ("t2",), False),
    ]


def test_push_previous_exact_equals_default_on_contiguous_runs(spark):
    out_d = run_pipeline(spark, make_transcript(spark, ROWS), example4_config())
    out_e = run_pipeline(
        spark, make_transcript(spark, ROWS), example4_config(push_previous_exact=True)
    )
    key = lambda r: (r.task_id, tuple(t.town_name for t in r.towns), tuple(r.tags))  # noqa: E731
    assert sorted(map(key, out_d.timeout.collect())) == sorted(map(key, out_e.timeout.collect()))


def test_push_previous_exact_partitioning_invariant(spark):
    # the global index (operators/order.py) must be independent of the
    # input partitioning — scatter the rows and compare
    rows = [
        (0, f"INFO - {'abc'[i % 3]} - Town - t{i}", i) for i in range(60)
    ]
    cfg = example4_config(push_previous_exact=True)
    t1 = make_transcript(spark, rows)
    t2 = t1.repartition(7)
    key = lambda r: (r.task_id, tuple(t.town_name for t in r.towns), tuple(r.tags))  # noqa: E731
    a = sorted(map(key, run_pipeline(spark, t1, cfg).timeout.collect()))
    b = sorted(map(key, run_pipeline(spark, t2, cfg).timeout.collect()))
    assert a == b
    # every map holds exactly one town (ids alternate every row)
    assert all(len(towns) == 1 for _, towns, _ in a) and len(a) == 60


def test_push_previous_exact_config_guards():
    import pytest

    from logstash_filter_aggregate_spark.config import ConfigurationError

    with pytest.raises(ConfigurationError, match="push_map_as_event|push_previous_map_as_event"):
        example4_config(push_previous_map_as_event=False, push_previous_exact=True)
    # the scan reads the run breaks itself, so the no-op exact_age_cap
    # flag no longer conflicts: it only warns that it is deprecated
    with pytest.warns(DeprecationWarning, match="exact_age_cap"):
        cfg = example4_config(push_previous_exact=True, exact_age_cap=True)
    assert cfg.push_previous_exact


def _click_count_cfg(*rules):
    from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig

    return PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("click", "click_target is not null", aggs=(AggSpec("clicks", "count"),)),
            *rules,
        ),
        timeout=1e9,
        push_previous_map_as_event=True,
    )


def _pushed(out):
    return sorted(
        (r.task_id, r.nevents, "_aggregatefinalflush" in r.tags) for r in out.timeout.collect()
    )


def test_final_flush_tags_map_created_last_on_ts_tie(spark):
    # two maps created at the same ts: arrival order (ts, conv_id,
    # turn_idx) makes A the last one created, so A is live at shutdown
    rows = [(0, "INFO - Z - Clicked x", 100), (1, "INFO - A - Clicked y", 100)]
    out = run_pipeline(spark, make_transcript(spark, rows), _click_count_cfg())
    assert _pushed(out) == [("A", 1, True), ("Z", 1, False)]


def test_final_flush_tags_nothing_when_last_map_closed(spark):
    # B's creation pops A; B's end_of_task closes B: no map is live at
    # shutdown, so no pushed map carries the final-flush tag
    from logstash_filter_aggregate_spark.config import CorrelationRule

    rows = [
        (0, "INFO - A - Clicked x", 0),
        (1, "INFO - B - Clicked y", 1),
        (2, "INFO - B - TASK_END - done", 2),
    ]
    end = CorrelationRule("end", "logger = 'TASK_END'", end_of_task=True)
    out = run_pipeline(spark, make_transcript(spark, rows), _click_count_cfg(end))
    assert _pushed(out) == [("A", 1, False)]
    assert [r.task_id for r in out.completed.collect()] == ["B"]


def test_global_index_matches_row_number_at_2000_partitions(spark):
    # one stats row per partition, most partitions holding one row: the
    # offsets still rank every row as a global row_number would
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from logstash_filter_aggregate_spark.operators.order import with_global_index

    df = spark.range(2000).select((F.col("id") * 7919 % 2000).alias("k"))
    got = with_global_index(df, ["k"], num_partitions=2000)
    expect = df.select("k", (F.row_number().over(Window.orderBy("k")) - 1).alias("_gidx"))
    assert sorted(got.collect()) == sorted(expect.collect())


def test_replay_routed_push_previous_matches_batch(spark, tmp_path):
    # push_previous streams on one state shard walked in arrival order:
    # spain's arrival pops france's map, and replay_routed's heartbeat
    # pops spain's as the final flush, as batch pushes them
    import json
    import re

    import pytest

    from logstash_filter_aggregate_spark.streaming.stream import replay_routed, streaming_correlate
    from tests.test_streaming_shard import _stateful_group_keys

    cfg = example4_config()
    src = str(tmp_path / "in")
    make_transcript(spark, ROWS).write.parquet(src)
    replay_routed(spark, src, cfg, str(tmp_path / "out"), str(tmp_path / "cp"))
    got = sorted(
        (r.task_id, r.nevents, r.creation_ts, r.lastevent_ts,
         [t["town_name"] for t in json.loads(r.map_json)["towns"]],
         json.loads(r.map_json).get("tags", []))
        for r in spark.read.parquet(str(tmp_path / "out" / "timeout")).collect()
    )
    out = run_pipeline(spark, spark.read.parquet(src), cfg)
    expect = sorted(
        (r.task_id, r.nevents, r.creation_ts, r.lastevent_ts, [t.town_name for t in r.towns], r.tags)
        for r in out.timeout.collect()
    )
    assert got == expect
    assert [t[-1] for t in got] == [[], ["_aggregatefinalflush"]]

    # the plan keys its one state row by pmod(xxhash64(_task_id), 1)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    plan = streaming_correlate(stream, cfg)
    assert _stateful_group_keys(plan) == ["_shard"]
    assert re.search(
        r"pmod\(xxhash64\(_task_id#\d+, 42\), cast\(1 as bigint\)\)",
        plan._jdf.queryExecution().analyzed().toString(),
    )
    with pytest.raises(ValueError, match="push_previous"):
        streaming_correlate(stream, cfg, shards=5)
