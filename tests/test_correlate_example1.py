"""Example #1 start/update/end correlation + map_action guards
(docs/index.asciidoc:36-93; spec:33-151)."""

import pytest
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.plans.pipeline import example1_config, run_pipeline
from tests.conftest import make_transcript


def _run(spark, rows, cfg=None, **kw):
    return run_pipeline(spark, make_transcript(spark, rows), cfg or example1_config(), **kw)


def test_full_correlation(spark):
    # spec:86-133 — sql_duration = 12 + 34 = 46 set on the end event
    out = _run(
        spark,
        [
            (0, "INFO - 12345 - TASK_START - start", 0),
            (1, "INFO - 12345 - SQL - sqlQuery1 - 12", 1),
            (2, "INFO - 12345 - SQL - sqlQuery2 - 34", 2),
            (3, "INFO - 12345 - TASK_END - end", 3),
        ],
    )
    done = out.completed.collect()
    assert len(done) == 1
    r = done[0]
    assert r.task_id == "12345" and r.sql_duration == 46
    assert r.nevents == 4 and r.end_turn_idx == 3
    assert out.timeout.count() == 0 and out.open.count() == 0


def test_duplicate_start_keeps_first_map(spark):
    # spec:52-68 — second start's init code must not run
    out = _run(
        spark,
        [
            (0, "INFO - 12345 - TASK_START - start", 0),
            (1, "INFO - 12345 - SQL - sqlQuery1 - 12", 1),
            (2, "INFO - 12345 - TASK_START - start", 2),
            (3, "INFO - 12345 - SQL - sqlQuery2 - 34", 3),
            (4, "INFO - 12345 - TASK_END - end", 4),
        ],
    )
    done = out.completed.collect()
    assert len(done) == 1
    assert done[0].sql_duration == 46
    assert done[0].nevents == 4  # duplicate start excluded


def test_end_without_start_is_noop(spark):
    # spec:72-84 — map_action=update without existing map does nothing
    out = _run(spark, [(0, "INFO - 12345 - TASK_END - end", 0)])
    assert out.sessions.count() == 0


def test_update_without_start_is_noop(spark):
    out = _run(
        spark,
        [
            (0, "INFO - 12345 - SQL - sqlQuery1 - 12", 0),
            (1, "INFO - 12345 - TASK_END - end", 1),
        ],
    )
    assert out.sessions.count() == 0


def test_unparsed_rows_skip_correlation(spark):
    # aggregate.rb:183 — unresolved task id pattern → event not correlated
    out = _run(
        spark,
        [
            (0, "freeform chatter", 0),
            (1, "INFO - 12345 - TASK_START - start", 1),
            (2, "INFO - 12345 - TASK_END - end", 2),
        ],
    )
    assert out.completed.count() == 1
    # freeform row still flows downstream with parse-failure tag
    pt = {r.turn_idx: r for r in out.passthrough.collect()}
    assert pt[0].tags == ["_grokparsefailure"]


def test_integer_like_task_id(spark):
    # spec:135-141 — numeric task id strings work identically
    out = _run(
        spark,
        [
            (0, "INFO - 124 - TASK_START - start", 0),
            (1, "INFO - 124 - SQL - q - 3", 1),
            (2, "INFO - 124 - TASK_END - end", 2),
        ],
    )
    assert out.completed.collect()[0].task_id == "124"


def test_exception_tagging(spark):
    # spec:143-151 — missing duration → row tagged _aggregateexception,
    # aggregation unaffected (the reference's codeblock aborts)
    out = _run(
        spark,
        [
            (0, "INFO - 12345 - TASK_START - start", 0),
            (1, "INFO - 12345 - SQL - sqlQueryX", 1),
            (2, "INFO - 12345 - SQL - sqlQuery2 - 34", 2),
            (3, "INFO - 12345 - TASK_END - end", 3),
        ],
    )
    assert out.completed.collect()[0].sql_duration == 34
    tagged = out.passthrough.where(F.array_contains("tags", "_aggregateexception")).collect()
    assert [r.turn_idx for r in tagged] == [1]


def test_two_independent_tasks(spark):
    out = _run(
        spark,
        [
            (0, "INFO - a - TASK_START - start", 0),
            (1, "INFO - b - TASK_START - start", 1),
            (2, "INFO - a - SQL - q - 10", 2),
            (3, "INFO - b - SQL - q - 20", 3),
            (4, "INFO - a - TASK_END - end", 4),
            (5, "INFO - b - TASK_END - end", 5),
        ],
    )
    done = {r.task_id: r.sql_duration for r in out.completed.collect()}
    assert done == {"a": 10, "b": 20}


def test_end_restarts_task_instance(spark):
    # O8: same id after end starts a fresh map
    out = _run(
        spark,
        [
            (0, "INFO - t - TASK_START - start", 0),
            (1, "INFO - t - SQL - q - 1", 1),
            (2, "INFO - t - TASK_END - end", 2),
            (3, "INFO - t - TASK_START - start", 3),
            (4, "INFO - t - SQL - q - 2", 4),
            (5, "INFO - t - TASK_END - end", 5),
        ],
    )
    vals = sorted(r.sql_duration for r in out.completed.collect())
    assert vals == [1, 2]


def test_broadcast_dim_enrichment(spark):
    from logstash_filter_aggregate_spark.sources.transcripts import role_dim, tool_dim
    out = _run(
        spark,
        [
            (0, "INFO - 12345 - TASK_START - start", 0),
            (1, "INFO - 12345 - SQL - q - 5", 1),
            (2, "INFO - 12345 - TASK_END - end", 2),
        ],
        dims={"role": role_dim(spark), "tool": tool_dim(spark)},
    )
    pt = {r.turn_idx: r for r in out.passthrough.collect()}
    assert pt[0].role_group == "human" and pt[0].is_human is True
    assert pt[0].tool_family == "none"


def test_composite_task_id_isolates_maps(spark):
    # the reference supports composite task ids ("%{a}.%{b}"); same taskid
    # under different loglevels must correlate into SEPARATE maps, and a
    # row missing any referenced field resolves no task at all
    from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig

    cfg = PipelineConfig(
        task_id="%{loglevel}.%{taskid}",
        rules=(
            CorrelationRule(
                "sql", "logger = 'SQL'",
                aggs=(AggSpec("total", "sum", "coalesce(duration, 0)"),),
            ),
        ),
        timeout=1e9,
        push_map_as_event_on_timeout=True,
    )
    out = _run(
        spark,
        [
            (0, "INFO - t1 - SQL - q - 10", 0),
            (1, "WARN - t1 - SQL - q - 7", 1),   # same taskid, different level
            (2, "INFO - t1 - SQL - q - 5", 2),
        ],
        cfg,
    )
    got = {r.task_id: (r.nevents, int(r.total)) for r in out.open.collect()}
    assert got == {"INFO.t1": (2, 15), "WARN.t1": (1, 7)}


@pytest.mark.parametrize("name", ["turn_idx", "_rule_id", "_included", "_v_x", "_e_x", "nevents"])
def test_agg_named_like_a_scan_column_is_rejected(spark, name):
    # the scan's rows hold every session column plus an effect row's key,
    # rule, _v_/_e_ inputs and the row-kind flag: an agg of the same name
    # fails at configuration, not as an ambiguous column at analysis
    from logstash_filter_aggregate_spark.config import AggSpec, ConfigurationError, CorrelationRule

    cfg = example1_config(rules=(
        CorrelationRule("start", "logger = 'TASK_START'", map_action="create",
                        aggs=(AggSpec(name, "sum", "turn_idx"),)),
    ))
    with pytest.raises(ConfigurationError, match="reserved"):
        run_pipeline(spark, make_transcript(spark, [(0, "INFO - t - TASK_START - s", 0)]), cfg)


def test_collect_set_keeps_first_occurrences():
    # hashable values dedup through a dict, structs (dicts) by their JSON;
    # both keep first occurrences and stay linear in the list's length
    from logstash_filter_aggregate_spark.operators.correlate import _distinct

    assert _distinct([2, 8, 2, 3, 8]) == [2, 8, 3]
    assert _distinct([{"a": 1}, {"a": 2}, {"a": 1}]) == [{"a": 1}, {"a": 2}]
    assert _distinct(list(range(100_000)) * 2) == list(range(100_000))
