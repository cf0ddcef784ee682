"""Multi-pattern isolation (O24) + map-count gauge (O23)."""

from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig
from logstash_filter_aggregate_spark.plans.multi import map_count_gauge, run_multi
from tests.conftest import make_transcript


def test_same_task_id_isolated_across_patterns(spark):
    # one stream, two patterns: per-task SQL totals and per-task click
    # counts; identical task_id values must not share state
    rows = [
        (0, "INFO - t1 - TASK_START - start", 0),
        (1, "INFO - t1 - SQL - q - 10", 1),
        (2, "INFO - t1 - Clicked One", 2),
        (3, "INFO - t1 - TASK_END - end", 3),
        (4, "INFO - t1 - Clicked Two", 4),
    ]
    sql_cfg = PipelineConfig(
        task_id="%{taskid}",
        pattern_id="sql",
        rules=(
            CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
            CorrelationRule("upd", "logger = 'SQL'", map_action="update",
                            aggs=(AggSpec("total", "sum", "duration"),)),
            CorrelationRule("end", "logger = 'TASK_END'", map_action="update", end_of_task=True),
        ),
        timeout=600.0,
    )
    click_cfg = PipelineConfig(
        task_id="%{taskid}",
        pattern_id="clicks",
        rules=(CorrelationRule("click", "click_target is not null",
                               aggs=(AggSpec("clicks", "count"),)),),
        timeout=600.0,
    )
    outs = run_multi(spark, make_transcript(spark, rows), [sql_cfg, click_cfg])
    assert set(outs) == {"sql", "clicks"}
    done = outs["sql"].completed.collect()
    assert len(done) == 1 and done[0].total == 10 and done[0].nevents == 3
    # the click pattern never saw the SQL events, and vice versa
    clicks = outs["clicks"].sessions.collect()
    assert len(clicks) == 1 and clicks[0].clicks == 2
    gauge = {r.pattern_id: r for r in map_count_gauge(
        outs["sql"].sessions.unionByName(outs["clicks"].sessions, allowMissingColumns=True),
        warning_threshold=1,
    ).collect()}
    assert gauge["sql"].live_maps == 0 and gauge["clicks"].live_maps == 1
    assert gauge["clicks"].above_warning_threshold


def test_run_multi_checkpoints_one_shared_parse(spark, tmp_path):
    # more than one pattern shares the parse: every pattern's consuming
    # action reads the lazily checkpointed parsed blocks — the regex
    # parse subtree materializes ONCE for the whole pattern set instead
    # of once per pattern-action
    from pyspark.sql import functions as F

    rows = [
        (0, "INFO - t1 - TASK_START - start", 0),
        (1, "INFO - t1 - SQL - q - 10", 1),
        (2, "INFO - t1 - Clicked One", 2),
        (3, "INFO - t1 - TASK_END - end", 3),
    ]
    p = str(tmp_path / "mp_in")
    make_transcript(spark, rows).write.parquet(p)
    t = spark.read.parquet(p)
    a = PipelineConfig(
        task_id="%{taskid}", pattern_id="a",
        rules=(CorrelationRule("u", "logger = 'SQL'",
                               aggs=(AggSpec("total", "sum", "duration"),)),),
        timeout=600.0,
    )
    b = PipelineConfig(
        task_id="%{taskid}", pattern_id="b",
        rules=(CorrelationRule("c", "click_target is not null",
                               aggs=(AggSpec("clicks", "count"),)),),
        timeout=600.0,
    )
    outs = run_multi(spark, t, [a, b])
    for o in outs.values():
        plan = o.sessions._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
        assert "Scan parquet" not in plan, plan
    assert outs["a"].sessions.count() == 1 and outs["b"].sessions.count() == 1
    # single-pattern runs keep the plain lineage (no checkpoint)
    single = run_multi(spark, t, [a])
    plan = single["a"].sessions._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan, plan
