"""Physical-plan regression tests: the scale properties the engine
claims (single event-stream exchange, parquet column pruning, filter
pushdown, broadcast dimension joins) asserted on the actual Catalyst
plans, so a refactor that silently adds a shuffle or widens a scan
fails CI instead of surfacing at 100x the data.
"""

import re

import pytest

from logstash_filter_aggregate_spark.operators import dedup
from logstash_filter_aggregate_spark.plans.pipeline import (
    example1_config,
    example3_config,
    example5_config,
    run_pipeline,
)
from logstash_filter_aggregate_spark.sources.transcripts import (
    generate_transcripts,
    role_dim,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def transcripts_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plan_in") / "t.parquet")
    generate_transcripts(spark, n_convs=24, hot_convs=0).write.mode("overwrite").parquet(p)
    return p


@pytest.mark.parametrize(
    "cfg_fn",
    [
        lambda: example5_config(timeout=600.0, inactivity_timeout=300.0),
        lambda: example1_config(timeout=3600.0),  # gated: the scanned frame is persisted
    ],
)
def test_correlation_stage_single_task_exchange(spark, transcripts_path, cfg_fn):
    # the event stream crosses ONE exchange, on the task key alone, ahead
    # of the exact scan (the claim BENCH/BASELINE.md's scaling rests on).
    # The scan returns one row per map, so no exchange of session rows
    # follows it. Gated configs persist the scanned frame; the closed
    # frame's plan prints it, so the count below covers it too.
    t = spark.read.parquet(transcripts_path)
    out = run_pipeline(spark, t, cfg_fn())
    plan = _plan(out.sessions)
    assert plan.count("Exchange hashpartitioning(_task_id") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(_task_id#\d+, \d+\)", plan), plan


def _scan_lineage(plan: str) -> tuple[list[str], list[str]]:
    """The operators above the ``MapInArrow`` node of a printed physical
    plan (its ancestors) and below it (its subtree)."""
    lines = plan.splitlines()
    depth = [re.match(r"[\s:+|-]*", ln).end() for ln in lines]
    at = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    above, d = [], depth[at]
    for i in range(at - 1, -1, -1):
        if depth[i] < d:
            above.append(lines[i])
            d = depth[i]
    below = []
    for i in range(at + 1, len(lines)):
        if depth[i] <= depth[at]:
            break
        below.append(lines[i])
    return above, below


@pytest.mark.parametrize("cfg_fn", [
    lambda: example1_config(timeout=3600.0),
    lambda: example3_config(timeout=600.0),
], ids=["example1", "example3"])
def test_sessions_plan_ends_at_the_scan(spark, transcripts_path, cfg_fn):
    # the scan folds every map into its session row: in the sessions
    # plan no exchange and no aggregate sits above MapInArrow (the
    # watermark aggregate is a broadcast side branch, not an ancestor),
    # and exactly one task-key exchange sits below it
    t = spark.read.parquet(transcripts_path)
    above, below = _scan_lineage(_plan(run_pipeline(spark, t, cfg_fn()).sessions))
    assert not [ln for ln in above if "Exchange" in ln or "Aggregate" in ln], above
    assert sum("Exchange hashpartitioning(_task_id" in ln for ln in below) == 1, below


def test_exact_scan_is_one_arrow_call_per_partition(spark, transcripts_path):
    # the scan runs each partition in one mapInArrow call, not one pandas
    # call per task: the JVM clusters the rows by task (one hash
    # exchange) and sorts them in the scan's order, nulls last
    from logstash_filter_aggregate_spark.plans.pipeline import _LIVE_CACHES

    t = spark.read.parquet(transcripts_path)
    for cfg in (
        example5_config(timeout=600.0, inactivity_timeout=300.0),
        example1_config(timeout=3600.0),
    ):
        plan = _plan(run_pipeline(spark, t, cfg).sessions)
        assert "FlatMapGroupsInPandas" not in plan, plan
        assert "Window" not in plan, plan
        assert plan.count("MapInArrow") == 1, plan
        below = plan.split("MapInArrow", 1)[1]
        assert below.count("Exchange hashpartitioning(_task_id") == 1, plan
        assert re.search(
            r"Sort \[_task_id#\d+ ASC NULLS LAST, ts#\d+ ASC NULLS LAST, "
            r"conv_id#\d+ ASC NULLS LAST, turn_idx#\d+ ASC NULLS LAST\]",
            below,
        ), plan
    # example #1's guards: the scan emits _included itself, so the
    # sessionized frame (persisted for the gated rules) runs no window
    # and no second task exchange after the scan
    (guarded,) = [df for df in _LIVE_CACHES if "_included" in df.columns]
    plan = _plan(guarded)
    assert len(re.findall(r"Exchange hashpartitioning\(_task_id#\d+, \d+\)", plan)) == 1, plan
    assert "Window" not in plan, plan


def test_correlation_scan_prunes_unused_columns(spark, transcripts_path):
    # the correlation branch needs (conv_id, turn_idx, ts, text) — role
    # and tool must be pruned out of the parquet read by Catalyst
    t = spark.read.parquet(transcripts_path)
    out = run_pipeline(spark, t, example5_config(timeout=600.0, inactivity_timeout=300.0))
    plan = _plan(out.sessions)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    for ln in scan_lines:
        schema = ln.split("ReadSchema:", 1)[1]
        assert "role" not in schema and "tool" not in schema, ln


def test_filter_pushdown_reaches_parquet(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 80")
    plan = _plan(dedup.exact_dedup(docs))
    assert "PushedFilters: [" in plan
    assert "LessThan(doc_id,80)" in plan, plan


def test_dim_join_broadcasts(spark, transcripts_path):
    t = spark.read.parquet(transcripts_path)
    out = run_pipeline(
        spark, t, example1_config(timeout=3600.0), dims={"role": role_dim(spark)}
    )
    plan = _plan(out.passthrough)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_guard_gated_passthrough_plan_shapes(spark, transcripts_path):
    # Guard-gated configs (example1's update rule, cancel rules): the
    # passthrough reads the lazily CHECKPOINTED classified stream, so the
    # job parses the input exactly once: no parquet scan, no second
    # correlation subtree as the broadcast build side.
    from logstash_filter_aggregate_spark.config import CorrelationRule, PipelineConfig

    t = spark.read.parquet(transcripts_path)
    tagged_plan = _plan(
        run_pipeline(spark, t, example1_config(timeout=3600.0)).passthrough
    )
    assert "SortMergeJoin" not in tagged_plan, tagged_plan
    assert "BroadcastHashJoin" in tagged_plan, tagged_plan
    # no parquet scan anywhere: every leg reads the checkpointed blocks
    assert "Scan parquet" not in tagged_plan, tagged_plan
    assert tagged_plan.count("Scan ExistingRDD") >= 2, tagged_plan

    cancel_cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
            CorrelationRule("err", "err_tool is not null", map_action="update", cancel=True),
        ),
        timeout=3600.0,
    )
    # cancellation joins per-row inclusion from the scan (whatever join
    # the planner picks), but both sides still read the one checkpointed
    # stream
    cancel_plan = _plan(run_pipeline(spark, t, cancel_cfg).passthrough)
    assert "Join" in cancel_plan and "MapInArrow" in cancel_plan, cancel_plan
    assert "Window" not in cancel_plan, cancel_plan
    assert "Scan parquet" not in cancel_plan, cancel_plan

    # ungated configs plan no join and no window at all on the passthrough
    plain_plan = _plan(
        run_pipeline(spark, t, example3_config(timeout=600.0)).passthrough
    )
    assert "Join" not in plain_plan, plain_plan
    assert "Window" not in plain_plan, plain_plan


def test_guard_gated_cached_job_set_runs_correlation_once(spark, transcripts_path):
    # The narrow guarded frame is persisted, so the correlation stage
    # materializes ONCE across the whole job set: the passthrough then
    # stays scan-shaped, broadcasting the (persisted) exception-key set
    # onto the checkpointed stream, the build side an in-memory read, and
    # the same persisted frame feeds the sessions aggregation.
    from logstash_filter_aggregate_spark.plans.pipeline import release_pipeline_caches

    t = spark.read.parquet(transcripts_path)
    out = run_pipeline(spark, t, example1_config(timeout=3600.0))
    try:
        out.sessions.count()  # materializes the persisted correlation once
        pt_plan = _plan(out.passthrough)
        assert "BroadcastHashJoin" in pt_plan, pt_plan
        assert "InMemoryTableScan" in pt_plan, pt_plan
        # the stream side (everything before the in-memory build side) is
        # scan-shaped: the checkpointed blocks, no correlation windows —
        # InMemoryTableScan's printed CACHED plan repeats the correlation
        # subtree, so only the prefix is the live stream plan
        stream_side = pt_plan.partition("InMemoryTableScan")[0]
        assert "Scan ExistingRDD" in stream_side, pt_plan
        assert "Scan parquet" not in stream_side, pt_plan
        assert "Window" not in stream_side, pt_plan
        # the sessions aggregation reads the same persisted frame
        sess_plan = _plan(out.sessions)
        assert "InMemoryTableScan" in sess_plan, sess_plan
    finally:
        release_pipeline_caches()


def test_routed_write_parses_once(spark, transcripts_path, tmp_path):
    # One example1 routed write parses the input once: of the SQL plans
    # the run starts, only the lazy localCheckpoint of the classified
    # stream reads `text` from parquet (it starts no job; the first sink
    # job materializes it). The five sink writes read the checkpointed
    # blocks and the persisted frames, never the raw text again.
    from logstash_filter_aggregate_spark.sinks import write_routed

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def reads_text(plan: str) -> bool:
        # only file scans print a ReadSchema
        return re.search(r"ReadSchema: struct<(.*[<,])?text:", plan) is not None

    before = {e.executionId() for e in executions()}
    cfg = example1_config(timeout=3600.0)
    out = run_pipeline(spark, spark.read.parquet(transcripts_path), cfg)
    write_routed(out.as_dict(), str(tmp_path / "sinks"), cfg, input_desc="parse-once")
    new = [e for e in executions() if e.executionId() not in before]
    writes = [e for e in new if e.jobs().size() > 0]
    assert len(writes) == 5, [e.description() for e in new]
    assert not [e.description() for e in writes if reads_text(e.physicalPlanDescription())]
    parses = [e for e in new if reads_text(e.physicalPlanDescription())]
    assert len(parses) == 1 and parses[0].jobs().size() == 0, [e.description() for e in parses]


def test_no_cartesian_or_nested_loop_in_pipeline(spark, transcripts_path):
    # the watermark scalar rides a broadcast nested loop of exactly one
    # row; nothing else may cross-join
    t = spark.read.parquet(transcripts_path)
    out = run_pipeline(spark, t, example5_config(timeout=600.0, inactivity_timeout=300.0))
    plan = _plan(out.timeout)
    assert "CartesianProduct" not in plan, plan


def test_minhash_single_input_scan(spark):
    # candidate generation via explode+groupBy scans the documents table
    # ONCE (a self-join formulation would scan and re-hash it twice)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _optimized(dedup.minhash_lsh_candidates(docs, k=3, num_hashes=16, bands=8))
    assert plan.count("Relation [") == 1, plan


def test_push_previous_exact_has_no_global_window(spark):
    # the exact interleaved mode must compute its global index with the
    # two-pass ranking, never a partition-less window: every Window
    # operator in the plan must be partitioned by the task key
    from __spark_entry__ import _o16_push_previous_interleaved

    df = _o16_push_previous_interleaved(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    for ln in plan.splitlines():
        if ln.strip().startswith(("Window ", "+- Window", ":- Window")) or "RunningWindowFunction" in ln:
            assert "_task_id" in ln, ln


def test_bucketed_table_elides_task_exchange(spark, tmp_path):
    # a table bucketed by the task-id column must run the whole
    # correlation stage with ZERO event-stream exchange: the scan's
    # HashPartitioning propagates through the narrowed stream because
    # narrow_for_correlation aliases the raw attribute for single-field
    # task ids. Results must equal the plain-parquet run exactly.
    from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig
    from logstash_filter_aggregate_spark.plans.pipeline import run_pipeline
    from logstash_filter_aggregate_spark.sources.transcripts import (
        generate_transcripts,
        write_bucketed_table,
    )

    t = generate_transcripts(spark, n_convs=40)
    spark.sql("DROP TABLE IF EXISTS bt_transcripts")
    write_bucketed_table(
        t, "bt_transcripts", bucket_col="conv_id", buckets=8,
        path=str(tmp_path / "bt_transcripts"),
    )
    bt = spark.table("bt_transcripts")

    cfg = PipelineConfig(
        task_id="%{conv_id}",
        rules=(
            CorrelationRule(
                "sql", "logger = 'SQL'",
                aggs=(AggSpec("total", "sum", "coalesce(duration, 0)"),),
            ),
        ),
        timeout=1e9, inactivity_timeout=600.0,
        push_map_as_event_on_timeout=True,
    )
    out = run_pipeline(spark, bt, cfg)
    plan = out.sessions._jdf.queryExecution().executedPlan().toString()
    # only the tiny session-level routing window may exchange; the event
    # stream itself must ride the bucket partitioning
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 1, plan[:2000]

    plain = run_pipeline(spark, t, cfg)
    key = lambda r: (r.task_id, r.nevents, int(r.total or 0))  # noqa: E731
    assert sorted(map(key, out.sessions.collect())) == sorted(
        map(key, plain.sessions.collect())
    )
