"""Resumable runs (O21 analog) + routed sinks with lineage manifest."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.plans.pipeline import (
    example1_config,
    example3_config,
    example4_config,
    run_pipeline,
)
from logstash_filter_aggregate_spark.sources.transcripts import generate_transcripts
from logstash_filter_aggregate_spark.sinks import RunManifest, write_run
from tests.conftest import T0


def _fp(df):
    cols = sorted(df.columns)
    return sorted(map(str, df.select(*cols).collect()))


SPLIT = T0 + dt.timedelta(seconds=60)


@pytest.mark.parametrize("cfg_fn", [example1_config, example3_config])
def test_resume_equals_single_run(spark, cfg_fn):
    # split the stream at an arbitrary boundary; chunk1's open maps seed
    # chunk2; outputs must equal the unsplit run exactly (spec:268-307
    # persistence round-trip, generalized)
    cfg = cfg_fn(timeout=3600.0)
    full = generate_transcripts(spark, n_convs=36, hot_convs=1, hot_turns=30)
    c1 = full.where(F.col("ts") < F.lit(SPLIT))
    c2 = full.where(F.col("ts") >= F.lit(SPLIT))
    assert c1.count() > 0 and c2.count() > 0

    ref = run_pipeline(spark, full, cfg)
    a = run_pipeline(spark, c1, cfg)
    open_a = a.open.localCheckpoint()  # materialize: the "persisted maps"
    b = run_pipeline(spark, c2, cfg, open_maps=open_a)

    assert sorted(_fp(a.completed) + _fp(b.completed)) == _fp(ref.completed)
    assert _fp(b.open) == _fp(ref.open)
    # timeout pushes: sessions expired in chunk1 against its own watermark
    # may surface in run A instead of run B, but the union must match
    assert sorted(_fp(a.timeout) + _fp(b.timeout)) == _fp(ref.timeout)


TOWN_ROWS = [
    ("c1", 0, "user", "INFO - fr - Town - paris", "none", T0),
    ("c1", 1, "user", "INFO - fr - Town - lyon", "none", T0 + dt.timedelta(seconds=2)),
    ("c1", 2, "user", "INFO - fr - Town - nice", "none", T0 + dt.timedelta(seconds=70)),
    ("c1", 3, "user", "INFO - es - Town - madrid", "none", T0 + dt.timedelta(seconds=72)),
]
_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def test_resume_merges_collect_list(spark):
    # collect_list seed merge: open maps carry the prior array; same
    # towns-collecting rule but WITHOUT push_previous (maps stay open)
    cfg = example4_config(timeout=3600.0, push_previous_map_as_event=False)
    full = spark.createDataFrame(TOWN_ROWS, _SCHEMA)
    c1 = full.where(F.col("ts") < F.lit(SPLIT))
    c2 = full.where(F.col("ts") >= F.lit(SPLIT))

    a = run_pipeline(spark, c1, cfg)
    b = run_pipeline(spark, c2, cfg, open_maps=a.open.localCheckpoint())
    merged = {r.task_id: [t.town_name for t in r.towns] for r in b.open.collect()}
    assert merged == {"fr": ["paris", "lyon", "nice"], "es": ["madrid"]}


def test_push_previous_restart_loses_runs_like_reference(spark):
    # with push_previous, a shutdown force-flushes every map
    # (aggregate.rb:341-344 + shift()); restarting mid-run therefore
    # splits the fr run — exactly what the reference does across restarts
    cfg = example4_config(timeout=3600.0)
    full = spark.createDataFrame(TOWN_ROWS, _SCHEMA)
    c1 = full.where(F.col("ts") < F.lit(SPLIT))
    c2 = full.where(F.col("ts") >= F.lit(SPLIT))
    a = run_pipeline(spark, c1, cfg)
    assert a.open.count() == 0  # nothing left to persist
    b = run_pipeline(spark, c2, cfg, open_maps=a.open.localCheckpoint())
    pushed_a = {r.task_id: [t.town_name for t in r.towns] for r in a.timeout.collect()}
    pushed_b = {r.task_id: [t.town_name for t in r.towns] for r in b.timeout.collect()}
    assert pushed_a == {"fr": ["paris", "lyon"]}
    assert pushed_b == {"fr": ["nice"], "es": ["madrid"]}


def test_write_routed_sinks_and_manifest(spark, tmp_path):
    base = str(tmp_path / "out")
    cfg = example1_config(timeout=3600.0)
    t = generate_transcripts(spark, n_convs=24)
    out = run_pipeline(spark, t, cfg)
    m = write_run(spark, out, t, base, cfg, input_desc="gen24")

    assert m.sinks["completed"]["rows"] == out.completed.count()
    assert m.sinks["passthrough"]["rows"] == out.passthrough.count()
    back = spark.read.parquet(m.sinks["completed"]["path"])
    assert back.count() == m.sinks["completed"]["rows"]

    # lineage: manifest reload + resume skips completed sinks
    m2 = RunManifest.load(base, m.run_id)
    assert m2 is not None and all(v["done"] for v in m2.sinks.values())
    t0 = m2.sinks["completed"]["wall_s"]
    m3 = write_run(spark, out, t, base, cfg, input_desc="gen24")
    assert m3.sinks["completed"]["wall_s"] == t0  # untouched -> was skipped

    # per-partition lineage table exists
    pm = spark.read.parquet(m.sinks["_partitions"]["path"])
    assert {"input_file", "rows", "min_ts", "max_ts"} <= set(pm.columns)


def test_routed_run_is_lazy_and_leak_free(spark, tmp_path):
    # building the outputs starts no Spark job; the frames the run
    # persisted are released when write_routed returns AND when it raises
    # partway; a later run over input rewritten at the same path (outside
    # Spark, so no cache refresh hook fires) reads the new rows, not an
    # earlier run's cache
    import shutil

    from pyspark import StorageLevel

    from logstash_filter_aggregate_spark.plans import pipeline as P
    from logstash_filter_aggregate_spark.sinks import run_id_for, write_routed

    cfg = example1_config(timeout=3600.0)
    path = str(tmp_path / "in")
    generate_transcripts(spark, n_convs=12, hot_convs=0).write.parquet(path)
    t = spark.read.parquet(path)  # schema resolved before the jobs are counted
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    out = run_pipeline(spark, t, cfg)
    assert set(tracker.getJobIdsForGroup(None)) <= jobs_before
    persisted = list(P._LIVE_CACHES)
    assert len(persisted) == 2  # the guarded and the closed sessions frames

    def released():
        return all(df.storageLevel == StorageLevel.NONE for df in persisted)

    write_routed(out.as_dict(), str(tmp_path / "ok"), cfg, input_desc="ok")
    assert released()

    out = run_pipeline(spark, t, cfg)
    persisted = list(P._LIVE_CACHES)
    with pytest.raises(Exception):
        # the open bucket cannot be partitioned by a missing column: the
        # write raises after the earlier sinks landed
        write_routed(
            out.as_dict(), str(tmp_path / "fail"), cfg, input_desc="fail",
            partition_by={"open": ["no_such_column"]},
        )
    done = RunManifest.load(str(tmp_path / "fail"), run_id_for("fail", cfg))
    assert done is not None and done.sinks["completed"]["done"]
    assert released()

    # the input alternates between 12 and 30 conversations
    for n_convs, cfg in ((30, example3_config(timeout=600.0)), (12, example1_config(timeout=3600.0))):
        staged = str(tmp_path / f"staged{n_convs}")
        generate_transcripts(spark, n_convs=n_convs, hot_convs=0).write.parquet(staged)
        expected = run_pipeline(spark, spark.read.parquet(staged), cfg).sessions.count()
        # persisted and left pinned: no write releases it
        n_first = run_pipeline(spark, spark.read.parquet(path), cfg).sessions.count()
        shutil.rmtree(path)
        shutil.move(staged, path)
        second = run_pipeline(spark, spark.read.parquet(path), cfg).sessions.count()
        assert second == expected != n_first


def test_release_skips_frames_of_a_stopped_session():
    # a driver that stops its SparkSession and starts another (as the
    # benchmark's traced run does) leaves the last run's frames persisted
    # against the dead context; the next run_pipeline releases them
    # without failing. Runs in its own process: the test session stays up.
    import os
    import subprocess
    import sys

    script = """
from logstash_filter_aggregate_spark import get_spark
from logstash_filter_aggregate_spark.plans.pipeline import example1_config, run_pipeline
from logstash_filter_aggregate_spark.sources.transcripts import generate_transcripts

cfg = example1_config(timeout=3600.0)
for _ in range(2):
    s = get_spark(app_name="restart", master="local[1]", shuffle_partitions=1)
    out = run_pipeline(s, generate_transcripts(s, n_convs=4, hot_convs=0), cfg)
    assert out.sessions.count() > 0
    s.stop()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join([root, os.environ.get("PYTHONPATH", "")])}
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]


def test_input_files_of_warns_instead_of_hiding_errors(caplog):
    # a Spark-side listing failure leaves the manifest without input files
    # and says so; any other error is a bug and propagates
    from pyspark.errors import PySparkException

    from logstash_filter_aggregate_spark.sinks import input_files_of

    class Frame:
        def __init__(self, exc):
            self.exc = exc

        def inputFiles(self):
            raise self.exc

    with caplog.at_level("WARNING", logger="logstash_filter_aggregate_spark.sinks"):
        assert input_files_of(Frame(PySparkException("listing failed"))) == []
    assert "listing failed" in caplog.text
    with pytest.raises(TypeError):
        input_files_of(Frame(TypeError("not a DataFrame")))


def test_seed_schema_validation(spark):
    from logstash_filter_aggregate_spark.config import ConfigurationError
    from logstash_filter_aggregate_spark.plans.resume import seed_rows_from_open

    cfg = example1_config()
    bogus = spark.createDataFrame([("x",)], "task_id string")
    with pytest.raises(ConfigurationError, match="lacks aggregate columns"):
        seed_rows_from_open(bogus, cfg)


@pytest.mark.parametrize("exact", [False, True])
def test_resume_age_cap_crosses_after_split(spark, exact):
    # the absolute timeout crosses AFTER the split boundary: the resumed
    # run must age the seeded map from its true creation (_seed_creation_ts),
    # not from the seed row's position ts (= prior lastevent_ts)
    cfg = example3_config(timeout=100.0, inactivity_timeout=100.0, exact_age_cap=exact)
    rows = [
        ("c1", 0, "user", "INFO - t - Clicked One", "none", T0),
        ("c1", 1, "user", "INFO - t - Clicked Two", "none", T0 + dt.timedelta(seconds=50)),
        ("c1", 2, "user", "INFO - t - Clicked Three", "none", T0 + dt.timedelta(seconds=90)),
        ("c1", 3, "user", "INFO - t - Clicked Four", "none", T0 + dt.timedelta(seconds=120)),
    ]
    full = spark.createDataFrame(rows, _SCHEMA)
    c1 = full.where(F.col("ts") < F.lit(SPLIT))
    c2 = full.where(F.col("ts") >= F.lit(SPLIT))

    ref = run_pipeline(spark, full, cfg)
    a = run_pipeline(spark, c1, cfg)
    b = run_pipeline(spark, c2, cfg, open_maps=a.open.localCheckpoint())
    # full run: {0,50,90} expires when +120 arrives (age 120 > 100) → pushed
    assert [r.clicks for r in ref.timeout.collect()] == [3]
    assert sorted(_fp(a.timeout) + _fp(b.timeout)) == _fp(ref.timeout)
    assert _fp(b.open) == _fp(ref.open)


def test_resume_merges_avg(spark):
    # avg rides sum/count partials in the open bucket, so resumed runs
    # merge it exactly (a bare average is not a mergeable aggregate)
    from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig

    cfg = PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "sql", "logger = 'SQL'",
                aggs=(AggSpec("avg_dur", "avg", "duration"), AggSpec("n", "count")),
            ),
        ),
        timeout=3600.0,
    )
    rows = [
        ("c1", 0, "user", "INFO - t - SQL - q - 10", "none", T0),
        ("c1", 1, "user", "INFO - t - SQL - q - 20", "none", T0 + dt.timedelta(seconds=30)),
        ("c1", 2, "user", "INFO - t - SQL - q - 60", "none", T0 + dt.timedelta(seconds=90)),
    ]
    full = spark.createDataFrame(rows, _SCHEMA)
    c1 = full.where(F.col("ts") < F.lit(SPLIT))
    c2 = full.where(F.col("ts") >= F.lit(SPLIT))
    ref = run_pipeline(spark, full, cfg)
    a = run_pipeline(spark, c1, cfg)
    b = run_pipeline(spark, c2, cfg, open_maps=a.open.localCheckpoint())
    got = b.open.select("task_id", "avg_dur", "n").collect()
    exp = ref.open.select("task_id", "avg_dur", "n").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp] == [("t", 30.0, 3)]


def test_resume_roundtrips_through_parquet(spark, tmp_path):
    # the real persistence path: run A's open bucket lands in a parquet
    # sink, run B reads it back from disk and seeds from it
    cfg = example3_config(timeout=100.0, inactivity_timeout=100.0)
    rows = [
        ("c1", 0, "user", "INFO - t - Clicked One", "none", T0),
        ("c1", 1, "user", "INFO - t - Clicked Two", "none", T0 + dt.timedelta(seconds=50)),
        ("c1", 2, "user", "INFO - t - Clicked Three", "none", T0 + dt.timedelta(seconds=90)),
        ("c1", 3, "user", "INFO - t - Clicked Four", "none", T0 + dt.timedelta(seconds=120)),
    ]
    full = spark.createDataFrame(rows, _SCHEMA)
    c1 = full.where(F.col("ts") < F.lit(SPLIT))
    c2 = full.where(F.col("ts") >= F.lit(SPLIT))
    ref = run_pipeline(spark, full, cfg)
    a = run_pipeline(spark, c1, cfg)
    p = str(tmp_path / "open_a")
    a.open.write.mode("overwrite").parquet(p)
    b = run_pipeline(spark, c2, cfg, open_maps=spark.read.parquet(p))
    assert sorted(_fp(a.timeout) + _fp(b.timeout)) == _fp(ref.timeout)
    assert _fp(b.open) == _fp(ref.open)


def _routed_inputs(spark, tmp_path):
    path = str(tmp_path / "in")
    generate_transcripts(spark, n_convs=24, hot_convs=0).write.parquet(path)
    return path, example1_config(timeout=3600.0)


def test_sink_writes_keep_the_callers_local_properties(spark, tmp_path):
    # the sinks write from their own threads: every write still carries
    # the caller's job group and description, which is how an event log
    # attributes the run's stages; a caller without a description gets
    # each write described by its sink
    from logstash_filter_aggregate_spark.sinks import SINKS, write_routed

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def writes_since(before):
        return [e for e in executions() if e.executionId() not in before and e.jobs().size() > 0]

    path, cfg = _routed_inputs(spark, tmp_path)
    before = {e.executionId() for e in executions()}
    sc.setJobGroup("routed-group", "routed-run")
    try:
        out = run_pipeline(spark, spark.read.parquet(path), cfg)
        write_routed(out.as_dict(), str(tmp_path / "grouped"), cfg, input_desc="grouped")
        grouped = set(sc.statusTracker().getJobIdsForGroup("routed-group"))
    finally:
        sc._jsc.clearJobGroup()
    writes = writes_since(before)
    assert len(writes) == 5
    for e in writes:
        assert e.description() == "routed-run"
        it, jobs = e.jobs().keysIterator(), set()
        while it.hasNext():
            jobs.add(it.next())
        assert jobs and jobs <= grouped, (jobs, grouped)

    before = {e.executionId() for e in executions()}
    out = run_pipeline(spark, spark.read.parquet(path), cfg)
    write_routed(out.as_dict(), str(tmp_path / "plain"), cfg, input_desc="plain")
    assert sorted(e.description() for e in writes_since(before)) == sorted(
        f"write_routed:{s}" for s in SINKS
    )
    assert sc.getLocalProperty("spark.job.description") is None


def _has_stage(status, stage_id) -> bool:
    from py4j.protocol import Py4JJavaError

    try:
        status.lastStageAttempt(stage_id)
    except Py4JJavaError as e:
        if "NoSuchElementException" not in str(e.java_exception):
            raise
        return False
    return True


def test_concurrent_sink_writes_recompute_nothing(spark, tmp_path):
    # the concurrent writes share the persisted frames and the lazy
    # checkpoint: the run completes exactly the stages, and reads exactly
    # the input records, that writing one sink after another did (the
    # pinned values were measured with serial writes; a read of a
    # persisted frame counts its cached batches, one per non-empty
    # partition)
    from logstash_filter_aggregate_spark.sinks import write_routed

    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    path, cfg = _routed_inputs(spark, tmp_path)
    t = spark.read.parquet(path)
    sc.setLocalProperty("spark.jobGroup.id", "recompute")
    try:
        out = run_pipeline(spark, t, cfg)
        write_routed(out.as_dict(), str(tmp_path / "sinks"), cfg, input_desc="recompute")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = status.jobsList(None)
    stage_ids, skipped = set(), 0
    for job in (jobs.apply(i) for i in range(jobs.size())):
        if job.jobGroup().isDefined() and job.jobGroup().get() == "recompute":
            stage_ids |= {job.stageIds().apply(k) for k in range(job.stageIds().size())}
            skipped += job.numSkippedStages()
    # once the session's store holds spark.ui.retainedStages stages, each
    # cleanup evicts skipped stages first (they have no completion time),
    # so a skipped stage of this run may be gone; no more stages may be
    # missing than the jobs skipped, so an evicted COMPLETE one still fails
    missing = {i for i in stage_ids if not _has_stage(status, i)}
    assert len(missing) <= skipped
    stages = [status.lastStageAttempt(i) for i in stage_ids - missing]
    done = [s for s in stages if s.status().toString() == "COMPLETE"]
    assert (len(done), sum(s.inputRecords() for s in done)) == (11, 244)


def test_failed_sink_lets_the_others_land_and_reruns_alone(spark, tmp_path):
    # a middle sink fails: the sinks around it still land and checkpoint,
    # the first error is raised, and a rerun writes only the failed sink
    from logstash_filter_aggregate_spark.sinks import SINKS, run_id_for, write_routed

    path, cfg = _routed_inputs(spark, tmp_path)
    base = str(tmp_path / "sinks")
    out = run_pipeline(spark, spark.read.parquet(path), cfg)
    with pytest.raises(Exception, match="no_such_column"):
        write_routed(
            out.as_dict(), base, cfg, input_desc="middle",
            partition_by={"inline": ["no_such_column"]},
        )
    first = RunManifest.load(base, run_id_for("middle", cfg))
    assert list(first.sinks) == [s for s in SINKS if s != "inline"]
    assert first.finished_at is None

    out = run_pipeline(spark, spark.read.parquet(path), cfg)
    second = write_routed(out.as_dict(), base, cfg, input_desc="middle")
    assert list(second.sinks) == list(SINKS)
    assert second.finished_at is not None
    for s in SINKS:
        if s != "inline":
            assert second.sinks[s] == first.sinks[s]  # untouched -> skipped
    assert spark.read.parquet(second.sinks["inline"]["path"]).count() == second.sinks["inline"]["rows"]


def test_concurrent_manifest_updates_lose_no_sink(spark, tmp_path):
    # more writer threads than cores, switching as often as the
    # interpreter allows: every sink still lands in the manifest, with
    # its own row count, listed in output order
    import sys

    from logstash_filter_aggregate_spark.sinks import write_routed

    cfg = example1_config()
    outputs = {f"s{i:02d}": spark.range(i + 1) for i in range(12)}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        m = write_routed(outputs, str(tmp_path / "stress"), cfg, input_desc="stress")
    finally:
        sys.setswitchinterval(interval)
    for manifest in (m, RunManifest.load(str(tmp_path / "stress"), m.run_id)):
        assert list(manifest.sinks) == list(outputs)
        assert [v["rows"] for v in manifest.sinks.values()] == list(range(1, 13))


def test_run_manifest_refuses_remote_schemes(spark, tmp_path, monkeypatch):
    # the manifest is written with os on the driver: an s3:// base used to
    # land in ./s3:/... on the driver's disk. write_routed now raises,
    # naming the path, before it writes anything; a file: URI is a local
    # path
    import re

    from logstash_filter_aggregate_spark.config import ConfigurationError
    from logstash_filter_aggregate_spark.sinks import write_routed
    from tests.conftest import make_transcript

    monkeypatch.chdir(tmp_path)
    cfg = example1_config(timeout=3600.0)
    out = run_pipeline(spark, make_transcript(spark, [(0, "INFO - t - TASK_START - s", 0)]), cfg)
    with pytest.raises(ConfigurationError, match=re.escape("s3://bucket/run")):
        write_routed(out.as_dict(), "s3://bucket/run", cfg, input_desc="remote")
    assert not (tmp_path / "s3:").exists()
    m = RunManifest("r", "d", [], "f")
    m.save(f"file://{tmp_path}/base")
    assert RunManifest.load(f"file:{tmp_path}/base", "r") == m
    assert (tmp_path / "base" / "_lineage" / "r.json").exists()
