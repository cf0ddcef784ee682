"""Hot-conversation skew pre-reduction (operators/skew.py)."""

import pytest
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import ConfigurationError
from logstash_filter_aggregate_spark.operators.skew import hot_task_counts, prereduce, prereduce_eligible
from logstash_filter_aggregate_spark.plans.pipeline import (
    example1_config,
    example3_config,
    example4_config,
    example5_config,
    run_pipeline,
)
from logstash_filter_aggregate_spark.sources.transcripts import generate_transcripts


def _fp(df):
    cols = sorted(df.columns)
    return sorted(map(str, df.select(*cols).collect()))


def test_eligibility():
    assert prereduce_eligible(example3_config())        # clicks, no end
    assert prereduce_eligible(example5_config())        # sums, no end
    assert not prereduce_eligible(example1_config())    # create/update/end guards


def test_prereduced_pipeline_matches_plain(spark):
    # gap-split exactness when bucket <= inactivity (hot conv included)
    cfg = example3_config(timeout=100_000.0, inactivity_timeout=120.0)
    t = generate_transcripts(spark, n_convs=24, hot_convs=1, hot_turns=500)
    plain = run_pipeline(spark, t, cfg)
    red = run_pipeline(spark, t, cfg, prereduce_s=120.0)
    assert _fp(plain.sessions) == _fp(red.sessions)
    assert _fp(plain.timeout) == _fp(red.timeout)


def test_prereduce_shrinks_hot_task(spark):
    cfg = example3_config(timeout=100_000.0, inactivity_timeout=120.0)
    t = generate_transcripts(spark, n_convs=4, hot_convs=1, hot_turns=2000)
    from logstash_filter_aggregate_spark.operators.classify import classify
    from logstash_filter_aggregate_spark.plans.pipeline import parse

    classified = classify(parse(t), cfg)
    reduced = prereduce(classified, cfg, bucket_s=120.0, allow_age_approx=True)
    hot_rows = reduced.where("conv_id = 'hot-0000'").count()
    # 2000 turns at 1s spacing / 120s buckets -> ~17 partial rows
    assert hot_rows <= 20
    # and the pipeline result over partials is identical on the hot conv
    plain = run_pipeline(spark, t, cfg).sessions.where("task_id = '900000'")
    red = run_pipeline(spark, t, cfg, prereduce_s=120.0).sessions.where("task_id = '900000'")
    assert _fp(plain) == _fp(red)


def test_prereduce_guards(spark):
    # guard actions with finite timeouts: guard precompute would be
    # unsound under mid-segment expiry -> explicit opt-in required
    with pytest.raises(ConfigurationError, match="assume_no_expiry"):
        prereduce(None, example1_config(timeout=3600.0))
    cfg = example3_config()
    with pytest.raises(ConfigurationError, match="bucket_s"):
        prereduce(None, cfg, bucket_s=10_000.0, allow_age_approx=True)
    with pytest.raises(ConfigurationError, match="allow_age_approx"):
        prereduce(None, cfg, bucket_s=60.0)
    with pytest.raises(ConfigurationError, match="order-insensitive"):
        prereduce(None, example4_config())  # collect_list is order-sensitive


def test_hot_task_counts(spark):
    cfg = example3_config()
    t = generate_transcripts(spark, n_convs=12, hot_convs=1, hot_turns=400)
    from logstash_filter_aggregate_spark.operators.classify import classify
    from logstash_filter_aggregate_spark.plans.pipeline import parse

    classified = classify(parse(t), cfg)
    hot = hot_task_counts(classified, threshold=300).collect()
    assert [r._task_id for r in hot] == ["900000"]


def _hot_sql_conv(spark, n_sql=800):
    """A hot example#1-shaped conversation with guard edge cases: an
    orphan SQL before the start, a duplicate start, an end marker, and an
    open tail after the end."""
    import datetime as dt
    from tests.conftest import T0

    rows = [("hot-sql", 0, "user", "INFO - 777 - SQL - early - 5", "sql", T0)]
    rows.append(("hot-sql", 1, "system", "INFO - 777 - TASK_START - start", "none",
                 T0 + dt.timedelta(seconds=1)))
    rows.append(("hot-sql", 2, "system", "INFO - 777 - TASK_START - start", "none",
                 T0 + dt.timedelta(seconds=2)))
    for i in range(n_sql):
        rows.append(("hot-sql", 3 + i, "assistant", f"INFO - 777 - SQL - q - {i % 7}", "sql",
                     T0 + dt.timedelta(seconds=3 + i)))
    rows.append(("hot-sql", 3 + n_sql, "system", "INFO - 777 - TASK_END - end", "none",
                 T0 + dt.timedelta(seconds=3 + n_sql)))
    for i in range(5):
        rows.append(("hot-sql", 4 + n_sql + i, "assistant", f"INFO - 777 - SQL - tail - {i}", "sql",
                     T0 + dt.timedelta(seconds=4 + n_sql + i)))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def test_prereduce_end_marked_matches_plain(spark):
    # example #1 shape (create/update guards + end_of_task) with a hot
    # conversation: the end-marked prereduce pre-splits by end count,
    # resolves guards in the pre-window, and must match the plain run
    cfg = example1_config(timeout=2e8)  # no-expiry shape (the batch example #1 bench config)
    t = generate_transcripts(spark, n_convs=24, hot_convs=0).unionByName(_hot_sql_conv(spark))
    plain = run_pipeline(spark, t, cfg)
    red = run_pipeline(spark, t, cfg, prereduce_s=120.0)
    assert _fp(plain.sessions) == _fp(red.sessions)
    assert _fp(plain.completed) == _fp(red.completed)
    assert _fp(plain.open) == _fp(red.open)


def test_prereduce_end_marked_shrinks_hot_task(spark):
    from logstash_filter_aggregate_spark.operators.classify import classify
    from logstash_filter_aggregate_spark.plans.pipeline import parse

    cfg = example1_config(timeout=2e8)
    t = _hot_sql_conv(spark, n_sql=800)
    classified = classify(parse(t), cfg)
    reduced = prereduce(classified, cfg, bucket_s=120.0)
    # 800 SQL rows at 1s spacing / 120s buckets -> ~8 partials (+ end row
    # + tail partial); the duplicate start and orphan SQL are resolved
    # away in the pre-window
    assert reduced.count() <= 12


def test_prereduce_sum_with_col_matches_plain(spark):
    # sum over a projected value column (_v_) through the partial-row path
    # (example #5 shape; count-only configs never exercised this)
    cfg = example5_config(timeout=100_000.0, inactivity_timeout=120.0)
    t = generate_transcripts(spark, n_convs=20, hot_convs=0)
    plain = run_pipeline(spark, t, cfg)
    red = run_pipeline(spark, t, cfg, prereduce_s=120.0)
    assert _fp(plain.sessions) == _fp(red.sessions)


def test_prereduced_exact_run_measures_gaps_from_last_event(spark):
    # a super-row's gap clock runs from its last event, not its arrival
    # position: the rows at 0 and 599 s share a 600 s bucket, so the row
    # at 601 s arrives 2 s after the map's last event and joins it — one
    # open map of 3, exactly as the plain exact run gives
    from tests.conftest import make_transcript

    cfg = example3_config(timeout=3600.0, inactivity_timeout=600.0, exact_age_cap=True)
    t = make_transcript(spark, [
        (0, "INFO - u1 - Clicked One", 0),
        (1, "INFO - u1 - Clicked Two", 599),
        (2, "INFO - u1 - Clicked Three", 601),
    ])
    plain = run_pipeline(spark, t, cfg)
    red = run_pipeline(spark, t, cfg, prereduce_s=600.0)
    assert [(r.close_reason, r.clicks) for r in plain.sessions.collect()] == [("open", 3)]
    assert _fp(plain.sessions) == _fp(red.sessions)
