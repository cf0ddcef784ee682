"""Order/partitioning independence — the key departure from the
reference's `-w 1` serial contract (docs/index.asciidoc:29-30;
SURVEY.md §5.2 item 4)."""

from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.plans.pipeline import (
    example1_config,
    example3_config,
    run_pipeline,
)
from logstash_filter_aggregate_spark.sources.transcripts import generate_transcripts


def _fingerprint(df):
    cols = sorted(df.columns)
    return sorted(map(str, df.select(*cols).collect()))


def test_repartition_invariance(spark):
    base = generate_transcripts(spark, n_convs=24, hot_convs=1, hot_turns=40)
    cfg = example1_config()
    a = run_pipeline(spark, base.repartition(1), cfg)
    b = run_pipeline(spark, base.repartition(16).sortWithinPartitions(F.rand(7)), cfg)
    assert _fingerprint(a.completed) == _fingerprint(b.completed)
    assert _fingerprint(a.sessions) == _fingerprint(b.sessions)


def test_shuffled_input_invariance_timeout_path(spark):
    base = generate_transcripts(spark, n_convs=24, hot_convs=1, hot_turns=40)
    cfg = example3_config(timeout=60.0)
    a = run_pipeline(spark, base.orderBy("ts"), cfg)
    b = run_pipeline(spark, base.orderBy(F.rand(13)), cfg)
    assert _fingerprint(a.timeout) == _fingerprint(b.timeout)
    assert _fingerprint(a.open) == _fingerprint(b.open)


def test_per_turn_text_equality_under_stable_ordering(spark):
    # BASELINE.json invariant: the passthrough stream preserves every
    # turn's text exactly, keyed by the stable (conv_id, turn_idx) order
    base = generate_transcripts(spark, n_convs=24, hot_convs=1, hot_turns=25)
    out = run_pipeline(spark, base.repartition(13), example1_config())
    got = {(r.conv_id, r.turn_idx): r.text for r in out.passthrough.collect()}
    expect = {(r.conv_id, r.turn_idx): r.text for r in base.collect()}
    assert got == expect
