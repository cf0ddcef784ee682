"""The SQL text the routed stages are built from: literals that reach the
engine unchanged, and a plan built in few Py4J round trips."""

import gc
import threading

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from logstash_filter_aggregate_spark.functions.grok import BASE_PATTERNS, _combined_alternation
from logstash_filter_aggregate_spark.plans.pipeline import (
    DEFAULT_GROKS,
    compile_groks,
    example1_config,
    release_pipeline_caches,
    run_pipeline,
)
from logstash_filter_aggregate_spark.sources.transcripts import generate_transcripts
from logstash_filter_aggregate_spark.sqltext import double, ident, quote, with_columns

# the characters a SQL string literal treats specially, and their escapes
_TRICKY = ["\\", "'", '"', "\\u0041", "\\U0001F600", "\\n", "\\'", "\n", "\r", "\t",
           "\x01", "\x00", "\\0", "\\%", "\\_", "$1", "%", "`", "--", "/*", "é", "😀"]


def _round_trip(spark, values):
    row = spark.range(1).selectExpr(*[f"{quote(v)} AS {ident(f'v{i}')}" for i, v in enumerate(values)]).first()
    return [row[f"v{i}"] for i in range(len(values))]


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.sampled_from(_TRICKY), st.text()), min_size=1, max_size=6).map("".join))
def test_quote_round_trips_any_string(spark, s):
    assert _round_trip(spark, [s]) == [s]


def test_quote_round_trips_every_grok_regex(spark):
    # the parse stage hands these to regexp_replace / rlike / regexp_extract
    # as SQL literals: each must reach the engine byte for byte
    groks = compile_groks()
    regex, total, _, _ = _combined_alternation(groks)
    values = [
        *BASE_PATTERNS.values(),
        *(p for _, p in DEFAULT_GROKS),
        *(g.regex for g in groks),
        regex,
        "\x01".join(f"${i}" for i in range(1, total + 1)),
    ]
    assert _round_trip(spark, values) == values


def test_double_and_with_columns(spark):
    row = spark.range(1).selectExpr(
        *[f"{double(x)} AS {ident(f'd{i}')}" for i, x in enumerate([120.0, -1.5, 1e100, float("inf")])]
    ).first()
    assert list(row) == [120.0, -1.5, 1e100, float("inf")]
    assert dict(spark.range(1).selectExpr(f"{double(0.1)} AS d").dtypes) == {"d": "double"}

    df = spark.range(1).selectExpr("id AS a", "2 AS b", "3 AS c")
    out = with_columns(df, {"B": "b * 10", "d": "a + c"}, drop=["c"])
    assert out.columns == ["a", "B", "d"]  # B replaces b in place, c is gone
    assert out.first().asDict() == {"a": 0, "B": 20, "d": 3}


def test_run_pipeline_plans_in_few_py4j_round_trips(spark, monkeypatch):
    # Building a warm example #1 run composes SQL text per stage: a few
    # hundred gateway round trips, where a Column expression per call
    # cost over five thousand.
    from py4j.clientserver import ClientServerConnection

    t = generate_transcripts(spark, n_convs=12, hot_convs=0)
    cfg = example1_config()
    for _ in range(2):
        run_pipeline(spark, t, cfg)
    calls = []
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        # py4j's own threads release Java proxies as Python drops them:
        # those messages are not the plan's round trips
        if threading.get_ident() == me:
            calls.append(1)
        return send(self, command)

    # no cyclic collection inside the count: it would release Java
    # proxies left over from earlier runs, each one more message
    gc.collect()
    gc.disable()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        run_pipeline(spark, t, cfg)
    finally:
        monkeypatch.undo()
        gc.enable()
        release_pipeline_caches()
    assert len(calls) <= 450, len(calls)


def test_verbatim_string_literals_are_rejected(spark):
    # a session that parses string literals verbatim would keep every
    # quoted regex's doubled backslashes and silently match nothing
    from logstash_filter_aggregate_spark.config import ConfigurationError

    t = generate_transcripts(spark, n_convs=2, hot_convs=0)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        with pytest.raises(ConfigurationError, match="escapedStringLiterals"):
            run_pipeline(spark, t, example1_config())
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert run_pipeline(spark, t, example1_config()).sessions.count() > 0
    release_pipeline_caches()
