"""Config validation (O25) — reference register-time errors
(aggregate.rb:86-133; spec:15-31,299-306,324-330)."""

import pytest

from logstash_filter_aggregate_spark.config import (
    AggSpec,
    ConfigurationError,
    CorrelationRule,
    PipelineConfig,
    validate_configs,
)


def _rule(**kw):
    return CorrelationRule(rule_id=kw.pop("rule_id", "r"), match=kw.pop("match", "true"), **kw)


def test_task_id_requires_dynamic_reference():
    # aggregate.rb:86-88
    with pytest.raises(ConfigurationError, match="%"):
        PipelineConfig(task_id="static", rules=(_rule(),))


def test_inactivity_must_not_exceed_timeout():
    # aggregate.rb:114-117; spec:24-31
    with pytest.raises(ConfigurationError, match="inactivity"):
        PipelineConfig(task_id="%{x}", rules=(_rule(),), timeout=5, inactivity_timeout=10)


def test_bad_map_action():
    with pytest.raises(ConfigurationError, match="map_action"):
        _rule(map_action="upsert")


def test_bad_agg_fn():
    with pytest.raises(ConfigurationError, match="unknown aggregation fn"):
        AggSpec("x", "median", "v")


def test_agg_requires_col():
    with pytest.raises(ConfigurationError, match="requires col"):
        AggSpec("x", "sum")


def test_push_previous_requires_create_or_update():
    # aggregate.rb:119-123; spec:324-330
    with pytest.raises(ConfigurationError, match="push_previous"):
        PipelineConfig(
            task_id="%{x}",
            rules=(_rule(map_action="create"),),
            push_previous_map_as_event=True,
        )


def test_duplicate_rule_and_pattern_ids():
    with pytest.raises(ConfigurationError, match="duplicate rule_id"):
        PipelineConfig(task_id="%{x}", rules=(_rule(), _rule()))
    c1 = PipelineConfig(task_id="%{x}", rules=(_rule(),), pattern_id="p")
    c2 = PipelineConfig(task_id="%{y}", rules=(_rule(),), pattern_id="p")
    with pytest.raises(ConfigurationError, match="duplicate pattern_id"):
        validate_configs([c1, c2])


def test_inactivity_defaults_to_timeout():
    # aggregate.rb:377-379
    c = PipelineConfig(task_id="%{x}", rules=(_rule(),), timeout=60)
    assert c.effective_inactivity_timeout == 60


def test_guarded_window_mode_warns_once_at_config_time():
    # every batch run replays the reference exactly (the per-task scan),
    # so no config warns about a divergence: guarded rules build quietly
    # in both time modes. The one config-time warning left is the
    # deprecation of the no-op exact_age_cap flag, raised once per build.
    import warnings

    import logstash_filter_aggregate_spark.config as config

    assert not hasattr(config, "GuardedWindowModeWarning")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        PipelineConfig(task_id="%{x}", rules=(_rule(map_action="update"),))
        PipelineConfig(task_id="%{x}", rules=(_rule(),))
        PipelineConfig(
            task_id="%{x}", rules=(_rule(map_action="update"),),
            timeout_timestamp_field=None,
        )
    with pytest.warns(DeprecationWarning, match="exact_age_cap is a no-op") as rec:
        cfg = PipelineConfig(
            task_id="%{x}", rules=(_rule(map_action="update"),), exact_age_cap=True
        )
    assert len(rec) == 1 and rec[0].filename == __file__
    assert cfg.exact_age_cap
