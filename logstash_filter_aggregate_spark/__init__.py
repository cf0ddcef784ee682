"""PySpark-native task-correlation analytics engine.

A from-scratch, columnar re-expression of the task-correlation
semantics of ``logstash-plugins/logstash-filter-aggregate``
(reference at /root/reference, surveyed in SURVEY.md) as a batch-first
parse -> enrich -> route -> aggregate pipeline over tables of
multi-turn conversation/agent transcripts
``(conv_id, turn_idx, role, text, tool, ts)``.

Where the reference is a single-threaded, mutex-guarded state machine
(``lib/logstash/filters/aggregate.rb``), this engine is order-independent
and distributed: grok parse runs as one SQL-text projection of JVM
regex functions, the map lifecycle becomes one exact per-task scan over
Arrow batches after a task-key exchange that returns one row per map,
and results fan out to routed sinks.
"""

from logstash_filter_aggregate_spark.config import (
    AggSpec,
    CorrelationRule,
    PipelineConfig,
    ConfigurationError,
)
from logstash_filter_aggregate_spark.session import get_spark

__all__ = [
    "AggSpec",
    "CorrelationRule",
    "PipelineConfig",
    "ConfigurationError",
    "get_spark",
]

__version__ = "0.1.0"
