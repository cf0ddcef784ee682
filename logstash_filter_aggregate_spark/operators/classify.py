"""Event classification + task-id extraction (SURVEY.md U2, O2).

The reference wraps each ``aggregate`` filter block in a pipeline
conditional (``if [logger] == "TASK_START"``, ``docs/index.asciidoc:55``)
and interpolates the ``task_id`` pattern per event
(``event.sprintf(@task_id)``, ``aggregate.rb:182``), skipping events
whose pattern doesn't resolve (``aggregate.rb:183``).

Here both are single-pass Catalyst expressions: a ``CASE WHEN`` chain
assigns each row the first matching rule (first-match-wins, mirroring
filter-block order), and the task-id pattern compiles to
``concat``/``cast`` — NULL when any referenced column is NULL, which
downstream treats exactly like the reference's skip.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.config import (
    KIND_COL,
    TASK_ID_COL,
    PipelineConfig,
)
from logstash_filter_aggregate_spark.sqltext import case, check_literals, ident, quote, with_columns

_TASK_ID_SPLIT = re.compile(r"(%\{[A-Za-z_][A-Za-z0-9_]*\})")


def task_id_sql(pattern: str) -> str:
    """Compile ``"%{a}-%{b}"`` to a concat that is NULL when any referenced
    column is NULL (so unresolved patterns drop out, ``aggregate.rb:183``).
    Numeric columns coerce to string — integer task ids behave identically
    (``spec/filters/aggregate_spec.rb:135-141``)."""
    parts: list[str] = []
    refs: list[str] = []
    for tok in _TASK_ID_SPLIT.split(pattern):
        if not tok:
            continue
        if tok.startswith("%{"):
            c = f"CAST({ident(tok[2:-1])} AS STRING)"
            parts.append(c)
            refs.append(c)
        else:
            parts.append(quote(tok))
    expr = f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]
    # concat already yields NULL if any part is NULL; guard the all-literal
    # case (rejected by config validation anyway).
    for r in refs:
        expr = case([(f"{r} IS NULL", "NULL")], expr)
    return expr


def task_id_expr(pattern: str) -> Column:
    """:func:`task_id_sql` as a Column."""
    return F.expr(task_id_sql(pattern))


def classify(parsed: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Add ``_rule_id`` (first matching rule or NULL), ``_task_id``, and
    per-rule attribute columns (``_end_flag``, ``_action``, ``_cancel``,
    ``_custom_timeout``, ``_custom_inactivity``), in one projection.

    A row participates in correlation iff ``_rule_id`` and ``_task_id``
    are both non-NULL; everything else passes through untouched
    (the reference simply never routes such events into the filter).
    """
    check_literals(parsed)
    matches = [f"({r.match})" for r in cfg.rules]

    def first_match(value, otherwise: str) -> str:
        # first-match-wins over the rules, in filter-block order
        expr = otherwise
        for m, r in reversed(list(zip(matches, cfg.rules))):
            expr = case([(m, value(r))], expr)
        return expr

    def override(expr: str | None) -> str:
        return "CAST(NULL AS DOUBLE)" if expr is None else f"CAST(({expr}) AS DOUBLE)"

    rule_id = first_match(lambda r: quote(r.rule_id), "CAST(NULL AS STRING)")
    matched = f"{rule_id} IS NOT NULL"
    return with_columns(
        parsed,
        {
            KIND_COL: rule_id,
            TASK_ID_COL: case([(matched, task_id_sql(cfg.task_id))]),
            "_end_flag": case(
                [(matched, first_match(lambda r: "1" if r.end_of_task else "0", "0"))], "0"
            ),
            "_action": first_match(lambda r: quote(r.map_action), "CAST(NULL AS STRING)"),
            "_cancel": case(
                [(matched, first_match(lambda r: "true" if r.cancel else "false", "false"))],
                "false",
            ),
            # the overrides of the rule _rule_id names, NULL where it sets none
            "_custom_timeout": first_match(lambda r: override(r.custom_timeout), "CAST(NULL AS DOUBLE)"),
            "_custom_inactivity": first_match(
                lambda r: override(r.custom_inactivity_timeout), "CAST(NULL AS DOUBLE)"
            ),
        },
    )
