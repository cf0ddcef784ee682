"""Pipeline configuration model (reference: plugin options + register-time
validation, ``lib/logstash/filters/aggregate.rb:17-150``).

The reference configures one ``aggregate`` filter block per event kind
(start/update/end) sharing a ``task_id`` pattern; here a
:class:`PipelineConfig` owns the shared pattern-level options and a list
of :class:`CorrelationRule` (one per filter block). Arbitrary eval'd Ruby
``code`` (``aggregate.rb:91``) is replaced by a declarative aggregation
dictionary (:class:`AggSpec`) plus SQL expressions — everything stays in
Catalyst codegen; no per-row Python.
"""

from __future__ import annotations

import re
from dataclasses import dataclass


class ConfigurationError(ValueError):
    """Raised at build time, mirroring LogStash::ConfigurationError
    (``aggregate.rb:86-133``)."""


def local_path(path: str) -> str:
    """``path`` (a plain path or a ``file:`` URI) as a driver-local path.

    Control-plane files (run manifests, the dedup writer lease, the
    compaction listing) go through ``os`` on
    the driver, where ``s3://b/x`` would become a directory ``./s3:/b/x``
    that excludes no writer on another host: other schemes raise."""
    scheme = re.match(r"([A-Za-z][A-Za-z0-9+.-]*):", path)
    if scheme is None or scheme.group(1).lower() == "file":
        return re.sub(r"^file:(//[^/]*)?", "", path, flags=re.I)
    raise ConfigurationError(
        f"{path!r}: control-plane files need a local or shared-filesystem path or a file: URI"
    )


_TASK_ID_REF = re.compile(r"%\{([A-Za-z_][A-Za-z0-9_]*)\}")

# The aggregation dictionary replacing the reference's eval'd `code`
# (SURVEY.md §2.1 O6). Each maps to a Catalyst built-in with partial+final
# aggregation for free.
AGG_FNS = frozenset(
    {
        "sum",       # map['x'] += event.get(f)        docs/index.asciidoc:120
        "count",     # map['clicks'] ||= 0; += 1       docs/index.asciidoc:170
        "min",
        "max",
        "first",     # map['x'] ||= event.get(f)       docs/index.asciidoc:136 (first non-null in turn order)
        "last",      # map['x'] = event.get(f)          (last non-null in turn order)
        "collect_list",  # map['towns'] << {...}        docs/index.asciidoc:231-233
        "collect_set",
        "avg",
    }
)


@dataclass(frozen=True)
class AggSpec:
    """One entry of a rule's aggregation map: ``name`` is the output map
    key (column), ``fn`` an AGG_FNS member, ``col`` a SQL expression over
    the parsed row (ignored for ``count``). ``required=True`` marks inputs
    the reference's code would crash on when missing (``map['x'] +=
    event.get('f')`` with nil, ``aggregate.rb:229-237``): a matched row
    with a NULL required input is tagged ``_aggregateexception`` in the
    passthrough stream (O19) — and contributes nothing, which is what the
    reference's aborted codeblock does too."""

    name: str
    fn: str
    col: str | None = None
    required: bool = False

    def __post_init__(self) -> None:
        if self.fn not in AGG_FNS:
            raise ConfigurationError(f"unknown aggregation fn {self.fn!r}; allowed: {sorted(AGG_FNS)}")
        if self.fn != "count" and not self.col:
            raise ConfigurationError(f"aggregation {self.name!r}: fn {self.fn!r} requires col")


@dataclass(frozen=True)
class CorrelationRule:
    """One ``aggregate`` filter block.

    ``match`` is a SQL boolean expression over the parsed columns that
    selects the rows this rule applies to (the reference's surrounding
    ``if [logger] == "TASK_START"`` conditional, ``docs/index.asciidoc:55``).
    """

    rule_id: str
    match: str
    map_action: str = "create_or_update"  # aggregate.rb:23,202-217 (O3)
    end_of_task: bool = False             # aggregate.rb:25,240 (O8)
    aggs: tuple[AggSpec, ...] = ()
    cancel: bool = False                  # event.cancel() docs:235 (U3)
    # map_meta.timeout / map_meta.inactivity_timeout overrides (O17,
    # aggregate.rb:56-57,243-246): SQL expressions evaluated per matched
    # row; non-null values override the pattern-level timeouts for the
    # session this row belongs to. `0` means evict immediately.
    custom_timeout: str | None = None
    custom_inactivity_timeout: str | None = None
    # new_event_block inline emission (O18, aggregate.rb:91,226): a dict of
    # output-column -> SQL expr; each matched row additionally emits one
    # derived event into the inline-code-eval bucket.
    emit: dict[str, str] | None = None

    def __post_init__(self) -> None:
        if self.map_action not in ("create", "update", "create_or_update"):
            raise ConfigurationError(f"rule {self.rule_id!r}: bad map_action {self.map_action!r}")


@dataclass(frozen=True)
class PipelineConfig:
    """Pattern-level options (reference: one per ``task_id`` pattern;
    multi-pattern isolation via ``pattern_id`` mirrors the two-level
    ``aggregate_maps`` hash, ``aggregate.rb:543-544`` O24)."""

    task_id: str                                   # e.g. "%{taskid}" or "%{conv_id}"
    rules: tuple[CorrelationRule, ...]
    pattern_id: str = "p0"
    timeout: float = 1800.0                        # DEFAULT_TIMEOUT aggregate.rb:64-65 (O9)
    inactivity_timeout: float | None = None        # defaults to timeout (aggregate.rb:377-379, O10)
    # Time model (aggregate.rb:39,486-488): "ts" = event-time mode (the
    # reference's timeout_timestamp_field, its only deterministic mode,
    # spec:374-390). None = PROCESSING-TIME mode (the reference default,
    # Time.now): a batch replay processes every event within seconds of
    # wall clock, so in the deterministic instantaneous-replay limit NO
    # map expires mid-run — gap/age splits are disabled; end_of_task,
    # guards, custom_timeout=0 eviction and push_previous (incl. the
    # final-flush tag, aggregate.rb:341-351) behave identically; all
    # still-live maps land in `open` (the shutdown persistence path,
    # aggregate.rb:154-175).
    timeout_timestamp_field: str | None = "ts"
    push_map_as_event_on_timeout: bool = False     # aggregate.rb:35 (O15)
    push_previous_map_as_event: bool = False       # aggregate.rb:37 (O16)
    # Exact interleaved push_previous (O16 strict mode): the reference
    # keeps at most ONE live map and pops it on EVERY task-id change in
    # arrival order (aggregate.rb:205-208,314-320), so interleaved
    # same-id events form SEPARATE maps per contiguous run. False (the
    # default) merges non-contiguous same-id events into one map — exact
    # for the documented contiguous-run use case (example #4) and
    # shuffle-free; True reproduces the run semantics exactly via a
    # distributed global index (operators/order.py), whose jumps the
    # scan reads as run breaks — one extra range exchange + a
    # per-partition stats pass.
    push_previous_exact: bool = False
    timeout_task_id_field: str | None = None       # aggregate.rb:33 (O13)
    timeout_tags: tuple[str, ...] = ()             # aggregate.rb:43 (O13)
    # timeout_code (O14, aggregate.rb:94-96): output-column -> SQL expr
    # over the aggregated timeout event, e.g. {"several_clicks": "clicks > 1"}.
    timeout_code: dict[str, str] | None = None
    # Deprecated no-op: every batch run is the exact per-task scan
    # (operators/sessionize.py). Accepted so existing callers keep
    # working; True warns with a DeprecationWarning.
    exact_age_cap: bool = False

    def __post_init__(self) -> None:
        if not _TASK_ID_REF.search(self.task_id):
            # aggregate.rb:86-88
            raise ConfigurationError("task_id pattern must contain at least one %{...} reference")
        if self.timeout <= 0:
            raise ConfigurationError("timeout must be > 0")
        if self.inactivity_timeout is not None and self.inactivity_timeout > self.timeout:
            # aggregate.rb:114-117
            raise ConfigurationError("inactivity_timeout must be lower than or equal to timeout")
        if not self.rules:
            raise ConfigurationError("at least one CorrelationRule is required")
        seen: set[str] = set()
        for r in self.rules:
            if r.rule_id in seen:
                raise ConfigurationError(f"duplicate rule_id {r.rule_id!r}")
            seen.add(r.rule_id)
            if r.end_of_task and r.map_action == "create":
                # A duplicate `create` on a live map returns BEFORE the
                # end_of_task deletion (aggregate.rb:216 precedes :240), so
                # such a row must neither close nor split the map. The
                # reference accepts the combination but never tests it, and
                # no oracle here pins it: rejecting it is honest where an
                # untested promise would not be.
                raise ConfigurationError(
                    f"rule {r.rule_id!r}: end_of_task with map_action='create' "
                    "is unsupported (a duplicate create must not close the "
                    "live map; use 'update' or 'create_or_update')"
                )
        if self.push_previous_map_as_event and any(
            r.map_action != "create_or_update" for r in self.rules
        ):
            # aggregate.rb:119-123: push_previous_map_as_event only with
            # one create_or_update filter per task_id pattern
            raise ConfigurationError(
                "push_previous_map_as_event requires map_action='create_or_update' rules"
            )
        if self.push_previous_exact and not self.push_previous_map_as_event:
            raise ConfigurationError(
                "push_previous_exact requires push_previous_map_as_event=True"
            )
        if self.exact_age_cap:
            import warnings

            warnings.warn(
                "exact_age_cap is a no-op: every batch run replays the "
                "reference exactly with the per-task scan",
                DeprecationWarning,
                stacklevel=3,
            )

    @property
    def effective_inactivity_timeout(self) -> float:
        return self.timeout if self.inactivity_timeout is None else self.inactivity_timeout

    def task_id_columns(self) -> list[str]:
        return _TASK_ID_REF.findall(self.task_id)


def validate_configs(configs: list[PipelineConfig]) -> None:
    """Cross-pattern validation (aggregate.rb:105-133): pattern_ids must be
    unique — each pattern owns its own state namespace."""
    seen: set[str] = set()
    for c in configs:
        if c.pattern_id in seen:
            raise ConfigurationError(f"duplicate pattern_id {c.pattern_id!r}")
        seen.add(c.pattern_id)


# Column names the engine reserves on intermediate frames.
KIND_COL = "_rule_id"
TASK_ID_COL = "_task_id"
SEG_COL = "_seg_id"
ORDER_COL = "_ord"
