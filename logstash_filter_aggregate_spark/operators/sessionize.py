"""Task-instance sessionization (SURVEY.md O3/O8-O12).

The reference's map lifecycle — create on the first event that may
create, delete on ``end_of_task`` (``aggregate.rb:240``), expire on
inactivity gap or absolute age when the task's next event arrives
(``aggregate.rb:420-445``) — runs as one exact per-task scan: the JVM
clusters the rows by task (one exchange of the event stream) and sorts
them; one Arrow-native call per partition walks its tasks with the
state machine streaming runs (``streaming/walk.py``), one walk per
batch of whole tasks, and folds each map into one session row. This is
what replaces the reference's global mutex + ``-w 1`` worker
(``docs/index.asciidoc:29-30``).
"""

from __future__ import annotations

import functools
import logging
import math
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from logstash_filter_aggregate_spark.config import KIND_COL, ORDER_COL, TASK_ID_COL, PipelineConfig
from logstash_filter_aggregate_spark.operators.correlate import (
    agg_specs,
    first_rows,
    narrow_for_correlation,
    session_agg_fields,
    session_columns,
    session_fold,
    session_values,
    value_col_name,
)
from logstash_filter_aggregate_spark.sqltext import any_of, double, with_columns
from logstash_filter_aggregate_spark.streaming.walk import CT0, END, EXPIRY, OPEN, walk_inputs, walk_scan

logger = logging.getLogger(__name__)

# Total order within a task partition: event time first (the reference's
# arrival order under the deterministic event-time mode, spec:374-390),
# then (conv_id, turn_idx) as the stable tiebreak (SURVEY.md §7 hard pt 4).
ORDER_BY = ["ts", "conv_id", "turn_idx"]


# _w and _window_age_seg are the single-pass window age flags the
# o09_single_pass_age_flags oracle of __spark_entry__.py certifies; the
# engine itself no longer runs them.

def _w():
    """The task window as a WindowSpec."""
    return W.partitionBy(TASK_ID_COL).orderBy(*ORDER_BY)


def _window_age_seg(part: DataFrame, cfg: PipelineConfig, passes: int) -> DataFrame:
    """Iterated suffix split over rows carrying ``_ord``, ``_end_seg``
    and ``_gap_seg``: within a segment ``ts - creation > timeout`` is
    monotone in the row order, so each pass moves the crossed suffix into
    a new ``_age_seg`` generation; pass *p* is exact when a segment
    age-splits at most *p* times. Strict comparison matches the
    reference's ``creation + timeout < now`` (``aggregate.rb:396``)."""
    over = f"OVER (PARTITION BY {TASK_ID_COL} ORDER BY {', '.join(ORDER_BY)}"
    ts_sec = "CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)"
    for p in range(passes):
        cols = ["_end_seg", "_gap_seg", *(["_age_seg"] if p else [])]
        grp_start = any_of(
            [f"lag(_end_seg) {over}) IS NULL", *[f"NOT (lag({c}) {over}) = {c})" for c in cols]]
        )
        creation = (
            f"max(CASE WHEN {grp_start} THEN struct({ORDER_COL} AS o, {ts_sec} AS t) END) "
            f"{over} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        crossed = f"{ts_sec} - ({creation}).t > {double(cfg.timeout)}"
        prev = "_age_seg" if p else "0"
        part = with_columns(
            part, {"_age_seg": f"CAST({prev} * 2 + CASE WHEN {crossed} THEN 1 ELSE 0 END AS INT)"}
        )
    return part


def sessionize(classified: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The maps of the rows that participate in correlation, from the one
    exact per-task scan (:func:`_exact_age_seg`) in both time modes: one
    session row per map, plus one effect row per row whose guard-gated
    code had a side effect; ``_included`` is false on session rows and
    true on effect rows.

    The scan reads the columns of
    :func:`~logstash_filter_aggregate_spark.operators.correlate.narrow_for_correlation`,
    which evaluates the inputs a stream that was not narrowed yet lacks.
    One task-key exchange, plus one range exchange when
    ``push_previous_exact`` needs the global index."""
    part = narrow_for_correlation(
        classified.where(f"{TASK_ID_COL} IS NOT NULL AND _rule_id IS NOT NULL"), cfg
    )
    if cfg.push_previous_exact:
        # exact interleaved push_previous (O16 strict mode): a map also
        # dies when ANOTHER task's event arrives between two of its own —
        # i.e. when consecutive same-task rows are not adjacent in the
        # GLOBAL order. operators/order.py supplies the index without a
        # partition-less window; the scan reads its jumps as run breaks.
        from logstash_filter_aggregate_spark.operators.order import with_global_index

        part = with_global_index(part, ORDER_BY)
    return _exact_age_seg(part, cfg)


def _task_partitions(df: DataFrame) -> int | None:
    """The partition count of the frame's hash partitioning on the task
    key alone (a table bucketed by the task-id column), None when its
    plan is not partitioned that way.

    Also None while the session lets the planner turn bucketed scans
    into plain ones (``autoBucketedScan``, on by default; ``get_spark``
    turns it off): no operator of the scan requires the clustering, so
    the planner would drop the bucketing and split tasks across
    partitions."""
    if df.sparkSession.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") != "false":
        return None
    p = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    parts = [p]
    if p.getClass().getSimpleName() == "PartitioningCollection":
        parts = [p.partitionings().apply(i) for i in range(p.partitionings().size())]
    for h in parts:
        if h.getClass().getSimpleName() == "HashPartitioning" and h.expressions().size() == 1:
            key = h.expressions().apply(0)
            if key.getClass().getSimpleName() == "AttributeReference" and key.name() == TASK_ID_COL:
                return h.numPartitions()
    return None


def _exact_age_seg(part: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Exact per-task scan, one Arrow-native call per partition (SURVEY.md
    §7 hard part 1).

    The JVM clusters the rows by task (one hash exchange on ``_task_id``,
    elided when the input is already hash-partitioned on it) and sorts
    each partition by ``(_task_id, ts, conv_id, turn_idx)``, nulls last;
    ``mapInArrow`` hands the sorted partition to :func:`_scan_partition`
    as Arrow batches, and each batch of whole tasks runs one
    :func:`~logstash_filter_aggregate_spark.streaming.walk.walk_scan`
    over its tasks, the state machine streaming runs too
    (``aggregate.rb:179-246``): expiry before the map-action guard on the
    map's own ``map_meta`` clocks (``aggregate.rb:194-199,420-445``), a
    duplicate ``create``
    that never touches ``lastevent_timestamp`` (``aggregate.rb:216``), a
    no-op ``update`` without a map (``aggregate.rb:203``), and closes
    only where the codeblock ran. It is fuzz-pinned against a per-row
    reference simulator (``tests/test_timeouts.py::_reference_scan``).

    The scan returns maps, not rows: each map's rows fold into one
    session row (:func:`_session_rows`, with the aggregation dictionary
    :func:`~logstash_filter_aggregate_spark.operators.correlate.session_values`),
    so no aggregate and no exchange follow it, and guard-gated side
    effects come out of the same call as effect rows (:func:`_effect_rows`).
    Processing time runs the same scan with infinite clocks (config.py).
    The scan holds at most one task plus one batch, the reference's own
    working-set bound (one map per task, ``aggregate.rb:499-516``).
    Partial rows carry their own clocks: a resume seed creates its map at
    ``_seed_creation_ts``, a pre-reduced super-row refreshes the gap clock
    to its ``_seed_lastevent_ts``.
    """
    schema = part.schema
    event_time = cfg.timeout_timestamp_field is not None
    ts_type = schema["ts"].dataType
    if event_time and not isinstance(ts_type, (TimestampType, TimestampNTZType)):
        raise TypeError(f"the exact scan needs a timestamp 'ts' column, got {ts_type.simpleString()}")
    effects = _effect_rules(cfg)
    effect_cols = [c for c in schema.names if c.startswith("_e_")]
    effect_cols += sorted({c for _, req in effects.values() for c in req})
    types = {
        "task_id": schema[TASK_ID_COL].dataType, "nevents": LongType(), "close_kind": StringType(),
        "conv_id": schema["conv_id"].dataType, "end_turn_idx": schema["turn_idx"].dataType,
        "_is_last": BooleanType(),
        **dict.fromkeys(("_end_seg", "_gap_seg", "_age_seg"), IntegerType()),
        **dict.fromkeys(("creation_ts", "lastevent_ts", "end_ts"), ts_type),
        **dict.fromkeys(("_session_timeout", "_session_inactivity"), DoubleType()),
        "_last_row": StructType([StructField("ts", ts_type), *[
            StructField(c, schema[c].dataType) for c in ("conv_id", "turn_idx")
        ]]),
    }
    out_schema = StructType([
        *[StructField(c, types[c]) for c in session_columns(cfg) if c in types],
        *session_agg_fields(part, cfg),
        # effect rows: the row's key, rule and effect inputs
        *[StructField(c, schema[c].dataType) for c in ("turn_idx", KIND_COL, *effect_cols)],
        StructField("_included", BooleanType()),
    ])
    plan = _ScanPlan(
        clocks=(float(cfg.timeout), float(cfg.effective_inactivity_timeout)) if event_time else None,
        specs=agg_specs(cfg),
        schema=to_arrow_schema(out_schema),
        effects=effects,
        effect_cols=effect_cols,
        last_row=cfg.push_previous_map_as_event,
    )
    n = _task_partitions(part)
    if n is None:
        logger.info("exact scan: added a hash exchange on %s", TASK_ID_COL)
        part = part.repartition(TASK_ID_COL)
    else:
        # the planner drops a repartition its child already satisfies
        logger.info("exact scan: reused the input's %d-way partitioning on %s", n, TASK_ID_COL)
        part = part.repartition(n, TASK_ID_COL)
    return (
        part.sortWithinPartitions(*[F.asc_nulls_last(c) for c in (TASK_ID_COL, *ORDER_BY)])
        .mapInArrow(functools.partial(_scan_partition, plan=plan), out_schema)
    )


def _effect_rules(cfg: PipelineConfig) -> dict[str, tuple[bool, list[str]]]:
    """The guard-gated rules whose code has a side effect the scan must
    hand out per row: ``rule id -> (every code-ran row is an effect,
    required input columns)``. A cancel or emit rule's every code-ran row
    is one (the row is consumed or emits); a rule with ``required`` aggs
    only its code-ran rows with a NULL required input (the
    ``_aggregateexception`` tag, ``aggregate.rb:229-237``)."""
    out = {}
    for r in cfg.rules:
        req = [value_col_name(r.rule_id, s.col) for s in r.aggs if s.required and s.col]
        if r.map_action != "create_or_update" and (r.cancel or r.emit or req):
            out[r.rule_id] = (bool(r.cancel or r.emit), req)
    return out


class _ScanPlan(NamedTuple):
    """What the scan's workers need; ``clocks`` is None in processing time."""

    clocks: tuple[float, float] | None
    specs: dict
    schema: object
    effects: dict
    effect_cols: list
    last_row: bool


def _scan_partition(batches, plan: _ScanPlan):
    """``mapInArrow`` body over one partition sorted by (task, ts,
    conv_id, turn_idx). Every task whose last row has arrived is scanned;
    the trailing task of a batch may continue in the next one, so it is
    carried until a batch starts a different task (or the partition
    ends)."""
    import pyarrow.compute as pc

    pending: list = []  # (batch, task-start flags) not yet scanned
    pending_tid = None  # task id of the last pending row
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        tid = batch.column(TASK_ID_COL)
        starts = np.empty(n, dtype=bool)
        starts[0] = not pending or tid[0].as_py() != pending_tid
        starts[1:] = pc.not_equal(tid.slice(1), tid.slice(0, n - 1)).to_numpy(zero_copy_only=False)
        pending_tid = tid[n - 1].as_py()
        firsts = np.flatnonzero(starts)
        if not len(firsts):
            pending.append((batch, starts))
            continue
        k = int(firsts[-1])  # the batch's trailing task starts here
        if k:
            pending.append((batch.slice(0, k), starts[:k]))
        if pending:
            yield from _scan_tasks(pending, plan)
        pending = [(batch.slice(k), starts[k:])]
    if pending:
        yield from _scan_tasks(pending, plan)


def _epoch_seconds(col, null: float):
    """Seconds since the epoch as ``int64 ns / 1e9`` — the arithmetic the
    age and gap comparisons are pinned to; ``null`` fills null rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ns = col.cast(pa.timestamp("ns", col.type.tz)).cast(pa.int64())
    sec = pc.fill_null(ns, 0).to_numpy() / 1e9
    sec[col.is_null().to_numpy(zero_copy_only=False)] = null
    return sec


class Scan(NamedTuple):
    """One :func:`scan` call: the chunk's columns (``column(name)``, an
    Arrow array or None), each row's session (``sid``, -1 where the row's
    code did not run) and, per session, its first row, walk close kind,
    close row (-1 unless END/CT0), labels (an ``(n, 3)`` array of
    ``_end_seg``, ``_gap_seg``, ``_age_seg``) and whether it is the last
    of its group."""

    column: object
    sid: np.ndarray
    first: np.ndarray
    kinds: list
    close_row: np.ndarray
    labels: np.ndarray
    is_last: np.ndarray


def scan(tbl, starts: np.ndarray, plan: _ScanPlan, brk: np.ndarray | None = None) -> Scan:
    """The kernel both tiers run: one :func:`walk_scan` over the groups of
    ``tbl`` (the rows from each of ``starts`` to the next: its tasks, or
    push_previous's runs between heartbeats), with the walk's rule inputs
    built from the columns ``classify`` gave its rows.

    Partial rows (rule ``_seed``: resume seeds, pre-reduced super-rows,
    streaming's carried maps) create their map at ``_seed_creation_ts``
    and run the gap clock from ``_seed_lastevent_ts``. ``brk`` flags the
    rows whose arrival pops the live map (push_previous's run breaks)."""
    n = tbl.num_rows

    @functools.cache
    def column(name):
        return tbl.column(name).combine_chunks() if name in tbl.column_names else None

    clocks = plan.clocks
    is_create, is_update, end_flag, cust_to, cust_in = walk_inputs(column, processing=clocks is None)
    if clocks is None:
        # processing time: no clock runs out; every row reads ts 0
        timeout = inactivity = math.inf
        ts = np.zeros(n)
        partial = [None, None]
    else:
        timeout, inactivity = clocks
        # a NaT ts reads as int64-min nanoseconds, as pandas casts it
        ts = _epoch_seconds(column("ts"), np.iinfo(np.int64).min / 1e9)

        def partial_clock(name):
            # a partial row's carried clock, ts on the other rows; None
            # (the walk's default: ts) when no row carries one
            if column(name) is None:
                return None
            sec = _epoch_seconds(column(name), np.nan)
            return np.where(np.isnan(sec), ts, sec)

        partial = [partial_clock("_seed_creation_ts"), partial_clock("_seed_lastevent_ts")]
    res = walk_scan(
        ts, is_create, is_update, end_flag, cust_to, cust_in, starts, timeout, inactivity, *partial, brk
    )
    sid = res.sess_id
    ran = np.flatnonzero(sid >= 0)
    first = ran[first_rows(sid[ran], len(res.sessions))]
    group = np.searchsorted(starts, first, "right") - 1
    rows, labels = _label_breaks(res, starts, group)
    kinds = [k for _, _, k, _ in res.sessions]
    close_row = np.array([r if k in (END, CT0) else -1 for _, _, k, r in res.sessions], dtype=np.int64)
    return Scan(column, sid, first, kinds, close_row, labels[np.searchsorted(rows, first, "right") - 1],
                np.diff(group, append=-1) != 0)


def _scan_tasks(pending: list, plan: _ScanPlan):
    """Scan whole tasks: ``pending`` holds (batch, task-start flags)
    pairs whose rows end on a task boundary. One :func:`scan` call over
    them yields the session rows and the effect rows as Arrow batches of
    ``plan.schema``."""
    import pyarrow as pa

    tbl = pa.Table.from_batches([b for b, _ in pending])
    brk = None
    if "_gidx" in tbl.column_names:
        # push_previous run break: another task's event arrived between
        # two of this task's rows and popped its map (aggregate.rb:205-208)
        gidx = tbl.column("_gidx").to_numpy()
        brk = np.zeros(len(gidx), dtype=bool)
        brk[1:] = gidx[1:] - gidx[:-1] > 1
    sc = scan(tbl, np.flatnonzero(np.concatenate([s for _, s in pending])), plan, brk)
    if sc.kinds:
        yield _batch(plan.schema, _session_rows(plan, sc), len(sc.kinds))
    effect = _effect_rows(plan, sc)
    if len(effect):
        cols = {c: sc.column(c).take(effect) for c in ("conv_id", "turn_idx", KIND_COL, *plan.effect_cols)}
        yield _batch(plan.schema, {**cols, "_included": np.ones(len(effect), dtype=bool)}, len(effect))


def _batch(schema, cols: dict, n: int):
    """An Arrow batch of ``schema`` with ``n`` rows: the ``cols`` it
    names (Arrow or numpy arrays), NULL elsewhere."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays([
        (c if isinstance(c, pa.Array) else pa.array(c)).cast(f.type) if (c := cols.get(f.name)) is not None
        else pa.nulls(n, f.type) for f in schema
    ], schema=schema)


# the close kind of each walk session, as a session row carries it
CLOSE_KINDS = {END: "end", CT0: "custom0", EXPIRY: "expiry", OPEN: "open"}


def _session_rows(plan: _ScanPlan, sc: Scan) -> dict:
    """The columns of the session rows, folded from the rows whose code
    ran: task, labels, close, ``map_meta`` (creation O4
    ``aggregate.rb:525-528`` at the map's first row and last event O5
    ``aggregate.rb:220-221``, partial rows counting with their carried
    clocks and event counts), the last-set per-map overrides
    (``aggregate.rb:243-246``) and the aggregation dictionary."""
    import pyarrow as pa
    import pyarrow.compute as pc

    column, sid, first = sc.column, sc.sid, sc.first
    n_sess = len(sc.kinds)
    ran = np.flatnonzero(sid >= 0)
    s = sid[ran]
    at = first_rows(s, n_sess)
    ts = column("ts")
    with_seeds = column("_seed_nevents") is not None

    def carried(name):
        # a partial row's carried value where it has one, ts elsewhere
        c = column(name) if with_seeds else None
        return (ts if c is None else pc.coalesce(c, ts)).take(ran)

    def override(name):
        v = column(name).take(ran)
        return session_fold(s, n_sess, pc.if_else(pc.greater(v, 0), v, pa.nulls(len(v), v.type)), "last")

    weight = np.ones(len(ran))
    if with_seeds:
        weight = pc.fill_null(column("_seed_nevents").take(ran), 1).to_numpy().astype(float)
    closed = pa.array(sc.close_row, mask=sc.close_row < 0)
    lastevent = carried("_seed_lastevent_ts")
    cols = {
        # a session is its first row's task (push_previous walks several
        # tasks in one group)
        "task_id": column(TASK_ID_COL).take(first),
        **dict(zip(("_end_seg", "_gap_seg", "_age_seg"), sc.labels.T)),
        "creation_ts": carried("_seed_creation_ts").take(at),
        "lastevent_ts": session_fold(s, n_sess, lastevent, "max"),
        "nevents": np.bincount(s, weights=weight, minlength=n_sess).astype(np.int64),
        "conv_id": column("conv_id").take(first),
        "close_kind": pa.array([CLOSE_KINDS[k] for k in sc.kinds], pa.string()),
        "end_ts": ts.take(closed),
        "end_turn_idx": column("turn_idx").take(closed),
        "_session_timeout": override("_custom_timeout"),
        "_session_inactivity": override("_custom_inactivity"),
        "_is_last": sc.is_last,
        "_included": np.zeros(n_sess, dtype=bool),
    }
    if plan.last_row:
        # the map's last row in arrival order: max (last event, conv_id,
        # turn_idx), NULLs lowest as in Spark's struct ordering
        key = pa.table({"s": s, "ts": lastevent, "conv_id": column("conv_id").take(ran),
                        "turn_idx": column("turn_idx").take(ran)})
        order = pc.sort_indices(
            key, sort_keys=[(c, "ascending") for c in key.column_names], null_placement="at_start"
        ).to_numpy()
        pick = pa.array(order[first_rows(s[order], n_sess, last=True)])
        cols["_last_row"] = pa.StructArray.from_arrays(
            [key.column(c).combine_chunks().take(pick) for c in ("ts", "conv_id", "turn_idx")],
            names=["ts", "conv_id", "turn_idx"],
        )
    types = {f.name: f.type for f in plan.schema}
    return cols | session_values(plan.specs, column, sid, n_sess, types)


def _effect_rows(plan: _ScanPlan, sc: Scan) -> np.ndarray:
    """The rows whose guard-gated code had a side effect
    (:func:`_effect_rules`): every code-ran row of a cancel or emit rule,
    and each code-ran row of a rule with ``required`` aggs whose required
    input is NULL."""
    column, sid = sc.column, sc.sid
    if not plan.effects:
        return np.zeros(0, dtype=np.int64)
    rule = column(KIND_COL).to_numpy(zero_copy_only=False)
    hit = np.zeros(len(sid), dtype=bool)
    for rid, (every, req) in plan.effects.items():
        m = rule == rid
        if not every:
            nulls = np.zeros(len(sid), dtype=bool)
            for c in req:
                nulls |= column(c).is_null().to_numpy(zero_copy_only=False)
            m &= nulls
        hit |= m
    return np.flatnonzero(hit & (sid >= 0))


def _label_breaks(res, starts: np.ndarray, group: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The rows where the labels change and the labels from each of them
    on (an ``(n, 3)`` int32 array), from :func:`walk_scan`'s close
    records; ``group`` is each session's group (the rows from one of
    ``starts`` to the next), and the labels restart at each group's
    start. ``_end_seg`` counts the END/CT0 closes strictly before a row,
    ``_gap_seg`` the inactivity expiries and run breaks since the last of
    them, and ``_age_seg`` the age expiries since then (a row whose
    arrival expired the map starts the next label). The labels are unique
    per map and increase along the group; a session's labels are those
    of its first row, since a label starts only where a map closes."""
    bounds = np.append(starts, len(res.code_ran)).tolist()
    rows, labels = list(starts), [(0, 0, 0)] * len(starts)
    at = -1
    for k, (g, (_, _, kind, row)) in enumerate(zip(group.tolist(), res.sessions)):
        if g != at:
            at, end_seg, gap, age = g, 0, 0, 0
        if kind == EXPIRY:
            if k in res.aged:
                age += 1
            else:
                gap += 1
            rows.append(row)
            labels.append((end_seg, gap, age))
        elif kind != OPEN and row + 1 < bounds[g + 1]:
            end_seg, gap, age = end_seg + 1, 0, 0
            rows.append(row + 1)
            labels.append((end_seg, gap, age))
    order = np.argsort(rows, kind="stable")
    return np.asarray(rows, dtype=np.int64)[order], np.asarray(labels, dtype=np.int32).reshape(-1, 3)[order]


def _fast_scan(ts, end_seg, seed_creation, age, timeout: float, inactivity: float) -> None:
    """Expiries since the last close of one all-``create_or_update`` task
    whose map closes at the last row of each ``end_seg`` block — the
    hot-task kernel timing's entry to :func:`walk_scan`; fills ``age`` in
    place."""
    n = len(ts)
    end_flag = np.append(end_seg[1:] != end_seg[:-1], False)
    none, nan = np.zeros(n, dtype=bool), np.full(n, np.nan)
    creation = ts if seed_creation is None else np.where(np.isnan(seed_creation), ts, seed_creation)
    one = np.zeros(1, dtype=np.int64)
    res = walk_scan(ts, none, none, end_flag, nan, nan, one, timeout, inactivity, creation)
    rows, labels = _label_breaks(res, one, np.zeros(len(res.sessions), dtype=np.int64))
    age[:] = np.repeat(labels[:, 1] + labels[:, 2], np.diff(np.append(rows, n)))
