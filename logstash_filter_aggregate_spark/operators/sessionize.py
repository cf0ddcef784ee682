"""Task-instance sessionization (SURVEY.md O3/O8-O12).

The reference's map lifecycle — create on the first event that may
create, delete on ``end_of_task`` (``aggregate.rb:240``), expire on
inactivity gap or absolute age when the task's next event arrives
(``aggregate.rb:420-445``) — runs as one exact per-task scan: the JVM
clusters the rows by task (one exchange of the event stream) and sorts
them; one Arrow-native call per partition walks each task with the
state machine streaming runs (``streaming/walk.py``). This is what
replaces the reference's global mutex + ``-w 1`` worker
(``docs/index.asciidoc:29-30``).
"""

from __future__ import annotations

import functools
import logging
import math

import numpy as np
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from logstash_filter_aggregate_spark.config import ORDER_COL, TASK_ID_COL, PipelineConfig
from logstash_filter_aggregate_spark.sqltext import any_of, double, with_columns
from logstash_filter_aggregate_spark.streaming.walk import EXPIRY, OPEN, walk_inputs, walk_scan

logger = logging.getLogger(__name__)

# Total order within a task partition: event time first (the reference's
# arrival order under the deterministic event-time mode, spec:374-390),
# then (conv_id, turn_idx) as the stable tiebreak (SURVEY.md §7 hard pt 4).
ORDER_BY = ["ts", "conv_id", "turn_idx"]

# columns the exact scan appends to its input rows
SCAN_COLS = (ORDER_COL, "_end_seg", "_gap_seg", "_age_seg", "_included", "_is_last")
_BOOL_COLS = ("_included", "_is_last")


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
    """Add ``_ord``, ``_end_seg``, ``_gap_seg``, ``_age_seg``, the
    map-action guard decision ``_included`` and ``_is_last`` to rows that
    participate in correlation, with the one exact per-task scan
    (:func:`_exact_age_seg`) in both time modes. One task-key exchange,
    plus one range exchange when ``push_previous_exact`` needs the global
    index."""
    part = classified.where(f"{TASK_ID_COL} IS NOT NULL AND _rule_id IS NOT NULL")

    # statically no rule can close a map (no end_of_task rows, no
    # custom_timeout expression that could evaluate to 0): the aggregate
    # stage's close columns are provably NULL (the docs-example-#3 shape:
    # click counting with timeout push)
    no_closes = not any(r.end_of_task for r in cfg.rules) and all(
        r.custom_timeout is None for r in cfg.rules
    )
    close_flag = "0" if no_closes else "CAST(((_end_flag = 1) OR (_custom_timeout = 0.0D)) AS INT)"
    part = with_columns(part, {"_close_flag": close_flag})

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
    ``mapInArrow`` then hands the sorted partition to
    :func:`_scan_partition` as a stream of Arrow batches, and each task's
    slice runs :func:`~logstash_filter_aggregate_spark.streaming.walk.walk_scan`
    — the state machine streaming runs, so batch and streaming share one
    implementation of the reference's filter hot path
    (``aggregate.rb:179-246``): the expiry check runs *before* the
    map-action guard with the map's own ``map_meta`` clocks
    (``aggregate.rb:194-199,420-445``), a duplicate ``create`` returns
    before touching ``lastevent_timestamp`` (``aggregate.rb:216`` precedes
    ``:220``), an ``update`` with no live map is a total no-op
    (``aggregate.rb:203``), and ``end_of_task`` / ``map_meta.timeout = 0``
    close the map only where the codeblock ran. The walk's ``code_ran``
    is ``_included``, so no guard window runs after the scan. The walk is
    a session-hop: O(#sessions · log n) numpy work per task, not
    per-row Python, and it is fuzz-pinned against an independent per-row
    reference simulator (``tests/test_timeouts.py::_reference_scan``).

    Processing-time mode runs the same scan with infinite clocks: no
    wall clock passes during a batch replay (config.py), so only closes
    and push_previous run breaks split maps.

    The scan holds at most one task plus one batch — bounded by the
    reference's own working-set assumption (one in-memory map per task,
    warning at 5000 maps, ``aggregate.rb:499-516``). Partial rows carry
    their own clocks: a resume seed creates its map at the carried
    ``_seed_creation_ts``, and a pre-reduced super-row refreshes the gap
    clock to its ``_seed_lastevent_ts``.
    """
    schema = part.schema
    event_time = cfg.timeout_timestamp_field is not None
    ts_type = schema["ts"].dataType
    if event_time and not isinstance(ts_type, (TimestampType, TimestampNTZType)):
        raise TypeError(f"the exact scan needs a timestamp 'ts' column, got {ts_type.simpleString()}")
    out_schema = StructType([f for f in schema.fields if f.name != "_gidx"] + [
        StructField(c, BooleanType() if c in _BOOL_COLS else IntegerType(), False) for c in SCAN_COLS
    ])
    clocks = (float(cfg.timeout), float(cfg.effective_inactivity_timeout)) if event_time else None
    scan = functools.partial(_scan_partition, clocks=clocks)
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
        .mapInArrow(scan, out_schema)
    )


def _scan_partition(batches, clocks: tuple[float, float] | None):
    """``mapInArrow`` body over one partition sorted by (task, ts,
    conv_id, turn_idx); ``clocks`` are the pattern's (timeout,
    inactivity), None in processing-time mode. Every task whose last row
    has arrived is scanned; the trailing task of a batch may continue in
    the next one, so it is carried until a batch starts a different task
    (or the partition ends)."""
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
            yield from _scan_tasks(pending, clocks)
        pending = [(batch.slice(k), starts[k:])]
    if pending:
        yield from _scan_tasks(pending, clocks)


def _epoch_seconds(col, null: float):
    """Seconds since the epoch as ``int64 ns / 1e9`` — the arithmetic the
    age and gap comparisons are pinned to; ``null`` fills null rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ns = col.cast(pa.timestamp("ns", col.type.tz)).cast(pa.int64())
    sec = pc.fill_null(ns, 0).to_numpy() / 1e9
    sec[col.is_null().to_numpy()] = null
    return sec


def _scan_tasks(pending: list, clocks: tuple[float, float] | None):
    """Scan whole tasks: ``pending`` holds (batch, task-start flags)
    pairs whose rows end on a task boundary. Builds the walk's input
    arrays once for the partition, runs one :func:`walk_scan` per task,
    and yields the input batches with :data:`SCAN_COLS` appended; the
    input columns pass through untouched, except the global index
    ``_gidx``, which the scan consumes as run breaks."""
    import pyarrow as pa

    tbl = pa.Table.from_batches([b for b, _ in pending])
    n = tbl.num_rows
    starts = np.flatnonzero(np.concatenate([s for _, s in pending]))
    bounds = np.append(starts, n)

    is_create, is_update, end_flag, cust_to, cust_in = walk_inputs(tbl.column, processing=clocks is None)
    if clocks is None:
        # processing time: no clock runs out; every row reads ts 0
        timeout = inactivity = math.inf
        ts = np.zeros(n)
        partial = [None, None]
    else:
        timeout, inactivity = clocks
        # a NaT ts reads as int64-min nanoseconds, as pandas casts it
        ts = _epoch_seconds(tbl.column("ts"), np.iinfo(np.int64).min / 1e9)

        def partial_clock(name):
            # a partial row's carried clock, ts on the other rows; None
            # (the walk's default: ts) when no row carries one
            if name not in tbl.column_names:
                return None
            sec = _epoch_seconds(tbl.column(name), np.nan)
            return np.where(np.isnan(sec), ts, sec)

        # partial rows: a resume seed creates its map at the carried
        # creation time, and a pre-reduced super-row's gap clock runs from
        # its last event
        partial = [partial_clock("_seed_creation_ts"), partial_clock("_seed_lastevent_ts")]
    brk = None
    if "_gidx" in tbl.column_names:
        # push_previous run break: another task's event arrived between
        # two of this task's rows and popped its map (aggregate.rb:205-208)
        gidx = tbl.column("_gidx").to_numpy()
        brk = np.zeros(n, dtype=bool)
        brk[1:] = gidx[1:] - gidx[:-1] > 1
    per_row = [*partial, brk]

    included = np.zeros(n, dtype=bool)
    is_last = np.zeros(n, dtype=bool)
    breaks: list = []
    for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        res = walk_scan(
            ts[s:e], is_create[s:e], is_update[s:e], end_flag[s:e], cust_to[s:e],
            cust_in[s:e], None, timeout, inactivity, *[c if c is None else c[s:e] for c in per_row],
        )
        included[s:e] = res.code_ran
        task_breaks, last = _label_breaks(res, s, e)
        breaks += task_breaks
        if last is not None:
            is_last[last[0] : last[1]] = True
    scanned = [*_session_labels(starts, breaks, n), included, is_last]
    keep = [i for i, c in enumerate(tbl.column_names) if c != "_gidx"]
    names = [tbl.column_names[i] for i in keep] + list(SCAN_COLS)
    off = 0
    for b, _ in pending:
        m = b.num_rows
        yield pa.RecordBatch.from_arrays(
            [b.column(i) for i in keep] + [pa.array(a[off : off + m]) for a in scanned], names=names,
        )
        off += m


def _label_breaks(res, s: int, e: int) -> tuple[list, tuple[int, int] | None]:
    """The rows of the task ``[s, e)`` where its labels change, each with
    the labels from there on, from :func:`walk_scan`'s close records:
    ``_end_seg`` counts the END/CT0 closes strictly before a row,
    ``_gap_seg`` the inactivity expiries and run breaks since the last of
    them, and ``_age_seg`` the age expiries since then (a row whose
    arrival expired the map starts the next label). The labels are unique
    per map and increase along the task.

    Walk session *k* lives in the *k*-th label run, since a run starts
    only where a map closes; the second value is the row span of the
    task's last session (None when no map was made), the rows
    ``_is_last`` marks."""
    out = [(s, 0, 0, 0)]
    end_seg = gap = age = 0
    for k, (_, _, kind, row) in enumerate(res.sessions):
        if kind == EXPIRY:
            if k in res.aged:
                age += 1
            else:
                gap += 1
            out.append((s + row, end_seg, gap, age))
        elif kind != OPEN and s + row + 1 < e:
            end_seg, gap, age = end_seg + 1, 0, 0
            out.append((s + row + 1, end_seg, gap, age))
    last = len(res.sessions) - 1
    if last < 0:
        return out, None
    return out, (out[last][0], out[last + 1][0] if last + 1 < len(out) else e)


def _session_labels(starts, breaks: list, n: int):
    """``(_ord, _end_seg, _gap_seg, _age_seg)`` int32 columns of a
    partition of ``n`` rows: the row number within its task (tasks begin
    at ``starts``), and the labels of :func:`_label_breaks` spread over
    their rows."""
    rows, *labels = np.array(breaks, dtype=np.int32).reshape(-1, 4).T
    lengths = np.diff(np.append(rows, n))
    task_start = np.repeat(starts.astype(np.int32), np.diff(np.append(starts, n)))
    return (
        np.arange(1, n + 1, dtype=np.int32) - task_start,
        *[np.repeat(lab, lengths) for lab in labels],
    )


def _fast_scan(ts, end_seg, seed_creation, age, timeout: float, inactivity: float) -> None:
    """Expiries since the last close of one all-``create_or_update`` task
    whose map closes at the last row of each ``end_seg`` block — the
    hot-task kernel timing's entry to :func:`walk_scan`; fills ``age`` in
    place."""
    n = len(ts)
    end_flag = np.append(end_seg[1:] != end_seg[:-1], False)
    none, nan = np.zeros(n, dtype=bool), np.full(n, np.nan)
    creation = ts if seed_creation is None else np.where(np.isnan(seed_creation), ts, seed_creation)
    res = walk_scan(ts, none, none, end_flag, nan, nan, None, timeout, inactivity, creation)
    _, _, gap, aged = _session_labels(np.zeros(1, dtype=np.int64), _label_breaks(res, 0, n)[0], n)
    age[:] = gap + aged
