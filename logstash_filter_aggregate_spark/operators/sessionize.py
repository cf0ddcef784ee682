"""Task-instance sessionization (SURVEY.md O8/O9/O10/O12).

The reference's map lifecycle — create on first event, delete on
``end_of_task`` (``aggregate.rb:240``), expire on inactivity gap or
absolute age when the next event of the task arrives
(``aggregate.rb:420-445``) — becomes window expressions over the task
partition.

Scale invariant: EVERY window here partitions by ``_task_id`` alone and
shares one sort order, so the whole stage runs on a single exchange +
sort (one shuffle of the event stream). Finer-grained state (per-segment
creation time, per-segment guard counts) is recovered with the
"running latest group-start" trick — ``max(when(group_start,
struct(ord, v)))`` over the running frame — which is legal because
segments are contiguous runs in task order, and age-cap crossings are
suffix-monotone within a segment (ts is non-decreasing, so
``ts - creation > timeout`` flips once). This is what replaces the
reference's global mutex + ``-w 1`` worker (``docs/index.asciidoc:29-30``).
"""

from __future__ import annotations

import functools

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
from logstash_filter_aggregate_spark.sqltext import any_of, case, double, with_columns
from logstash_filter_aggregate_spark.streaming.walk import EXPIRY, OPEN, walk_scan

# Total order within a task partition: event time first (the reference's
# arrival order under the deterministic event-time mode, spec:374-390),
# then (conv_id, turn_idx) as the stable tiebreak (SURVEY.md §7 hard pt 4).
ORDER_BY = ["ts", "conv_id", "turn_idx"]

# columns the exact scan appends to its input rows
SCAN_COLS = (ORDER_COL, "_end_seg", "_gap_seg", "_age_seg", "_included")


def _w():
    """The task window as a WindowSpec, for Column-API callers; the engine's
    own stages use the SQL text of :data:`_W`."""
    return W.partitionBy(TASK_ID_COL).orderBy(*ORDER_BY)


# the task window: every window of the stage shares it (one exchange + sort)
_W = f"PARTITION BY {TASK_ID_COL} ORDER BY {', '.join(ORDER_BY)}"


def _over(fn: str, frame: str | None = None) -> str:
    return f"{fn} OVER ({_W}{'' if frame is None else ' ' + frame})"


def _running(agg: str) -> str:
    return _over(agg, "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")


def _lag(c: str) -> str:
    return _over(f"lag({c})")


def _ts_sec() -> str:
    return "CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)"  # microsecond-precise


def sessionize(classified: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Add ``_ord``, ``_end_seg``, ``_gap_seg``, ``_age_seg`` and the
    map-action guard decision ``_included`` to rows that participate in
    correlation. Single task-partition exchange (plus one range exchange
    when ``push_previous_exact`` needs the global index). Each level of
    dependent windows is one projection over SQL text."""
    part = classified.where(f"{TASK_ID_COL} IS NOT NULL AND _rule_id IS NOT NULL")

    # statically no rule can close a map (no end_of_task rows, no
    # custom_timeout expression that could evaluate to 0): _close_flag
    # and _end_seg are provably constant 0 — skip their running-sum
    # window and drop _end_seg from every lag check downstream (the
    # docs-example-#3 shape: click counting with timeout push)
    no_closes = not any(r.end_of_task for r in cfg.rules) and all(
        r.custom_timeout is None for r in cfg.rules
    )
    close_flag = "0" if no_closes else "CAST(((_end_flag = 1) OR (_custom_timeout = 0.0D)) AS INT)"
    part = with_columns(part, {"_close_flag": close_flag})

    if cfg.exact_age_cap and cfg.timeout_timestamp_field is not None:
        # Window-free exact path: the scan's session-hop decides every
        # split and the guards, so no JVM window pass runs before or
        # after it. The stage is one exchange on the task key, one sort
        # in the scan's order, and one Arrow-native scan call per
        # partition. (push_previous_exact+exact_age_cap is rejected by
        # config validation, and processing-time mode never reaches
        # exact mode, so no run-break/proc-time interplay here.)
        return _exact_age_seg(part, cfg)

    if cfg.push_previous_exact:
        # exact interleaved push_previous (O16 strict mode): a map also
        # dies when ANOTHER task's event arrives between two of its own —
        # i.e. when consecutive same-task rows are not adjacent in the
        # GLOBAL order. operators/order.py supplies the index without a
        # partition-less window.
        from logstash_filter_aggregate_spark.operators.order import with_global_index

        part = with_global_index(part, ORDER_BY)

    # segment splits AFTER a close row: count closes strictly before me
    end_seg = "0" if no_closes else (
        "CAST(coalesce("
        + _over("sum(_close_flag)", "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
        + ", 0) AS INT)"
    )
    part = with_columns(part, {ORDER_COL: _over("row_number()"), "_end_seg": end_seg})

    run_break = None
    drop = ()
    if cfg.push_previous_exact:
        run_break = f"CAST(({_lag('_gidx')} IS NOT NULL AND (_gidx - {_lag('_gidx')} > 1)) AS INT)"
        drop = ("_gidx",)

    if cfg.timeout_timestamp_field is None:
        # processing-time mode: no wall clock passes during a batch replay
        # (config.py PipelineConfig docs) — only end/custom0 closes and
        # push_previous run breaks (not time-based) split
        gap_seg = "0" if run_break is None else _running_count(run_break)
        return _window_included(
            with_columns(part, {"_gap_seg": gap_seg, "_age_seg": "0"}, drop=drop), cfg
        )

    inactivity = double(cfg.effective_inactivity_timeout)
    ts_sec = _ts_sec()
    # partial rows (resume seeds / skew pre-reduction super-rows) span
    # [ts, _seed_lastevent_ts]; the gap to the NEXT row measures from
    # their last event, not their arrival position
    if "_seed_lastevent_ts" in part.columns:
        eff_last = f"coalesce(CAST(CAST(_seed_lastevent_ts AS TIMESTAMP) AS DOUBLE), {ts_sec})"
    else:
        eff_last = ts_sec
    gap_core = f"{ts_sec} - {_lag(eff_last)} > {inactivity}"
    if no_closes:
        # _end_seg is constant 0: same-segment is trivially true, and the
        # first row's lag(eff_last) NULL already nulls the comparison
        gap_flag = f"CAST(({gap_core}) AS INT)"
    else:
        gap_flag = f"CAST(({_lag('_end_seg')} = _end_seg AND ({gap_core})) AS INT)"
    if run_break is not None:
        # a push_previous run break pops the map exactly like
        # expiry-on-arrival — fold it into the gap split
        gap_flag = f"greatest({gap_flag}, {run_break})"
    # non-resetting cumulative count: ids only need to be unique within
    # (task, end_seg), which a task-wide running sum already is
    part = with_columns(part, {"_gap_seg": _running_count(gap_flag)}, drop=drop)

    return _window_included(_window_age_seg(part, cfg, passes=2, no_closes=no_closes), cfg)


def _running_count(flag: str) -> str:
    """Running sum of a 0/1 flag over the task window, NULL flags as 0."""
    return f"CAST(coalesce({_running(f'sum(coalesce({flag}, 0))')}, 0) AS INT)"


def seg_start_flag(with_end_seg: bool = True, with_age_seg: bool = True) -> str:
    """True on the first row of a (end, gap, age) segment — lag-based, so
    it stays on the single task-partition window. Callers that can prove
    a component constant (``_end_seg`` when no rule closes, ``_age_seg``
    on the first age pass) drop its lag from the check — each flag saves
    one window-function evaluation per row."""
    cols = ["_gap_seg"]
    if with_end_seg:
        cols.insert(0, "_end_seg")
    if with_age_seg:
        cols.append("_age_seg")
    first_row = f"{_lag(cols[0])} IS NULL"  # first row of the task
    return any_of([first_row, *[f"NOT ({_lag(c)} = {c})" for c in cols]])


def _window_included(sessions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """``map_action`` semantics (O3, ``aggregate.rb:202-217``) over the
    window labels:

    - the map is created by the first row in the session whose action can
      create (``create`` / ``create_or_update``);
    - ``update`` rows before creation are no-ops (``spec:72-84``);
    - ``create`` rows after creation are no-ops — duplicate start keeps
      the first map (``spec:52-68``);
    - sessions with no creating row never materialize a map at all.

    Stays on the single task-partition exchange (no shuffle on the full
    SESSION_KEY): the count of can-create rows seen *at the segment start*
    is propagated forward with the running latest-group-start trick, so
    per-segment creator detection is a subtraction of running counts.
    """
    if all(r.map_action == "create_or_update" for r in cfg.rules):
        # every matched row both creates and updates (aggregate.rb:202:
        # create_or_update never hits a guard return): the first row of
        # each segment creates the map and every row is included — no
        # guard windows needed
        return with_columns(sessions, {"_included": "true"})

    cc = "CAST((_action <> 'update') AS INT)"
    cc_incl = f"coalesce({_running(f'sum({cc})')}, 0)"         # can-creates at/before me (task-wide)
    cc_before_seg = _running(                                     # can-creates strictly before my segment
        f"max(CASE WHEN {seg_start_flag()} THEN struct({ORDER_COL} AS o, {cc_incl} - {cc} AS v) END)"
    )
    sessions = with_columns(sessions, {"_cc_in_seg": f"{cc_incl} - ({cc_before_seg}).v"})
    # _cc_in_seg counts can-create rows in my segment at-or-before me
    included = case(
        [
            (f"{cc} = 1 AND _cc_in_seg - {cc} = 0", "true"),     # I create the map
            ("_action = 'create'", "false"),                      # duplicate start: no-op (spec:52-68)
        ],
        "_cc_in_seg >= 1",                                        # update/c-o-u after a creator
    )
    return with_columns(sessions, {"_included": included}, drop=["_cc_in_seg"])


def _window_age_seg(
    part: DataFrame, cfg: PipelineConfig, passes: int, no_closes: bool = False
) -> DataFrame:
    """Iterated suffix split: within a segment ``ts - creation > timeout``
    is monotone in the row order, so each pass moves the crossed suffix
    into a new generation; pass *p* is exact when a segment age-splits at
    most *p* times. Strict comparison matches the reference's
    ``creation + timeout < now`` (``aggregate.rb:396``). All passes stay
    on the single task-partition window."""
    timeout = double(cfg.timeout)
    ts_sec = _ts_sec()
    # a resume seed row carries the prior run's true creation time; the map
    # ages from THAT, not from the seed's position ts (= prior lastevent_ts)
    # — otherwise a resumed map whose absolute timeout crosses during this
    # run splits late and resume(chunk2, open(chunk1)) diverges from the
    # single full run (the invariant plans/resume.py documents as tested).
    if "_seed_creation_ts" in part.columns:
        creation_src = f"coalesce(CAST(CAST(_seed_creation_ts AS TIMESTAMP) AS DOUBLE), {ts_sec})"
    else:
        creation_src = ts_sec
    for p in range(passes):
        # pass 0 sees the constant initial _age_seg — skip its lag; and
        # with no closing rules _end_seg is constant 0 in every pass
        grp_start = seg_start_flag(with_end_seg=not no_closes, with_age_seg=p > 0)
        creation = _running(
            f"max(CASE WHEN {grp_start} THEN struct({ORDER_COL} AS o, {creation_src} AS t) END)"
        )
        crossed = f"{ts_sec} - ({creation}).t > {timeout}"
        prev = "_age_seg" if p else "0"
        part = with_columns(
            part, {"_age_seg": f"CAST({prev} * 2 + CASE WHEN {crossed} THEN 1 ELSE 0 END AS INT)"}
        )
    return part


def _exact_age_seg(part: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Exact per-task scan, one Arrow-native call per partition (SURVEY.md
    §7 hard part 1).

    The JVM clusters the rows by task (one hash exchange on ``_task_id``)
    and sorts each partition by ``(_task_id, ts, conv_id, turn_idx)``,
    nulls last; ``mapInArrow`` then hands the sorted partition to
    :func:`_scan_partition` as a stream of Arrow batches, and each task's
    slice runs :func:`~logstash_filter_aggregate_spark.streaming.walk.walk_scan`
    — the state machine streaming runs, so batch and streaming share one
    implementation of the reference's filter hot path
    (``aggregate.rb:179-246``), including the orderings the window mode
    approximates: the expiry check runs *before* the map-action guard
    (``aggregate.rb:194-199``), a duplicate ``create`` returns before
    touching ``lastevent_timestamp`` (``aggregate.rb:216`` precedes
    ``:220``), an ``update`` with no live map is a total no-op
    (``aggregate.rb:203``), and ``end_of_task`` / ``map_meta.timeout = 0``
    close the map only where the codeblock ran. The walk's ``code_ran``
    is ``_included``, so no guard window runs after the scan. The walk is
    a session-hop: O(#sessions · log n) numpy work per task, not
    per-row Python, and it is fuzz-pinned against an independent per-row
    reference simulator (``tests/test_timeouts.py::_reference_scan``).

    The scan holds at most one task plus one batch — bounded by the
    reference's own working-set assumption (one in-memory map per task,
    warning at 5000 maps, ``aggregate.rb:499-516``). Partial rows carry
    their own clocks: a resume seed creates its map at the carried
    ``_seed_creation_ts``, and a pre-reduced super-row refreshes the gap
    clock to its ``_seed_lastevent_ts``.
    """
    schema = part.schema
    ts_type = schema["ts"].dataType
    if not isinstance(ts_type, (TimestampType, TimestampNTZType)):
        raise TypeError(f"exact_age_cap needs a timestamp 'ts' column, got {ts_type.simpleString()}")
    out_schema = StructType(schema.fields + [
        StructField(c, BooleanType() if c == "_included" else IntegerType(), False) for c in SCAN_COLS
    ])
    scan = functools.partial(
        _scan_partition,
        timeout=float(cfg.timeout),
        inactivity=float(cfg.effective_inactivity_timeout),
    )
    return (
        part.repartition(TASK_ID_COL)
        .sortWithinPartitions(*[F.asc_nulls_last(c) for c in (TASK_ID_COL, *ORDER_BY)])
        .mapInArrow(scan, out_schema)
    )


def _scan_partition(batches, timeout: float, inactivity: float):
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
            yield from _scan_tasks(pending, timeout, inactivity)
        pending = [(batch.slice(k), starts[k:])]
    if pending:
        yield from _scan_tasks(pending, timeout, inactivity)


def _epoch_seconds(col, null: float):
    """Seconds since the epoch as ``int64 ns / 1e9`` — the arithmetic the
    age and gap comparisons are pinned to; ``null`` fills null rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ns = col.cast(pa.timestamp("ns", col.type.tz)).cast(pa.int64())
    sec = pc.fill_null(ns, 0).to_numpy() / 1e9
    sec[col.is_null().to_numpy()] = null
    return sec


def _scan_tasks(pending: list, timeout: float, inactivity: float):
    """Scan whole tasks: ``pending`` holds (batch, task-start flags)
    pairs whose rows end on a task boundary. Builds the walk's input
    arrays once for the partition, runs one :func:`walk_scan` per task,
    and yields the input batches with :data:`SCAN_COLS` appended; the
    input columns pass through untouched."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = pa.Table.from_batches([b for b, _ in pending])
    n = tbl.num_rows
    starts = np.flatnonzero(np.concatenate([s for _, s in pending]))
    bounds = np.append(starts, n)

    def floats(name):
        return pc.fill_null(tbl.column(name), np.nan).to_numpy()

    def flags(mask):
        return pc.fill_null(mask, False).to_numpy(zero_copy_only=False)

    # a NaT ts reads as int64-min nanoseconds, as pandas casts it
    ts = _epoch_seconds(tbl.column("ts"), np.iinfo(np.int64).min / 1e9)

    def partial_clock(name):
        # a partial row's carried clock, ts on the other rows; None (the
        # walk's default: ts) when no row carries one
        if name not in tbl.column_names:
            return None
        sec = _epoch_seconds(tbl.column(name), np.nan)
        return np.where(np.isnan(sec), ts, sec)

    # partial rows: a resume seed creates its map at the carried creation
    # time, and a pre-reduced super-row's gap clock runs from its last event
    clocks = [partial_clock("_seed_creation_ts"), partial_clock("_seed_lastevent_ts")]
    action = tbl.column("_action")
    is_create, is_update = flags(pc.equal(action, "create")), flags(pc.equal(action, "update"))
    end_flag = flags(pc.equal(tbl.column("_end_flag"), 1))
    cust_to, cust_in = floats("_custom_timeout"), floats("_custom_inactivity")

    included = np.zeros(n, dtype=bool)
    breaks: list = []
    for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        res = walk_scan(
            ts[s:e], is_create[s:e], is_update[s:e], end_flag[s:e], cust_to[s:e],
            cust_in[s:e], None, timeout, inactivity, *[c if c is None else c[s:e] for c in clocks],
        )
        included[s:e] = res.code_ran
        breaks += _label_breaks(res.sessions, s, e)
    # exact mode folds gap splits into _age_seg; zero _gap_seg so the
    # aggregate stage's (end, gap, age) grouping key stays uniform
    ords, end_seg, age = _session_labels(starts, breaks, n)
    scanned = [ords, end_seg, np.zeros(n, dtype="int32"), age, included]
    off = 0
    for b, _ in pending:
        m = b.num_rows
        yield pa.RecordBatch.from_arrays(
            b.columns + [pa.array(a[off : off + m]) for a in scanned],
            names=b.schema.names + list(SCAN_COLS),
        )
        off += m


def _label_breaks(sessions: list, s: int, e: int) -> list:
    """The rows of the task ``[s, e)`` where its labels change, each with
    the labels from there on, from :func:`walk_scan`'s close records:
    ``_end_seg`` counts the END/CT0 closes strictly before a row and
    ``_age_seg`` the expiries since the last of them (a row whose arrival
    expired the map starts the next generation). The labels are unique
    per map and increase along the task, as the aggregate stage's
    ``_is_last`` needs."""
    out = [(s, 0, 0)]
    end_seg = age = 0
    for _, _, kind, row in sessions:
        if kind == EXPIRY:
            age += 1
            out.append((s + row, end_seg, age))
        elif kind != OPEN and s + row + 1 < e:
            end_seg, age = end_seg + 1, 0
            out.append((s + row + 1, end_seg, age))
    return out


def _session_labels(starts, breaks: list, n: int):
    """``(_ord, _end_seg, _age_seg)`` int32 columns of a partition of
    ``n`` rows: the row number within its task (tasks begin at
    ``starts``), and the labels of :func:`_label_breaks` spread over
    their rows."""
    rows, end_seg, age = np.array(breaks, dtype=np.int32).reshape(-1, 3).T
    lengths = np.diff(np.append(rows, n))
    task_start = np.repeat(starts.astype(np.int32), np.diff(np.append(starts, n)))
    return (
        np.arange(1, n + 1, dtype=np.int32) - task_start,
        np.repeat(end_seg, lengths),
        np.repeat(age, lengths),
    )


def _fast_scan(ts, end_seg, seed_creation, age, timeout: float, inactivity: float) -> None:
    """``_age_seg`` of one all-``create_or_update`` task whose map closes
    at the last row of each ``end_seg`` block — the hot-task kernel
    timing's entry to :func:`walk_scan`; fills ``age`` in place."""
    n = len(ts)
    end_flag = np.append(end_seg[1:] != end_seg[:-1], False)
    none, nan = np.zeros(n, dtype=bool), np.full(n, np.nan)
    creation = ts if seed_creation is None else np.where(np.isnan(seed_creation), ts, seed_creation)
    res = walk_scan(ts, none, none, end_flag, nan, nan, None, timeout, inactivity, creation)
    age[:] = _session_labels(np.zeros(1, dtype=np.int64), _label_breaks(res.sessions, 0, n), n)[2]
