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

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from logstash_filter_aggregate_spark.config import ORDER_COL, TASK_ID_COL, PipelineConfig
from logstash_filter_aggregate_spark.sqltext import any_of, double, with_columns

# Total order within a task partition: event time first (the reference's
# arrival order under the deterministic event-time mode, spec:374-390),
# then (conv_id, turn_idx) as the stable tiebreak (SURVEY.md §7 hard pt 4).
ORDER_BY = ["ts", "conv_id", "turn_idx"]

# columns the exact scan appends to its input rows
SCAN_COLS = (ORDER_COL, "_end_seg", "_gap_seg", "_age_seg")


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
    """Add ``_ord``, ``_end_seg``, ``_gap_seg``, ``_age_seg`` to rows that
    participate in correlation. Single task-partition exchange (plus one
    range exchange when ``push_previous_exact`` needs the global index).
    Each level of dependent windows is one projection over SQL text."""
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
        # Window-free exact path: the scan's session-hop subsumes every
        # split, so no JVM window pass runs before it — `_gap_seg` would
        # be ZEROED by the scan, and `_ord`/`_end_seg` are one
        # arange/cumsum on the scan's own sorted arrays. The stage is one
        # exchange on the task key, one sort in the scan's order, and
        # one Arrow-native scan call per partition.
        # (push_previous_exact+exact_age_cap is rejected by config
        # validation, and processing-time mode never reaches exact mode,
        # so no run-break/proc-time interplay here.)
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
        return with_columns(part, {"_gap_seg": gap_seg, "_age_seg": "0"}, drop=drop)

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

    return _window_age_seg(part, cfg, passes=2, no_closes=no_closes)


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
    :func:`_scan_partition` as a stream of Arrow batches. Each task's
    slice runs one of these tiers on numpy views:

    - **fast path** (the common shape — every row ``create_or_update``,
      no per-map overrides): session-hop with numpy ``searchsorted``. Each
      session's end is found in O(log n) — the next inactivity gap from a
      precomputed flag array, the next age crossing by binary search on
      the sorted ``ts`` — so work is O(#sessions · log n), not O(rows).
      A 1M-row hot task with a handful of sessions costs a handful of
      hops instead of a million interpreted iterations.
    - **guarded / override tiers** (tasks with ``create``/``update``
      guard actions or live per-map overrides): the same vectorized
      session-hop, extended to reproduce the reference's filter hot path
      (``aggregate.rb:179-246``) exactly, including the orderings the
      window mode approximates: the expiry check runs *before* the
      map-action guard (``aggregate.rb:194-199``), a duplicate
      ``create`` returns before touching ``lastevent_timestamp``
      (``aggregate.rb:216`` precedes ``:220``) so it must NOT refresh the
      inactivity clock, and an ``update`` with no live map is a total
      no-op (``aggregate.rb:203``) that neither creates nor refreshes.
      Every tier is fuzz-pinned against an independent per-row reference
      simulator (``tests/test_timeouts.py::_reference_scan``).

    The scan holds at most one task plus one batch — bounded by the
    reference's own working-set assumption (one in-memory map per task,
    warning at 5000 maps, ``aggregate.rb:499-516``). Resume seed rows age
    from their carried ``_seed_creation_ts``, not their injection
    position.
    """
    schema = part.schema
    ts_type = schema["ts"].dataType
    if not isinstance(ts_type, (TimestampType, TimestampNTZType)):
        raise TypeError(f"exact_age_cap needs a timestamp 'ts' column, got {ts_type.simpleString()}")
    out_schema = StructType(
        schema.fields + [StructField(c, IntegerType(), False) for c in SCAN_COLS]
    )
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
    import numpy as np
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
    pairs whose rows end on a task boundary. Yields the input batches
    with ``_ord``, ``_end_seg``, ``_gap_seg`` and ``_age_seg`` appended;
    the input columns pass through untouched."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = pa.Table.from_batches([b for b, _ in pending])
    n = tbl.num_rows
    starts = np.flatnonzero(np.concatenate([s for _, s in pending]))
    bounds = np.append(starts, n)
    row_start = np.repeat(starts, np.diff(bounds))

    def floats(name):
        return pc.fill_null(tbl.column(name), np.nan).to_numpy()

    # a NaT ts reads as int64-min nanoseconds, as pandas casts it
    ts = _epoch_seconds(tbl.column("ts"), np.iinfo(np.int64).min / 1e9)
    close = pc.fill_null(tbl.column("_close_flag"), 0).to_numpy().astype("int64")
    # close rows strictly before me within my task
    before = np.cumsum(close) - close
    end_seg = before - before[row_start]
    cust_to, cust_in = floats("_custom_timeout"), floats("_custom_inactivity")
    live = (np.nan_to_num(cust_to) > 0) | (np.nan_to_num(cust_in) > 0)
    seed_creation = (
        _epoch_seconds(tbl.column("_seed_creation_ts"), np.nan)
        if "_seed_creation_ts" in tbl.column_names
        else None
    )
    action_col = tbl.column("_action")
    all_cou = pc.fill_null(pc.equal(action_col, "create_or_update"), False).to_numpy()
    age = np.zeros(n, dtype="int32")
    for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        t_ts, t_end, t_age = ts[s:e], end_seg[s:e], age[s:e]
        # seeds (finite _seed_creation_ts, at ANY position — overlapping
        # resumes inject several per task) ride through every tier: a seed
        # only perturbs the session whose CREATOR is the seed row, one
        # scalar lookup per session start in the hop loops
        t_seed = seed_creation[s:e] if seed_creation is not None else None
        overrides = bool(live[s:e].any())
        if not overrides and all_cou[s:e].all():
            _fast_scan(t_ts, t_end, t_seed, t_age, timeout, inactivity)
            continue
        # only the guarded and override tiers read the action strings
        action = action_col.slice(s, e - s).to_numpy()
        if not overrides:
            # guarded (create/update actions) but no live overrides: the
            # vectorized session-hop still applies (tier B)
            _guarded_scan(t_ts, t_end, action, t_seed, t_age, timeout, inactivity)
            continue
        # live per-map overrides (tier C): session-hop with override
        # regimes. Every-row constant overrides (a rule that always sets
        # the same map_meta timeout) collapse to tier B with substituted
        # clocks — the creator applies the override at session start, so
        # the whole session runs on it.
        t_to, t_in = cust_to[s:e], cust_in[s:e]
        eff = _constant_override_clocks(t_to, t_in, timeout, inactivity)
        if eff is not None:
            _guarded_scan(t_ts, t_end, action, t_seed, t_age, eff[0], eff[1])
        else:
            _override_scan(
                t_ts, t_end, action, t_to, t_in, t_seed, t_age, timeout, inactivity,
            )
    scanned = [
        np.arange(1, n + 1, dtype="int32") - row_start.astype("int32"),  # _ord: row number in task
        end_seg.astype("int32"),
        # exact mode folds gap splits into _age_seg; zero _gap_seg so the
        # aggregate stage's (end, gap, age) grouping key stays uniform
        np.zeros(n, dtype="int32"),
        age,
    ]
    off = 0
    for b, _ in pending:
        m = b.num_rows
        yield pa.RecordBatch.from_arrays(
            b.columns + [pa.array(a[off : off + m]) for a in scanned],
            names=b.schema.names + list(SCAN_COLS),
        )
        off += m


def _seed_or_ts(seed_creation, s: int, ts) -> float:
    """Session creation time at creator row ``s``: the row's carried
    ``_seed_creation_ts`` when finite (a resume seed re-creating a prior
    run's map, at any position — overlapping resumes inject several per
    task), else the row's own ts. One scalar lookup per session start."""
    if seed_creation is not None:
        sc = seed_creation[s]
        if sc == sc:  # non-NaN
            return float(sc)
    return float(ts[s])


def _fast_scan(ts, end_seg, seed_creation, age, timeout: float, inactivity: float) -> None:
    """All-create_or_update, no-override session-hop scan: splits per
    end_seg block; within a block, each session's end is found via numpy
    searchsorted (next precomputed inactivity gap / next age crossing), so
    work is O(#sessions · log n) instead of O(rows) interpreted Python."""
    import numpy as np

    n = len(ts)
    # gap-split candidates: rows whose delta to the previous row exceeds
    # the inactivity timeout (strict >, aggregate.rb:397)
    gap_rows = np.flatnonzero(np.diff(ts) > inactivity) + 1
    block_starts = np.concatenate(
        ([0], np.flatnonzero(end_seg[1:] != end_seg[:-1]) + 1, [n])
    )
    for bi in range(len(block_starts) - 1):
        s, e = int(block_starts[bi]), int(block_starts[bi + 1])
        cur = 0
        start = s
        while start < e:
            creation = _seed_or_ts(seed_creation, start, ts)
            # next inactivity gap strictly after the session start
            gi = np.searchsorted(gap_rows, start + 1)
            g = int(gap_rows[gi]) if gi < len(gap_rows) else e
            # next absolute-age crossing: first row with ts > creation+timeout
            a = start + 1 + int(
                np.searchsorted(ts[start + 1 : e], creation + timeout, side="right")
            )
            nxt = min(g, a, e)
            age[start:nxt] = cur
            cur += 1
            start = nxt


def _guarded_scan(ts, end_seg, action, seed_creation, age, timeout: float, inactivity: float) -> None:
    """Guarded (create/update actions) session-hop scan — the vectorized
    tier between ``_fast_scan`` and ``_override_scan``, valid when no
    per-map overrides are live. Same O(#sessions · log n) hop structure,
    extended with the guard semantics the reference's per-row state
    machine preserves (see ``_exact_age_seg``):

    - a duplicate ``create`` neither refreshes the inactivity clock nor
      re-creates (``aggregate.rb:216`` precedes ``:220``), so the gap
      measures from the last non-``create`` row of the session;
    - an ``update`` with no live map is a no-op (``aggregate.rb:203``)
      that cannot start a session — after a death, the next map starts at
      the next can-create row;
    - expiry-on-arrival still runs for every matched row, including rows
      the guard will then reject (``aggregate.rb:194-199``).

    Gap candidates are precomputed against ``prevref`` (last non-create
    row before me). Inside a session the candidate set is exact past the
    session's initial create-run (prevref then points inside the session)
    and a superset within it (stale prevref only overestimates the gap),
    so the run is re-checked directly against the session start — a
    binary search over a usually-tiny range.
    """
    import numpy as np

    n = len(ts)
    # .astype(bool) re-materializes the comparison result contiguously:
    # np.where over the raw object-comparison output runs ~25x slower
    # (measured 74ms vs 3ms per 1M rows on this box)
    nonref = (action == "create").astype(bool)
    is_update = (action == "update").astype(bool)
    # last-refresh ts before each row: ts is non-decreasing, so the LAST
    # refreshing row's ts equals the running MAX of refresh-row ts — a
    # single accumulate, no index gather
    ref_ts = np.where(nonref, -np.inf, ts)
    run = np.maximum.accumulate(ref_ts)
    gap_flag = np.zeros(n, dtype=bool)
    if n > 1:
        gap_flag[1:] = (ts[1:] - run[:-1] > inactivity) & np.isfinite(run[:-1])
    gap_rows = np.flatnonzero(gap_flag)
    cc_rows = np.flatnonzero(~is_update)           # can-create rows
    nonref_rows = np.flatnonzero(~nonref)          # rows that refresh `last`
    block_starts = np.concatenate(
        ([0], np.flatnonzero(end_seg[1:] != end_seg[:-1]) + 1, [n])
    )

    # bound methods: the hop loop runs once per session — keep its body
    # free of np.* wrapper overhead (measurable at ~3k sessions/task)
    gap_ss, n_gap = gap_rows.searchsorted, len(gap_rows)
    cc_ss, n_cc = cc_rows.searchsorted, len(cc_rows)
    nr_ss, n_nr = nonref_rows.searchsorted, len(nonref_rows)

    for bi in range(len(block_starts) - 1):
        s0, e = int(block_starts[bi]), int(block_starts[bi + 1])
        cur = 0
        ci = cc_ss(s0)
        s = int(cc_rows[ci]) if ci < n_cc and cc_rows[ci] < e else e
        age[s0:s] = cur
        while s < e:
            creation = _seed_or_ts(seed_creation, s, ts)
            # initial create-run: rows (s, ncr] still measure the gap from
            # ts[s] (nothing refreshed `last` yet)
            ri = nr_ss(s + 1)
            ncr = int(nonref_rows[ri]) if ri < n_nr and nonref_rows[ri] < e else e
            if ncr == s + 1 or s + 1 >= e:
                # common shape: the next row already refreshes `last`, so
                # the run check degenerates to one comparison
                g_run = s + 1 if (s + 1 < e and ts[s + 1] - ts[s] > inactivity) else e
            else:
                # rare multi-row create-run: binary search on the run view
                hi = min(ncr + 1, e)
                g_run = s + 1 + int(ts[s + 1 : hi].searchsorted(ts[s] + inactivity, "right"))
                if g_run >= hi:
                    g_run = e
            gi = gap_ss((ncr if ncr > s else s) + 1)
            g_flag = int(gap_rows[gi]) if gi < n_gap and gap_rows[gi] < e else e
            a = s + 1 + int(ts[s + 1 : e].searchsorted(creation + timeout, "right"))
            b = min(g_run, g_flag, a, e)
            age[s:b] = cur
            if b >= e:
                break
            # the map dies on row b's arrival; the next map starts at the
            # next can-create row (no-op updates in between share the new
            # generation label, exactly like the per-row replay)
            cur += 1
            ci = cc_ss(b)
            s = int(cc_rows[ci]) if ci < n_cc and cc_rows[ci] < e else e
            age[b:s] = cur


def _constant_override_clocks(cust_to, cust_in, timeout, inactivity):
    """If EVERY row carries the same (>0) override value — or none does —
    for each clock, the override semantics reduce to running the guarded
    scan with substituted defaults: every session's creator runs the code
    and applies the override at creation, so no session ever runs on the
    pattern default. Returns ``(eff_timeout, eff_inactivity)`` or None
    when the reduction doesn't apply."""
    import numpy as np

    out = []
    for arr, dflt in ((cust_to, timeout), (cust_in, inactivity)):
        live = np.isfinite(arr) & (arr > 0)
        if not live.any():
            out.append(dflt)
        elif live.all() and (arr == arr[0]).all():
            out.append(float(arr[0]))
        else:
            return None
    return tuple(out)


def _override_scan(
    ts, end_seg, action, cust_to, cust_in, seed_creation, age,
    timeout: float, inactivity: float,
) -> None:
    """Vectorized session-hop for tasks with LIVE per-map overrides
    (``map_meta.timeout``/``inactivity_timeout``, O17) — the tier that
    was per-row interpreted Python through round 3.

    Overrides are last-write-wins scalars applied only where the code
    runs (``aggregate.rb:243-246``), so a session decomposes into
    REGIMES of constant ``(eff_to, eff_in)`` delimited by non-``create``
    override rows (a duplicate ``create`` never runs the code, so it can
    neither refresh nor override). Per regime the next event is found
    with numpy primitives:

    - age crossing: binary search on the sorted ``ts`` for
      ``creation + eff_to``;
    - gap crossing: ``ts[i] - max(run_prev[i], last) > eff_in`` (with
      ``run_prev`` the global running max of non-create row ts; stale
      values from before the session floor out against the scalar
      ``last``) factors into two sorted-searchable conditions —
      ``ts[i] - run_prev[i] > eff_in`` is ROW-STATIC per ``eff_in``
      value, so its crossing rows are precomputed once per distinct
      effective inactivity (memoized, slice-scan fallback past 8
      distinct values), and ``ts[i] > last + eff_in`` is a binary
      search on the sorted ``ts``. The expiry check runs for every
      arriving row, including rows the guard then rejects
      (``aggregate.rb:194-199``);
    - next override row: binary search in the precomputed non-create
      override index array; rows re-asserting the values already in
      effect are skipped wholesale when each clock's override values are
      globally constant (the common "rule always sets the same
      map_meta.timeout" shape).

    Python-level work is O(#sessions + #effective override rows); the
    vectorized gap scans sum to O(rows) bandwidth. Fuzz-equivalent to
    the per-row replay (tests/test_timeouts.py override fuzz family).
    """
    import numpy as np

    n = len(ts)
    is_create = (action == "create").astype(bool)  # see _guarded_scan note
    is_update = (action == "update").astype(bool)
    has_to = np.isfinite(cust_to) & (cust_to > 0)
    has_in = np.isfinite(cust_in) & (cust_in > 0)
    # global running max of non-create ts: the refresh clock candidates
    run = np.maximum.accumulate(np.where(is_create, -np.inf, ts))
    run_prev = np.empty(n)
    run_prev[0] = -np.inf
    run_prev[1:] = run[:-1]
    gap_margin = ts - run_prev

    cc_rows = np.flatnonzero(~is_update)               # can-create rows
    cc_ss, n_cc = cc_rows.searchsorted, len(cc_rows)

    def next_cc(i: int) -> int:
        k = cc_ss(i)
        return int(cc_rows[k]) if k < n_cc else n
    # constant-where-present override values (per clock): lets the hop
    # skip override rows once the value is already in effect
    to_vals = cust_to[has_to]
    const_to = float(to_vals[0]) if len(to_vals) and bool((to_vals == to_vals[0]).all()) else None
    in_vals = cust_in[has_in]
    const_in = float(in_vals[0]) if len(in_vals) and bool((in_vals == in_vals[0]).all()) else None
    no_to, no_in = not len(to_vals), not len(in_vals)

    ts_ss = ts.searchsorted
    # Override EVENTS as plain python lists (row, to_val|None, in_val|None):
    # the hop loop visits an event only when it could CHANGE the effective
    # clocks — a re-assertion of the value already in effect is skipped in
    # ~100ns of pure-python pointer walk. Refreshes of the inactivity
    # clock need no visit at all: `last` before row i is
    # max(run_prev[i], ts[session creator]) — run_prev already carries
    # every later non-create refresh — so the dynamic gap threshold is
    # session-static per eff_in.
    ev_rows_arr = np.flatnonzero((has_to | has_in) & ~is_create)
    ev_rows: list = ev_rows_arr.tolist()
    _cto = cust_to[ev_rows_arr]
    _cin = cust_in[ev_rows_arr]
    _hto = has_to[ev_rows_arr]
    _hin = has_in[ev_rows_arr]
    ev_vals: list = [
        (
            float(_cto[k]) if _hto[k] else None,
            float(_cin[k]) if _hin[k] else None,
        )
        for k in range(len(ev_rows))
    ]
    n_ev = len(ev_rows)
    from bisect import bisect_right

    # first-crossing rows of the row-static half of the gap condition,
    # per distinct effective inactivity (bounded memo; rare configs with
    # many distinct override values fall back to a direct flatnonzero).
    # Each entry: (rows array, row-position searchsorted, ts[rows]
    # searchsorted, count).
    gap_cache: dict = {}

    def _gap_rows(eff):
        hit = gap_cache.get(eff)
        if hit is None:
            r = np.flatnonzero(gap_margin > eff)
            hit = (r, r.searchsorted, ts[r].searchsorted, len(r))
            if len(gap_cache) < 8:
                gap_cache[eff] = hit
        return hit

    block_starts = np.concatenate(
        ([0], np.flatnonzero(end_seg[1:] != end_seg[:-1]) + 1, [n])
    )

    for bi in range(len(block_starts) - 1):
        s0, e = int(block_starts[bi]), int(block_starts[bi + 1])
        cur = 0
        s = next_cc(s0) if s0 < n else n
        if s > e:
            s = e
        age[s0:s] = cur                                # leading no-map updates
        while s < e:
            creation = _seed_or_ts(seed_creation, s, ts)
            last_floor = float(ts[s])
            eff_to, eff_in = timeout, inactivity
            if has_to[s]:
                eff_to = float(cust_to[s])             # creator runs the code
            if has_in[s]:
                eff_in = float(cust_in[s])
            age[s] = cur
            p = s
            ei = bisect_right(ev_rows, s)              # first event after creator
            a_raw = int(ts_ss(creation + eff_to, "right"))
            a_eff_to = eff_to                          # value a_raw was computed for
            g_rows, g_pos_ss, g_ts_ss, g_n = _gap_rows(eff_in)
            gi_dyn = int(g_ts_ss(last_floor + eff_in, "right"))
            g_eff_in = eff_in
            clocks_final = (no_to or eff_to == const_to) and (no_in or eff_in == const_in)
            while True:
                # next event that would CHANGE a clock (skips are ~100ns)
                if clocks_final:
                    o = e
                    ei = n_ev
                else:
                    o = e
                    while ei < n_ev:
                        r = ev_rows[ei]
                        if r >= e:
                            break
                        tv, iv = ev_vals[ei]
                        if (tv is not None and tv != eff_to) or (
                            iv is not None and iv != eff_in
                        ):
                            o = r
                            break
                        ei += 1
                if eff_to != a_eff_to:
                    a_raw = int(ts_ss(creation + eff_to, "right"))
                    a_eff_to = eff_to
                if eff_in != g_eff_in:
                    g_rows, g_pos_ss, g_ts_ss, g_n = _gap_rows(eff_in)
                    gi_dyn = int(g_ts_ss(last_floor + eff_in, "right"))
                    g_eff_in = eff_in
                a = a_raw if a_raw > p else p + 1
                hi = min(a, o + 1, e)                  # gap check includes o itself
                g = e + 1
                if p + 1 < hi:
                    gi = int(g_pos_ss(p + 1))
                    if gi_dyn > gi:
                        gi = gi_dyn
                    if gi < g_n:
                        gr = int(g_rows[gi])
                        if gr < hi:
                            g = gr
                d = a if a < g else g
                if d <= o and d < e:
                    # map dies on row d's arrival (expiry runs before the
                    # guard and before any override application)
                    age[p + 1 : d] = cur
                    cur += 1
                    s = next_cc(d)
                    if s > e:
                        s = e
                    age[d:s] = cur
                    break
                if o < e:
                    # event survives its own expiry check: the code runs —
                    # apply the last-write-wins override
                    age[p + 1 : o + 1] = cur
                    tv, iv = ev_vals[ei]
                    if tv is not None:
                        eff_to = tv
                    if iv is not None:
                        eff_in = iv
                    ei += 1
                    p = o
                    clocks_final = (no_to or eff_to == const_to) and (
                        no_in or eff_in == const_in
                    )
                    continue
                age[p + 1 : e] = cur                   # session runs to block end
                s = e
                break


