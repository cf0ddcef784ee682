"""Vectorized state walk: the one implementation of the reference's
filter hot path (``aggregate.rb:179-246``) that batch and streaming
share.

The batch scan's kernel (``operators/sessionize.py::scan``) calls it
once for a sorted partition's pending tasks and once for a streaming
shard's micro-batch chunk (:mod:`streaming.shard`), with each group's
first row as an input (a task, or push_previous's rows between
heartbeats); the call runs the state machine over every group as one
numpy session-hop, with:

- **dynamic closes**: ``end_of_task`` and ``map_meta.timeout = 0``
  fire only where the codeblock runs (a duplicate ``create`` never
  runs it), so they cannot be precomputed as static segment splits;
- per-row **partial rows**: a resume seed or a streaming shard's carried
  cell re-creates a map with its carried creation time and last event,
  and a pre-reduced super-row refreshes the gap clock to its last event,
  not its arrival position;
- per-row ``code_ran`` labels and per-session close records coming
  out, which the kernel folds into one row per map with the
  aggregation dictionary (``operators/correlate.py::session_values``).

Python-level work is O(#groups + #sessions + #override events +
#closes), each step O(log n); every per-row computation is numpy.
Fuzz-pinned against independent per-row reference simulators
(``tests/test_streaming_walk.py`` and
``tests/test_timeouts.py::_reference_scan``) and by the engine-level
streaming batch-equality tests.
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

# session close kinds
END = "end"        # end_of_task rule row closed the map (aggregate.rb:240)
CT0 = "ct0"        # map_meta.timeout = 0 instant eviction (aggregate.rb:259-274)
EXPIRY = "expiry"  # event-time expiry on arrival (aggregate.rb:194-199)
OPEN = "open"      # survives its group -> state cell


def walk_inputs(column, processing: bool):
    """:func:`walk_scan`'s per-row rule inputs for one sorted chunk, from
    the columns ``classify`` gave its rows; ``column(name)`` returns one as
    an Arrow array: ``_action`` (the matched rule's ``map_action``),
    ``_end_flag`` (1 on ``end_of_task`` rows) and the matched rule's
    ``_custom_timeout`` / ``_custom_inactivity`` (NULL where it sets
    none). Returns numpy ``(is_create, is_update, end_flag, cust_to,
    cust_in)``, NaN where no override is set.

    ``processing``: no event-time clock runs out, so of the overrides
    only ``timeout = 0`` (an eviction, not a clock) is kept."""
    import pyarrow.compute as pc

    def flags(mask):
        return pc.fill_null(mask, False).to_numpy(zero_copy_only=False)

    def floats(name):
        return pc.fill_null(column(name), np.nan).to_numpy(zero_copy_only=False)

    action = column("_action")
    is_create, is_update = flags(pc.equal(action, "create")), flags(pc.equal(action, "update"))
    end_flag = flags(pc.equal(column("_end_flag"), 1))
    cust_to = floats("_custom_timeout")
    if processing:
        cust_to, cust_in = np.where(cust_to == 0.0, 0.0, np.nan), np.full(len(cust_to), np.nan)
    else:
        cust_in = floats("_custom_inactivity")
    return is_create, is_update, end_flag, cust_to, cust_in


class WalkResult:
    """Plain result bundle (no dataclass import churn in the hot path)."""

    __slots__ = ("code_ran", "sess_id", "sessions", "aged")

    def __init__(self, code_ran, sess_id, sessions, aged):
        self.code_ran = code_ran    # bool[n]: the codeblock ran for this row
        self.sess_id = sess_id      # int32[n]: session index, -1 where code didn't run
        self.sessions = sessions    # list[(creation, last_ts, kind, close_row)]
        self.aged = aged            # set: indices of the EXPIRY sessions the age clock closed


def walk_scan(
    ts: np.ndarray,
    is_create: np.ndarray,
    is_update: np.ndarray,
    end_flag: np.ndarray,
    cust_to: np.ndarray,
    cust_in: np.ndarray,
    starts: np.ndarray,
    timeout: float,
    inactivity: float,
    row_creation: np.ndarray | None = None,
    row_last: np.ndarray | None = None,
    row_break: np.ndarray | None = None,
) -> WalkResult:
    """Run the reference state machine over a chunk of sorted groups.

    Parameters: ``ts`` epoch-seconds (non-decreasing within a group),
    ``is_create`` / ``is_update`` guard-action flags, ``end_flag``
    end_of_task rows, ``cust_to`` / ``cust_in`` per-row override values
    (NaN = none; ``cust_to == 0`` is the instant-eviction marker),
    ``starts`` the sorted first rows of the groups (0 first; a group is
    the rows from one start to the next: a task, or push_previous's rows
    between heartbeats), and the pattern-default clocks. A map still live
    at the end of its group is recorded ``OPEN`` and the next group starts
    with no map. Partial rows add two optional per-row inputs:
    ``row_creation``, the creation time a row gives the map it creates (a
    resume seed's or a carried cell's creation, at any position), and
    ``row_last``, the row's last-event time, which the gap clock measures
    from once the row ran the code (a pre-reduced super-row's last
    event). Both default to ``ts``. ``row_break``
    flags rows whose arrival pops the live map before their guard, like
    an expiry (push_previous's run breaks); None means no row does.

    Semantics reproduced exactly (see ``_reference_scan`` in
    tests/test_timeouts.py and the per-row walk this replaced):
    expiry-on-arrival runs before the guard; a duplicate ``create``
    neither refreshes the gap clock nor runs the codeblock; an
    ``update`` with no live map is a total no-op; overrides are
    last-write-wins where the codeblock runs; ``end_of_task`` /
    ``timeout=0`` close only where the codeblock runs. An expiry whose
    row crossed the age clock and neither the inactivity clock nor a
    break is listed in ``aged``.
    """
    n = len(ts)
    if row_creation is None:
        row_creation = ts
    if row_last is None:
        row_last = ts
    code_ran = np.zeros(n, dtype=bool)
    sess_id = np.empty(n, dtype=np.int32)    # -1 off the code-ran rows, set at the end
    sessions: list[tuple] = []
    aged: set = set()
    bounds = [*np.asarray(starts).tolist(), n]   # group k: rows [bounds[k], bounds[k + 1])

    # the all-create_or_update shape skips the can-create index and the
    # running max: every row can create, and sorted ts is its own max
    cc_rows = (~is_update).nonzero()[0] if is_update.any() else None  # can-create rows

    def next_cc(i: int) -> int:
        if cc_rows is None:
            return i
        k = cc_rows.searchsorted(i)
        return int(cc_rows[k]) if k < len(cc_rows) else n

    # running max of non-create row last-event times within each group:
    # the gap-clock refresh candidates. Rows that never ran the code (no-map
    # updates between sessions) are included but harmless: their ts <= the
    # next session creator's, so max(run_prev, last_floor) floors them out.
    run = np.where(is_create, -np.inf, row_last) if is_create.any() else row_last
    if run is not ts:
        # (group, value) pairs as complex numbers, which numpy's maximum
        # orders lexicographically: the accumulate restarts at each group
        key = np.empty(n, dtype=complex)
        key.real = np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))
        key.imag = run
        run = np.maximum.accumulate(key).imag
    run_prev = np.empty(n)
    run_prev[1:] = run[:-1]
    run_prev[bounds[:-1]] = -np.inf
    gap_margin = ts - run_prev

    has_to = np.isfinite(cust_to) & (cust_to > 0)
    has_in = np.isfinite(cust_in) & (cust_in > 0)
    ct0 = cust_to == 0.0                     # NaN compares False
    # close candidates while a map is live: end rows always (end+create is
    # rejected at config time), timeout=0 rows only when not a duplicate
    # create (the codeblock must run for the eviction to fire)
    close_cand = (end_flag | ct0) & ~is_create
    close_rows = close_cand.nonzero()[0]
    cl_ss, n_cl = close_rows.searchsorted, len(close_rows)
    brk_rows = row_break.nonzero()[0] if row_break is not None else None

    # override EVENTS (non-create rows carrying a live override value):
    # visited only when they could change the effective clocks
    ev_rows_arr = ((has_to | has_in) & ~is_create).nonzero()[0]
    ev_rows: list = ev_rows_arr.tolist()
    _cto = cust_to[ev_rows_arr]
    _cin = cust_in[ev_rows_arr]
    _hto = has_to[ev_rows_arr]
    _hin = has_in[ev_rows_arr]
    ev_vals: list = [
        (float(_cto[k]) if _hto[k] else None, float(_cin[k]) if _hin[k] else None)
        for k in range(len(ev_rows))
    ]
    n_ev = len(ev_rows)
    # constant-where-present override values per clock (the common "rule
    # always sets the same map_meta.timeout" shape): once the effective
    # clocks equal the constants, no later event can change them — the
    # event walk is skipped wholesale (same shortcut as _override_scan)
    to_vals = cust_to[has_to]
    const_to = (
        float(to_vals[0])
        if len(to_vals) and bool((to_vals == to_vals[0]).all()) else None
    )
    in_vals = cust_in[has_in]
    const_in = (
        float(in_vals[0])
        if len(in_vals) and bool((in_vals == in_vals[0]).all()) else None
    )
    no_to, no_in = not len(to_vals), not len(in_vals)

    # first-crossing rows of the row-static half of the gap condition in
    # the current group, where ts is sorted, per distinct effective
    # inactivity (memoized)
    group_gap: dict = {}

    def _gap_rows(eff):
        hit = group_gap.get(eff)
        if hit is None:
            r = gs + (gap_margin[gs:hi] > eff).nonzero()[0]
            hit = (r, r.searchsorted, ts[r].searchsorted, len(r))
            if len(group_gap) < 8:
                group_gap[eff] = hit
        return hit

    not_create = ~is_create

    def mark_span(lo: int, hi: int) -> None:
        # in-session rows between hop events: the codeblock runs for every
        # non-(duplicate-create) row; sess_id is masked to code_ran rows
        # once, after the walk
        code_ran[lo:hi] = not_create[lo:hi]
        sess_id[lo:hi] = si

    gs = hi = 0                               # the current group's rows [gs, hi)
    s = next_cc(0)
    while s < n:
        if s >= hi:
            # the creator opens a later group, with its own ts and gap rows
            k = bisect_right(bounds, s)
            gs, hi = bounds[k - 1], bounds[k]
            ts_ss = ts[gs:hi].searchsorted
            group_gap = {}
        # creator row: the codeblock runs (creating), its own overrides
        # apply, and an end/timeout=0 marker closes the one-row session
        si = len(sessions)
        sessions.append(None)
        creation = float(row_creation[s])
        last_floor = float(row_last[s])
        eff_to = float(cust_to[s]) if has_to[s] else timeout
        eff_in = float(cust_in[s]) if has_in[s] else inactivity
        code_ran[s] = True
        sess_id[s] = si
        if end_flag[s] or ct0[s]:
            sessions[si] = (creation, last_floor, END if end_flag[s] else CT0, s)
            s = next_cc(s + 1)
            continue
        p = s

        # ---- in-session hop ----
        ei = bisect_right(ev_rows, p)
        a_raw = gs + int(ts_ss(creation + eff_to, "right"))
        a_eff_to = eff_to
        g_rows, g_pos_ss, g_ts_ss, g_n = _gap_rows(eff_in)
        gi_dyn = int(g_ts_ss(last_floor + eff_in, "right"))
        g_eff_in = eff_in
        clocks_final = (no_to or eff_to == const_to) and (no_in or eff_in == const_in)
        while True:
            # next close candidate
            ci_ = cl_ss(p + 1)
            c = int(close_rows[ci_]) if ci_ < n_cl else n
            # expiry crossings
            if eff_to != a_eff_to:
                a_raw = gs + int(ts_ss(creation + eff_to, "right"))
                a_eff_to = eff_to
            if eff_in != g_eff_in:
                g_rows, g_pos_ss, g_ts_ss, g_n = _gap_rows(eff_in)
                gi_dyn = int(g_ts_ss(last_floor + eff_in, "right"))
                g_eff_in = eff_in
            a = a_raw if a_raw > p else p + 1
            g = n
            gi = int(g_pos_ss(p + 1))
            if gi_dyn > gi:
                gi = gi_dyn
            if gi < g_n:
                g = int(g_rows[gi])
            b = n
            if brk_rows is not None:
                bi = brk_rows.searchsorted(p + 1)
                if bi < len(brk_rows):
                    b = int(brk_rows[bi])
            d = min(a, g, b)                   # expiry row
            end = min(d, c, hi)                # the map's last hop, as the clocks stand
            # next override event before it that would CHANGE a clock (an
            # event on the expiry or close row never runs its code first)
            o = end
            while not clocks_final and ei < n_ev:
                r = ev_rows[ei]
                if r >= end:
                    break
                tv, iv = ev_vals[ei]
                if (tv is not None and tv != eff_to) or (iv is not None and iv != eff_in):
                    o = r
                    break
                ei += 1
            mark_span(p + 1, o)
            if o < end:
                # override event survives its own expiry check: apply
                code_ran[o] = True
                sess_id[o] = si
                if tv is not None:
                    eff_to = tv
                if iv is not None:
                    eff_in = iv
                ei += 1
                p = o
                clocks_final = (no_to or eff_to == const_to) and (no_in or eff_in == const_in)
                continue
            if end >= hi:
                # survives its group: the next group starts with no map
                sessions[si] = (creation, max(last_floor, float(run[hi - 1])), OPEN, -1)
                s = next_cc(hi)
            elif d <= c:
                # expiry on row d's arrival, BEFORE d's guard/codeblock —
                # d itself may immediately create the next map
                sessions[si] = (creation, max(last_floor, float(run[d - 1])), EXPIRY, d)
                if a < g and a < b:
                    aged.add(si)
                s = next_cc(d)
            else:
                # close row: codeblock runs (refreshing last), THEN the map
                # is deleted — end takes precedence over timeout=0, and the
                # row's own >0 overrides never get to matter
                code_ran[c] = True
                sess_id[c] = si
                sessions[si] = (creation, float(row_last[c]), END if end_flag[c] else CT0, c)
                s = next_cc(c + 1)
            break

    np.putmask(sess_id, ~code_ran, -1)
    return WalkResult(code_ran, sess_id, sessions, aged)
