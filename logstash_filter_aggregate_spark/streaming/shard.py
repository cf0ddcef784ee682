"""Shard-keyed state: the one state tier of the streaming gated paths.

``applyInPandasWithState`` pays a fixed per-key-per-micro-batch cost:
one Python function invocation, one Arrow group, one state-store row
visit, and the pandas set-up of each call (Arrow→pandas framing, rule
array prep, a sort, a groupby, an output frame). At transcript
cardinalities that floor IS the runtime — tasks carry ~3 rows per
micro-batch, so keying state by task id spends ~3 ms of framework per
task per batch around a ~15 µs state walk. No amount of per-key
vectorization recovers that; the key space itself must shrink.

Every streaming query therefore keys its state by
``_shard = pmod(xxhash64(task_id), shards)`` and keeps every live
task's cell inside ONE state row per shard (a dict
``task_id -> [creation, last, nevents, map, eff_to, eff_in, wall_cap,
wall_last]``, stored through the compact binary cell-set codec below).
Each shard invocation sorts its chunk by ``(task, ts)``, preps the rule
arrays once, and runs the numpy session-hop (:func:`walk.walk_scan`)
per task slice. Sessions are numbered globally across the chunk's tasks
so the aggregation dictionaries build in one set of vectorized passes
(:func:`stream._session_agg_maps`).

Timers and eviction: each shard keeps ONE timer at the min cell expiry,
and every invocation (data or timer) evicts cells whose expiry is
behind the current watermark — emitting their timeout rows where the
config pushes them. That is the condition a per-task event-time timer
would fire on, so a finite replay (availableNow + heartbeat flush)
produces the rows a task-keyed state would; only the micro-batch a
timeout lands in can be later (a shard's expired cell waits for the
shard's next invocation).

Sizing: ``shards`` defaults to :data:`stream.DEFAULT_SHARDS` and is part
of the checkpoint — every encoded cell set records the count it was
written under, and a restart with another count fails instead of
orphaning cells in their old shards. Hot-shard parallelism caps at
``shards``, so keep it well above the core count. A batch that touches
a shard rewrites all of its live cells, so for long-lived sparse
sessions (each batch touches a small fraction of a large live set)
raise ``shards`` until a shard holds about one live cell.

Spec parity: the reference hot path (``aggregate.rb:179-255``); equality
with the batch engine and across shard counts is pinned by the streaming
batch-equality tests and the streaming fuzz family.
"""

from __future__ import annotations

import json
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from logstash_filter_aggregate_spark.config import PipelineConfig
from logstash_filter_aggregate_spark.streaming.stream import (
    OUTPUT_SCHEMA,
    _agg_value_col,
    _build_agg_specs,
    _build_rule_attrs,
    _emit_value_col,
    _merge_carried,
    _norm,
    _session_agg_maps,
    _ts_us,
)
from logstash_filter_aggregate_spark.streaming.walk import (
    CT0,
    END,
    OPEN,
    prep_rule_arrays,
    walk_scan,
)

SHARD_STATE_SCHEMA = T.StructType([T.StructField("cells", T.BinaryType())])

# cell layout: [creation_s, last_s, nevents, map_dict|None, eff_to|None,
#               eff_in|None, wall_cap|None, wall_last|None]
# wall_cap / wall_last carry processing-time deadlines (time_mode=
# 'processing': absolute age cap set at map creation, wall time of the
# last arrival); None in event mode.
_C, _L, _N, _M, _TO, _IN, _WC, _WL = range(8)

# Cell-set codec. A batch that touches a shard round-trips the shard's
# ENTIRE live cell set through this codec, so it sits on the per-batch
# fixed-cost path. The numeric fields ride in one contiguous float64
# block (numpy encode/decode, no per-cell stringification), the task ids
# are length-prefixed, and only cells that carry an aggregation map pay
# JSON, batched into a single index-keyed blob. The header records the
# shard count the set was written under, so a restart with another count
# fails loudly; SGC2 sets (written before the count was recorded) still
# decode, unchecked.
_MAGIC = b"SGC3"        # n, len(maps), shards; then the SGC2 body
_MAGIC_V2 = b"SGC2"     # n, len(maps); 7-wide numeric block
_NUMW = 7


def _encode_cells(cells: dict, shards: int) -> bytes:
    n = len(cells)
    num = np.empty((n, _NUMW), dtype=np.float64)
    tblobs: list[bytes] = []
    maps: dict[int, dict] = {}
    for i, (t, c) in enumerate(cells.items()):
        tblobs.append(t.encode("utf-8"))
        num[i, 0] = c[_C]
        num[i, 1] = c[_L]
        num[i, 2] = c[_N]
        num[i, 3] = np.nan if c[_TO] is None else c[_TO]
        num[i, 4] = np.nan if c[_IN] is None else c[_IN]
        num[i, 5] = np.nan if c[_WC] is None else c[_WC]
        num[i, 6] = np.nan if c[_WL] is None else c[_WL]
        if c[_M]:
            maps[i] = c[_M]
    lens = np.fromiter((len(b) for b in tblobs), dtype=np.int32, count=n)
    maps_b = json.dumps(maps, default=str).encode("utf-8") if maps else b""
    return b"".join((
        _MAGIC, struct.pack("<QQQ", n, len(maps_b), shards),
        lens.tobytes(), num.tobytes(), b"".join(tblobs), maps_b,
    ))


def _decode_cells(raw, shards: int) -> dict:
    raw = bytes(raw)
    magic = raw[:4]
    if magic == _MAGIC:
        n, mlen, stored = struct.unpack_from("<QQQ", raw, 4)
        if stored != shards:
            raise ValueError(
                f"streaming state was written with shards={stored} but the query "
                f"now runs with shards={shards}: restart it with shards={stored}, "
                f"or drain it and start a fresh checkpoint"
            )
        off = 28
    elif magic == _MAGIC_V2:
        n, mlen = struct.unpack_from("<QQ", raw, 4)
        off = 20
    else:
        raise ValueError(f"unknown shard cell-set header {magic!r}")
    lens = np.frombuffer(raw, dtype=np.int32, count=n, offset=off)
    off += 4 * n
    num = np.frombuffer(raw, dtype=np.float64, count=_NUMW * n, offset=off)
    num = num.reshape(n, _NUMW)
    off += 8 * _NUMW * n
    tasks: list[str] = []
    for ln in lens.tolist():
        tasks.append(raw[off:off + ln].decode("utf-8"))
        off += ln
    maps: dict[int, dict] = {}
    if mlen:
        maps = {int(k): v for k, v in json.loads(raw[off:off + mlen]).items()}
    c0 = num[:, 0].tolist()
    l0 = num[:, 1].tolist()
    nev = num[:, 2].astype(np.int64).tolist()

    def opt(col):
        return [None if v != v else v for v in num[:, col].tolist()]  # NaN->None

    to, in_, wc, wl = opt(3), opt(4), opt(5), opt(6)
    mg = maps.get
    return {
        tasks[i]: [c0[i], l0[i], nev[i], mg(i), to[i], in_[i], wc[i], wl[i]]
        for i in range(n)
    }


def _load_cells(state: GroupState, shards: int) -> dict:
    if not state.exists:
        return {}
    raw = state.get[0]
    return _decode_cells(raw, shards) if raw else {}


def _cell_expiry_s(cell, timeout_s: float, inactivity_s: float) -> float:
    to = cell[_TO] if cell[_TO] is not None else timeout_s
    in_ = cell[_IN] if cell[_IN] is not None else inactivity_s
    return min(cell[_C] + to, cell[_L] + in_)


def _evict_expired(cells: dict, wm_ms: int, timeout_s: float,
                   inactivity_s: float, skip: set) -> list[tuple]:
    """Remove cells whose expiry is at/behind the watermark (the
    condition a per-task event-time timer would fire on). Returns the evicted
    ``(task_id, cell)`` pairs so the correlate tier can push them."""
    if wm_ms <= 0 or not cells:
        return []
    out = []
    for task in list(cells):
        if task in skip:
            continue
        cell = cells[task]
        if _cell_expiry_s(cell, timeout_s, inactivity_s) * 1000 <= wm_ms:
            out.append((task, cells.pop(task)))
    return out


def _save(state: GroupState, cells: dict, timeout_s: float, inactivity_s: float,
          shards: int) -> None:
    if cells:
        state.update((_encode_cells(cells, shards),))
        expiry_ms = int(
            min(_cell_expiry_s(c, timeout_s, inactivity_s) for c in cells.values())
            * 1000
        )
        state.setTimeoutTimestamp(max(expiry_ms, state.getCurrentWatermarkMs() + 1))
    elif state.exists:
        state.remove()


def _wall_remaining_s(cell, now_s: float, inactivity_s: float) -> float:
    wc = cell[_WC] if cell[_WC] is not None else float("inf")
    wl = cell[_WL] if cell[_WL] is not None else now_s
    return min(wc - now_s, wl + inactivity_s - now_s)


def _evict_expired_wall(cells: dict, now_s: float, inactivity_s: float,
                        skip: set) -> list[tuple]:
    """Processing-time analog of :func:`_evict_expired`: a cell whose age
    cap or inactivity window lapsed by the WALL clock evicts, checked on
    arrival and when the shard's processing-time timer fires."""
    if not cells:
        return []
    out = []
    for task in list(cells):
        if task in skip:
            continue
        if _wall_remaining_s(cells[task], now_s, inactivity_s) <= 0:
            out.append((task, cells.pop(task)))
    return out


def _save_wall(state: GroupState, cells: dict, now_s: float,
               inactivity_s: float, shards: int) -> None:
    if cells:
        state.update((_encode_cells(cells, shards),))
        rem = min(_wall_remaining_s(c, now_s, inactivity_s) for c in cells.values())
        state.setTimeoutDuration(max(int(rem * 1000), 1))
    elif state.exists:
        state.remove()


def _column_objects(whole: pd.DataFrame, col: str, pos: np.ndarray,
                    integral: bool):
    """``whole[col]`` at ``pos`` as Python objects. pandas upcasts an
    integral column that holds nulls to float64; ``integral`` (its Spark
    type) turns those values back into ints so JSON renders ``3``, not
    ``3.0``, whichever rows share the chunk."""
    v = whole[col].iloc[pos]
    if integral and v.dtype.kind == "f":
        return [None if x != x else int(x) for x in v.tolist()]
    return v.to_numpy(dtype=object)


def _task_slices(tid: np.ndarray):
    """(lo, hi) boundaries of each task's run in the (task, ts)-sorted chunk."""
    starts = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1]])
    ends = np.r_[starts[1:], len(tid)]
    return starts, ends


def _walk_tasks(whole: pd.DataFrame, rule_attrs: dict, cells: dict,
                timeout_s: float, inactivity_s: float):
    """Run the session-hop walk for every task slice of a sorted shard
    chunk. Returns chunk-aligned ``code_ran`` / global ``sess_full``
    arrays, the global session table, and per-task bookkeeping; updates
    ``cells`` in place (final-open sessions persist, closed ones drop).

    The walk sees only KNOWN-rule rows (unknown rules are transparent:
    no state effect). Rule arrays are prepped ONCE for the whole chunk;
    per-task work is one :func:`walk_scan` call on numpy slices."""
    n = len(whole)
    known, ts_s, is_create, is_update, end_flag, ct, ci = prep_rule_arrays(
        whole, rule_attrs
    )
    tid = whole["_task_id"].to_numpy()
    code_ran = np.zeros(n, dtype=bool)
    sess_full = np.full(n, -1, dtype=np.int64)
    sessions: list[tuple] = []      # (task_id, creation, last, kind)
    sess_nev: list[int] = []
    sess_carry: list[int] = []      # carried nevents base per session (emit math)
    sess_init_map: dict[int, dict] = {}   # global sess idx -> carried map
    final_sess_of_task: dict = {}   # task -> global sess idx of its open session
    task_base: dict = {}            # task -> its first session's global idx
    touched: set = set()
    starts, ends = _task_slices(tid)
    for lo, hi in zip(starts, ends):
        task = tid[lo]
        if task is None:
            continue                 # watermark-advance rows: no state
        sel = np.arange(lo, hi)
        km = known[lo:hi]
        if not km.all():
            sel = sel[km]
        if sel.size == 0:
            continue    # transparent rows only: state untouched this batch
        # only tasks whose state actually advanced are exempt from this
        # invocation's eviction (a transparent-only task must stay
        # evictable in the micro-batch its expiry is behind the watermark)
        touched.add(task)
        cell = cells.get(task)
        init = None
        if cell is not None:
            init = (
                cell[_C], cell[_L], cell[_N],
                cell[_TO] if cell[_TO] is not None else timeout_s,
                cell[_IN] if cell[_IN] is not None else inactivity_s,
            )
        res = walk_scan(
            ts_s[sel], is_create[sel], is_update[sel], end_flag[sel],
            ct[sel], ci[sel], init, timeout_s, inactivity_s,
        )
        base = len(sessions)
        task_base[task] = base
        code_ran[sel] = res.code_ran
        lab = res.sess_id.astype(np.int64)
        sess_full[sel] = np.where(lab >= 0, lab + base, -1)
        carried_n = int(cell[_N]) if cell is not None else 0
        for k, (creation, last_ts, kind, _crow) in enumerate(res.sessions):
            sessions.append((task, creation, last_ts, kind))
            sess_nev.append(int(res.nevents[k]))
            sess_carry.append(carried_n if (k == 0 and cell is not None) else 0)
        if cell is not None:
            sess_init_map[base] = cell[_M] or {}
        if res.final is not None:
            creation, last, nev, eff_to, eff_in = res.final
            cells[task] = [
                creation, last, int(nev), None,
                eff_to if eff_to != timeout_s else None,
                eff_in if eff_in != inactivity_s else None,
                # wall-clock fields ride through untouched; the proc-mode
                # caller refreshes them per arrival (carried-vs-new cap)
                cell[_WC] if cell is not None else None,
                cell[_WL] if cell is not None else None,
            ]
            final_sess_of_task[task] = len(sessions) - 1
        else:
            cells.pop(task, None)
    return (code_ran, sess_full, sessions, sess_nev, sess_carry,
            sess_init_map, final_sess_of_task, task_base, touched)


def _mask_proc_overrides(whole: pd.DataFrame) -> None:
    """Processing mode: event time never expires maps — keep only
    ``timeout = 0`` instant evictions (clock-independent), drop >0
    overrides (wall-deadline overrides are event-mode features)."""
    whole["_custom_timeout"] = whole["_custom_timeout"].where(
        whole["_custom_timeout"] == 0
    )
    whole["_custom_inactivity"] = np.nan


def _refresh_wall_cells(cells: dict, entry: set, final_sess_of_task: dict,
                        task_base: dict, now_s: float, timeout_s: float) -> None:
    """Per-arrival wall bookkeeping for open cells: a CARRIED map (the
    task had a cell at entry and its final open session is its first)
    keeps its creation-time age cap; a map created this batch gets
    ``now + timeout``. Every open cell's last-arrival wall time becomes
    ``now``."""
    for task, si in final_sess_of_task.items():
        c = cells[task]
        carried = task in entry and si == task_base[task] and c[_WC] is not None
        if not carried:
            c[_WC] = now_s + timeout_s
        c[_WL] = now_s


_WALL_INF = float("inf")


def make_passthrough_shard_fn(cfg: PipelineConfig, out_cols: list[str],
                              shards: int, time_mode: str = "event"):
    """State walk for :func:`stream.streaming_passthrough`'s gated tier:
    the OUTPUT is the input rows themselves (O19 + U3,
    ``aggregate.rb:251-254``) — tagged where the code would raise,
    suppressed where it cancels. Cells carry no aggregation map; they
    exist for the guard decisions and are reclaimed by eviction.

    ``time_mode='processing'``: cells expire by the WALL clock (age cap
    from map creation / inactivity from last arrival), checked on every
    shard invocation plus one processing-time timer per shard at the min
    remaining cell deadline."""
    rule_attrs = _build_rule_attrs(cfg)
    req_cols_by_rule = {
        r.rule_id: [
            _agg_value_col(r.rule_id, s.name) for s in r.aggs if s.required and s.col
        ]
        for r in cfg.rules
    }
    cancel_map = {r.rule_id: bool(r.cancel) for r in cfg.rules}
    timeout_s = float(cfg.timeout)
    inactivity_s = float(cfg.effective_inactivity_timeout)
    proc_mode = time_mode == "processing"
    _EXC = ["_aggregateexception"]
    _EMPTY: list = []

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        cells = _load_cells(state, shards)
        now = state.getCurrentProcessingTimeMs() / 1000.0 if proc_mode else 0.0
        if state.hasTimedOut:
            if proc_mode:
                _evict_expired_wall(cells, now, inactivity_s, set())
                _save_wall(state, cells, now, inactivity_s, shards)
            else:
                _evict_expired(cells, state.getCurrentWatermarkMs(),
                               timeout_s, inactivity_s, set())
                _save(state, cells, timeout_s, inactivity_s, shards)
            yield pd.DataFrame(columns=[*out_cols, "tags"]).iloc[0:0]
            return
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            yield pd.DataFrame(columns=[*out_cols, "tags"]).iloc[0:0]
            return
        whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        whole = whole.sort_values(
            ["_task_id", "ts", "conv_id", "turn_idx"], kind="mergesort"
        )
        nrows = len(whole)

        if proc_mode:
            # wall expiry on arrival BEFORE guards (state reclaim only —
            # the passthrough emits no timeout rows)
            _evict_expired_wall(cells, now, inactivity_s, set())
            _mask_proc_overrides(whole)
            entry = set(cells)
            (code_ran, _sess_full, _sessions, _nev, _carry, _imap, fin,
             task_base, _touched) = _walk_tasks(
                whole, rule_attrs, cells, _WALL_INF, _WALL_INF)
            _refresh_wall_cells(cells, entry, fin, task_base, now, timeout_s)
        else:
            (code_ran, _sess_full, _sessions, _nev, _carry, _imap, _fin,
             _tb, touched) = _walk_tasks(
                whole, rule_attrs, cells, timeout_s, inactivity_s)

        rid_np = whole["_rule_id"].to_numpy()
        cancel_arr = (
            whole["_rule_id"].map(cancel_map).fillna(False).to_numpy(dtype=bool)
        )
        exc = np.zeros(nrows, dtype=bool)
        for rule_id, req in req_cols_by_rule.items():
            if not req:
                continue
            m = (rid_np == rule_id).astype(bool)
            if not m.any():
                continue
            bad = np.zeros(nrows, dtype=bool)
            for c in req:
                bad |= whole[c].isna().to_numpy()
            exc |= m & bad

        keep = ~(code_ran & cancel_arr)        # U3: consumed where code ran
        tag_exc = code_ran & exc               # O19: tagged where code ran

        if proc_mode:
            _save_wall(state, cells, now, inactivity_s, shards)
        else:
            _evict_expired(cells, state.getCurrentWatermarkMs(),
                           timeout_s, inactivity_s, touched)
            _save(state, cells, timeout_s, inactivity_s, shards)

        kidx = np.flatnonzero(keep)
        out = whole.iloc[kidx][out_cols].copy()
        pt = whole["parse_tags"].to_numpy(dtype=object)
        te = tag_exc[kidx]
        tags_out: list = []
        ap = tags_out.append
        for b, e in zip(pt[kidx], te):
            if b is None or len(b) == 0:
                ap(_EXC if e else _EMPTY)
            elif e:
                ap(list(b) + _EXC)
            else:
                ap(list(b))
        out["tags"] = pd.Series(tags_out, index=out.index, dtype=object)
        yield out

    return fn


def make_correlate_shard_fn(cfg: PipelineConfig, shards: int, int_cols: frozenset,
                            time_mode: str = "event"):
    """State walk for :func:`stream.streaming_correlate`: the full map
    lifecycle (aggregation dictionaries, closes, timeout pushes, O18 emit
    rows) over the reference's filter hot path (``aggregate.rb:179-255``).
    Agg and emit inputs arrive pre-projected as ``_v_*`` / ``_em_*``
    columns; ``int_cols`` names those of an integral Spark type, which
    render as JSON integers whatever dtype pandas gave the chunk.

    ``time_mode='processing'``: wall-clock expiry (see
    :func:`make_passthrough_shard_fn`), with evicted cells pushed as
    timeout rows where the config asks for it."""
    rule_attrs = _build_rule_attrs(cfg)
    agg_specs = _build_agg_specs(cfg)
    emit_rules = {
        r.rule_id: [(n, _emit_value_col(r.rule_id, n)) for n in (r.emit or {})]
        for r in cfg.rules if r.emit
    }
    timeout_s = float(cfg.timeout)
    inactivity_s = float(cfg.effective_inactivity_timeout)
    proc_mode = time_mode == "processing"
    push = cfg.push_map_as_event_on_timeout
    out_cols = [f.name for f in OUTPUT_SCHEMA.fields]

    def _timeout_row(task, cell) -> dict:
        return dict(
            task_id=task, sink="timeout",
            creation_ts=_ts_us(cell[_C]), lastevent_ts=_ts_us(cell[_L]),
            nevents=int(cell[_N]),
            map_json=json.dumps(cell[_M] or {}, default=str),
        )

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        out_rows: list[dict] = []
        cells = _load_cells(state, shards)
        now = state.getCurrentProcessingTimeMs() / 1000.0 if proc_mode else 0.0
        if state.hasTimedOut:
            if proc_mode:
                evicted = _evict_expired_wall(cells, now, inactivity_s, set())
            else:
                evicted = _evict_expired(cells, state.getCurrentWatermarkMs(),
                                         timeout_s, inactivity_s, set())
            if push:
                out_rows.extend(_timeout_row(t, c) for t, c in evicted)
            if proc_mode:
                _save_wall(state, cells, now, inactivity_s, shards)
            else:
                _save(state, cells, timeout_s, inactivity_s, shards)
            yield pd.DataFrame(out_rows, columns=out_cols)
            return

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            yield pd.DataFrame(out_rows, columns=out_cols)
            return
        whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        whole = whole.sort_values(
            ["_task_id", "ts", "conv_id", "turn_idx"], kind="mergesort"
        )

        if proc_mode:
            # wall expiry on arrival BEFORE guards, pushing evicted maps
            evicted = _evict_expired_wall(cells, now, inactivity_s, set())
            if push:
                out_rows.extend(_timeout_row(t, c) for t, c in evicted)
            _mask_proc_overrides(whole)
            entry = set(cells)
            (code_ran, sess_full, sessions, sess_nev, sess_carry, sess_init_map,
             final_sess_of_task, task_base, touched) = _walk_tasks(
                whole, rule_attrs, cells, _WALL_INF, _WALL_INF
            )
        else:
            (code_ran, sess_full, sessions, sess_nev, sess_carry, sess_init_map,
             final_sess_of_task, _tb, touched) = _walk_tasks(
                whole, rule_attrs, cells, timeout_s, inactivity_s
            )
        n_sess = len(sessions)
        cr_idx = np.flatnonzero(code_ran)
        sess_cr = sess_full[cr_idx]
        srid = (
            whole["_rule_id"].to_numpy()[cr_idx]
            if cr_idx.size else np.empty(0, dtype=object)
        )
        sess_maps = _session_agg_maps(
            whole, cr_idx, sess_cr, srid, n_sess, agg_specs, int_cols
        )
        for base, imap in sess_init_map.items():
            sess_maps[base] = _merge_carried(agg_specs, imap, sess_maps[base])

        # closed sessions -> sink rows
        for si_, (task, creation, last_ts, kind) in enumerate(sessions):
            if kind == OPEN:
                continue
            if kind == END:
                sink = "completed"               # aggregate.rb:240
            elif kind == CT0:
                sink = "inline" if push else None
            else:
                sink = "timeout" if push else None
            if sink is None:
                continue
            out_rows.append(dict(
                task_id=task, sink=sink,
                creation_ts=_ts_us(creation), lastevent_ts=_ts_us(last_ts),
                nevents=int(sess_nev[si_]),
                map_json=json.dumps(sess_maps[si_], default=str),
            ))

        # emit rows (O18): one per code-ran row of an emit rule, carrying
        # the state AS OF that row. sess_cr is non-decreasing (chunk is
        # task-then-ts sorted, sessions numbered in walk order), so the
        # per-session running count is a group-offset computation over
        # it — plus each session's carried base.
        if emit_rules and cr_idx.size:
            change = np.empty(len(cr_idx), dtype=bool)
            change[0] = True
            change[1:] = sess_cr[1:] != sess_cr[:-1]
            grp_start = np.flatnonzero(change)
            sizes = np.diff(np.append(grp_start, len(cr_idx)))
            offsets = np.repeat(grp_start, sizes)
            nev_sofar = np.arange(len(cr_idx), dtype="int64") - offsets + 1
            nev_sofar += np.asarray(sess_carry, dtype="int64")[sess_cr]
            creations = np.asarray([s[1] for s in sessions])
            tasks_of = np.asarray([s[0] for s in sessions], dtype=object)
            for rid_, ems in emit_rules.items():
                m = (srid == rid_).astype(bool)
                if not m.any():
                    continue
                rows_pos = cr_idx[m]
                colvals = {
                    n: _column_objects(whole, c, rows_pos, c in int_cols)
                    for n, c in ems
                }
                ts_vals = whole["ts"].iloc[rows_pos].to_numpy()
                s_cre = creations[sess_cr[m]]
                s_task = tasks_of[sess_cr[m]]
                s_nev = nev_sofar[m]
                for k in range(len(rows_pos)):
                    payload = {n: _norm(colvals[n][k]) for n, _c in ems}
                    out_rows.append(dict(
                        task_id=s_task[k], sink="emit",
                        creation_ts=_ts_us(float(s_cre[k])),
                        lastevent_ts=pd.Timestamp(ts_vals[k]),
                        nevents=int(s_nev[k]),
                        map_json=json.dumps(payload, default=str),
                    ))

        # persist the open sessions' accumulated maps into their cells
        for task, si_ in final_sess_of_task.items():
            cells[task][_M] = sess_maps[si_]

        if proc_mode:
            _refresh_wall_cells(cells, entry, final_sess_of_task, task_base,
                                now, timeout_s)
            _save_wall(state, cells, now, inactivity_s, shards)
        else:
            evicted = _evict_expired(cells, state.getCurrentWatermarkMs(),
                                     timeout_s, inactivity_s, touched)
            if push:
                out_rows.extend(_timeout_row(t, c) for t, c in evicted)
            _save(state, cells, timeout_s, inactivity_s, shards)
        yield pd.DataFrame(out_rows, columns=out_cols)

    return fn
