"""Shard-keyed state: the one state tier of the streaming gated paths.

``applyInPandasWithState`` pays a fixed per-key-per-micro-batch cost:
one Python function invocation, one Arrow group, one state-store row
visit, and the pandas set-up of each call (Arrow→pandas framing, rule
input arrays, a sort, a groupby, an output frame). At transcript
cardinalities that floor IS the runtime — tasks carry ~3 rows per
micro-batch, so keying state by task id spends ~3 ms of framework per
task per batch around a ~15 µs state walk. No amount of per-key
vectorization recovers that; the key space itself must shrink.

Every streaming query therefore keys its state by
``_shard = pmod(xxhash64(task_id), shards)`` and keeps every live
task's cell inside ONE state row per shard (a dict
``task_id -> [creation, last, nevents, map, eff_to, eff_in, wall_cap,
wall_last]``, stored through the compact binary cell-set codec below).

One shard step (:func:`_shard_step`) runs every invocation of both
stateful functions. It loads the shard's cells, sorts the chunk by
``(task, ts)``, builds the walk's rule inputs once from the columns
``classify`` gave the rows (:func:`walk.walk_inputs`, as the batch scan
does), runs the numpy session-hop (:func:`walk.walk_scan`) per task
slice, evicts the cells that are due and saves the rest. The functions
differ only in the output they build from the walk:
:func:`make_correlate_shard_fn` the closed maps, timeout pushes and emit
rows, :func:`make_passthrough_shard_fn` the input rows, tagged or
cancelled. Sessions are numbered globally across the chunk's tasks so
every map folds in one call of the batch scan's aggregation dictionary
(:func:`correlate.session_values`), each carried cell's map merged in as
a partial row ahead of its session's rows.

Clocks, timers and eviction: one :class:`_Clock` gives each cell a
deadline. In event time (the default) it is the map's own age or
inactivity expiry, due once the watermark reaches it, the condition a
per-task event-time timer would fire on; the step evicts after the
walk and skips the tasks the walk touched. In processing time it is the
map's wall-clock age cap or inactivity window, due once the
processing-time clock reaches it; the step evicts on arrival, before
the walk. Each shard keeps ONE timer at its earliest cell deadline, a
timer invocation evicts every due cell, and evicted maps are pushed as
timeout rows where the config asks for it. A finite event-time replay
(availableNow + heartbeat flush) thus produces the rows a task-keyed
state would; only the micro-batch a timeout lands in can be later (a
shard's expired cell waits for the shard's next invocation).

Sizing: ``shards`` defaults to :data:`stream.DEFAULT_SHARDS` and is part
of the checkpoint — every encoded cell set records the count it was
written under, and a restart with another count fails instead of
orphaning cells in their old shards. Hot-shard parallelism caps at
``shards``, so keep it well above the core count. A batch that touches
a shard rewrites all of its live cells, so for long-lived sparse
sessions (each batch touches a small fraction of a large live set)
raise ``shards`` until a shard holds about one live cell.

Per-task floor: below the per-key floor sits a per-task one, paid by
every task of the stateful stage in every micro-batch, whether or not it
calls the shard function. PySpark starts each Python task with
``importlib.invalidate_caches()``, which made each of a worker's ~14 zip
importers re-read ``pyspark.zip``'s directory: 121 ms per call
uncontended, 0.87 s per task under cProfile. The stage took 880-1000 ms
per micro-batch (650-730 ms for the empty final one) at about 25 ms of
JVM CPU per task. Importing the package installs ``_zipcache``, which
skips the re-read while the archive is unchanged (0.09 ms per call).
On the ``stream_correlate`` benchmark (local[4]) that moved job_s from a
median of 4.38 s to 3.64 s over 12 alternating pairs, and the traced
``addBatch`` from about 1.47 s to 1.10-1.19 s per micro-batch.

Spec parity: the reference hot path (``aggregate.rb:179-255``); equality
with the batch engine and across shard counts is pinned by the streaming
batch-equality tests and the streaming fuzz family.
"""

from __future__ import annotations

import json
import math
import struct
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from logstash_filter_aggregate_spark.config import PipelineConfig
from logstash_filter_aggregate_spark.operators.correlate import (
    SEED_RULE,
    agg_specs,
    emit_col_name,
    session_values,
    value_col_name,
)
from logstash_filter_aggregate_spark.streaming.stream import (
    OUTPUT_SCHEMA,
    _map_json,
    _norm,
    _ts_us,
)
from logstash_filter_aggregate_spark.streaming.walk import (
    CT0,
    END,
    OPEN,
    walk_inputs,
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


class _Clock:
    """The clock a shard's cells expire by, read once per invocation.

    Event time: a cell's deadline is its map's age or inactivity expiry
    in event seconds (its own ``map_meta`` overrides, else the pattern's
    clocks), due once the watermark reaches it (the condition a per-task
    event-time timer would fire on). Processing time: the wall-clock age
    cap set at map creation or the inactivity window from the last
    arrival, due once the processing-time clock reaches it; the walk then
    runs with infinite event-time clocks."""

    def __init__(self, state: GroupState, processing: bool, cfg: PipelineConfig):
        self.processing = processing
        self.timeout_s = float(cfg.timeout)
        self.inactivity_s = float(cfg.effective_inactivity_timeout)
        self.walk_clocks = (math.inf, math.inf) if processing else (self.timeout_s, self.inactivity_s)
        self.now_ms = (
            state.getCurrentProcessingTimeMs() if processing else state.getCurrentWatermarkMs()
        )

    def deadline_s(self, cell) -> float:
        if self.processing:
            wc = math.inf if cell[_WC] is None else cell[_WC]
            wl = self.now_ms / 1000.0 if cell[_WL] is None else cell[_WL]
            return min(wc, wl + self.inactivity_s)
        to = self.timeout_s if cell[_TO] is None else cell[_TO]
        in_ = self.inactivity_s if cell[_IN] is None else cell[_IN]
        return min(cell[_C] + to, cell[_L] + in_)

    def due(self, cell) -> bool:
        # event time: nothing is due before the first watermark
        if not self.processing and self.now_ms <= 0:
            return False
        return self.deadline_s(cell) * 1000 <= self.now_ms

    def arm(self, state: GroupState, deadline_s: float) -> None:
        """Set the shard's one timer at the earliest cell deadline."""
        if self.processing:
            state.setTimeoutDuration(max(int(deadline_s * 1000 - self.now_ms), 1))
        else:
            state.setTimeoutTimestamp(max(int(deadline_s * 1000), self.now_ms + 1))


def _evict(cells: dict, clock: _Clock, skip=frozenset()) -> list[tuple]:
    """Remove the cells whose deadline is due, except ``skip``'s; returns
    the evicted ``(task_id, cell)`` pairs so the correlate tier can push
    them."""
    due = [t for t, c in cells.items() if t not in skip and clock.due(c)]
    return [(t, cells.pop(t)) for t in due]


def _save(state: GroupState, cells: dict, clock: _Clock, shards: int) -> None:
    if cells:
        state.update((_encode_cells(cells, shards),))
        clock.arm(state, min(clock.deadline_s(c) for c in cells.values()))
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


class _Walk(NamedTuple):
    """One chunk's walk: chunk-aligned ``code_ran`` and global session
    labels ``sess_full`` (-1 where the code did not run), the global
    session table ``(task_id, creation, last, kind)`` with each session's
    event count and carried count base, the carried map entering each
    carried session, the cell each open session persists into, and the
    tasks walked."""

    code_ran: np.ndarray
    sess_full: np.ndarray
    sessions: list
    sess_nev: list
    sess_carry: list
    sess_init_map: dict
    open_cells: dict
    touched: set


def _walk_tasks(whole: pd.DataFrame, cells: dict, clock: _Clock) -> _Walk:
    """Run the session-hop walk for every task slice of a sorted shard
    chunk; updates ``cells`` in place (final-open sessions persist,
    closed ones drop). The rule inputs are built once for the whole
    chunk from classify's columns; per-task work is one
    :func:`walk_scan` call on numpy slices. Heartbeat rows carry no task
    and are skipped.

    Processing time stamps each open cell's wall clocks: a map carried in
    keeps its creation-time age cap, a map created this batch gets
    ``now + timeout``, and every open map's last arrival is now."""
    n = len(whole)
    timeout_s, inactivity_s = clock.walk_clocks
    now_s = clock.now_ms / 1000.0
    is_create, is_update, end_flag, ct, ci = walk_inputs(
        lambda c: pa.Array.from_pandas(whole[c]), processing=clock.processing
    )
    ts_s = whole["ts"].astype("datetime64[ns]").astype("int64").to_numpy() / 1e9
    tid = whole["_task_id"].to_numpy()
    walk = _Walk(np.zeros(n, dtype=bool), np.full(n, -1, dtype=np.int64), [], [], [], {}, {}, set())
    sessions = walk.sessions
    starts, ends = _task_slices(tid)
    for lo, hi in zip(starts.tolist(), ends.tolist()):
        task = tid[lo]
        if task is None:
            continue                 # heartbeat rows: no state
        walk.touched.add(task)
        cell = cells.get(task)
        init = None
        if cell is not None:
            init = (
                cell[_C], cell[_L], cell[_N],
                cell[_TO] if cell[_TO] is not None else timeout_s,
                cell[_IN] if cell[_IN] is not None else inactivity_s,
            )
        res = walk_scan(
            ts_s[lo:hi], is_create[lo:hi], is_update[lo:hi], end_flag[lo:hi],
            ct[lo:hi], ci[lo:hi], init, timeout_s, inactivity_s,
        )
        base = len(sessions)
        walk.code_ran[lo:hi] = res.code_ran
        lab = res.sess_id.astype(np.int64)
        walk.sess_full[lo:hi] = np.where(lab >= 0, lab + base, -1)
        carried_n = int(cell[_N]) if cell is not None else 0
        for k, (creation, last_ts, kind, _crow) in enumerate(res.sessions):
            sessions.append((task, creation, last_ts, kind))
            walk.sess_nev.append(int(res.nevents[k]))
            walk.sess_carry.append(carried_n if (k == 0 and cell is not None) else 0)
        if cell is not None:
            walk.sess_init_map[base] = cell[_M] or {}
        if res.final is None:
            cells.pop(task, None)
            continue
        creation, last, nev, eff_to, eff_in = res.final
        wall = (None, None)
        if clock.processing:
            carried = cell is not None and len(res.sessions) == 1 and cell[_WC] is not None
            wall = (cell[_WC] if carried else now_s + clock.timeout_s, now_s)
        cells[task] = walk.open_cells[len(sessions) - 1] = [
            creation, last, int(nev), None,
            eff_to if eff_to != timeout_s else None,
            eff_in if eff_in != inactivity_s else None,
            *wall,
        ]
    return walk


def _shard_step(state: GroupState, pdfs: Iterator[pd.DataFrame], cfg: PipelineConfig,
                processing: bool, shards: int, build):
    """One shard invocation, shared by both stateful functions: load the
    cells, sort the chunk, walk its tasks, evict the due cells and save
    the rest. ``build(whole, walk, evicted)`` makes the output frame from
    the sorted chunk, its :class:`_Walk` and the evicted ``(task_id,
    cell)`` pairs, and may update the open cells before they are saved;
    ``whole`` and ``walk`` are None on a timer invocation.

    Processing time evicts on arrival, before the walk, as the reference
    checks a map when its task's next event comes (``aggregate.rb:194-199``).
    Event time evicts after the walk, skipping the tasks it touched: the
    walk already expired or advanced their maps by their own events."""
    clock = _Clock(state, processing, cfg)
    cells = _load_cells(state, shards)
    if state.hasTimedOut:
        evicted = _evict(cells, clock)
        _save(state, cells, clock, shards)
        return build(None, None, evicted)
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return build(None, None, [])
    whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    whole = whole.sort_values(["_task_id", "ts", "conv_id", "turn_idx"], kind="mergesort")
    evicted = _evict(cells, clock) if processing else []
    walk = _walk_tasks(whole, cells, clock)
    if not processing:
        evicted = _evict(cells, clock, skip=walk.touched)
    out = build(whole, walk, evicted)
    _save(state, cells, clock, shards)
    return out


def make_passthrough_shard_fn(cfg: PipelineConfig, out_cols: list[str],
                              shards: int, time_mode: str = "event"):
    """State walk for :func:`stream.streaming_passthrough`'s gated tier:
    the OUTPUT is the input rows themselves (O19 + U3,
    ``aggregate.rb:251-254``) — tagged where the code would raise,
    suppressed where it cancels. Cells carry no aggregation map; they
    exist for the guard decisions and are reclaimed by eviction, which
    emits nothing here.

    ``time_mode='processing'``: cells expire by the WALL clock (age cap
    from map creation / inactivity from last arrival), checked on every
    shard invocation plus one processing-time timer per shard at the min
    remaining cell deadline."""
    req_cols_by_rule = {
        r.rule_id: [value_col_name(r.rule_id, s.col) for s in r.aggs if s.required and s.col]
        for r in cfg.rules
    }
    cancel_map = {r.rule_id: bool(r.cancel) for r in cfg.rules}
    processing = time_mode == "processing"
    _EXC = ["_aggregateexception"]
    _EMPTY: list = []

    def build(whole, walk, _evicted) -> pd.DataFrame:
        if whole is None:
            return pd.DataFrame(columns=[*out_cols, "tags"])
        nrows = len(whole)
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

        keep = ~(walk.code_ran & cancel_arr)        # U3: consumed where code ran
        tag_exc = walk.code_ran & exc               # O19: tagged where code ran

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
        return out

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        yield _shard_step(state, pdfs, cfg, processing, shards, build)

    return fn


def _session_maps(specs: dict, types: dict, whole: pd.DataFrame, walk: _Walk) -> list[dict]:
    """Each session's map of a walked chunk: :func:`correlate.session_values`
    over the chunk's code-ran rows, each carried cell's map merged in as a
    partial row ahead of its session's rows. A map holds the entries
    something went into: no NULL, no zero count, no empty collection;
    ``avg`` as its ``[sum, count]`` partials, so a carried map merges
    exactly (:func:`stream._map_json` renders the mean)."""
    carried = list(walk.sess_init_map.items())
    k, n = len(carried), len(whole)

    def partial(m: dict, col: str):
        # the carried value of one output column
        for prefix, i in (("_avg_sum_", 0), ("_avg_cnt_", 1)):
            if col.startswith(prefix) and col[len(prefix):] in m:
                return m[col[len(prefix):]][i]
        return m.get(col)

    def column(name: str):
        if name == "_rule_id":
            return pa.array([SEED_RULE] * k + whole["_rule_id"].tolist(), pa.string())
        if name.startswith("_seed_") and name[6:] in types:
            # the cell codec's JSON keeps timestamps, dates and decimals
            # as text (default=str); Arrow's cast parses them back
            t = types[name[6:]]
            seeds = pa.array([partial(m, name[6:]) for _, m in carried]).cast(t)
            return pa.concat_arrays([seeds, pa.nulls(n, t)])
        if name not in whole:
            return None
        rows = pa.Array.from_pandas(whole[name])
        return pa.concat_arrays([pa.nulls(k, rows.type), rows])

    n_sess = len(walk.sessions)
    sid = np.concatenate([np.asarray([b for b, _ in carried], dtype=np.int64), walk.sess_full])
    values = {c: a.to_pylist() for c, a in session_values(specs, column, sid, n_sess, types).items()}
    maps: list[dict] = [dict() for _ in range(n_sess)]
    for name, (fn, _) in specs.items():
        if fn == "avg":
            for m, s_, c_ in zip(maps, values[f"_avg_sum_{name}"], values[f"_avg_cnt_{name}"]):
                if c_:
                    m[name] = [s_, c_]
            continue
        for m, v in zip(maps, values[name]):
            if v is not None and v != [] and not (fn == "count" and v == 0):
                m[name] = v
    return maps


def make_correlate_shard_fn(cfg: PipelineConfig, shards: int, int_cols: frozenset,
                            agg_types: dict, time_mode: str = "event"):
    """State walk for :func:`stream.streaming_correlate`: the full map
    lifecycle (aggregation dictionaries, closes, timeout pushes, O18 emit
    rows) over the reference's filter hot path (``aggregate.rb:179-255``).
    Agg and emit inputs arrive pre-projected as the batch engine's
    ``value_col_name`` / ``emit_col_name`` columns; ``agg_types`` maps
    each aggregation column (``correlate.session_agg_fields``) to its
    Arrow type, and ``int_cols`` names the emit inputs of an integral
    Spark type, which render as JSON integers whatever dtype pandas gave
    the chunk.

    ``time_mode='processing'``: wall-clock expiry (see
    :func:`make_passthrough_shard_fn`), with evicted cells pushed as
    timeout rows where the config asks for it."""
    specs = agg_specs(cfg)
    emit_rules = {
        r.rule_id: [(n, emit_col_name(r.rule_id, n)) for n in r.emit]
        for r in cfg.rules if r.emit
    }
    processing = time_mode == "processing"
    push = cfg.push_map_as_event_on_timeout
    out_cols = [f.name for f in OUTPUT_SCHEMA.fields]

    def _timeout_row(task, cell) -> dict:
        return dict(
            task_id=task, sink="timeout",
            creation_ts=_ts_us(cell[_C]), lastevent_ts=_ts_us(cell[_L]),
            nevents=int(cell[_N]),
            map_json=_map_json(specs, cell[_M] or {}),
        )

    def _walk_rows(whole, walk: _Walk, out_rows: list) -> None:
        """Append the closed maps and emit rows of one walked chunk, and
        persist the open maps into their cells."""
        sessions, sess_full = walk.sessions, walk.sess_full
        cr_idx = np.flatnonzero(walk.code_ran)
        sess_cr = sess_full[cr_idx]
        srid = (
            whole["_rule_id"].to_numpy()[cr_idx]
            if cr_idx.size else np.empty(0, dtype=object)
        )
        sess_maps = _session_maps(specs, agg_types, whole, walk)

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
                nevents=int(walk.sess_nev[si_]),
                map_json=_map_json(specs, sess_maps[si_]),
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
            nev_sofar += np.asarray(walk.sess_carry, dtype="int64")[sess_cr]
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
        for si_, cell in walk.open_cells.items():
            cell[_M] = sess_maps[si_]

    def build(whole, walk, evicted) -> pd.DataFrame:
        out_rows = [_timeout_row(t, c) for t, c in evicted] if push else []
        if walk is not None:
            _walk_rows(whole, walk, out_rows)
        return pd.DataFrame(out_rows, columns=out_cols)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        yield _shard_step(state, pdfs, cfg, processing, shards, build)

    return fn
