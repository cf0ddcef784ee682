"""Shard-keyed state: the one state tier of the streaming gated paths.

``applyInPandasWithState`` pays a fixed cost per key and micro-batch (a
Python call, an Arrow group, a state-store row, the pandas framing). At
transcript cardinalities, ~3 rows per task per batch, that floor IS the
runtime when state is keyed by task, so every streaming query keys its
state by ``_shard = pmod(xxhash64(task_id), shards)`` instead. A shard's
state row holds a cell per live map: the shard's cells are one table of
partial rows in the batch scan's ``_seed_*`` shape (``plans/resume.py``),
stored as Arrow IPC with the shard count in its schema metadata, so a
restart with another count fails instead of orphaning cells.

One shard step (:func:`_shard_step`) runs every invocation of both
stateful functions. It loads the cells, sorts the chunk by ``(task,
ts)``, puts each touched task's cell ahead of the task's rows as a
partial row and hands the chunk to the batch scan's kernel
(:func:`sessionize.scan`): batch and streaming walk tasks in one loop and
fold maps with one aggregation dictionary. The sessions still OPEN are
the new cells. The functions differ only in the output they build:
:func:`make_correlate_shard_fn` the closed maps, timeout pushes and emit
rows, :func:`make_passthrough_shard_fn` the input rows, tagged or
cancelled. push_previous keeps ONE live map and pops it on every task-id
change (``aggregate.rb:205-208,314-320``), so such a query runs on one
shard, sorted in arrival order, with a run break at each task change; a
heartbeat pops the live map as the final flush (``aggregate.rb:348-351``).

Clocks, timers and eviction: :class:`_Clock` gives each cell a deadline.
In event time (the default) it is the map's own age or inactivity expiry,
due once the watermark reaches it, the condition a per-task event-time
timer would fire on; the step evicts after the walk, among the cells the
walk did not touch. In processing time it is the map's wall-clock age
cap or inactivity window (the ``_wall_cap`` / ``_wall_last`` cell
columns); the step evicts on arrival, before the walk. Each shard keeps
ONE timer at its earliest cell deadline, a timer invocation evicts every
due cell, and evicted maps are pushed as timeout rows where the config
asks for it. Only the micro-batch a timeout lands in can differ from a
task-keyed state's (an expired cell waits for its shard's next call).

Sizing: ``shards`` defaults to :data:`stream.DEFAULT_SHARDS`. Hot-shard
parallelism caps at ``shards``, so keep it well above the core count; a
batch that touches a shard rewrites all of its cells, so for long-lived
sparse sessions raise ``shards`` until a shard holds about one live cell.

Spec parity: the reference hot path (``aggregate.rb:179-255``); equality
with the batch engine and across shard counts is pinned by the streaming
batch-equality tests and the streaming fuzz family.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from logstash_filter_aggregate_spark.config import PipelineConfig
from logstash_filter_aggregate_spark.operators.correlate import (
    SEED_RULE,
    agg_specs,
    emit_col_name,
    first_rows,
    value_col_name,
)
from logstash_filter_aggregate_spark.operators.sessionize import (
    Scan,
    _effect_rows,
    _epoch_seconds,
    _ScanPlan,
    _session_rows,
    scan,
)
from logstash_filter_aggregate_spark.streaming.stream import _map_json, _to_json

SHARD_STATE_SCHEMA = T.StructType([T.StructField("cells", T.BinaryType())])
# the chunk columns the kernel reads; correlate adds its value and emit inputs
KERNEL_COLS = ["_task_id", "_rule_id", "conv_id", "turn_idx", "ts", "_action", "_end_flag",
               "_custom_timeout", "_custom_inactivity"]
# a cell is its map's session row under the partial-row names the scan
# merges (plans/resume.py::seed_rows_from_open), plus the wall clocks
_CELL_OF = {
    "task_id": "_task_id", "creation_ts": "_seed_creation_ts", "lastevent_ts": "_seed_lastevent_ts",
    "nevents": "_seed_nevents", "_session_timeout": "_custom_timeout",
    "_session_inactivity": "_custom_inactivity",
}
_WALL = ("_wall_cap", "_wall_last")
_OUT = pa.schema([
    ("task_id", pa.string()), ("sink", pa.string()), ("creation_ts", pa.timestamp("ns")),
    ("lastevent_ts", pa.timestamp("ns")), ("nevents", pa.int64()), ("map_json", pa.string()),
])


class _ShardPlan(NamedTuple):
    """A shard step's batch-kernel plan, cell schema, chunk columns (the
    ``int_cols`` pandas hands over as float64 when they hold NULLs), clocks and mode."""

    scan: _ScanPlan
    cells: pa.Schema
    columns: list
    int_cols: frozenset
    timeout_s: float
    inactivity_s: float
    processing: bool
    shards: int
    pops: bool


def _shard_plan(cfg: PipelineConfig, shards: int, time_mode: str, columns: list,
                aggs: pa.Schema = pa.schema([]), effects: dict | None = None,
                int_cols: frozenset = frozenset(), pops: bool = False) -> _ShardPlan:
    processing = time_mode == "processing"
    clocks = (float(cfg.timeout), float(cfg.effective_inactivity_timeout))
    ts = pa.timestamp("ns")
    cells = pa.schema([
        ("_task_id", pa.string()), ("_seed_creation_ts", ts), ("_seed_lastevent_ts", ts),
        ("_seed_nevents", pa.int64()), ("_custom_timeout", pa.float64()),
        ("_custom_inactivity", pa.float64()), *[(f"_seed_{f.name}", f.type) for f in aggs],
        *[(c, pa.float64()) for c in _WALL],
    ])
    plan = _ScanPlan(
        clocks=None if processing else clocks, specs=agg_specs(cfg) if len(aggs) else {},
        schema=aggs, effects=effects or {}, effect_cols=[], last_row=False,
    )
    return _ShardPlan(plan, cells, columns, int_cols, *clocks, processing, shards, pops)


def _cell_bytes(cells: pa.Table, shards: int) -> bytes:
    """A shard's cell table as Arrow IPC, its shard count in the schema metadata."""
    cells = cells.replace_schema_metadata({"shards": str(shards)})
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, cells.schema) as w:
        w.write_table(cells)
    return sink.getvalue().to_pybytes()


def _cell_table(raw, shards: int) -> pa.Table:
    """:func:`_cell_bytes`' table; raises for another shard count or the older SGC codec."""
    if bytes(raw[:4]) in (b"SGC2", b"SGC3"):
        raise ValueError("streaming state holds cells of the older SGC2/SGC3 shard codec: drain "
                         "the query and start a fresh checkpoint (MIGRATION.md)")
    cells = pa.ipc.open_stream(pa.py_buffer(raw)).read_all()
    stored = int((cells.schema.metadata or {}).get(b"shards", -1))
    if stored != shards:
        raise ValueError(
            f"streaming state was written with shards={stored} but the query "
            f"now runs with shards={shards}: restart it with shards={stored}, "
            f"or drain it and start a fresh checkpoint"
        )
    return cells.replace_schema_metadata(None)


class _Clock:
    """The clock a shard's cells expire by, read once per invocation.

    Event time: a cell's deadline is its map's age or inactivity expiry
    in event seconds (its own ``map_meta`` overrides, else the pattern's
    clocks), due once the watermark reaches it (the condition a per-task
    event-time timer would fire on). Processing time: the wall-clock age
    cap set at map creation or the inactivity window from the last
    arrival, due once the processing-time clock reaches it; the walk then
    runs with infinite event-time clocks."""

    def __init__(self, state: GroupState, sp: _ShardPlan):
        self.sp = sp
        self.now_ms = state.getCurrentProcessingTimeMs() if sp.processing else state.getCurrentWatermarkMs()

    def deadlines(self, cells: pa.Table) -> np.ndarray:
        sp = self.sp

        def floats(name, default):
            return pc.fill_null(cells.column(name), default).to_numpy()

        if sp.processing:
            return np.minimum(
                floats("_wall_cap", math.inf), floats("_wall_last", self.now_ms / 1000.0) + sp.inactivity_s
            )

        def sec(name):
            return _epoch_seconds(cells.column(name).combine_chunks(), np.nan)

        return np.minimum(
            sec("_seed_creation_ts") + floats("_custom_timeout", sp.timeout_s),
            sec("_seed_lastevent_ts") + floats("_custom_inactivity", sp.inactivity_s),
        )

    def due(self, cells: pa.Table) -> np.ndarray:
        # event time: nothing is due before the first watermark
        if not self.sp.processing and self.now_ms <= 0:
            return np.zeros(cells.num_rows, dtype=bool)
        return self.deadlines(cells) * 1000 <= self.now_ms

    def arm(self, state: GroupState, deadline_s: float) -> None:
        """Set the shard's one timer at the earliest cell deadline."""
        if self.sp.processing:
            state.setTimeoutDuration(max(int(deadline_s * 1000 - self.now_ms), 1))
        else:
            state.setTimeoutTimestamp(max(int(deadline_s * 1000), self.now_ms + 1))


def _load_cells(state: GroupState, sp: _ShardPlan) -> pa.Table:
    if not state.exists or not state.get[0]:
        return sp.cells.empty_table()
    return _cell_table(state.get[0], sp.shards).cast(sp.cells)


def _save(state: GroupState, cells: pa.Table, clock: _Clock) -> None:
    if cells.num_rows:
        state.update((_cell_bytes(cells, clock.sp.shards),))
        clock.arm(state, float(clock.deadlines(cells).min()))
    elif state.exists:
        state.remove()


def _changes(a: np.ndarray) -> np.ndarray:
    """True at the first value and at each value unlike the one before."""
    return np.r_[True, a[1:] != a[:-1]]


class _Walked(NamedTuple):
    """One chunk through the batch kernel: the :class:`sessionize.Scan`,
    the session rows (``close_kind`` ``flush`` where a heartbeat popped
    the map), each kernel row's chunk row (-1 on a carried cell) and the
    cells of the sessions still open."""

    sc: Scan
    sess: pa.Table
    src: np.ndarray
    cells: pa.Table


def _walk(whole: pd.DataFrame, cells: pa.Table, clock: _Clock):
    """Run the batch kernel over a shard chunk; returns the
    :class:`_Walked` chunk (None when no task row arrived) and the cells
    the walk did not touch.

    The chunk is sorted by ``(task, ts, conv_id, turn_idx)``, or in
    arrival order for push_previous, whose rows between event-time
    heartbeats form one group with a run break at each task change. Each
    touched cell enters ahead of its task's rows (push_previous: ahead of
    the chunk) as a partial row: its ``ts`` is at most the first row's,
    so a late row inside the watermark still follows it, and its clocks
    ride ``_seed_creation_ts`` / ``_seed_lastevent_ts``.

    Processing time stamps each open cell's wall clocks: a map carried in
    keeps its creation-time age cap, a map created this batch gets
    ``now + timeout``, and every open map's last arrival is now."""
    sp = clock.sp
    tbl = pa.Table.from_pandas(whole, columns=sp.columns, preserve_index=False, nthreads=1)
    for c in sp.int_cols:
        if pa.types.is_floating(tbl.schema.field(c).type):
            tbl = tbl.set_column(tbl.schema.get_field_index(c), c, tbl.column(c).cast(pa.int64()))
    keys = ["ts", "conv_id", "turn_idx"] if sp.pops else ["_task_id", "ts", "conv_id", "turn_idx"]
    order = pc.sort_indices(tbl, sort_keys=[(k, "ascending") for k in keys]).to_numpy().astype(np.int64)
    hb = tbl.column("_task_id").is_null().to_numpy()[order]   # heartbeats: no task
    src = order[~hb]
    rows = tbl.take(src)
    n = rows.num_rows
    n_hb = int(hb.sum()) if sp.pops and not sp.processing else 0
    # event-time push_previous: the heartbeats before each row
    group = np.cumsum(hb)[~hb] if n_hb else np.zeros(n, dtype=np.int64)
    touched = np.zeros(cells.num_rows, dtype=bool)
    at = np.zeros(cells.num_rows, dtype=np.int64)
    if sp.pops:
        touched[:] = n + n_hb > 0
    elif n:
        tid = rows.column("_task_id").to_numpy()
        starts = np.flatnonzero(_changes(tid))
        ix = pc.index_in(cells.column("_task_id").combine_chunks(), value_set=pa.array(tid[starts], pa.string()))
        touched = ix.is_valid().to_numpy(zero_copy_only=False)
        at = starts[pc.fill_null(ix, 0).to_numpy()[touched]]
    seeds, rest = cells.filter(touched), cells.filter(~touched)
    k = seeds.num_rows
    if not n + k:
        return None, rest
    if k:
        last = seeds.column("_seed_lastevent_ts").cast(rows.schema.field("ts").type)
        cols = {c: seeds.column(c) for c in seeds.column_names if c != "_wall_last"} | {
            "_rule_id": pa.array([SEED_RULE] * k), "_action": pa.array(["create_or_update"] * k),
            "_end_flag": pa.array(np.zeros(k, dtype=np.int32)),
            "ts": pc.min_element_wise(last, rows.column("ts").take(np.minimum(at, n - 1))) if n else last,
        }
        seeded = pa.concat_tables([rows, pa.table(cols)], promote_options="permissive")
        rows = seeded.take(np.insert(np.arange(n), at, n + np.arange(k)))
        src, group = np.insert(src, at, -1), np.insert(group, at, 0)
    task_change = _changes(rows.column("_task_id").to_numpy())
    sc = scan(rows, np.flatnonzero(_changes(group) if sp.pops else task_change), sp.scan,
              task_change if sp.pops else None)
    sess = pa.table(_session_rows(sp.scan, sc))
    kind = sess.column("close_kind").to_numpy(zero_copy_only=False)
    live = kind == "open"
    if n_hb:
        # a heartbeat after the map's group pops it as the final flush
        flush = live & (group[sc.first] < n_hb)
        kind, live = np.where(flush, "flush", kind), live & ~flush
        sess = sess.set_column(sess.schema.get_field_index("close_kind"), "close_kind", pa.array(kind))
    live = np.flatnonzero(live)
    wall = [pa.nulls(len(live), pa.float64())] * 2
    if sp.processing:
        now = clock.now_ms / 1000.0
        cap = sc.column("_wall_cap")
        cap = pa.nulls(len(live), pa.float64()) if cap is None else cap.take(sc.first[live])
        wall = [pc.fill_null(cap, now + sp.timeout_s), pa.array(np.full(len(live), now))]
    opened = sess.take(live)
    new = [opened.column(c) for c in _CELL_OF] + [opened.column(f.name) for f in sp.scan.schema] + wall
    return _Walked(sc, sess, src, pa.table(dict(zip(sp.cells.names, new))).cast(sp.cells)), rest


def _shard_step(state: GroupState, pdfs: Iterator[pd.DataFrame], sp: _ShardPlan, build):
    """One shard invocation, shared by both stateful functions: load the
    cells, walk the chunk (:func:`_walk`), evict the due cells and save
    the rest. ``build(whole, walked, evicted)`` makes the output frame
    from the chunk, its :class:`_Walked` and the evicted cells; ``whole``
    and ``walked`` are None on a timer invocation.

    Processing time evicts on arrival, before the walk, as the reference
    checks a map when its task's next event comes (``aggregate.rb:194-199``).
    Event time evicts after the walk, skipping the tasks it touched: the
    walk already expired or advanced their maps by their own events."""
    clock = _Clock(state, sp)
    frames = [] if state.hasTimedOut else [p for p in pdfs if len(p)]
    if not frames and not state.hasTimedOut:
        return build(None, None, sp.cells.empty_table())
    cells = _load_cells(state, sp)
    whole = walked = None
    evicted = sp.cells.empty_table()
    if state.hasTimedOut or sp.processing:
        due = clock.due(cells)
        evicted, cells = cells.filter(due), cells.filter(~due)
    if frames:
        whole = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        walked, cells = _walk(whole, cells, clock)
        if not sp.processing:
            due = clock.due(cells)
            evicted, cells = cells.filter(due), cells.filter(~due)
    out = build(whole, walked, evicted)
    _save(state, cells if walked is None else pa.concat_tables([cells, walked.cells]), clock)
    return out


def _shard_fn(sp: _ShardPlan, build):
    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        yield _shard_step(state, pdfs, sp, build)

    return fn


def make_passthrough_shard_fn(cfg: PipelineConfig, out_cols: list[str],
                              shards: int, time_mode: str = "event"):
    """State walk for :func:`stream.streaming_passthrough`'s gated tier:
    the OUTPUT is the input rows themselves (O19 + U3,
    ``aggregate.rb:251-254``) — tagged where the code would raise,
    suppressed where it cancels. Cells carry no aggregation map; they
    exist for the guard decisions and are reclaimed by eviction, which
    emits nothing here. ``time_mode='processing'``: cells expire by the
    WALL clock (see :class:`_Clock`)."""
    req_cols_by_rule = {
        r.rule_id: [value_col_name(r.rule_id, s.col) for s in r.aggs if s.required and s.col]
        for r in cfg.rules
    }
    cancel_map = {r.rule_id: bool(r.cancel) for r in cfg.rules}
    sp = _shard_plan(cfg, shards, time_mode, KERNEL_COLS)
    _EXC = ["_aggregateexception"]

    def build(whole, walked, _evicted) -> pd.DataFrame:
        if whole is None:
            return pd.DataFrame(columns=[*out_cols, "tags"])
        nrows = len(whole)
        code_ran = np.zeros(nrows, dtype=bool)
        if walked is not None:
            row = walked.src >= 0
            code_ran[walked.src[row]] = walked.sc.sid[row] >= 0
        rid = whole["_rule_id"].to_numpy()
        exc = np.zeros(nrows, dtype=bool)
        for rule_id, req in req_cols_by_rule.items():
            for c in req:
                exc |= (rid == rule_id) & whole[c].isna().to_numpy()
        cancel = whole["_rule_id"].map(cancel_map).fillna(False).to_numpy(dtype=bool)
        kidx = np.flatnonzero(~(code_ran & cancel))     # U3: consumed where code ran
        tagged = (code_ran & exc)[kidx]                 # O19: tagged where code ran
        out = whole.iloc[kidx][out_cols].copy()
        out["tags"] = pd.Series([
            [*(b if b is not None else ()), *(_EXC if e else ())]
            for b, e in zip(whole["parse_tags"].to_numpy(dtype=object)[kidx], tagged)
        ], index=out.index, dtype=object)
        return out

    return _shard_fn(sp, build)


def _emit_rows(sp: _ShardPlan, walked: _Walked, emits: dict) -> pa.Table:
    """The O18 emit rows of a walked chunk: one per code-ran row of an
    emit rule (the kernel's effect rows), carrying the state AS OF that
    row: its session's task and creation, its own ``ts``, and the
    session's running event count, carried cells weighing their
    ``_seed_nevents``."""
    sc, sess = walked.sc, walked.sess
    eff = _effect_rows(sp.scan, sc)
    ran = np.flatnonzero(sc.sid >= 0)
    s = sc.sid[ran]
    w = np.ones(len(ran), dtype=np.int64)
    if sc.column("_seed_nevents") is not None:
        w = pc.fill_null(sc.column("_seed_nevents").take(ran), 1).to_numpy()
    total = np.cumsum(w)
    running = total - (total - w)[first_rows(s, sess.num_rows)][s]
    rule = sc.column("_rule_id").take(eff).to_numpy(zero_copy_only=False)
    payload = np.empty(len(eff), dtype=object)
    for rid, ems in emits.items():
        m = np.flatnonzero(rule == rid)
        if len(m):
            values = zip(*[sc.column(c).take(eff[m]).to_pylist() for _, c in ems])
            payload[m] = [_to_json(dict(zip([n for n, _ in ems], v))) for v in values]
    es = sc.sid[eff]
    return pa.table({
        "task_id": sess.column("task_id").take(es), "sink": pa.array(["emit"] * len(eff), pa.string()),
        "creation_ts": sess.column("creation_ts").take(es), "lastevent_ts": sc.column("ts").take(eff),
        "nevents": running[np.searchsorted(ran, eff)], "map_json": pa.array(payload, pa.string()),
    })


def make_correlate_shard_fn(cfg: PipelineConfig, shards: int, columns: list, aggs: pa.Schema,
                            int_cols: frozenset, time_mode: str = "event"):
    """State walk for :func:`stream.streaming_correlate`: the full map
    lifecycle (aggregation dictionaries, closes, timeout pushes, O18 emit
    rows) over the reference's filter hot path (``aggregate.rb:179-255``).
    Agg and emit inputs arrive pre-projected as the batch engine's
    ``value_col_name`` / ``emit_col_name`` columns (``columns`` lists the
    chunk's); ``aggs`` holds each aggregation column
    (``correlate.session_agg_fields``) with its Arrow type, and
    ``int_cols`` names the inputs of an integral Spark type.
    ``time_mode='processing'``: wall-clock expiry (see :class:`_Clock`)."""
    emits = {r.rule_id: [(n, emit_col_name(r.rule_id, n)) for n in r.emit] for r in cfg.rules if r.emit}
    push = cfg.push_map_as_event_on_timeout or cfg.push_previous_map_as_event
    sp = _shard_plan(
        cfg, shards, time_mode, columns, aggs, {rid: (True, []) for rid in emits}, int_cols,
        cfg.push_previous_map_as_event,
    )
    specs = sp.scan.specs
    # the sink of each close kind (aggregate.rb:240; the others only when pushed)
    sinks = {"end": "completed", **({"custom0": "inline", "expiry": "timeout", "flush": "timeout"} if push else {})}
    session_names = [*_CELL_OF, *sp.scan.schema.names, *_WALL]

    def sink_rows(sess: pa.Table, sink, flush) -> pa.Table:
        return pa.table({
            "task_id": sess.column("task_id"), "sink": pa.array(sink, pa.string()),
            **{c: sess.column(c) for c in ("creation_ts", "lastevent_ts", "nevents")},
            "map_json": pa.array(_map_json(specs, sess, flush), pa.string()),
        })

    def build(whole, walked, evicted) -> pd.DataFrame:
        parts = []
        if push and evicted.num_rows:
            parts.append(sink_rows(evicted.rename_columns(session_names), ["timeout"] * evicted.num_rows, None))
        if walked is not None:
            kind = walked.sess.column("close_kind").to_numpy(zero_copy_only=False)
            sink = np.asarray([sinks.get(k) for k in kind], dtype=object)
            closed = np.flatnonzero(sink != None)  # noqa: E711
            parts.append(sink_rows(walked.sess.take(closed), sink[closed], kind[closed] == "flush"))
            if emits:
                parts.append(_emit_rows(sp, walked, emits))
        parts = [p.cast(_OUT) for p in parts if p.num_rows]
        return (pa.concat_tables(parts) if parts else _OUT.empty_table()).to_pandas()

    return _shard_fn(sp, build)
