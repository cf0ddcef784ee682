"""Traced run: the per-layer ledger of one workload (``--trace 1``).

The end-to-end figures come from untraced runs. A traced run uses one
JVM and three sessions:

1. untraced, without the Spark event log: reps of the whole job, the
   reference ``job_s``;
2. traced, with the event log on: reps of the whole job (the traced
   ``job_s``; the difference is ``trace.overhead_s``), then rounds in
   which every cumulative prefix of the pipeline (scan, +grok,
   +classify, +narrow, +sessionize, +guards, +aggregate, +route, and the
   passthrough) is forced into the noop sink;
3. untraced again, since the JVM keeps warming and the reference must
   not sit on one side of the traced session only.

The first round observes the row counts and is not timed. The timed
rounds force each prefix projected to the columns its sink jobs read
from it, so that a prefix does not pay for columns the optimizer prunes
from the real job (every grok capture, say), and alternate their order.

Every forcing, round and whole-job rep is one span (name, start, end,
parent, run id), kept in memory and written to ``.perfbench/traces/``
when the run ends. A span's Spark jobs carry its name as their job
description, which is how stage and task metrics in the event log are
attributed to layers.

A layer's self time is the median time of its prefix minus that of the
parent prefix. A job of the workload is a chain of prefixes ending in
one sink write, and a layer's self time is summed over the jobs that run
it: ``batch_routed`` recomputes scan, grok and classify in each sink job
that reads its input. A bucket the optimizer proves empty runs no
prefix. The ``sinks`` layer gets each write's time minus its chain's
last prefix, and ``pipeline.plan`` the driver time spent building the
job's DataFrames before its first Spark job. ``trace.self_sum_ratio``
divides the summed self times by the untraced ``job_s``;
``trace.nonmonotone_prefixes`` counts the chain steps whose prefix ran
faster than its parent in every timed round.

What each layer should move, and where:

- ``scan``: ``job_s`` on the batch workloads, a small share everywhere.
- ``grok``, ``classify``: ``job_s`` and ``cpu_s`` on ``batch_routed``,
  whose sink jobs each recompute them; a small share on
  ``batch_exact_age``.
- ``correlate.narrow``: ``spark.shuffle_write_mb``, then ``job_s`` on
  ``batch_routed``.
- ``sessionize``: ``job_s`` on ``batch_routed``; on ``batch_exact_age``
  its ``kernel_s`` (the numpy scan called directly on the hot task) and
  ``arrow_s`` (the rest: the Arrow transfer of the one hot task).
- ``correlate.guards``, ``correlate.route``, ``pipeline.passthrough``,
  ``sinks``: ``job_s`` (and ``peak_rss_mb`` for the checkpointed
  passthrough) on ``batch_routed`` only.
- ``correlate.aggregate``: both batch workloads.
- ``spark``: ``cpu_s`` and ``peak_rss_mb`` on every workload.
- ``stream``, ``stream.state``: ``batch_latency_ms_p50`` and ``job_s`` on
  ``stream_correlate``; nothing on the batch workloads.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
import uuid
from collections import defaultdict

import numpy as np

import run as bench

FULL_REPS = 2  # traced reps of the whole job
ROUNDS = 2     # timed forcings of every prefix, in alternating order

SINK_NAMES = ("completed", "timeout", "inline", "open", "passthrough", "sessions")
ROUTE_BUCKETS = ("completed", "timeout", "inline", "open")
STREAM_DURATIONS = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")

PER_LAYER: list[tuple[str, str]] = (
    [
        ("scan.self_s", "s"),
        ("grok.self_s", "s"), ("grok.rows_out", "count"), ("grok.match_ratio", "ratio"),
        ("classify.self_s", "s"), ("classify.task_ratio", "ratio"),
        ("correlate.narrow.self_s", "s"), ("correlate.narrow.bytes_per_row", "B"),
        ("sessionize.self_s", "s"), ("sessionize.exchange_mb", "MB"),
        ("sessionize.max_task_s", "s"), ("sessionize.task_skew", "ratio"),
        ("sessionize.kernel_s", "s"), ("sessionize.arrow_s", "s"),
        ("correlate.guards.self_s", "s"), ("correlate.guards.included_ratio", "ratio"),
        ("correlate.aggregate.self_s", "s"), ("correlate.aggregate.sessions", "count"),
        ("correlate.route.self_s", "s"),
    ]
    + [(f"correlate.route.rows.{b}", "count") for b in ROUTE_BUCKETS]
    + [("pipeline.passthrough.self_s", "s"), ("pipeline.passthrough.rows", "count")]
    + [("pipeline.plan.self_s", "s")]
    + [(f"sinks.write_s.{s}", "s") for s in SINK_NAMES]
    + [("sinks.self_s", "s"), ("sinks.mb_written", "MB"), ("sinks.recompute_ratio", "ratio")]
    + [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
        ("stream.batches", "count"), ("stream.rows_per_batch", "count"), ("stream.first_batch_ms", "ms"),
    ]
    + [(f"stream.{k}_ms", "ms") for k in STREAM_DURATIONS]
    + [
        ("stream.state.rows", "count"), ("stream.state.memory_mb", "MB"),
        ("stream.state.commit_ms", "ms"), ("stream.state.rows_removed", "count"),
        ("stream.state.rows_dropped_by_watermark", "count"),
        ("trace.overhead_s", "s"), ("trace.self_sum_ratio", "ratio"),
        ("trace.nonmonotone_prefixes", "count"),
    ]
)


class Tracer:
    """Spans kept in memory; each tags its Spark jobs with its name."""

    def __init__(self, eng, run_id: str):
        self.eng, self.run_id, self.spans = eng, run_id, []

    def span(self, name: str, fn, parent: str | None = None):
        sc = self.eng.spark.sparkContext
        sc.setJobDescription(f"perfbench:{name}")
        start, t0 = time.time(), time.perf_counter()
        try:
            out = fn()
        finally:
            dur = time.perf_counter() - t0
            sc.setJobDescription(None)
        self.spans.append(
            {"name": name, "start": start, "end": start + dur, "parent": parent, "run_id": self.run_id}
        )
        return out, dur


# ---------------------------------------------------------------------------
# prefixes of the batch pipeline
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _reads(df) -> bool:
    """Whether forcing ``df`` computes anything: a bucket the optimizer
    proves empty (``limit(0)``) plans to an empty local relation."""
    return not _plan(df).startswith("LocalRelation <empty>")


def _projected(df, plans: list[str]):
    """``df`` projected to the columns some sink job reads from it: the
    ones its optimized plans still reference after column pruning."""
    keep = [c for c in df.columns if any(re.search(rf"(?<!\w){re.escape(c)}#", p) for p in plans)]
    return df.select(*[f"`{c}`" for c in keep]) if keep else df


def batch_prefixes(spark, path: str, wl):
    """The cumulative prefixes of the workload's job and the chains: sink
    -> the prefixes its Spark job runs, in order (empty for a bucket that
    computes nothing). A prefix is ``(timed, counted)``: the frame
    projected to the columns its sink jobs read from it, which is what a
    timed round forces, and the whole frame with the counts observed on
    it, which the untimed round forces.
    Built afresh for every round, since an Observation serves one action
    and a forced ``localCheckpoint`` would be reused. On the stream, the
    prefixes are the layers streaming_correlate runs before its state:
    scan, grok and classify."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from logstash_filter_aggregate_spark.config import KIND_COL, TASK_ID_COL
    from logstash_filter_aggregate_spark.operators.classify import classify
    from logstash_filter_aggregate_spark.operators.correlate import (
        aggregate_sessions,
        apply_guards,
        narrow_for_correlation,
        route_sessions,
    )
    from logstash_filter_aggregate_spark.operators.sessionize import sessionize
    from logstash_filter_aggregate_spark.plans.pipeline import parse, run_pipeline

    cfg = wl.cfg
    raw = spark.read.parquet(path)
    parsed = parse(raw)
    classified = classify(parsed, cfg)
    narrow = narrow_for_correlation(classified, cfg)
    sessionized = sessionize(narrow, cfg)
    guarded = apply_guards(sessionized, cfg)
    sessions = aggregate_sessions(guarded, cfg)
    routed = route_sessions(sessions, cfg, watermark_df=raw)
    outputs = run_pipeline(spark, raw, cfg).as_dict()

    def count_if(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    counts = {
        "grok": [count_if(F.col("grok_pattern").isNotNull(), "matched")],
        "classify": [count_if(F.col(TASK_ID_COL).isNotNull() & F.col(KIND_COL).isNotNull(), "tasks")],
        "correlate.guards": [count_if(F.col("_included"), "included")],
        "correlate.route:sessions": [count_if(F.col("close_reason") == b, b) for b in ROUTE_BUCKETS],
    }
    heads = [("scan", raw), ("grok", parsed), ("classify", classified)]
    layers = heads + [
        ("correlate.narrow", narrow), ("sessionize", sessionized),
        ("correlate.guards", guarded), ("correlate.aggregate", sessions),
    ]
    # the passthrough job projects the heads differently from the
    # correlation jobs, so its chain has heads of its own
    frames, readers, chains = {}, defaultdict(list), {}
    stream = wl.kind == "stream"
    for sink in ("completed",) if stream else wl.sinks:
        if not _reads(outputs[sink]):
            chains[sink] = []
            continue
        if stream:
            steps = heads
        elif sink == "passthrough":
            steps = [(f"{n}:passthrough", df) for n, df in heads] + [("pipeline.passthrough", outputs[sink])]
        else:
            steps = layers + [(f"correlate.route:{sink}", getattr(routed, sink))]
        plan = _plan(outputs[sink])
        for name, df in steps:
            frames[name] = df
            readers[name].append(plan)
        chains[sink] = [name for name, _ in steps]
    prefixes = {}
    for name, df in frames.items():
        obs = Observation()
        counted = df.observe(obs, F.count(F.lit(1)).alias("rows"), *counts.get(name, []))
        prefixes[name] = (_projected(df, readers[name]), (counted, obs))
    return prefixes, chains


def layer_of(prefix: str) -> str:
    return prefix.split(":")[0]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict[str, dict]:
    """job description -> jobs, completed stages and per-task metrics of
    the jobs that carried it."""
    stage_desc: dict[int, str] = {}
    by_desc: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": set(), "tasks": []})
    for name in sorted(os.listdir(log_dir)):  # one plain JSON-lines file per application
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                    by_desc[desc]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif ev == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    by_desc[stage_desc.get(sid, "")]["stages"].add(sid)
                elif ev == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    ti, tm = e.get("Task Info") or {}, e.get("Task Metrics") or {}
                    shw = tm.get("Shuffle Write Metrics") or {}
                    by_desc[stage_desc.get(sid, "")]["tasks"].append(
                        {
                            "stage": sid,
                            "s": (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_b": shw.get("Shuffle Bytes Written", 0),
                            "shuffle_rows": shw.get("Shuffle Records Written", 0),
                            "spill_b": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        }
                    )
    return by_desc


def _sum_over(log: dict, match) -> dict:
    out = {"jobs": 0, "stages": 0, "tasks": []}
    for desc, d in log.items():
        if match(desc):
            out["jobs"] += d["jobs"]
            out["stages"] += len(d["stages"])
            out["tasks"] += d["tasks"]
    return out


def _skew(tasks: list[dict]) -> tuple[float, float]:
    """The longest task, and its stage's max over median task time."""
    if not tasks:
        return 0.0, 0.0
    worst = max(tasks, key=lambda t: t["s"])
    same = [t["s"] for t in tasks if t["stage"] == worst["stage"]]
    med = statistics.median(same)
    return worst["s"], (worst["s"] / med if med > 0 else 1.0)


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def stream_layers(reps: list) -> dict[str, float]:
    progress = [r.detail.get("progress", []) for r in reps if r.ok]
    if not progress:
        return {}
    steady = [p for ps in progress for p in bench.steady_batches(ps)]
    states = [(p.get("stateOperators") or [{}])[0] for ps in progress for p in ps]
    with_rows = [p["numInputRows"] for ps in progress for p in ps if p.get("numInputRows")]
    m = {
        "stream.batches": _med(len(ps) for ps in progress),
        "stream.rows_per_batch": _med(with_rows),
        "stream.first_batch_ms": _med(ps[0]["durationMs"]["triggerExecution"] for ps in progress if ps),
        "stream.state.rows": _med(s.get("numRowsTotal", 0) for s in states),
        "stream.state.memory_mb": max(s.get("memoryUsedBytes", 0) for s in states) / 1e6,
        "stream.state.commit_ms": _med(s.get("commitTimeMs", 0) for s in states),
        "stream.state.rows_removed": _med(sum(
            (p.get("stateOperators") or [{}])[0].get("numRowsRemoved", 0) for p in ps) for ps in progress),
        "stream.state.rows_dropped_by_watermark": _med(sum(
            (p.get("stateOperators") or [{}])[0].get("numRowsDroppedByWatermark", 0) for p in ps)
            for ps in progress),
    }
    for k in STREAM_DURATIONS:
        m[f"stream.{k}_ms"] = _med(p["durationMs"].get(k, 0) for p in steady)
    return m


def hot_kernel_s(spark, data, wl) -> float:
    """The exact tier's scan kernel, called directly on the collected hot
    task (median of three calls)."""
    from pyspark.sql import functions as F

    from logstash_filter_aggregate_spark.operators import sessionize as sz
    from logstash_filter_aggregate_spark.operators.classify import classify
    from logstash_filter_aggregate_spark.plans.pipeline import parse

    hot = str(data.extra["corpus"].hot_tid)
    pdf = (
        classify(parse(spark.read.parquet(data.path)), wl.cfg)
        .where(F.col("_task_id") == hot)
        .select("ts")
        .toPandas()
    )
    ts = np.sort(pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() / 1e9)
    times = []
    for _ in range(3):
        age, end_seg = np.zeros(len(ts), dtype="int32"), np.zeros(len(ts), dtype="int64")
        t0 = time.perf_counter()
        sz._fast_scan(ts, end_seg, None, age, float(wl.cfg.timeout), float(wl.cfg.effective_inactivity_timeout))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def traced_run(wl, data, run_dir: str, args, sampler) -> dict:
    run_id = uuid.uuid4().hex[:12]
    all_reps = []

    # 1. untraced reference, before and after the traced session: the JVM
    # keeps warming, so one side alone would bias the overhead, and the
    # median of three reps sets aside the first rep after the warm-up
    eng, _ = bench.setup(wl, run_dir, data)
    tracer = Tracer(eng, run_id)
    times: dict[str, list[float]] = defaultdict(list)
    observations: dict[str, dict] = {}
    kernel_s = 0.0
    try:
        untraced = bench.measure(wl, eng.spark, data, args.seconds / 2, sampler)

        # 2. traced, on a new session that writes the event log: the
        # whole-job reps, then the prefix rounds
        log_dir = os.path.join(run_dir, "eventlog")
        eng.restart(event_log=log_dir)
        traced = []
        for i in range(FULL_REPS):
            if wl.kind == "stream":
                rep, _ = tracer.span(f"full#{i}", lambda: wl.run(eng.spark, data, query_name=f"perfbench-full-{i}"))
            else:
                rep, _ = tracer.span(f"full#{i}", lambda: wl.run(eng.spark, data))
            traced.append(rep)
        all_reps += traced
        # round 0 observes the counts and is not timed; the timed rounds
        # alternate their order, since a forcing runs slower early in a
        # round
        for rnd in range(ROUNDS + 1):
            start = time.time()
            prefixes, chains = batch_prefixes(eng.spark, data.path, wl)
            order = list(prefixes.items())
            for name, (timed, (counted, obs)) in order if rnd % 2 else order[::-1]:
                df = counted if rnd == 0 else timed
                force = lambda df=df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
                _, dur = tracer.span(f"{name}#{rnd}", force, parent=f"round#{rnd}")
                if rnd == 0:
                    observations[name] = obs.get
                else:
                    times[name].append(dur)
            tracer.spans.append(
                {"name": f"round#{rnd}", "start": start, "end": time.time(), "parent": None, "run_id": run_id}
            )
        if wl.cfg.exact_age_cap:
            kernel_s = hot_kernel_s(eng.spark, data, wl)
        eng.restart()
        untraced += bench.measure(wl, eng.spark, data, args.seconds / 2, sampler, min_reps=1)
    finally:
        eng.close()
    all_reps += untraced
    untraced_s = _med(r.seconds for r in untraced if r.ok)

    log = read_event_log(log_dir)
    T = {name: statistics.median(ts) for name, ts in times.items()}
    good = [r for r in traced if r.ok] or traced
    traced_s = _med(r.seconds for r in good)
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    def cheaper(child: str, parent: str) -> bool:
        """Every timed round of ``child`` beat every round of ``parent``."""
        return max(times[child]) < min(times[parent])

    # self times, summed over the sink jobs that run each layer
    nonmono = set()
    if wl.kind == "batch":
        write_s = {s: _med(r.detail["write_s"][s] for r in good) for s in wl.sinks}
        # building the job's DataFrames on the driver, before any Spark job
        m["pipeline.plan.self_s"] = _med(r.detail["plan_s"] for r in good)
        for sink, chain in chains.items():
            prev = 0.0
            for i, p in enumerate(chain):
                m[f"{layer_of(p)}.self_s"] += T[p] - prev
                if i and cheaper(p, chain[i - 1]):
                    nonmono.add((chain[i - 1], p))
                prev = T[p]
            m["sinks.self_s"] += write_s[sink] - prev
            m[f"sinks.write_s.{sink}"] = write_s[sink]
        self_sum = sum(v for k, v in m.items() if k.endswith(".self_s"))
        m["sinks.recompute_ratio"] = sum(write_s.values()) / max(T[c[-1]] for c in chains.values() if c)
        m["sinks.mb_written"] = _med(r.detail.get("mb_written", 0.0) for r in good)
    else:
        for p, parent in (("scan", None), ("grok", "scan"), ("classify", "grok")):
            m[f"{p}.self_s"] = T[p] - (T[parent] if parent else 0.0)
            if parent and cheaper(p, parent):
                nonmono.add((parent, p))
        # the streaming analog: the micro-batches' summed time over the drain
        self_sum = _med(
            sum(p["durationMs"]["triggerExecution"] for p in r.detail["progress"]) / 1000.0 for r in good
        )
        m.update(stream_layers(good))
    for (a, b) in sorted(nonmono):
        print(f"# prefix {b} ran faster than its parent {a}", flush=True)
    m["trace.nonmonotone_prefixes"] = float(len(nonmono))
    m["trace.overhead_s"] = traced_s - untraced_s
    m["trace.self_sum_ratio"] = self_sum / untraced_s if untraced_s else 0.0
    if wl.kind == "batch":
        print(
            f"# self times sum to {self_sum:.3f} s against untraced job_s {untraced_s:.3f} s "
            f"({100 * (self_sum / untraced_s - 1):+.1f} %)",
            flush=True,
        )

    # counts observed where the work happens
    o = observations
    if "grok" in o:
        m["grok.rows_out"] = o["grok"]["rows"]
        m["grok.match_ratio"] = o["grok"]["matched"] / max(o["grok"]["rows"], 1)
        m["classify.task_ratio"] = o["classify"]["tasks"] / max(o["classify"]["rows"], 1)
    if "correlate.guards" in o:
        m["correlate.guards.included_ratio"] = o["correlate.guards"]["included"] / max(o["correlate.guards"]["rows"], 1)
        m["correlate.aggregate.sessions"] = o["correlate.aggregate"]["rows"]
    for b in ROUTE_BUCKETS:
        if f"correlate.route:{b}" in o:
            m[f"correlate.route.rows.{b}"] = o[f"correlate.route:{b}"]["rows"]
        elif "correlate.route:sessions" in o:
            m[f"correlate.route.rows.{b}"] = o["correlate.route:sessions"][b]
    if "pipeline.passthrough" in o:
        m["pipeline.passthrough.rows"] = o["pipeline.passthrough"]["rows"]

    # stage and task metrics from the event log
    if wl.kind == "batch":
        timed = [f"perfbench:sessionize#{r}" for r in range(1, ROUNDS + 1)]
        sess = _sum_over(log, lambda d: d in timed)
        shuffle_b = sum(t["shuffle_b"] for t in sess["tasks"])
        shuffle_rows = sum(t["shuffle_rows"] for t in sess["tasks"])
        m["sessionize.exchange_mb"] = shuffle_b / 1e6 / ROUNDS
        m["correlate.narrow.bytes_per_row"] = shuffle_b / shuffle_rows if shuffle_rows else 0.0
        skews = [_skew(_sum_over(log, lambda d, r=r: d == r)["tasks"]) for r in timed]
        m["sessionize.max_task_s"] = _med(s[0] for s in skews)
        m["sessionize.task_skew"] = _med(s[1] for s in skews)
        if kernel_s:
            m["sessionize.kernel_s"] = kernel_s
            m["sessionize.arrow_s"] = m["sessionize.self_s"] - kernel_s
        full = _sum_over(log, lambda d: d.startswith("perfbench:full#"))
    else:
        full = _sum_over(log, lambda d: "perfbench-full-" in d)
    m["spark.jobs"] = full["jobs"] / FULL_REPS
    m["spark.stages"] = full["stages"] / FULL_REPS
    m["spark.tasks"] = len(full["tasks"]) / FULL_REPS
    m["spark.gc_s"] = sum(t["gc_s"] for t in full["tasks"]) / FULL_REPS
    m["spark.shuffle_write_mb"] = sum(t["shuffle_b"] for t in full["tasks"]) / 1e6 / FULL_REPS
    m["spark.spill_mb"] = sum(t["spill_b"] for t in full["tasks"]) / 1e6 / FULL_REPS

    trace_dir = os.path.join(bench.WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{wl.name}-{args.seed}-{run_id}.json"), "w") as f:
        json.dump(
            {"workload": wl.name, "seed": args.seed, "run_id": run_id, "prefix_s": T,
             "untraced_job_s": untraced_s, "traced_job_s": traced_s, "spans": tracer.spans},
            f, indent=1,
        )
    failed = sum(not r.ok for r in all_reps)
    units = dict(PER_LAYER)
    print(f"# untraced job_s {untraced_s:.3f} s, traced {traced_s:.3f} s", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(all_reps),
        "failed": failed,
        "metrics": {k: (float(m[k]), units[k]) for k, _ in PER_LAYER},
    }
