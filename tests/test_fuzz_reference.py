"""Randomized equivalence fuzz: the batch engine (exact mode) vs an
independent pure-Python simulator of the reference's per-event state
machine (written from the documented semantics, SURVEY.md §3.2 /
``aggregate.rb:179-255``: expiry-on-arrival before the guard, duplicate
``create`` returns before the lastevent update, ``update`` without a map
is a no-op, ``end_of_task`` deletes, ``map_meta.timeout=0`` evicts
immediately, >0 overrides the map's later checks, end-of-input watermark
classifies survivors).

60 seeded-random streams share 4 pipeline runs (one per config shape):
each stream gets its own task id, so one DataFrame union exercises all
of them in a single engine pass.
"""

import datetime as dt
import random

from logstash_filter_aggregate_spark.config import AggSpec, CorrelationRule, PipelineConfig
from logstash_filter_aggregate_spark.plans.pipeline import run_pipeline
from tests.conftest import T0


class _Rule:
    def __init__(self, action="create_or_update", end=False, custom_to=None, custom_in=None,
                 agg_val=False):
        self.action = action
        self.end = end
        self.custom_to = custom_to
        self.custom_in = custom_in
        self.agg_val = agg_val  # contributes its value to val_sum


def simulate(rows, rules, timeout, inactivity, wm):
    """rows: [(kind, ts_s, val)] in ts order, one task. Returns
    [(bucket, nevents, creation, last, val_sum, n_rows)]."""
    out = []
    st = None

    def close(bucket):
        out.append((bucket, st["n"], st["creation"], st["last"], st["sum"], st["rows"]))

    for kind, ts, val in rows:
        rule = rules.get(kind)
        if rule is None:
            continue
        # event-time expiry on arrival, BEFORE the guard (aggregate.rb:194-199)
        if st is not None and (
            ts - st["creation"] > st["eff_to"] or ts - st["last"] > st["eff_in"]
        ):
            close("timeout")
            st = None
        if st is None:
            if rule.action == "update":
                continue  # no map: total no-op (aggregate.rb:203)
            st = dict(creation=ts, last=ts, n=0, sum=0, rows=0,
                      eff_to=timeout, eff_in=inactivity)
        elif rule.action == "create":
            continue  # duplicate start: no clock refresh (aggregate.rb:216,220)
        st["last"] = ts
        st["n"] += 1
        st["rows"] += 1
        if rule.agg_val:
            st["sum"] += val
        if rule.end:
            close("completed")
            st = None
            continue
        if rule.custom_to is not None and rule.custom_to == 0:
            close("inline")
            st = None
            continue
        if rule.custom_to is not None and rule.custom_to > 0:
            st["eff_to"] = rule.custom_to
        if rule.custom_in is not None and rule.custom_in > 0:
            st["eff_in"] = rule.custom_in
    if st is not None:
        if wm - st["creation"] > st["eff_to"] or wm - st["last"] > st["eff_in"]:
            close("timeout")
        else:
            close("open")
    return sorted(out)


# kind -> (text template, carries val). Task id is injected per stream.
_LINES = {
    "start": "INFO - {tid} - TASK_START - begin",
    "sql": "INFO - {tid} - SQL - q - {val}",
    "end": "INFO - {tid} - TASK_END - done",
    "click": "INFO - {tid} - Clicked One",
    "err": "ERROR - {tid} - TOOL - http - E503",
}


def _scenario_rows(rng, kinds, n_min=5, n_max=25):
    t = 0
    rows = []
    for i in range(rng.randint(n_min, n_max)):
        t += rng.choice([1, 5, 30, 60, 130, 300])
        kind = rng.choice(kinds)
        rows.append((kind, float(t), rng.randint(1, 9)))
    return rows


# the four config shapes; each: (PipelineConfig kwargs, simulator rules,
# kinds the generator may emit)
def _shapes():
    sql_sum = (AggSpec("val_sum", "sum", "coalesce(duration, 0)"),)
    return {
        "gaps": (
            dict(
                rules=(CorrelationRule("sql", "logger = 'SQL'", aggs=sql_sum),),
                timeout=200.0, inactivity_timeout=100.0,
                push_map_as_event_on_timeout=True,
            ),
            {"sql": _Rule(agg_val=True)},
            ["sql"],
        ),
        "guards_end": (
            dict(
                rules=(
                    CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
                    CorrelationRule("sql", "logger = 'SQL'", map_action="update", aggs=sql_sum),
                    CorrelationRule("end", "logger = 'TASK_END'", map_action="update",
                                    end_of_task=True),
                ),
                timeout=250.0, inactivity_timeout=250.0,
                push_map_as_event_on_timeout=True,
            ),
            {
                "start": _Rule(action="create"),
                "sql": _Rule(action="update", agg_val=True),
                "end": _Rule(action="update", end=True),
            },
            ["start", "sql", "end"],
        ),
        "custom": (
            dict(
                rules=(
                    CorrelationRule("err", "err_code is not null", custom_timeout="0"),
                    CorrelationRule("click", "click_target is not null",
                                    custom_timeout="50"),
                    CorrelationRule("sql", "logger = 'SQL'", aggs=sql_sum),
                ),
                timeout=400.0, inactivity_timeout=400.0,
                push_map_as_event_on_timeout=True,
            ),
            {
                "err": _Rule(custom_to=0),
                "click": _Rule(custom_to=50.0),
                "sql": _Rule(agg_val=True),
            },
            ["err", "click", "sql"],
        ),
        "end_and_gaps": (
            dict(
                rules=(
                    CorrelationRule("sql", "logger = 'SQL'", aggs=sql_sum),
                    CorrelationRule("end", "logger = 'TASK_END'", end_of_task=True),
                ),
                timeout=150.0, inactivity_timeout=80.0,
                push_map_as_event_on_timeout=True,
            ),
            {"sql": _Rule(agg_val=True), "end": _Rule(end=True)},
            ["sql", "end"],
        ),
        "guarded_custom_mix": (
            # maximal interaction surface: create/update guards + a custom
            # absolute timeout set AT creation + a custom inactivity
            # override mid-map + end_of_task deletion, all in one config
            dict(
                rules=(
                    CorrelationRule("start", "logger = 'TASK_START'", map_action="create",
                                    custom_timeout="120"),
                    CorrelationRule("sql", "logger = 'SQL'", map_action="update",
                                    aggs=sql_sum),
                    CorrelationRule("err", "err_code is not null", map_action="update",
                                    custom_inactivity_timeout="60"),
                    CorrelationRule("end", "logger = 'TASK_END'", map_action="update",
                                    end_of_task=True),
                ),
                timeout=300.0, inactivity_timeout=200.0,
                push_map_as_event_on_timeout=True,
            ),
            {
                "start": _Rule(action="create", custom_to=120.0),
                "sql": _Rule(action="update", agg_val=True),
                "err": _Rule(action="update", custom_in=60.0),
                "end": _Rule(action="update", end=True),
            },
            ["start", "sql", "err", "end"],
        ),
        "custom_inactivity": (
            dict(
                rules=(
                    CorrelationRule("click", "click_target is not null",
                                    custom_inactivity_timeout="40"),
                    CorrelationRule("sql", "logger = 'SQL'", aggs=sql_sum),
                ),
                timeout=500.0, inactivity_timeout=500.0,
                push_map_as_event_on_timeout=True,
            ),
            {
                "click": _Rule(custom_in=40.0),
                "sql": _Rule(agg_val=True),
            },
            ["click", "sql"],
        ),
    }


def test_fuzz_engine_matches_reference_simulator(spark):
    rng = random.Random(20260816)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    for shape, (cfg_kw, sim_rules, kinds) in _shapes().items():
        cfg = PipelineConfig(task_id="%{taskid}", exact_age_cap=True, **cfg_kw)
        streams = {
            f"{shape}{i:02d}": _scenario_rows(rng, kinds, n_max=40) for i in range(25)
        }
        data = []
        wm = 0.0
        for tid, rows in streams.items():
            for j, (kind, ts, val) in enumerate(rows):
                txt = _LINES[kind].format(tid=tid, val=val)
                data.append((tid, j, "user", txt, "none", T0 + dt.timedelta(seconds=ts)))
                wm = max(wm, ts)
        df = spark.createDataFrame(data, schema).repartition(5)
        out = run_pipeline(spark, df, cfg)

        got: dict[str, list] = {tid: [] for tid in streams}
        for bucket in ("completed", "timeout", "inline", "open"):
            for r in getattr(out, bucket).collect():
                got[r.task_id].append((
                    bucket, r.nevents,
                    (r.creation_ts - T0).total_seconds(),
                    (r.lastevent_ts - T0).total_seconds(),
                    int(r.val_sum or 0), r.nevents,
                ))
        for tid, rows in streams.items():
            exp = simulate(rows, sim_rules, cfg.timeout,
                           cfg.effective_inactivity_timeout, wm)
            exp_cmp = [(b, n, c, l, s, rr) for (b, n, c, l, s, rr) in exp]
            assert sorted(got[tid]) == sorted(exp_cmp), (
                shape, tid, rows, sorted(got[tid]), sorted(exp_cmp)
            )


def test_fuzz_resume_split_equals_full(spark):
    # O21 fuzz: split every randomized stream set at a RANDOM boundary;
    # chunk1's open maps seed chunk2; the union of emissions must equal
    # the unsplit run exactly (resume.py's documented invariant), across
    # every config shape incl. guards and custom timeout overrides
    def fp(df):
        cols = sorted(df.columns)
        return sorted(map(str, df.select(*cols).collect()))

    rng = random.Random(20260818)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    shapes = dict(_shapes())
    # rich aggregation dictionary: the order-sensitive and partial-carrying
    # fns all have seed-merge paths that must survive a split anywhere
    shapes["rich_aggs"] = (
        dict(
            rules=(
                CorrelationRule(
                    "sql", "logger = 'SQL'",
                    aggs=(
                        AggSpec("val_sum", "sum", "coalesce(duration, 0)"),
                        AggSpec("first_v", "first", "duration"),
                        AggSpec("last_v", "last", "duration"),
                        AggSpec("vals", "collect_list", "duration"),
                        AggSpec("avg_v", "avg", "duration"),
                        AggSpec("n_sql", "count"),
                    ),
                ),
            ),
            timeout=300.0, inactivity_timeout=120.0,
            push_map_as_event_on_timeout=True,
        ),
        {"sql": _Rule(agg_val=True)},
        ["sql"],
    )
    for shape, (cfg_kw, sim_rules, kinds) in shapes.items():
        cfg = PipelineConfig(task_id="%{taskid}", exact_age_cap=True, **cfg_kw)
        streams = {
            f"rs{shape}{i:02d}": _scenario_rows(rng, kinds, n_max=30) for i in range(8)
        }
        data, wm = [], 0.0
        for tid, rows in streams.items():
            for j, (kind, ts, val) in enumerate(rows):
                data.append((tid, j, "user", _LINES[kind].format(tid=tid, val=val),
                             "none", T0 + dt.timedelta(seconds=ts)))
                wm = max(wm, ts)
        df = spark.createDataFrame(data, schema).repartition(4)
        split = T0 + dt.timedelta(seconds=rng.uniform(20.0, max(wm - 20.0, 21.0)))
        from pyspark.sql import functions as F

        c1 = df.where(F.col("ts") < F.lit(split))
        c2 = df.where(F.col("ts") >= F.lit(split))

        ref = run_pipeline(spark, df, cfg)
        a = run_pipeline(spark, c1, cfg)
        b = run_pipeline(spark, c2, cfg, open_maps=a.open.localCheckpoint())

        for bucket in ("completed", "timeout", "inline"):
            assert sorted(fp(getattr(a, bucket)) + fp(getattr(b, bucket))) == fp(
                getattr(ref, bucket)
            ), (shape, bucket, str(split))
        assert fp(b.open) == fp(ref.open), (shape, str(split))


def _pp_cfg():
    return PipelineConfig(
        task_id="%{taskid}",
        rules=(
            CorrelationRule(
                "sql", "logger = 'SQL'",
                aggs=(AggSpec("val_sum", "sum", "coalesce(duration, 0)"),),
            ),
        ),
        timeout=1e9,
        push_previous_map_as_event=True,
        push_previous_exact=True,
    )


def _pp_interleavings():
    """Four random GLOBAL interleavings of task ids: [(task, ts_s, val)]."""
    rng = random.Random(20260819)
    trials = []
    for trial in range(4):
        tasks = [f"pp{trial}t{k}" for k in range(rng.randint(2, 6))]
        t, rows = 0.0, []
        for _ in range(rng.randint(20, 120)):
            t += rng.choice([1.0, 2.0, 7.0])
            rows.append((rng.choice(tasks), t, rng.randint(1, 9)))
        trials.append(rows)
    return trials


def simulate_serial_pops(rows):
    """The reference's serial single-live-map discipline
    (aggregate.rb:205-208,314-320): every task-id change pops the live
    map; shutdown flushes the survivor with the final tag
    (aggregate.rb:348-351). Returns the pushed maps as
    (task, nevents, val_sum, creation, last, final), the survivor last."""
    pushed, live = [], None
    for task, ts, val in rows:
        if live is not None and live["task"] != task:
            pushed.append((live["task"], live["n"], live["sum"],
                           live["creation"], live["last"], False))
            live = None
        if live is None:
            live = dict(task=task, n=0, sum=0, creation=ts, last=ts)
        live.update(n=live["n"] + 1, sum=live["sum"] + val, last=ts)
    pushed.append((live["task"], live["n"], live["sum"],
                   live["creation"], live["last"], True))
    return pushed


def _pp_frame(spark, rows, first=0):
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    data = [
        (task, first + j, "user", _LINES["sql"].format(tid=task, val=val), "none",
         T0 + dt.timedelta(seconds=ts))
        for j, (task, ts, val) in enumerate(rows)
    ]
    return spark.createDataFrame(data, schema)


def test_fuzz_push_previous_exact_serial_pops(spark):
    # O16/O20 fuzz: random GLOBAL interleavings of task ids vs the
    # reference's serial single-live-map discipline
    cfg = _pp_cfg()
    for trial, rows in enumerate(_pp_interleavings()):
        pushed = simulate_serial_pops(rows)
        out = run_pipeline(spark, _pp_frame(spark, rows).repartition(5), cfg)
        got = sorted(
            (r.task_id, r.nevents, int(r.val_sum or 0),
             (r.creation_ts - T0).total_seconds(),
             (r.lastevent_ts - T0).total_seconds(),
             "_aggregatefinalflush" in (r.tags or []))
            for r in out.timeout.collect()
        )
        assert got == sorted(pushed), (trial, rows[:10], got[:5], sorted(pushed)[:5])


def test_fuzz_push_previous_streaming_serial_pops(spark, tmp_path):
    # the same interleavings through streaming_correlate, three files and
    # a heartbeat file read one per micro-batch: the one-shard walk pops
    # the maps the serial reference pops, the heartbeat the survivor with
    # the final tag. Processing time has no heartbeat flush, so there the
    # survivor stays in state and every other map must match.
    import json

    from tests.conftest import heartbeat, stream_timeout_rows, write_stream_files

    cfg = _pp_cfg()
    trials = _pp_interleavings()
    legs = [(trial, rows, "event") for trial, rows in enumerate(trials)] + [(0, trials[0], "processing")]
    for trial, rows, time_mode in legs:
        cut = [0, len(rows) // 3, 2 * len(rows) // 3, len(rows)]
        frames = [_pp_frame(spark, rows[a:b], first=a) for a, b in zip(cut, cut[1:])]
        run = tmp_path / f"{time_mode}{trial}"
        write_stream_files(spark, str(run / "in"), [*frames, heartbeat(spark, rows[-1][1] + 1)])
        got = sorted(
            (r.task_id, r.nevents, json.loads(r.map_json).get("val_sum", 0),
             (r.creation_ts - T0).total_seconds(), (r.lastevent_ts - T0).total_seconds(),
             "_aggregatefinalflush" in json.loads(r.map_json).get("tags", []))
            for r in stream_timeout_rows(spark, str(run / "in"), cfg, run, time_mode)
        )
        pushed = simulate_serial_pops(rows)
        expect = sorted(pushed if time_mode == "event" else pushed[:-1])
        assert got == expect, (trial, time_mode, got[:5], expect[:5])


def test_fuzz_window_mode_matches_simulator(spark):
    # the DEFAULT (window) sessionization path, fuzzed on the shapes where
    # it is exact by design: gap splits + guards + end_of_task with the
    # absolute age cap disabled (window age splits are exact to 2
    # generations per gap segment — exact_age_cap covers the rest, fuzzed
    # above). This is the headline-bench code path.
    sql_sum = (AggSpec("val_sum", "sum", "coalesce(duration, 0)"),)
    shapes = {
        "w_gaps": (
            dict(rules=(CorrelationRule("sql", "logger = 'SQL'", aggs=sql_sum),),
                 timeout=1e9, inactivity_timeout=100.0,
                 push_map_as_event_on_timeout=True),
            {"sql": _Rule(agg_val=True)},
            ["sql"],
        ),
        "w_guards": (
            dict(rules=(
                CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
                CorrelationRule("sql", "logger = 'SQL'", map_action="update", aggs=sql_sum),
                CorrelationRule("end", "logger = 'TASK_END'", map_action="update",
                                end_of_task=True),
            ), timeout=1e9, inactivity_timeout=250.0,
               push_map_as_event_on_timeout=True),
            {"start": _Rule(action="create"),
             "sql": _Rule(action="update", agg_val=True),
             "end": _Rule(action="update", end=True)},
            ["start", "sql", "end"],
        ),
        "w_end_gaps": (
            dict(rules=(
                CorrelationRule("sql", "logger = 'SQL'", aggs=sql_sum),
                CorrelationRule("end", "logger = 'TASK_END'", end_of_task=True),
            ), timeout=1e9, inactivity_timeout=80.0,
               push_map_as_event_on_timeout=True),
            {"sql": _Rule(agg_val=True), "end": _Rule(end=True)},
            ["sql", "end"],
        ),
    }
    rng = random.Random(20260820)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    for shape, (cfg_kw, sim_rules, kinds) in shapes.items():
        cfg = PipelineConfig(task_id="%{taskid}", **cfg_kw)  # window mode
        streams = {f"{shape}{i:02d}": _scenario_rows(rng, kinds, n_max=40) for i in range(25)}
        data, wm = [], 0.0
        for tid, rows in streams.items():
            for j, (kind, ts, val) in enumerate(rows):
                data.append((tid, j, "user", _LINES[kind].format(tid=tid, val=val),
                             "none", T0 + dt.timedelta(seconds=ts)))
                wm = max(wm, ts)
        df = spark.createDataFrame(data, schema).repartition(5)
        out = run_pipeline(spark, df, cfg)
        got: dict[str, list] = {tid: [] for tid in streams}
        for bucket in ("completed", "timeout", "inline", "open"):
            for r in getattr(out, bucket).collect():
                got[r.task_id].append((
                    bucket, r.nevents,
                    (r.creation_ts - T0).total_seconds(),
                    (r.lastevent_ts - T0).total_seconds(),
                    int(r.val_sum or 0), r.nevents,
                ))
        for tid, rows in streams.items():
            exp = simulate(rows, sim_rules, cfg.timeout,
                           cfg.effective_inactivity_timeout, wm)
            assert sorted(got[tid]) == sorted(list(exp)), (shape, tid, rows)


def test_fuzz_multi_pattern_isolation(spark):
    # O24 fuzz: two patterns over ONE randomized stream via run_multi
    # (shared parse) must each equal their standalone single-pattern run —
    # same task-id values under different patterns never share state
    def fp(df):
        cols = sorted(df.columns)
        return sorted(map(str, df.select(*cols).collect()))

    rng = random.Random(20260821)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    shapes = _shapes()
    cfg_a = PipelineConfig(task_id="%{taskid}", pattern_id="pa",
                           exact_age_cap=True, **shapes["gaps"][0])
    cfg_b = PipelineConfig(task_id="%{taskid}", pattern_id="pb",
                           exact_age_cap=True, **shapes["guards_end"][0])
    kinds = sorted(set(shapes["gaps"][2]) | set(shapes["guards_end"][2]))
    streams = {f"mp{i:02d}": _scenario_rows(rng, kinds, n_max=35) for i in range(12)}
    data = []
    for tid, rows in streams.items():
        for j, (kind, ts, val) in enumerate(rows):
            data.append((tid, j, "user", _LINES[kind].format(tid=tid, val=val),
                         "none", T0 + dt.timedelta(seconds=ts)))
    df = spark.createDataFrame(data, schema).repartition(5)

    from logstash_filter_aggregate_spark.plans.multi import run_multi

    multi = run_multi(spark, df, [cfg_a, cfg_b])
    for cfg in (cfg_a, cfg_b):
        solo = run_pipeline(spark, df, cfg)
        for bucket in ("completed", "timeout", "inline", "open"):
            assert fp(getattr(multi[cfg.pattern_id], bucket)) == fp(
                getattr(solo, bucket)
            ), (cfg.pattern_id, bucket)


def test_fuzz_resume_split_window_mode(spark):
    # resume fuzz for the DEFAULT (window) sessionization path, on the
    # shapes where window mode is exact (gap/guard/end, no age cap): a
    # random split + seeded resume must equal the full run
    def fp(df):
        cols = sorted(df.columns)
        return sorted(map(str, df.select(*cols).collect()))

    sql_sum = (AggSpec("val_sum", "sum", "coalesce(duration, 0)"),)
    shapes = {
        "wr_gaps": (
            dict(rules=(CorrelationRule("sql", "logger = 'SQL'", aggs=sql_sum),),
                 timeout=1e9, inactivity_timeout=100.0,
                 push_map_as_event_on_timeout=True),
            ["sql"],
        ),
        "wr_guards": (
            dict(rules=(
                CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
                CorrelationRule("sql", "logger = 'SQL'", map_action="update", aggs=sql_sum),
                CorrelationRule("end", "logger = 'TASK_END'", map_action="update",
                                end_of_task=True),
            ), timeout=1e9, inactivity_timeout=250.0,
               push_map_as_event_on_timeout=True),
            ["start", "sql", "end"],
        ),
    }
    rng = random.Random(20260822)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    from pyspark.sql import functions as F

    for shape, (cfg_kw, kinds) in shapes.items():
        cfg = PipelineConfig(task_id="%{taskid}", **cfg_kw)  # window mode
        streams = {f"{shape}{i:02d}": _scenario_rows(rng, kinds, n_max=30) for i in range(8)}
        data, wm = [], 0.0
        for tid, rows in streams.items():
            for j, (kind, ts, val) in enumerate(rows):
                data.append((tid, j, "user", _LINES[kind].format(tid=tid, val=val),
                             "none", T0 + dt.timedelta(seconds=ts)))
                wm = max(wm, ts)
        df = spark.createDataFrame(data, schema).repartition(4)
        split = T0 + dt.timedelta(seconds=rng.uniform(20.0, max(wm - 20.0, 21.0)))
        c1 = df.where(F.col("ts") < F.lit(split))
        c2 = df.where(F.col("ts") >= F.lit(split))

        ref = run_pipeline(spark, df, cfg)
        a = run_pipeline(spark, c1, cfg)
        b = run_pipeline(spark, c2, cfg, open_maps=a.open.localCheckpoint())

        for bucket in ("completed", "timeout", "inline"):
            assert sorted(fp(getattr(a, bucket)) + fp(getattr(b, bucket))) == fp(
                getattr(ref, bucket)
            ), (shape, bucket, str(split))
        assert fp(b.open) == fp(ref.open), (shape, str(split))


# ---------------------------------------------------------------------------
# streaming_passthrough fuzz (O19 + U3 over a stream, guard-gated)

class _PtRule:
    """Per-kind behavior for the passthrough simulator: what the
    reference codeblock would DO with the row (aggregate.rb:179-254),
    plus whether the engine's code-ran side effects apply — ``cancel``
    drops the row, a null ``required`` agg input tags it."""

    def __init__(self, action="create_or_update", end=False, custom_to=None,
                 custom_in=None, cancel=False, req_null=False):
        self.action = action
        self.end = end
        self.custom_to = custom_to
        self.custom_in = custom_in
        self.cancel = cancel
        self.req_null = req_null


def simulate_passthrough(rows, rules, timeout, inactivity):
    """Independent per-event replay of the reference filter for the
    PASSTHROUGH observables: for each input row (kind, ts) in ts order,
    decide kept/dropped and exception-tagged. State transitions mirror
    ``simulate`` above (expiry-on-arrival before the guard, duplicate
    ``create`` no-op, ``update`` without a map no-op, ``end_of_task``
    deletes, ``custom_timeout=0`` evicts immediately, >0 overrides);
    the row-level consequences mirror aggregate.rb:251-254 (cancel
    consumes the row only where the code ran) and the engine's O19
    contract (a row whose required agg input is NULL is tagged only
    where the code ran). Returns [(idx, kept, tagged)]."""
    out = []
    st = None
    for idx, (kind, ts, _val) in enumerate(rows):
        rule = rules.get(kind)
        if rule is None:
            out.append((idx, True, False))  # non-participating branch
            continue
        if st is not None and (
            ts - st["creation"] > st["eff_to"] or ts - st["last"] > st["eff_in"]
        ):
            st = None  # event-time expiry BEFORE the guard
        code_ran = True
        if st is None:
            if rule.action == "update":
                code_ran = False  # no map: total no-op (aggregate.rb:203)
            else:
                st = dict(creation=ts, last=ts, eff_to=timeout, eff_in=inactivity)
        elif rule.action == "create":
            code_ran = False  # duplicate start (aggregate.rb:216)
        if not code_ran:
            out.append((idx, True, False))
            continue
        st["last"] = ts
        out.append((idx, not rule.cancel, rule.req_null))
        if rule.end or (rule.custom_to is not None and rule.custom_to == 0):
            st = None
            continue
        if rule.custom_to is not None and rule.custom_to > 0:
            st["eff_to"] = rule.custom_to
        if rule.custom_in is not None and rule.custom_in > 0:
            st["eff_in"] = rule.custom_in
    return out


_LINES["sqlx"] = "INFO - {tid} - SQL - q"          # SQL rule row, NULL duration
_LINES["noise"] = "INFO - {tid} - PING - ok"       # matches no rule


def _pt_shapes():
    """Guard-gated passthrough config shapes: every shape has at least
    one update-guarded cancel or required-agg rule, so streaming takes
    the keyed state-walk tier (not the stateless fallback)."""
    req_sum = (AggSpec("dur", "sum", "duration", required=True),)
    return {
        "pt_guarded_cancel": (
            dict(
                rules=(
                    CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
                    CorrelationRule("sql", "logger = 'SQL'", map_action="update",
                                    aggs=req_sum),
                    CorrelationRule("click", "click_target is not null",
                                    map_action="update", cancel=True),
                    CorrelationRule("end", "logger = 'TASK_END'", map_action="update",
                                    end_of_task=True),
                ),
                timeout=250.0, inactivity_timeout=120.0,
            ),
            {
                "start": _PtRule(action="create"),
                "sql": _PtRule(action="update"),
                "sqlx": _PtRule(action="update", req_null=True),
                "click": _PtRule(action="update", cancel=True),
                "end": _PtRule(action="update", end=True),
            },
            ["start", "sql", "sqlx", "click", "end", "noise"],
        ),
        "pt_custom_mix": (
            dict(
                rules=(
                    CorrelationRule("start", "logger = 'TASK_START'", map_action="create",
                                    custom_timeout="120"),
                    CorrelationRule("sql", "logger = 'SQL'", map_action="update",
                                    aggs=req_sum),
                    CorrelationRule("err", "err_code is not null", map_action="update",
                                    custom_inactivity_timeout="60"),
                    CorrelationRule("end", "logger = 'TASK_END'", map_action="update",
                                    end_of_task=True),
                ),
                timeout=300.0, inactivity_timeout=200.0,
            ),
            {
                "start": _PtRule(action="create", custom_to=120.0),
                "sql": _PtRule(action="update"),
                "sqlx": _PtRule(action="update", req_null=True),
                "err": _PtRule(action="update", custom_in=60.0),
                "end": _PtRule(action="update", end=True),
            },
            ["start", "sql", "sqlx", "err", "end", "noise"],
        ),
        "pt_ct0_cancel": (
            dict(
                rules=(
                    CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
                    CorrelationRule("err", "err_code is not null", map_action="update",
                                    custom_timeout="0"),
                    CorrelationRule("click", "click_target is not null",
                                    map_action="update", cancel=True),
                    CorrelationRule("sql", "logger = 'SQL'", map_action="update",
                                    aggs=req_sum),
                ),
                timeout=400.0, inactivity_timeout=150.0,
            ),
            {
                "start": _PtRule(action="create"),
                "err": _PtRule(action="update", custom_to=0.0),
                "click": _PtRule(action="update", cancel=True),
                "sql": _PtRule(action="update"),
                "sqlx": _PtRule(action="update", req_null=True),
            },
            ["start", "err", "click", "sql", "sqlx", "noise"],
        ),
    }


def test_fuzz_streaming_passthrough_matches_simulator(spark, tmp_path):
    # the eighth fuzz family: streaming_passthrough's gated state walk vs
    # the independent per-row passthrough simulator, replayed in TWO
    # micro-batches split at a ts boundary (carried state cell crosses
    # the restart). Every row of every stream is accounted for: kept
    # rows carry exactly the expected tags, cancelled rows are absent.
    from logstash_filter_aggregate_spark.streaming.stream import streaming_passthrough

    rng = random.Random(20260823)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    for shape, (cfg_kw, sim_rules, kinds) in _pt_shapes().items():
        cfg = PipelineConfig(task_id="%{taskid}", **cfg_kw)
        streams = {
            f"sp{shape}{i:02d}": _scenario_rows(rng, kinds, n_max=25) for i in range(10)
        }
        data, wm = [], 0.0
        for tid, rows in streams.items():
            for j, (kind, ts, val) in enumerate(rows):
                data.append((tid, j, "user", _LINES[kind].format(tid=tid, val=val),
                             "none", T0 + dt.timedelta(seconds=ts)))
                wm = max(wm, ts)
        split = T0 + dt.timedelta(seconds=rng.uniform(wm * 0.3, wm * 0.7))
        src = str(tmp_path / f"src_{shape}")
        out_dir = str(tmp_path / f"out_{shape}")
        cp = str(tmp_path / f"cp_{shape}")
        df = spark.createDataFrame(data, schema)
        from pyspark.sql import functions as F

        df.where(F.col("ts") < F.lit(split)).repartition(2).write.parquet(src)

        def run_once():
            stream = (
                spark.readStream.schema(schema).parquet(src)
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )
            # watermark beyond the stream span: timers are state-cleanup
            # only; expiry is computed on arrival, as in the reference
            q = (
                streaming_passthrough(stream, cfg, watermark="100000 seconds")
                .writeStream.format("parquet")
                .option("path", out_dir).option("checkpointLocation", cp)
                .outputMode("append").trigger(availableNow=True).start()
            )
            assert q.awaitTermination(300)

        run_once()
        df.where(F.col("ts") >= F.lit(split)).repartition(2).write.mode(
            "append"
        ).parquet(src)
        run_once()

        got = {
            (r.conv_id, r.turn_idx): tuple(sorted(r.tags or []))
            for r in spark.read.parquet(out_dir).select(
                "conv_id", "turn_idx", "tags"
            ).collect()
        }
        for tid, rows in streams.items():
            exp = simulate_passthrough(
                rows, sim_rules, cfg.timeout, cfg.effective_inactivity_timeout
            )
            for idx, kept, tagged in exp:
                key = (tid, idx)
                if not kept:
                    assert key not in got, (shape, tid, idx, rows, got.get(key))
                else:
                    want = ("_aggregateexception",) if tagged else ()
                    assert got.get(key) == want, (
                        shape, tid, idx, rows, got.get(key), want
                    )
        n_exp = sum(
            sum(1 for _i, kept, _t in simulate_passthrough(
                rows, sim_rules, cfg.timeout, cfg.effective_inactivity_timeout
            ) if kept)
            for rows in streams.values()
        )
        assert len(got) == n_exp, (shape, len(got), n_exp)


def test_streaming_passthrough_window_corner_matches_reference(spark, tmp_path):
    # The duplicate-create gap-refresh corner, on which the former window
    # tier diverged: batch (default config) and stream both match the
    # reference. Scenario: create at t=0, duplicate create at t=90
    # (reference: no-op, clock NOT refreshed), cancel-rule row at t=150.
    # Reference: gap 150s > 120 -> map expired on arrival -> cancel code
    # never runs -> row KEPT.
    from pyspark.sql import functions as F  # noqa: F401

    from logstash_filter_aggregate_spark.plans.pipeline import run_pipeline
    from logstash_filter_aggregate_spark.streaming.stream import streaming_passthrough
    from tests.conftest import make_transcript

    rules = (
        CorrelationRule("start", "logger = 'TASK_START'", map_action="create"),
        CorrelationRule("click", "click_target is not null",
                        map_action="update", cancel=True),
    )
    rows = [
        (0, "INFO - u1 - TASK_START - s", 0),
        (1, "INFO - u1 - TASK_START - s", 90),
        (2, "INFO - u1 - Clicked One", 150),
    ]
    sim_rules = {"start": _PtRule(action="create"),
                 "click": _PtRule(action="update", cancel=True)}
    sim_rows = [("start", 0.0, 0), ("start", 90.0, 0), ("click", 150.0, 0)]
    exp = simulate_passthrough(sim_rows, sim_rules, 600.0, 120.0)
    assert [(k, t) for _i, k, t in exp] == [(True, False)] * 3  # all kept

    p = str(tmp_path / "corner_in")
    make_transcript(spark, rows).write.parquet(p)
    t = spark.read.parquet(p)

    cfg = PipelineConfig(task_id="%{taskid}", rules=rules,
                         timeout=600.0, inactivity_timeout=120.0)

    # the batch default is reference-exact -> all three rows kept
    batch_idx = sorted(
        r.turn_idx for r in run_pipeline(spark, t, cfg).passthrough.collect()
    )
    assert batch_idx == [0, 1, 2]
    # in processing time no clock runs out during the replay: the map is
    # still live at the click, whose cancel code runs and drops it
    proc = PipelineConfig(task_id="%{taskid}", rules=rules, timeout=600.0,
                          inactivity_timeout=120.0, timeout_timestamp_field=None)
    proc_idx = sorted(
        r.turn_idx for r in run_pipeline(spark, t, proc).passthrough.collect()
    )
    assert proc_idx == [0, 1]

    # the stream matches the reference too
    src = (
        spark.readStream.schema(t.schema).parquet(p)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    name = "st_pt_window_corner"
    q = (
        streaming_passthrough(src, cfg)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    stream_idx = sorted(r.turn_idx for r in spark.table(name).collect())
    assert stream_idx == [0, 1, 2]
