"""Correlation-engine benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a source tree: it measures the
``logstash_filter_aggregate_spark`` package of that tree (the driver and
the Python workers both import it from there) and exits with code 2,
printing nothing on stdout, when the tree has no such package. Every
file it writes goes under ``.perfbench/`` in that root, and a run's own
directory (Spark local dir, inputs, sinks, checkpoints) is removed when
the run ends.

One driver process runs Spark on ``local[N]``, N = the CPU count. It
sets up once (``setup_s``: launching the JVM and its session, then one
unscored warm-up rep), then measures in a closed loop: each rep starts
when the previous one has finished, and reps start until ``--seconds``
have passed and at least ``MIN_REPS`` have run. The seed builds the inputs
and their expected outputs (``inputs.py``); every rep is checked against
them and a mismatch or an error counts as failed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced ledger of ``ledger.py`` and reports the per-layer metrics. The
last line on stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "logstash_filter_aggregate_spark"
WORK = os.path.join(ROOT, ".perfbench")
CPUS = os.cpu_count() or 1
MIN_REPS = 2  # measured reps per run, however long they take
CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process-tree accounting (/proc): the driver, its JVM and the Python workers
# ---------------------------------------------------------------------------

def tree_pids(root: int | None = None) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """utime + stime of every process in the tree, plus what its reaped
    children used."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def rss_bytes(pids: list[int]) -> int:
    """Resident memory of ``pids`` as PSS: pages a forked Python worker
    shares with its daemon count once, not once per worker."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            continue
    return total


class RssSampler:
    """Samples the tree's summed resident memory ten times a second;
    ``take()`` returns the peak since the previous ``take()``."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids, scanned = [], 0.0
        while not self._stop.wait(self._interval):
            now = time.monotonic()
            if now - scanned > 1.0:  # the tree changes rarely; rescan once a second
                pids, scanned = tree_pids(), now
            rss = rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take(self) -> float:
        with self._lock:
            peak, self._peak = self._peak, rss_bytes(tree_pids())
        return peak / 1e6

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark on a fresh JVM
# ---------------------------------------------------------------------------

class Engine:
    """One SparkSession on its own JVM. ``close()`` stops the session,
    ends the JVM and waits until every process it started has exited."""

    def __init__(self, run_dir: str):
        self._conf = {
            "spark.driver.memory": "2g",
            # a fixed-size heap: no heap resizing to vary GC from run to run
            "spark.driver.extraJavaOptions": f"-Xms2g {jvm_scratch_opts(run_dir)}",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = self._session()

    def _session(self, event_log: str | None = None):
        from logstash_filter_aggregate_spark import get_spark

        conf = dict(self._conf)
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_spark(
            app_name="perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=conf,
        )

    def restart(self, event_log: str | None = None) -> None:
        """A new session on the same JVM, writing the Spark event log to
        ``event_log`` if given."""
        self.spark.stop()
        self.spark = self._session(event_log)

    def close(self) -> None:
        from pyspark import SparkContext

        started = [p for p in tree_pids() if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        wait_gone(started)


def jvm_scratch_opts(run_dir: str) -> str:
    """JVM options that keep a JVM's scratch files in the run's directory."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

@dataclass
class Data:
    path: str                       # the input parquet directory
    turns: int
    expect: object                  # what the workload's check compares against
    dir: str                        # scratch space of this input
    extra: dict = field(default_factory=dict)


@dataclass
class Rep:
    seconds: float
    ok: bool
    detail: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    rss_mb: float = 0.0


def _digest_aggs(cols: list[str]):
    from pyspark.sql import functions as F

    line = F.concat_ws("|", *[F.coalesce(F.expr(c).cast("string"), F.lit("")) for c in cols])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.crc32(line.cast("binary"))), F.lit(0)).alias("digest"),
    ]


def _matches(got: dict | None, exp) -> bool:
    got = got or {}
    return got.get("rows", 0) == exp.rows and (got.get("digest") or 0) == exp.digest


# columns each sink is digested over (inputs.py writes the same lines)
DIGEST = {
    "completed": ["task_id", "sql_duration", "nevents"],
    "passthrough": ["conv_id", "turn_idx", "array_join(tags, ',')"],
    "sessions": ["task_id", "nevents", "close_reason"],
    "stream": ["task_id", "sink", "nevents"],
}


def _outputs(spark, path: str, cfg) -> dict:
    from logstash_filter_aggregate_spark.plans.pipeline import run_pipeline

    return run_pipeline(spark, spark.read.parquet(path), cfg).as_dict()


class BatchRouted:
    """Docs example #1 through ``run_pipeline`` and ``write_routed``:
    all five sinks to local parquet, each a Spark job of its own."""

    name, kind = "batch_routed", "batch"
    turns, hot_share, files = 20_000, 0.03, 2 * CPUS
    sinks = ("completed", "timeout", "inline", "open", "passthrough")

    def __init__(self):
        from logstash_filter_aggregate_spark.plans.pipeline import example1_config

        self.cfg = example1_config()

    def expect(self, corpus):
        from inputs import expect_ex1

        return expect_ex1(corpus)

    def run(self, spark, d: Data) -> Rep:
        from logstash_filter_aggregate_spark.sinks import write_routed

        base = os.path.join(d.dir, "sinks")
        shutil.rmtree(base, ignore_errors=True)  # else write_routed skips sinks marked done
        t0 = time.perf_counter()
        outputs = _outputs(spark, d.path, self.cfg)
        plan_s = time.perf_counter() - t0
        manifest = write_routed(outputs, base, self.cfg, input_desc=d.path)
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobDescription("perfbench:check")
        ok = True
        for sink, exp in d.expect.items():
            m = manifest.sinks.get(sink) or {}
            written = bool(m.get("done")) and os.path.isdir(m.get("path", ""))
            if not written or m.get("rows") != exp.rows:
                ok = False
            elif exp.rows:
                got = spark.read.parquet(m["path"]).agg(*_digest_aggs(DIGEST[sink])).first().asDict()
                ok = ok and _matches(got, exp)
        spark.sparkContext.setJobDescription(None)
        write_s = {s: m["wall_s"] for s, m in manifest.sinks.items() if s in self.sinks}
        return Rep(dt, ok, {"plan_s": plan_s, "write_s": write_s, "mb_written": _du_mb(base)})


class BatchExactAge:
    """``exact_age_cap`` over one hot conversation, its ``sessions``
    bucket forced into the noop sink. The bucket's row count and digest
    ride the write as an Observation, so the check adds no Spark job."""

    name, kind = "batch_exact_age", "batch"
    turns, hot_share, files = 100_000, 0.97, 2 * CPUS
    sinks = ("sessions",)

    def __init__(self):
        from logstash_filter_aggregate_spark.plans.pipeline import example3_config

        self.cfg = example3_config(timeout=600.0, inactivity_timeout=600.0, exact_age_cap=True)

    def expect(self, corpus):
        from inputs import expect_ex3

        return {"sessions": expect_ex3(corpus, self.cfg.timeout, self.cfg.effective_inactivity_timeout)}

    def run(self, spark, d: Data) -> Rep:
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        out = _outputs(spark, d.path, self.cfg)
        plan_s = time.perf_counter() - t0
        obs = Observation("check")
        out["sessions"].observe(obs, *_digest_aggs(DIGEST["sessions"])).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        ok = _matches(obs.get, d.expect["sessions"])
        return Rep(dt, ok, {"plan_s": plan_s, "write_s": {"sessions": dt - plan_s}})


class StreamCorrelate:
    """``streaming_correlate`` (example #1, per-key state) over a parquet
    file stream, drained with ``availableNow`` into the noop sink, one
    file per micro-batch. Every rep gets a fresh checkpoint, since a
    reused one drains nothing."""

    name, kind = "stream_correlate", "stream"
    turns, hot_share, files = 4_000, 0.03, 2
    sinks = ("stream",)

    def __init__(self):
        from logstash_filter_aggregate_spark.plans.pipeline import example1_config

        self.cfg = example1_config()
        self._reps = itertools.count()

    def expect(self, corpus):
        from inputs import expect_stream_ex1

        return expect_stream_ex1(corpus)

    def run(self, spark, d: Data, query_name: str = "perfbench") -> Rep:
        from logstash_filter_aggregate_spark.streaming.stream import streaming_correlate

        cp = os.path.join(d.dir, f"checkpoint-{next(self._reps)}")
        schema = d.extra.get("schema") or spark.read.parquet(d.path).schema
        d.extra["schema"] = schema
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d.path)
        out = streaming_correlate(src, self.cfg).observe("check", *_digest_aggs(DIGEST["stream"]))
        t0 = time.perf_counter()
        q = (
            out.writeStream.format("noop")
            .queryName(query_name)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        progress = [json.loads(p if isinstance(p, str) else p.json) for p in q.recentProgress]
        shutil.rmtree(cp, ignore_errors=True)
        got = {"rows": 0, "digest": 0}
        for p in progress:
            m = (p.get("observedMetrics") or {}).get("check") or {}
            got["rows"] += m.get("rows") or 0
            got["digest"] += m.get("digest") or 0
        return Rep(dt, _matches(got, d.expect) and q.exception() is None, {"progress": progress})


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


WORKLOADS = (BatchRouted, BatchExactAge, StreamCorrelate)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def prepare(wl, seed: int, run_dir: str) -> Data:
    """The workload's input for ``seed`` and its expected outputs."""
    import inputs

    corpus = inputs.make_corpus(wl.turns, wl.hot_share, seed)
    d = os.path.join(run_dir, "data")
    path = os.path.join(d, "input")
    inputs.write_corpus(corpus, path, wl.files)
    return Data(path, corpus.turns, wl.expect(corpus), d, {"corpus": corpus})


def setup(wl, run_dir: str, warm: Data) -> tuple[Engine, float]:
    """Launch the JVM and its session and run one warm-up rep, whose
    output is not scored; returns the engine and the seconds this took."""
    t0 = time.perf_counter()
    eng = Engine(run_dir)
    try:
        wl.run(eng.spark, warm)
    except BaseException:
        eng.close()
        raise
    return eng, time.perf_counter() - t0


def measure(wl, spark, data: Data, seconds: float, sampler: RssSampler,
            min_reps: int = MIN_REPS) -> list[Rep]:
    """Closed loop: reps start until ``seconds`` have passed and
    ``min_reps`` have run."""
    reps: list[Rep] = []
    deadline = time.perf_counter() + seconds
    while len(reps) < min_reps or time.perf_counter() < deadline:
        sampler.take()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            rep = wl.run(spark, data)
        except Exception:  # a failed rep is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            rep = Rep(time.perf_counter() - t0, False)
        rep.cpu_s, rep.rss_mb = tree_cpu_s() - c0, sampler.take()
        reps.append(rep)
        print(f"# rep {len(reps)}: {rep.seconds:.3f} s ok={rep.ok}", flush=True)
    return reps


def steady_batches(progress: list[dict]) -> list[dict]:
    """A drain's micro-batches that carried input, after the first (the
    first pays the query's warm-up and is reported on its own)."""
    return [p for p in progress[1:] if p.get("numInputRows")]


def summarize(name: str, xs: list[float], unit: str) -> float:
    """Print the median, the sample count and the highest percentile that
    has at least ten samples beyond it; return the median."""
    med = statistics.median(xs)
    line = f"# {name}: median {med:.4f} {unit} over {len(xs)} samples"
    if len(xs) >= 20:
        pct = 100 * (1 - 10 / len(xs))
        line += f", p{pct:.0f} {float(np.percentile(xs, pct)):.4f} {unit}"
    print(line, flush=True)
    return med


def end_to_end(wl, reps: list[Rep], setup_s: float, turns: int) -> dict:
    good = [r for r in reps if r.ok] or reps
    job_s = summarize("job_s", [r.seconds for r in good], "s")
    if wl.kind == "stream":
        steady = [
            p["durationMs"]["triggerExecution"]
            for r in good for p in steady_batches(r.detail.get("progress", []))
        ]
        latency_ms = summarize("batch latency", steady, "ms") if steady else job_s * 1000.0
    else:
        latency_ms = job_s * 1000.0  # a batch job is one batch
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "turns_per_s": (turns / job_s, "1/s"),
        "cpu_s": (statistics.median(r.cpu_s for r in good), "s"),
        "peak_rss_mb": (statistics.median(r.rss_mb for r in good), "MB"),
        "batch_latency_ms_p50": (latency_ms, "ms"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w.name for w in WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2

    # the tree under test, for this process and every Python worker Spark starts
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")  # overrides spark.local.dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_scratch_opts(run_dir)  # spark-submit's own JVM
    os.makedirs(os.environ["TMPDIR"])
    sampler = RssSampler()
    try:
        wl = next(w for w in WORKLOADS if w.name == args.workload)()
        data = prepare(wl, args.seed, run_dir)
        if args.trace:
            import ledger

            result = ledger.traced_run(wl, data, run_dir, args, sampler)
        else:
            eng, setup_s = setup(wl, run_dir, data)
            print(f"# setup: {setup_s:.3f} s", flush=True)
            try:
                reps = measure(wl, eng.spark, data, args.seconds, sampler)
            finally:
                eng.close()
            failed = sum(not r.ok for r in reps)
            result = {
                "correct": failed == 0,
                "attempted": len(reps),
                "failed": failed,
                "metrics": end_to_end(wl, reps, setup_s, data.turns),
            }
    finally:
        sampler.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
