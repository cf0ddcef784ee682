"""Seeded inputs and their expected outputs for the perfbench workloads.

Rows come from the scenario template of
``logstash_filter_aggregate_spark.sources.transcripts`` (S1-S12 plus the
S13 hot conversation). The seed only remaps what a real corpus varies
without changing its shape: which task id each replica gets, when each
replica starts (timestamp stagger), and where the hot conversation sits
in time and which task id it has. Rows per task, the hot share and the
gap-versus-timeout mix stay fixed.

The expected outputs are derived from the per-scenario goldens
(FIXTURES.md §1/§3) scaled by the replica count and placed at each
replica's start time, never from a run of the engine. A sink is checked
by its row count plus an order-independent digest: the sum of
``crc32`` over one ``|``-joined line per row, which Spark computes with
``crc32(concat_ws('|', ...))`` and Python with ``zlib.crc32``.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from logstash_filter_aggregate_spark.sources.transcripts import (
    N_SCENARIOS,
    TS0,
    template_frame,
)

STAGGER_S = 997 * 13  # replica start spread, as in generate_transcripts
TID_BASE = 100_000
HOT_TID_BASE = 900_000
HOT_WORDS = np.array(["One", "Two", "Three"], dtype=object)

# example #1 (start / guarded update / end, sum of sql_duration): the one
# completed map of each scenario that makes one, as
# (sql_duration, nevents). S6's duplicate start is not counted and S11's
# update without a duration adds nothing to the start's 0.
EX1_COMPLETED = {1: (46, 4), 6: (5, 3), 11: (0, 3), 12: (7, 3)}
# example #1 passthrough tags by (scenario, t_idx); every other row has none
EX1_TAGS = {(1, 4): "_grokparsefailure", (2, 3): "_grokparsefailure", (11, 1): "_aggregateexception"}
# example #3 (click counting): the t_idx of the clicks in each scenario's
# one session
EX3_CLICKS = {3: (0, 1, 2), 10: (0,)}


def crc_sum(lines) -> int:
    return sum(zlib.crc32(s.encode()) for s in lines)


@dataclass
class Corpus:
    frame: pd.DataFrame   # conv_id, turn_idx, role, text, tool, ts; ts-sorted
    tid: np.ndarray       # task id per replica
    scen: np.ndarray      # scenario per replica
    start: np.ndarray     # start offset (s) per replica
    hot_tid: int
    hot_start: int
    hot_turns: int

    @property
    def turns(self) -> int:
        return len(self.frame)

    @property
    def watermark_s(self) -> int:
        """End of input: the latest event offset (s) over every row."""
        return int(self.frame["_off"].max())


def make_corpus(turns: int, hot_share: float, seed: int) -> Corpus:
    rng = np.random.default_rng(seed)
    tpl = template_frame()  # sorted by (scen, t_idx)
    counts = tpl.groupby("scen").size().reindex(range(1, N_SCENARIOS + 1)).to_numpy()
    hot = max(1, int(turns * hot_share))
    n = max(N_SCENARIOS, int((turns - hot) / (len(tpl) / N_SCENARIOS)))
    scen = np.arange(n) % N_SCENARIOS + 1
    tid = TID_BASE + rng.permutation(n)
    start = rng.integers(0, STAGGER_S, n)
    hot_tid = HOT_TID_BASE + int(rng.integers(0, 10_000))
    hot_start = int(rng.integers(0, STAGGER_S))

    per_rep = counts[scen - 1]
    rep = np.repeat(np.arange(n), per_rep)
    first_row = np.concatenate(([0], np.cumsum(counts)[:-1]))
    within = np.arange(len(rep)) - np.repeat(np.cumsum(per_rep) - per_rep, per_rep)
    trow = first_row[scen[rep] - 1] + within

    parts = tpl["text"].str.split("{TID}", n=1)
    pre = np.array([p[0] for p in parts], dtype=object)[trow]
    post = np.array([p[1] if len(p) > 1 else "" for p in parts], dtype=object)[trow]
    has_tid = np.array([len(p) > 1 for p in parts])[trow]
    rep_tid = pd.Series(tid[rep]).astype(str).to_numpy(dtype=object)
    text = pre + np.where(has_tid, rep_tid, "") + post
    conv = "conv-" + pd.Series(tid[rep] - TID_BASE).astype(str).str.zfill(7)

    k = np.arange(hot)
    frame = pd.DataFrame(
        {
            "conv_id": np.concatenate([conv.to_numpy(dtype=object), np.full(hot, f"hot-{hot_tid}", dtype=object)]),
            "turn_idx": np.concatenate([tpl["t_idx"].to_numpy()[trow], k]).astype("int32"),
            "role": np.concatenate([tpl["role"].to_numpy()[trow], np.full(hot, "user", dtype=object)]),
            "text": np.concatenate([text, f"INFO - {hot_tid} - Clicked " + HOT_WORDS[k % 3]]),
            "tool": np.concatenate([tpl["tool"].to_numpy()[trow], np.full(hot, "none", dtype=object)]),
            "_off": np.concatenate([start[rep] + tpl["offset_s"].to_numpy()[trow], hot_start + k]).astype("int64"),
            "_scen": np.concatenate([scen[rep], np.full(hot, 13)]).astype("int16"),
        }
    )
    frame = frame.sort_values("_off", kind="stable").reset_index(drop=True)
    frame["ts"] = (pd.Timestamp(TS0, tz="UTC") + pd.to_timedelta(frame["_off"], unit="s")).astype(
        "datetime64[us, UTC]"  # Spark reads microsecond parquet timestamps only
    )
    return Corpus(frame, tid, scen, start, hot_tid, hot_start, hot)


def write_corpus(corpus: Corpus, path: str, files: int) -> None:
    """Write ts-ordered parquet files whose modification times follow
    that order, so a file stream reads them oldest first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    table = pa.Table.from_pandas(corpus.frame[cols], preserve_index=False)
    step = -(-table.num_rows // files)
    base = 1_700_000_000
    for i in range(files):
        p = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        os.utime(p, (base + i, base + i))


# ---------------------------------------------------------------------------
# expected outputs
# ---------------------------------------------------------------------------

@dataclass
class SinkExpect:
    rows: int
    digest: int


def _scen_rows(corpus: Corpus, goldens: dict) -> tuple[np.ndarray, np.ndarray]:
    """Replica indices whose scenario has a golden, and that scenario."""
    idx = np.flatnonzero(np.isin(corpus.scen, list(goldens)))
    return idx, corpus.scen[idx]


def expect_ex1(corpus: Corpus) -> dict[str, SinkExpect]:
    """Example #1 over the mix: every created map ends with its end row,
    so only ``completed`` holds sessions; ``passthrough`` is every row."""
    idx, sc = _scen_rows(corpus, EX1_COMPLETED)
    completed = [
        f"{corpus.tid[i]}|{EX1_COMPLETED[s][0]}|{EX1_COMPLETED[s][1]}" for i, s in zip(idx, sc)
    ]
    f = corpus.frame
    tags = pd.Series(
        [EX1_TAGS.get(k, "") for k in zip(f["_scen"].tolist(), f["turn_idx"].tolist())],
        dtype=object,
    )
    lines = f["conv_id"] + "|" + f["turn_idx"].astype(str) + "|" + tags
    empty = SinkExpect(0, 0)
    return {
        "completed": SinkExpect(len(completed), crc_sum(completed)),
        "timeout": empty,
        "inline": empty,
        "open": empty,
        "passthrough": SinkExpect(len(f), crc_sum(lines)),
    }


def expect_stream_ex1(corpus: Corpus) -> SinkExpect:
    """``streaming_correlate`` with example #1 emits one ``completed`` row
    per closed map: the same maps as the batch ``completed`` sink."""
    idx, sc = _scen_rows(corpus, EX1_COMPLETED)
    lines = [f"{corpus.tid[i]}|completed|{EX1_COMPLETED[s][1]}" for i, s in zip(idx, sc)]
    return SinkExpect(len(lines), crc_sum(lines))


def expect_ex3(corpus: Corpus, timeout: float, inactivity: float) -> SinkExpect:
    """Example #3 (count clicks, push on timeout): the ``sessions`` bucket
    as ``task_id|nevents|close_reason``. The hot conversation clicks once
    a second, so it splits only on the absolute age cap, every
    ``timeout + 1`` clicks. A task's last map is ``open`` unless the end
    of input has passed its age cap or inactivity timeout."""
    tpl = template_frame().set_index(["scen", "t_idx"])["offset_s"]
    wm = corpus.watermark_s
    sessions: list[tuple[int, int, int, int, bool]] = []  # tid, n, creation, last, is_last
    idx, sc = _scen_rows(corpus, EX3_CLICKS)
    for i, s in zip(idx, sc):
        t = EX3_CLICKS[s]
        st = int(corpus.start[i])
        sessions.append((int(corpus.tid[i]), len(t), st + int(tpl[(s, t[0])]), st + int(tpl[(s, t[-1])]), True))
    size = int(timeout) + 1
    for a in range(0, corpus.hot_turns, size):
        b = min(corpus.hot_turns, a + size)
        sessions.append(
            (corpus.hot_tid, b - a, corpus.hot_start + a, corpus.hot_start + b - 1, b == corpus.hot_turns)
        )
    lines = []
    for tid, n, creation, last, is_last in sessions:
        expired = (not is_last) or wm - creation > timeout or wm - last > inactivity
        lines.append(f"{tid}|{n}|{'timeout' if expired else 'open'}")
    return SinkExpect(len(lines), crc_sum(lines))
