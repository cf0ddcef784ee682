"""Batch-incremental dedup (operators/incremental.py) vs the
full-corpus operators and the store contract."""

import pytest
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.operators import dedup
from logstash_filter_aggregate_spark.operators.incremental import (
    ConcurrentWriterError,
    incremental_embedding_candidates,
    incremental_exact_dedup,
    incremental_minhash_candidates,
)


def _corpus(spark, n=60, dup_every=4):
    rows = []
    for i in range(n):
        base = i - 3 if i % dup_every == 3 else i   # every 4th repeats i-3's text
        rows.append((i, f"document {base} talks about spark shuffles row {base % 5}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_exact_equals_full_corpus(spark, tmp_path):
    # survivors across 3 batches == the full-corpus exact dedup's
    # canonical ids (min doc_id per content; batch splits respect id
    # order, so in-batch firsts compose)
    df = _corpus(spark)
    store = str(tmp_path / "store")
    survivors = []
    for b, (lo, hi) in enumerate([(0, 20), (20, 40), (40, 60)]):
        out = incremental_exact_dedup(
            df.where(f"doc_id >= {lo} and doc_id < {hi}"), store, batch_id=b
        )
        survivors += [r.doc_id for r in out.select("doc_id").collect()]
    full = sorted(
        r.canonical_id for r in dedup.exact_dedup(df).collect()
    )
    assert sorted(survivors) == full


def test_incremental_exact_batch_id_replay_idempotent(spark, tmp_path):
    # a crashed-and-replayed batch overwrites its own store contribution
    df = _corpus(spark)
    store = str(tmp_path / "store")
    incremental_exact_dedup(df.where("doc_id < 20"), store, batch_id=0)
    out_a = incremental_exact_dedup(
        df.where("doc_id >= 20 and doc_id < 40"), store, batch_id=1
    )
    n_store = spark.read.option("basePath", store).parquet(store).count()
    out_b = incremental_exact_dedup(
        df.where("doc_id >= 20 and doc_id < 40"), store, batch_id=1
    )
    assert spark.read.option("basePath", store).parquet(store).count() == n_store
    a = sorted(r.doc_id for r in out_a.collect())
    # REPLAY returns empty or same set? Replay sees batch 0's rows plus
    # its OWN earlier contribution (already in the store) — documented
    # at-least-once output on replay is the batch's store overwrite, so
    # the row output may be empty; what must hold is store idempotency
    # and that a later batch is unaffected:
    out_c = incremental_exact_dedup(
        df.where("doc_id >= 40"), store, batch_id=2
    )
    # survivors of batches 0 + 1 + 2 must still equal the full corpus
    full = sorted(r.canonical_id for r in dedup.exact_dedup(df).collect())
    b0 = sorted(
        r.canonical_id
        for r in dedup.exact_dedup(df.where("doc_id < 20")).collect()
    )
    got = sorted(b0 + a + [r.doc_id for r in out_c.select("doc_id").collect()])
    assert got == full
    assert len(out_b.columns) == len(out_a.columns)


def test_incremental_exact_result_pinned_against_store_mutation(spark, tmp_path):
    # the returned frame is materialized BEFORE the store append: a later
    # batch's store writes must not change an earlier result re-collected
    # afterwards (a lazy plan re-reading the store would see its own and
    # later batches' hashes and return nothing)
    df = _corpus(spark)
    store = str(tmp_path / "store")
    out1 = incremental_exact_dedup(df.where("doc_id < 20"), store, batch_id=0)
    n1_before = out1.count()
    incremental_exact_dedup(df.where("doc_id >= 20"), store, batch_id=1)
    assert out1.count() == n1_before > 0


def test_incremental_store_layout_enables_partition_pruning(spark, tmp_path):
    # the store is hash-prefix partitioned and a prefix IN-filter reaches
    # the scan as a PartitionFilter — the read path a batch performs
    import os

    df = _corpus(spark)
    store = str(tmp_path / "store")
    incremental_exact_dedup(df, store, batch_id=0)
    subdirs = {
        d for d in os.listdir(f"{store}/batch_id=0") if d.startswith("_hp=")
    }
    assert len(subdirs) > 1  # hash prefixes spread across partitions
    prefix = sorted(subdirs)[0].split("=", 1)[1]   # e.g. 'h07'
    assert not prefix.isdigit()  # 'h' guard keeps inference off (advice r5)
    pruned = (
        spark.read.option("basePath", store).parquet(store)
        .where(F.col("_hp").isin(prefix))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_hp" in plan.split("PartitionFilters", 1)[1][:200]
    # pruning must also RETURN the right rows, not just show in the plan:
    # the pruned read equals a post-hoc filter of the full store read
    full = spark.read.option("basePath", store).parquet(store)
    expect = {r.content_hash for r in full.collect() if r._hp == prefix}
    got = {r.content_hash for r in pruned.collect()}
    assert got == expect and len(got) > 0


def test_incremental_exact_digit_only_partition_set_still_prunes(spark, tmp_path):
    # regression (r5 advice, medium): a store whose every _hp partition
    # value would be all-digits without the 'h' guard must still match
    # string prefixes on the pruned read — duplicates across batches are
    # rejected, not silently re-admitted
    import hashlib

    # craft texts whose content hash (md5 of the normalized text — these
    # are already lowercase alnum + single spaces) starts with two digits
    def digit_prefixed(n):
        rows, i = [], 0
        while len(rows) < n:
            t = f"digit hunt text {i}"
            if hashlib.md5(t.encode()).hexdigest()[:2].isdigit():
                rows.append((len(rows), t))
            i += 1
        return rows

    rows = digit_prefixed(6)
    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(rows[:3], "doc_id long, text string")
    # batch 2 repeats batch 1's texts under new ids plus 3 fresh ones
    b2 = spark.createDataFrame(
        [(100 + i, t) for i, (_j, t) in enumerate(rows[:3])]
        + [(200 + i, t) for i, (_j, t) in enumerate(rows[3:])],
        "doc_id long, text string",
    )
    out1 = incremental_exact_dedup(b1, store, batch_id=0)
    assert out1.count() == 3
    out2 = incremental_exact_dedup(b2, store, batch_id=1)
    ids = sorted(r.doc_id for r in out2.select("doc_id").collect())
    assert ids == [200, 201, 202], ids  # repeats rejected via store prune


def test_incremental_minhash_planted_recall_and_store_growth(spark, tmp_path):
    # planted copies arriving in a LATER batch must surface as
    # batch-vs-store candidates at est_jaccard 1.0; in-batch pairs keep
    # the full-corpus operator's contract
    df = _corpus(spark)
    store = str(tmp_path / "sigstore")
    b1 = df.where("doc_id < 30")
    planted = b1.where("doc_id < 5").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    b2 = df.where("doc_id >= 30").unionByName(planted)
    incremental_minhash_candidates(b1, store, k=3, num_hashes=16, bands=16, batch_id=0)
    out = incremental_minhash_candidates(b2, store, k=3, num_hashes=16, bands=16, batch_id=1)
    got = {
        (r.new_id, r.peer_id)
        for r in out.where("source = 'store' and est_jaccard = 1.0").collect()
    }
    for i in range(5):
        assert (1000 + i, i) in got, (i, sorted(got))
    # every stored doc's signature is in the store (dups included)
    n_sig_rows = spark.read.option("basePath", store).parquet(store).count()
    assert n_sig_rows == (b1.count() + b2.count()) * 16  # one row per band


def test_incremental_minhash_truncation_disclosed(spark, tmp_path):
    # a degenerate store bucket (many identical docs) trips max_bucket:
    # candidates stay bounded and carry truncated=true, never silent
    rows = [(i, "same exact text every time") for i in range(40)]
    b1 = spark.createDataFrame(rows, "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(100, "same exact text every time")], "doc_id long, text string"
    )
    store = str(tmp_path / "sigstore")
    incremental_minhash_candidates(b1, store, k=3, num_hashes=16, bands=16,
                                   max_bucket=8, batch_id=0)
    out = incremental_minhash_candidates(b2, store, k=3, num_hashes=16, bands=16,
                                         max_bucket=8, batch_id=1)
    vs = out.where("source = 'store'").collect()
    assert 0 < len(vs) <= 8
    assert all(r.truncated for r in vs)


# --- writer lease (single-writer contract) ---

def test_writer_lease_blocks_concurrent_batch(spark, tmp_path):
    # a fresh lease file (another writer mid-flight) must fail fast, not
    # silently race the store (append double-insert hazard)
    import os

    df = _corpus(spark, n=8)
    store = str(tmp_path / "store")
    os.makedirs(store)
    with open(f"{store}/_writer_lease", "w") as f:
        f.write("someone-else\n")
    with pytest.raises(ConcurrentWriterError):
        incremental_exact_dedup(df, store, batch_id=0)
    with pytest.raises(ConcurrentWriterError):
        incremental_minhash_candidates(df, store, batch_id=0)
    with pytest.raises(ConcurrentWriterError):
        incremental_embedding_candidates(
            _vecs(spark, 4, dim=4), store, num_planes=4, dim=4, batch_id=0
        )


def test_writer_lease_released_and_stale_reclaimed(spark, tmp_path):
    import os
    import time

    df = _corpus(spark, n=8)
    store = str(tmp_path / "store")
    incremental_exact_dedup(df, store, batch_id=0)
    # lease released after a successful batch
    assert not os.path.exists(f"{store}/_writer_lease")
    # a stale lease (crashed writer) is reclaimed, then re-held + released
    with open(f"{store}/_writer_lease", "w") as f:
        f.write("crashed\n")
    old = time.time() - 7200
    os.utime(f"{store}/_writer_lease", (old, old))
    out = incremental_exact_dedup(
        df.select((F.col("doc_id") + 50).alias("doc_id"), "text"),
        store, batch_id=1,
    )
    out.count()
    assert not os.path.exists(f"{store}/_writer_lease")


# --- incremental embedding near-dup store ---

def _vecs(spark, n=24, dim=8, seed=7):
    import random

    rng = random.Random(seed)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_incremental_embedding_planted_recall_and_store_pairs(spark, tmp_path):
    # exact copies planted in batch 2 must surface as source='store'
    # pairs at cosine ~1.0 against their batch-1 originals
    e = _vecs(spark, n=24, dim=8)
    store = str(tmp_path / "vstore")
    b1 = e.where("vec_id < 12")
    planted = b1.where("vec_id < 4").select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    b2 = e.where("vec_id >= 12").unionByName(planted)
    incremental_embedding_candidates(
        b1, store, num_planes=8, dim=8, min_cosine=0.99, batch_id=0
    )
    out = incremental_embedding_candidates(
        b2, store, num_planes=8, dim=8, min_cosine=0.99, batch_id=1
    )
    got = {
        (r.new_id, r.peer_id)
        for r in out.where("source = 'store' and cos_sim > 0.9999").collect()
    }
    for i in range(4):
        assert (1000 + i, i) in got, (i, sorted(got))


def test_incremental_embedding_equals_full_corpus_relation(spark, tmp_path):
    # in-batch pairs + cross-batch store pairs == the full-corpus
    # embedding_near_dup_pairs relation on the union (orientation-
    # normalized; caps never engage at this size)
    from logstash_filter_aggregate_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    e = _vecs(spark, n=30, dim=6)
    # add a few exact dups to give the relation mass
    dups = e.where("vec_id < 6").select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(dups)
    store = str(tmp_path / "vstore")
    b1 = corpus.where("vec_id < 15")
    b2 = corpus.where("vec_id >= 15")
    o1 = incremental_embedding_candidates(
        b1, store, num_planes=6, dim=6, min_cosine=0.98, batch_id=0
    )
    o2 = incremental_embedding_candidates(
        b2, store, num_planes=6, dim=6, min_cosine=0.98, batch_id=1
    )
    got = {
        frozenset((r.new_id, r.peer_id))
        for r in o1.unionByName(o2).collect()
    }
    want = {
        frozenset((r.id_a, r.id_b))
        for r in embedding_near_dup_pairs(
            corpus, num_planes=6, dim=6, min_cosine=0.98
        ).collect()
    }
    assert got == want and len(want) >= 6


def test_incremental_embedding_truncation_disclosed(spark, tmp_path):
    # degenerate store bucket (many identical vectors) trips max_bucket:
    # bounded candidates, truncated=true — never a silent quadratic join
    v = [0.5, -0.25, 0.125, 1.0]
    b1 = spark.createDataFrame(
        [(i, v) for i in range(40)], "vec_id long, embedding array<float>"
    )
    b2 = spark.createDataFrame([(100, v)], "vec_id long, embedding array<float>")
    store = str(tmp_path / "vstore")
    incremental_embedding_candidates(
        b1, store, num_planes=4, dim=4, max_bucket=8, batch_id=0
    )
    out = incremental_embedding_candidates(
        b2, store, num_planes=4, dim=4, max_bucket=8, batch_id=1
    )
    vs = out.where("source = 'store'").collect()
    assert 0 < len(vs) <= 8
    assert all(r.truncated for r in vs)


def test_incremental_embedding_store_prunes_partitions(spark, tmp_path):
    # the signature store reads through a pmod(sig,256) PartitionFilter
    import os

    e = _vecs(spark, n=24, dim=8)
    store = str(tmp_path / "vstore")
    incremental_embedding_candidates(e, store, num_planes=8, dim=8, batch_id=0)
    subdirs = {d for d in os.listdir(f"{store}/batch_id=0") if d.startswith("_sp=")}
    assert len(subdirs) > 1
    val = int(sorted(subdirs)[0].split("=", 1)[1])
    pruned = (
        spark.read.option("basePath", store).parquet(store)
        .where(F.col("_sp").isin(val))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_sp" in plan.split("PartitionFilters", 1)[1][:200]
    full = spark.read.option("basePath", store).parquet(store)
    expect = {r.id for r in full.collect() if r._sp == val}
    assert {r.id for r in pruned.collect()} == expect and expect


# --- store compaction ---

def test_compact_store_preserves_dedup_and_pruning(spark, tmp_path):
    import os

    from logstash_filter_aggregate_spark.operators.incremental import compact_store

    df = _corpus(spark)
    store = str(tmp_path / "store")
    for b, (lo, hi) in enumerate([(0, 15), (15, 30), (30, 45)]):
        incremental_exact_dedup(
            df.where(f"doc_id >= {lo} and doc_id < {hi}"), store, batch_id=b
        )
    n_before = spark.read.option("basePath", store).parquet(store).count()
    res = compact_store(spark, store, keep_last=1)
    assert res["compacted"] and res["merged"] == [0, 1] and res["target"] == -1
    dirs = sorted(d for d in os.listdir(store) if d.startswith("batch_id="))
    assert dirs == ["batch_id=-1", "batch_id=2"]
    # same rows, still partition-pruned reads
    post = spark.read.option("basePath", store).parquet(store)
    assert post.count() == n_before
    # a later batch still rejects duplicates of EVERY earlier batch
    replay = df.where("doc_id >= 45").unionByName(
        df.where("doc_id < 3").select((F.col("doc_id") + 500).alias("doc_id"), "text")
    )
    out = incremental_exact_dedup(replay, store, batch_id=3)
    ids = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert all(i < 500 for i in ids), ids   # re-sent batch-0 contents rejected
    full = sorted(r.canonical_id for r in dedup.exact_dedup(df).collect())
    # compaction is invisible to semantics: all-batch survivors == one-shot
    got = sorted(
        set(
            r.canonical_id
            for r in dedup.exact_dedup(df.where("doc_id < 45")).collect()
        )
        | set(ids)
    )
    assert got == full


def test_compact_store_crash_heal_and_duplicate_tolerance(spark, tmp_path):
    import os
    import shutil

    from logstash_filter_aggregate_spark.operators.incremental import compact_store

    df = _corpus(spark, n=30)
    store = str(tmp_path / "sigstore")
    b1 = df.where("doc_id < 15")
    incremental_minhash_candidates(b1, store, k=3, num_hashes=16, bands=16, batch_id=0)
    incremental_minhash_candidates(
        df.where("doc_id >= 15 and doc_id < 20"), store,
        k=3, num_hashes=16, bands=16, batch_id=1,
    )
    incremental_minhash_candidates(
        df.where("doc_id >= 20 and doc_id < 25"), store,
        k=3, num_hashes=16, bands=16, batch_id=2,
    )
    stash = str(tmp_path / "stash")
    shutil.copytree(f"{store}/batch_id=0", stash)
    res = compact_store(spark, store, keep_last=1)
    assert res["compacted"] and res["merged"] == [0, 1]
    # simulate the crash window: merged source dir resurfaces after the
    # manifest-carrying target landed
    shutil.copytree(stash, f"{store}/batch_id=0")
    # duplicate rows in the store must NOT duplicate candidate pairs
    planted = b1.where("doc_id < 3").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    out = incremental_minhash_candidates(
        df.where("doc_id >= 25").unionByName(planted), store,
        k=3, num_hashes=16, bands=16, batch_id=2,
    )
    pairs = [
        (r.new_id, r.peer_id)
        for r in out.where("source = 'store' and est_jaccard = 1.0").collect()
    ]
    assert len(pairs) == len(set(pairs))
    for i in range(3):
        assert (1000 + i, i) in pairs
    # rerun heals: the leftover merged dir is deleted before anything else
    res2 = compact_store(spark, store, keep_last=1)
    assert 0 in res2["healed"]
    assert not os.path.exists(f"{store}/batch_id=0")


def test_compact_embedding_store_recall_after_compaction(spark, tmp_path):
    from logstash_filter_aggregate_spark.operators.incremental import compact_store

    e = _vecs(spark, n=24, dim=8)
    store = str(tmp_path / "vstore")
    incremental_embedding_candidates(
        e.where("vec_id < 8"), store, num_planes=8, dim=8, batch_id=0
    )
    incremental_embedding_candidates(
        e.where("vec_id >= 8 and vec_id < 12"), store,
        num_planes=8, dim=8, batch_id=1,
    )
    incremental_embedding_candidates(
        e.where("vec_id >= 12 and vec_id < 16"), store,
        num_planes=8, dim=8, batch_id=2,
    )
    res = compact_store(spark, store, keep_last=1)
    assert res["compacted"] and res["merged"] == [0, 1]
    planted = e.where("vec_id < 4").select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    out = incremental_embedding_candidates(
        e.where("vec_id >= 16").unionByName(planted), store,
        num_planes=8, dim=8, min_cosine=0.99, batch_id=2,
    )
    got = {
        (r.new_id, r.peer_id)
        for r in out.where("source = 'store' and cos_sim > 0.9999").collect()
    }
    for i in range(4):
        assert (1000 + i, i) in got, (i, sorted(got))


def test_store_control_files_refuse_remote_schemes(spark, tmp_path, monkeypatch):
    # the writer lease and the compaction listing use os on the driver: on
    # an s3:// store they used to live in ./s3:/... on the driver's disk
    # and exclude no writer on another host. Both raise, naming the path;
    # a file: URI is a local path
    import re

    from logstash_filter_aggregate_spark.config import ConfigurationError
    from logstash_filter_aggregate_spark.operators.incremental import compact_store

    monkeypatch.chdir(tmp_path)
    with pytest.raises(ConfigurationError, match=re.escape("s3://bucket/store")):
        incremental_exact_dedup(_corpus(spark, n=4), "s3://bucket/store", batch_id=0)
    with pytest.raises(ConfigurationError, match=re.escape("s3://bucket/store")):
        compact_store(spark, "s3://bucket/store")
    assert not (tmp_path / "s3:").exists()
    assert compact_store(spark, f"file://{tmp_path}/store")["compacted"] is False
    assert (tmp_path / "store").is_dir()
