"""Batch-incremental deduplication against a persisted store.

At 100 TB, dedup is not a full-corpus rerun: new data arrives in
batches and must be checked against everything already accepted. These
operators keep a parquet STORE on shared storage and process one batch
per call — the shape a training-data ingestion pipeline actually runs
(exactly the pattern the full-corpus operators in :mod:`dedup` verify
offline).

Scale design:

- **Partition-pruned store reads.** The exact store is hash-partitioned
  by a 2-hex-char prefix of the content hash (256 partitions); the
  MinHash signature store by ``pmod(band_hash, 256)``. The hash prefix
  is stored as ``h<2 hex chars>`` — the leading non-digit defeats
  Spark's partition-column type inference, which would otherwise parse
  an all-digit partition set (e.g. a small store whose only dirs are
  ``_hp=07``, ``_hp=12``) as integers, silently failing the string
  ``isin`` prune and re-admitting duplicates. ``_bp`` is numeric on
  both the write and filter side, so inference is safe there. Each batch
  collects its ≤256 distinct prefixes (bounded metadata, not data) and
  reads ONLY those store partitions — a small batch against a 100 TB
  store touches a fraction of it, with the pruning visible as
  ``PartitionFilters`` in the scan (plan-pinned by
  ``tests/test_incremental.py``).
- **One shuffle per batch** (groupBy content hash / band bucket); the
  store-side join is capped per bucket with the same ``max_bucket`` +
  ``truncated`` disclosure contract as the full-corpus operators — no
  silent coverage loss, no uncapped quadratic join against a
  degenerate store bucket.
- **Mutating-store hazard.** The store changes underneath any lazy
  plan that reads it, so each call MATERIALIZES its result
  (``localCheckpoint``) before appending the batch to the store and
  returns the pinned frame — re-collecting the returned DataFrame
  later cannot see the batch's own writes. (Same lineage-truncation
  tradeoff as the gated-passthrough checkpoint: documented in README.)
- **Idempotent replays.** Pass ``batch_id`` to write the batch's store
  rows under ``batch_id=N`` with overwrite semantics (the
  foreachBatch idempotency pattern) — a crashed-and-replayed batch
  overwrites its own contribution instead of double-inserting.
  Without ``batch_id`` the append is at-least-once on retry.
- **SINGLE WRITER, enforced.** Two batches deduping against one store
  concurrently race: each misses the other's in-flight rows
  (append-mode double-insert; batch_id overwrite assumes distinct
  ids), so each call takes an exclusive writer lease
  (``_writer_lease``: an ``O_EXCL`` lease file in the store dir, held
  for the whole read-dedup-append span) and raises
  :class:`ConcurrentWriterError` if another writer holds it.
  Orchestrate batches sequentially per store; parallelism belongs
  INSIDE a batch (Spark) or ACROSS stores. Crashed writers are
  recovered by the ``lease_ttl_s`` expiry. The lease file is
  POSIX-atomic (local/NFS-style filesystems); on object stores front
  the store with a real lock service instead.

Reference anchor: the reference filter has no dedup surface; these
extend the engine's training-data operator family (SURVEY.md §2,
"beyond the reference") to the incremental regime.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from logstash_filter_aggregate_spark.config import local_path
from logstash_filter_aggregate_spark.operators.dedup import (
    banded_signatures,
    content_hash,
    est_jaccard,
)

_PREFIX_PARTITIONS = 256
_LEASE_NAME = "_writer_lease"


class ConcurrentWriterError(RuntimeError):
    """Another incremental-dedup call holds this store's writer lease.

    The store contract is single-writer (module doc): retry after the
    holder finishes, or shard your ingestion across stores."""


@contextmanager
def _writer_lease(store_dir: str, lease_ttl_s: float = 3600.0):
    """Exclusive writer lease over one store dir, held for the whole
    read-dedup-append span. ``O_CREAT|O_EXCL`` is the atomic primitive;
    a lease older than ``lease_ttl_s`` is treated as a crashed writer
    and reclaimed (the reclaim itself re-races through O_EXCL)."""
    store_dir = local_path(store_dir)
    os.makedirs(store_dir, exist_ok=True)
    path = os.path.join(store_dir, _LEASE_NAME)
    token = uuid.uuid4().hex
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{token} {time.time()}\n".encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(path)
            except OSError:
                continue            # holder released between checks: retry
            if age <= lease_ttl_s:
                raise ConcurrentWriterError(
                    f"store {store_dir} has an active writer lease "
                    f"({age:.0f}s old, ttl {lease_ttl_s:.0f}s); incremental "
                    "stores are single-writer — run batches sequentially "
                    "per store or use separate stores"
                ) from None
            try:                    # stale: crashed writer — reclaim
                os.unlink(path)
            except OSError:
                pass
    try:
        yield
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass


def _store_read(spark, store_dir: str, batch_id: int | None) -> DataFrame | None:
    """Read a store dir if it exists (partition columns discovered from
    the layout); None on a first batch. When ``batch_id`` is given, rows
    this SAME batch wrote on a previous (crashed) attempt are excluded —
    a replay must dedup against everything EXCEPT its own contribution,
    or its recomputed output would be empty and the overwrite would wipe
    its store rows. (Don't mix batch_id and append-mode writes on one
    store: the partition layouts differ.)"""
    try:
        df = spark.read.option("basePath", store_dir).parquet(store_dir)
    except AnalysisException:
        return None
    if batch_id is not None and "batch_id" in df.columns:
        df = df.where(F.col("batch_id") != batch_id)
    return df


def _store_write(df: DataFrame, store_dir: str, partition_col: str,
                 batch_id: int | None) -> None:
    if batch_id is not None:
        (df.write.mode("overwrite").partitionBy(partition_col)
           .parquet(f"{store_dir}/batch_id={batch_id}"))
    else:
        (df.write.mode("append").partitionBy(partition_col)
           .parquet(store_dir))


def incremental_exact_dedup(
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
    lease_ttl_s: float = 3600.0,
) -> DataFrame:
    """Exact content dedup of one batch against the store (and itself).

    Returns the batch rows whose normalized content is NEW — unseen in
    the store and first within the batch (smallest ``id_col``; arrival
    order inside a batch is the id order, documented) — with all
    original columns plus ``content_hash``. Appends the survivors'
    hashes to the store. Holds the store's writer lease throughout
    (single-writer contract, module doc); raises
    :class:`ConcurrentWriterError` if another batch is mid-flight.
    """
    spark = batch_df.sparkSession
    with _writer_lease(store_dir, lease_ttl_s):
        hashed = batch_df.withColumn("content_hash", content_hash(text_col))
        firsts = (
            hashed.groupBy("content_hash")
            .agg(F.min(id_col).alias(id_col))
            .join(hashed, ["content_hash", id_col])
            .withColumn(
                # 'h' prefix: keeps the partition values non-digit so type
                # inference can never turn them into ints (see module doc)
                "_hp", F.concat(F.lit("h"), F.substring("content_hash", 1, 2))
            )
        )
        store = _store_read(spark, store_dir, batch_id)
        if store is not None:
            prefixes = [r[0] for r in firsts.select("_hp").distinct().collect()]
            seen = store.where(F.col("_hp").isin(prefixes)).select("content_hash")
            firsts = firsts.join(seen, "content_hash", "left_anti")
        fresh = firsts.localCheckpoint()      # pin BEFORE the store mutates
        _store_write(
            fresh.select("content_hash", "_hp"), store_dir, "_hp", batch_id
        )
        return fresh.drop("_hp")


def incremental_minhash_candidates(
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 64,
    batch_id: int | None = None,
    lease_ttl_s: float = 3600.0,
) -> DataFrame:
    """Near-dup candidates of one batch against the signature store and
    within the batch itself.

    Returns ``(new_id, peer_id, est_jaccard, truncated, source)`` —
    ``source='store'`` for batch-vs-store pairs (``peer_id`` is the
    stored doc), ``source='batch'`` for in-batch pairs
    (``new_id < peer_id``). ``est_jaccard`` is the signature-agreement
    estimate (the store keeps signatures, not text; callers needing the
    exact jaccard re-verify against their own corpus access). Appends
    EVERY batch doc's banded signature to the store (duplicates too:
    future batches must match against them). Holds the store's writer
    lease throughout (single-writer contract, module doc).
    """
    from logstash_filter_aggregate_spark.operators.dedup import minhash_lsh_candidates

    spark = batch_df.sparkSession
    with _writer_lease(store_dir, lease_ttl_s):
        return _minhash_locked(
            spark, batch_df, store_dir, id_col, text_col, k, num_hashes,
            bands, max_bucket, batch_id, minhash_lsh_candidates,
        )


def _minhash_locked(spark, batch_df, store_dir, id_col, text_col, k,
                    num_hashes, bands, max_bucket, batch_id,
                    minhash_lsh_candidates) -> DataFrame:
    banded = banded_signatures(
        batch_df, id_col, text_col, k, num_hashes, bands
    ).withColumn("_bp", F.pmod("band_hash", F.lit(_PREFIX_PARTITIONS)))
    banded = banded.localCheckpoint()         # one signature computation:
    # reused by the store join, the in-batch pair generation input has
    # its own path (minhash_lsh_candidates recomputes from text — small
    # batch), and the store append below — while pinning the frame
    # against the store mutation.

    vs_store = None
    store = _store_read(spark, store_dir, batch_id)
    if store is not None:
        prefixes = [r[0] for r in banded.select("_bp").distinct().collect()]
        # cap + disclose per stored bucket, as in the full-corpus operator
        stored_buckets = (
            store.where(F.col("_bp").isin(prefixes))
            .groupBy("band_idx", "band_hash")
            .agg(F.sort_array(F.collect_list(F.struct("id", "sig"))).alias("members"))
        )
        member = F.explode(F.slice("members", 1, max_bucket)).alias("m")
        pairs = (
            banded.alias("n")
            .join(stored_buckets.alias("o"), ["band_idx", "band_hash"])
            .select(
                F.col("n.id").alias("new_id"),
                F.col("n.sig").alias("nsig"),
                (F.size("o.members") > max_bucket).alias("bucket_truncated"),
                member,
            )
            .select(
                "new_id",
                F.col("m.id").alias("peer_id"),
                est_jaccard(F.col("nsig"), F.col("m.sig"), num_hashes).alias("est_jaccard"),
                "bucket_truncated",
            )
        )
        vs_store = (
            pairs.groupBy("new_id", "peer_id")
            .agg(
                F.first("est_jaccard").alias("est_jaccard"),
                F.max("bucket_truncated").alias("truncated"),
            )
            .withColumn("source", F.lit("store"))
        )

    in_batch = (
        minhash_lsh_candidates(
            batch_df, id_col, text_col, k, num_hashes, bands, max_bucket
        )
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("peer_id"),
            F.col("est_jaccard"),
            "truncated",
            F.lit("batch").alias("source"),
        )
    )
    out = in_batch if vs_store is None else vs_store.unionByName(in_batch)
    out = out.localCheckpoint()               # pin BEFORE the store mutates
    _store_write(
        banded.select("id", "sig", "band_idx", "band_hash", "_bp"),
        store_dir, "_bp", batch_id,
    )
    return out


def incremental_embedding_candidates(
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    dim: int = 64,
    min_cosine: float = 0.9,
    max_bucket: int = 256,
    batch_id: int | None = None,
    lease_ttl_s: float = 3600.0,
) -> DataFrame:
    """Embedding-cosine near-dup of one batch against the signature
    store and within the batch itself — the ANN analog of
    :func:`incremental_minhash_candidates` for multimodal/embedding
    pipelines.

    The store keeps every arrived vector's random-hyperplane signature
    (:func:`similarity.hyperplane_signature` — deterministic, so batch
    and store signatures agree across calls) AND the vector itself,
    partitioned by ``pmod(sig, 256)`` for the same ≤256-partition pruned
    read. Unlike the MinHash store (signatures only), keeping the
    vector lets batch-vs-store pairs verify with the EXACT cosine — no
    estimate caveat.

    Returns ``(new_id, peer_id, cos_sim, truncated, source)`` with
    ``cos_sim >= min_cosine``; ``source='store'`` pairs a batch vector
    with a stored one, ``source='batch'`` is the in-batch relation
    (:func:`similarity.embedding_near_dup_pairs`, ``new_id < peer_id``).
    Store buckets are capped at ``max_bucket`` members with a
    ``truncated`` disclosure — clustered embeddings make signature
    buckets hot, and an uncapped join against a degenerate bucket is
    the one quadratic hazard here. Holds the writer lease throughout
    (single-writer contract, module doc); ``batch_id`` gives
    overwrite-replay idempotency as in the other stores.
    """
    from logstash_filter_aggregate_spark.operators.similarity import (
        cosine,
        embedding_near_dup_pairs,
        hyperplane_signature,
    )

    spark = batch_df.sparkSession
    with _writer_lease(store_dir, lease_ttl_s):
        sigged = batch_df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            hyperplane_signature(F.col(vec_col), num_planes, dim).alias("sig"),
        ).withColumn("_sp", F.pmod("sig", F.lit(_PREFIX_PARTITIONS)))
        sigged = sigged.localCheckpoint()     # one signature computation,
        # reused by the store join and the append; pinned vs the mutation

        vs_store = None
        store = _store_read(spark, store_dir, batch_id)
        if store is not None:
            prefixes = [r[0] for r in sigged.select("_sp").distinct().collect()]
            stored_buckets = (
                store.where(F.col("_sp").isin(prefixes))
                .groupBy("sig")
                .agg(F.sort_array(F.collect_list(F.struct("id", "v"))).alias("members"))
            )
            member = F.explode(F.slice("members", 1, max_bucket)).alias("m")
            vs_store = (
                sigged.alias("n")
                .join(stored_buckets.alias("o"), "sig")
                .select(
                    F.col("n.id").alias("new_id"),
                    F.col("n.v").alias("nv"),
                    (F.size("o.members") > max_bucket).alias("truncated"),
                    member,
                )
                .select(
                    "new_id",
                    F.col("m.id").alias("peer_id"),
                    cosine(F.col("nv"), F.col("m.v")).alias("cos_sim"),
                    "truncated",
                )
                .where(F.col("cos_sim") >= min_cosine)
                # one row per (new, stored) pair even if the store holds
                # duplicate rows for a doc (the healable window after a
                # crashed compaction) — same discipline as the minhash
                # store join
                .groupBy("new_id", "peer_id")
                .agg(
                    F.first("cos_sim").alias("cos_sim"),
                    F.max("truncated").alias("truncated"),
                )
                .withColumn("source", F.lit("store"))
            )

        in_batch = embedding_near_dup_pairs(
            batch_df, id_col, vec_col, num_planes, dim, min_cosine, max_bucket
        ).select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("peer_id"),
            "cos_sim",
            "truncated",
            F.lit("batch").alias("source"),
        )
        out = in_batch if vs_store is None else vs_store.unionByName(in_batch)
        out = out.localCheckpoint()           # pin BEFORE the store mutates
        _store_write(sigged, store_dir, "_sp", batch_id)
        return out


def compact_store(
    spark,
    store_dir: str,
    keep_last: int = 1,
    lease_ttl_s: float = 3600.0,
) -> dict:
    """Merge a batch_id-partitioned store's history into one consolidated
    batch directory.

    Why: a long-running ingestion writes one ``batch_id=N`` directory per
    micro-batch — after 10k batches the store is 10k × ≤256 prefix dirs
    and FILE LISTING dominates every batch's pruned read. Compaction
    rewrites all but the newest ``keep_last`` batches (the only ones a
    crashed stream can still replay-overwrite; compacting a replayable
    batch would let its overwrite wipe merged history) into a single
    directory under a NEGATIVE batch id — an id the streaming engine
    never emits, so no future replay can exclude-and-overwrite it.

    Crash safety, in write order: (1) the merged copy is written to a
    ``_``-prefixed temp dir (invisible to Spark readers), (2) renamed
    into place as ``batch_id=<negative>`` carrying a ``_compact_manifest``
    naming the merged ids, (3) the merged source dirs are deleted. A
    crash between (2) and (3) leaves DUPLICATE rows, which the stores
    tolerate (exact dedup is idempotent on hashes; both near-dup store
    joins group per (new_id, peer_id)); rerunning ``compact_store``
    reads the manifest and finishes the deletions (heal). Holds the
    writer lease throughout — batches and compaction never overlap.

    Returns a summary dict (``compacted``, ``merged``, ``target``).
    """
    import json as _json
    import shutil

    local = local_path(store_dir)
    with _writer_lease(store_dir, lease_ttl_s):
        # heal a previous crashed compaction first: manifests name merged
        # dirs that may still linger
        healed = []
        for d in sorted(os.listdir(local)):
            man = os.path.join(local, d, "_compact_manifest")
            if d.startswith("batch_id=") and os.path.exists(man):
                with open(man) as fh:
                    for bid in _json.load(fh)["merged"]:
                        leftover = os.path.join(local, f"batch_id={bid}")
                        if os.path.exists(leftover):
                            shutil.rmtree(leftover)
                            healed.append(bid)
        bids = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(local)
            if d.startswith("batch_id=")
        )
        merge = bids[: len(bids) - keep_last] if keep_last else bids
        if len(merge) < 2:
            return {"compacted": False, "healed": healed, "merged": [],
                    "batches": len(bids)}
        target = min(-1, min(merge) - 1)
        df = spark.read.option("basePath", store_dir).parquet(store_dir)
        part_col = next(c for c in ("_hp", "_bp", "_sp") if c in df.columns)
        tmp = os.path.join(local, "_compact_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (
            df.where(F.col("batch_id").isin([int(b) for b in merge]))
            .drop("batch_id")
            .repartition(part_col)
            .write.mode("overwrite").partitionBy(part_col).parquet(tmp)
        )
        with open(os.path.join(tmp, "_compact_manifest"), "w") as fh:
            _json.dump({"merged": [int(b) for b in merge]}, fh)
        os.rename(tmp, os.path.join(local, f"batch_id={target}"))
        for b in merge:
            shutil.rmtree(os.path.join(local, f"batch_id={b}"))
        return {"compacted": True, "healed": healed,
                "merged": [int(b) for b in merge], "target": target}
