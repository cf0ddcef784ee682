"""Dedup + similarity operators verified against independent Python/numpy
references, plus a canary for the PySpark multi-HOF lambda-binding quirk."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.operators import dedup, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_hof_lambda_quirk_workaround(emb):
    # signatures must be identical whether the vector comes from a column
    # or a literal array (this failed with python-assembled HOF trees)
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    qcol = F.array(*[F.lit(float(v)) for v in q])
    r = emb.where("vec_id = 0").select(
        similarity.hyperplane_signature(F.col("embedding"), 16, 64).alias("s_row"),
        similarity.hyperplane_signature(qcol, 16, 64).alias("s_lit"),
    ).first()
    assert r.s_row == r.s_lit


def test_cosine_matches_numpy(emb):
    rows = emb.orderBy("vec_id").limit(6).collect()
    a0 = np.array(rows[0].embedding, dtype=np.float64)
    got = (
        emb.where("vec_id between 1 and 5")
        .select("vec_id", similarity.cosine(
            F.col("embedding"), F.array(*[F.lit(float(v)) for v in rows[0].embedding])
        ).alias("c"))
        .orderBy("vec_id")
        .collect()
    )
    for r in got:
        b = np.array(next(x.embedding for x in rows if x.vec_id == r.vec_id), dtype=np.float64)
        ref = float(a0 @ b / (np.linalg.norm(a0) * np.linalg.norm(b)))
        assert abs(r.c - ref) < 1e-9


def test_brute_force_topk_exact(emb):
    rows = emb.collect()
    q = np.array(next(r.embedding for r in rows if r.vec_id == 0), dtype=np.float64)
    sims = sorted(
        (
            (-float(q @ np.array(r.embedding, np.float64) / (np.linalg.norm(q) * np.linalg.norm(np.array(r.embedding, np.float64)))), r.vec_id)
            for r in rows
        )
    )[:5]
    expect = [vid for _, vid in sims]
    got = [r.vec_id for r in similarity.brute_force_topk(emb, list(q), k=5).collect()]
    assert got == expect


def test_lsh_topk_contains_self_and_subsets_bruteforce(emb):
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    got = similarity.lsh_topk(emb, list(q), k=5, max_hamming=16).collect()
    # with max_hamming = num_planes the candidate set is everything →
    # must equal brute force exactly
    brute = similarity.brute_force_topk(emb, list(q), k=5).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in brute]
    tight = similarity.lsh_topk(emb, list(q), k=5, max_hamming=2).collect()
    assert tight[0].vec_id == 0 and abs(tight[0].cos_sim - 1.0) < 1e-6


def test_simhash_matches_python_reference(spark):
    def py_simhash(text: str) -> int:
        # independent reference using Spark's own xxhash64 for token hashes
        toks = [t for t in __import__("re").sub(r"[^a-z0-9]+", " ", text.lower()).strip().split() if t]
        hdf = spark.createDataFrame([(t,) for t in toks], "t string").select(
            F.xxhash64("t").alias("h")
        ).collect()
        votes = [0] * 64
        for row in hdf:
            h = row.h & 0xFFFFFFFFFFFFFFFF
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = 0
        for b in range(64):
            if votes[b] > 0:
                sig |= 1 << b
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    texts = ["the quick brown fox jumps", "spark shuffles the big table fast"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.s for r in df.select(dedup.simhash64("text").alias("s")).collect()]
    assert got == [py_simhash(t) for t in texts]


def test_simhash_near_dup_detects_small_edit(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    edit = base.replace("delta", "delta2", 1)
    other = "completely different words about databases and airplanes entirely"
    df = spark.createDataFrame([(1, base), (2, edit), (3, other)], "doc_id int, text string")
    pairs = dedup.simhash_near_dups(df, max_hamming=8).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_minhash_est_jaccard_close_to_exact(spark):
    a = "one two three four five six seven eight nine ten eleven twelve"
    b = "one two three four five six seven eight nine ten other words"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id int, text string")
    cand = dedup.minhash_lsh_candidates(df, k=3, num_hashes=32, bands=16).collect()
    assert len(cand) == 1
    exact = dedup.ngram_jaccard_pairs(df, k=3, min_jaccard=0.0).collect()[0].jaccard
    assert abs(cand[0].est_jaccard - exact) < 0.35  # 32 hashes → coarse estimate


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "different")],
        "doc_id int, text string",
    )
    got = {r.canonical_id: r.n_copies for r in dedup.exact_dedup(df).collect()}
    assert got == {1: 2, 3: 1}  # punctuation/case-normalized match


def test_embedding_near_dup_pairs(spark):
    v = [0.1] * 8 + [0.9] * 8
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(v)]
    far = [(-1.0) ** i * x for i, x in enumerate(v)]
    df = spark.createDataFrame(
        [(1, v), (2, near), (3, far)], "vec_id int, embedding array<float>"
    )
    pairs = similarity.embedding_near_dup_pairs(df, num_planes=8, dim=16, min_cosine=0.99).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_textstats_quality_and_langid(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a fine day"),
            (2, "der hund ist nicht ein katze und das haus"),
            (3, "!!!! ???? ....::::"),
        ],
        "doc_id int, text string",
    )
    q = {r.doc_id: r for r in textstats.quality_features(df).collect()}
    assert q[1].quality_score > q[3].quality_score
    langs = {r.doc_id: r.l for r in df.select("doc_id", textstats.lang_id("text").alias("l")).collect()}
    assert langs[1] == "en" and langs[2] == "de" and langs[3] == "und"
    toks = {r.doc_id: r.n for r in df.select("doc_id", textstats.token_count("text").alias("n")).collect()}
    assert toks[1] == 12 and toks[3] == 0


def test_ivf_topk_contains_strong_matches(emb):
    from logstash_filter_aggregate_spark.operators import similarity
    q = emb.where("vec_id = 0").select("embedding").first()[0]
    got = similarity.ivf_topk(emb, list(q), k=5, n_cells=8, n_probe=8)
    rows = got.collect()
    # probing all 8 cells = exhaustive -> must equal brute force
    brute = similarity.brute_force_topk(emb, list(q), k=5).collect()
    assert [r.vec_id for r in rows] == [r.vec_id for r in brute]


def test_minhash_degenerate_bucket_truncated(spark):
    # 400 identical docs: every band bucket holds all of them. The cap
    # bounds the pair explosion and the coverage loss is disclosed.
    rows = [(i, "the same exact boilerplate text repeated in every document") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = dedup.minhash_lsh_candidates(df, k=3, num_hashes=16, bands=8, max_bucket=8).collect()
    assert len(out) == 8 * 7 // 2  # capped, not 400*399/2
    assert all(r.truncated for r in out)


def test_simhash_degenerate_bucket_truncated(spark):
    rows = [(i, "identical words everywhere") for i in range(400)]
    rows += [(9001, "alpha beta gamma delta epsilon zeta"), (9002, "unrelated totally different content here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = dedup.simhash_near_dups(df, max_hamming=3, max_bucket=16).collect()
    hot = [r for r in out if r.id_a < 9000 and r.id_b < 9000]
    assert len(hot) == 16 * 15 // 2
    assert all(r.truncated for r in hot)


def test_embedding_degenerate_bucket_truncated(spark):
    v = [0.5] * 16
    rows = [(i, v) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = similarity.embedding_near_dup_pairs(df, num_planes=8, dim=16, min_cosine=0.99, max_bucket=10).collect()
    assert len(out) == 10 * 9 // 2
    assert all(r.truncated for r in out)


def test_ngram_jaccard_max_df_cut(spark):
    # one ubiquitous shingle shared by all docs: with the df cap it stops
    # contributing join rows; without the cap every pair appears
    rows = [(i, f"lorem ipsum dolor unique{i} tokens{i} here{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    capped = dedup.ngram_jaccard_pairs(df, k=3, min_jaccard=0.0, max_df=5).collect()
    assert capped == []
    uncapped = dedup.ngram_jaccard_pairs(df, k=3, min_jaccard=0.0, max_df=None).collect()
    assert len(uncapped) == 10 * 9 // 2


def test_kmeans_centroids_deterministic(emb):
    a = similarity.kmeans_centroids(emb, k=4, iters=2)
    b = similarity.kmeans_centroids(emb, k=4, iters=2)
    assert a == b and len(a) == 4 and all(len(c) == 64 for c in a)


def test_ivf_planted_copies_found_with_one_probe(spark, emb):
    # scaled copies of the query share its cell (assignment is
    # scale-invariant) -> n_probe=1 must retrieve the cosine-1.0 set
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    from pyspark.sql import functions as F

    qcol = F.array(*[F.lit(v) for v in q])
    planted = spark.range(3).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.transform(qcol, lambda x: x * (F.lit(1.0) + (F.col("id") + 1) / F.lit(100.0)))
        .cast("array<float>").alias("embedding"),
    )
    allv = emb.select("vec_id", "embedding").unionByName(planted)
    got = similarity.ivf_topk(allv, q, k=4, n_cells=8, n_probe=1, train_iters=2).collect()
    # ties at cosine 1.0 order arbitrarily (1e-16 float noise) — the SET
    # is the guarantee
    assert sorted(r.vec_id for r in got) == [0, 1000000, 1000001, 1000002]
    assert all(abs(r.cos_sim - 1.0) < 1e-6 for r in got)


def test_spread_input_adaptive(spark):
    """spread_input widens a below-parallelism input and is the identity
    for an input already at/above the session parallelism."""
    from logstash_filter_aggregate_spark.operators.spread import spread_input

    small = spark.range(100).coalesce(1)
    widened = spread_input(small)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert widened.count() == 100

    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism + 4)
    assert spread_input(wide) is wide


def test_spread_input_warns_instead_of_hiding_errors(caplog):
    # a Spark-side planning failure leaves the input unwidened and says
    # so; any other error is a bug and propagates
    from pyspark.errors import PySparkException

    from logstash_filter_aggregate_spark.operators.spread import spread_input

    class Frame:
        def __init__(self, exc):
            self.exc = exc

        @property
        def rdd(self):
            raise self.exc

    failing = Frame(PySparkException("cannot plan"))
    with caplog.at_level("WARNING", logger="logstash_filter_aggregate_spark.operators.spread"):
        assert spread_input(failing, min_parallelism=4) is failing
    assert "cannot plan" in caplog.text
    with pytest.raises(TypeError):
        spread_input(Frame(TypeError("not a DataFrame")), min_parallelism=4)
