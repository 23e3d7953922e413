"""Dedup / similarity operator tests vs brute-force oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rio_cogeo_spark.operators import dedup as DD
from rio_cogeo_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark, sf_mid):
    base = spark.read.parquet(f"{sf_mid}/documents.parquet")
    dups = base.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    d = base.unionByName(dups).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def emb(spark, sf_mid):
    e = spark.read.parquet(f"{sf_mid}/embeddings.parquet").cache()
    e.count()
    return e


def test_exact_dedup(docs):
    n = docs.count()
    groups = DD.exact_dedup_groups(docs)
    assert groups.agg(F.sum("n_docs")).first()[0] == n
    assert groups.filter(F.col("n_docs") > 1).count() == 50
    kept = DD.exact_dedup(docs)
    assert kept.count() == n - 50
    # keep-first: all duplicate keepers are the ORIGINAL (small) doc_ids
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0


def test_ngram_jaccard_finds_planted_dups(docs):
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    planted = {(r["doc_a"], r["doc_b"]) for r in pairs if r["doc_b"] == r["doc_a"] + 100000}
    assert len(planted) == 50
    for r in pairs:
        if r["doc_b"] == r["doc_a"] + 100000:
            assert r["jaccard"] == 1.0


def test_minhash_lsh_equals_exact(docs):
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in DD.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=128, bands=64).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_simhash_pairs_exact_by_construction(docs):
    """Banding candidates + hamming verify must equal brute-force hamming
    pairs for d <= 3 (pigeonhole over 4x16-bit bands is lossless there)."""
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    ids = sorted(sh)
    brute = set()
    arr = np.array([sh[i] for i in ids], dtype=np.int64).astype(np.uint64)
    for i in range(len(ids)):
        x = arr[i] ^ arr
        ham = np.array([bin(int(v)).count("1") for v in x])
        for j in np.nonzero((ham <= 3))[0]:
            if ids[i] < ids[j]:
                brute.add((ids[i], ids[j]))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in DD.simhash_pairs(docs).collect()
    }
    assert got == brute
    # planted exact dups have identical simhash → hamming 0
    assert all((i, i + 100000) in got for i in range(50))


def test_embedding_neardup_symmetric_threshold(emb):
    pairs = DD.embedding_neardup_pairs(emb, threshold=0.4)
    rows = pairs.collect()
    assert all(r["vec_a"] < r["vec_b"] and r["cos"] >= 0.4 for r in rows)


def test_ann_lsh_finds_planted_near_duplicates(spark, emb):
    """Bucketed LSH is an *approximate* path: on unstructured random
    vectors top-k recall is necessarily poor, so the correctness property
    tested is the one the operator exists for — near-duplicate queries
    (tiny perturbations of corpus vectors, cos ≈ 0.9999) must come back
    at rank 1 despite scanning only the bucket ring."""
    rows = emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding").collect()
    rng = np.random.default_rng(7)
    qrows = []
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        q = v + rng.normal(0, 1e-3 * np.linalg.norm(v) / 8, size=v.shape)
        qrows.append((int(r["vec_id"]), [float(x) for x in q]))
    queries = spark.createDataFrame(
        qrows, "query_id long, q_embedding array<double>"
    )
    approx = SIM.ann_lsh_topk(emb, queries, dim=64, k=3, include_self=True)
    top1 = {r["query_id"]: r["vec_id"] for r in approx.filter(F.col("rank") == 1).collect()}
    hits = sum(1 for q, v in top1.items() if q == v)
    assert hits >= 19, top1  # >=95% of planted near-dups found at rank 1


def test_ann_bruteforce_rank_deterministic(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    r1 = SIM.ann_bruteforce_topk(emb, queries, k=5).collect()
    r2 = SIM.ann_bruteforce_topk(emb, queries, k=5).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))


def test_ann_ivf_finds_planted_near_duplicates(spark, emb):
    """IVF probing must find near-duplicate queries (a perturbed corpus
    vector lands in the same/nearby inverted list)."""
    rows = emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding").collect()
    rng = np.random.default_rng(11)
    qrows = []
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        q = v + rng.normal(0, 1e-4, size=v.shape)
        qrows.append((int(r["vec_id"]), [float(x) for x in q]))
    queries = spark.createDataFrame(qrows, "query_id long, q_embedding array<double>")
    got = SIM.ann_ivf_topk(emb, queries, k=3, n_probe=3, include_self=True)
    top1 = {r["query_id"]: r["vec_id"] for r in got.filter(F.col("rank") == 1).collect()}
    hits = sum(1 for q, v in top1.items() if q == v)
    assert hits >= 19, top1


def test_ann_ivf_lloyd_recall_not_worse(spark, emb):
    """Distributed Lloyd refinement must not hurt top-k recall vs the
    seed-only quantizer at the same n_probe (and removes the dependence
    on the quality of the pre-existing ``label`` partition column)."""
    queries = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    exact = SIM.ann_bruteforce_topk(emb, queries, k=5)
    truth = {
        (r["query_id"], r["vec_id"]) for r in exact.collect()
    }

    def recall(lloyd_iters):
        got = SIM.ann_ivf_topk(
            emb, queries, k=5, n_probe=3, lloyd_iters=lloyd_iters
        )
        hits = {(r["query_id"], r["vec_id"]) for r in got.collect()}
        return len(hits & truth) / len(truth)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0, (r0, r2)


def test_scale_safe_defaults_and_auto_chunks(spark):
    """Corpus-scale guards are the DEFAULTS: ngram_jaccard_pairs caps hot
    shingles unless explicitly disabled, and the block-matmul chunk count
    derives from corpus bytes rather than a fixed constant."""
    import inspect

    assert inspect.signature(DD.ngram_jaccard_pairs).parameters["df_cap"].default == "auto"

    # auto chunk count scales linearly with corpus bytes (dim 4 doubles)
    def corpus(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.col("id") * (i + 1)).cast("double") for i in range(4)]).alias(
                "embedding"
            ),
        )

    small = DD._auto_n_chunks(corpus(100), target_chunk_bytes=1600)
    big = DD._auto_n_chunks(corpus(1000), target_chunk_bytes=1600)
    assert small >= 2 and big >= 10 * small // 5  # grows with N
    assert big >= 20  # 1000 vecs * 32 B = 32000 B / 1600 B
    # parallelism floor: even a tiny corpus gets enough chunk pairs
    par = spark.sparkContext.defaultParallelism
    tiny = DD._auto_n_chunks(corpus(2), target_chunk_bytes=1 << 30)
    assert tiny * (tiny + 1) // 2 >= par


def test_jaccard_threshold_curve_golden(spark):
    from rio_cogeo_spark.operators.dedup import jaccard_threshold_curve

    # two exact copies (jaccard 1.0) + one disjoint doc -> one bucket at
    # 1_000_000 with exactly one pair; cumulative equals the bucket count
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    out = jaccard_threshold_curve(docs, step_ppm=100_000, df_cap=None)
    rows = [(r.bucket_ppm, r.n_pairs, r.n_pairs_ge) for r in out.collect()]
    assert rows == [(1_000_000, 1, 1)]


def test_jaccard_threshold_curve_cumulative_monotone(spark):
    from rio_cogeo_spark.operators.dedup import jaccard_threshold_curve

    # copies + half-overlap pairs: cumulative must be monotone
    # nondecreasing as the bucket drops, and the lowest bucket's
    # cumulative equals the total pair count
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "a b c d x y z w"),
        ],
        "doc_id long, text string",
    )
    out = (
        jaccard_threshold_curve(docs, step_ppm=10_000, df_cap=None)
        .orderBy(F.col("bucket_ppm").desc())
        .collect()
    )
    ge = [r.n_pairs_ge for r in out]
    assert ge == sorted(ge)
    assert ge[-1] == sum(r.n_pairs for r in out)
    with __import__("pytest").raises(ValueError):
        jaccard_threshold_curve(docs, step_ppm=0)


def test_continuation_pairs_golden_and_guards(spark):
    from rio_cogeo_spark.operators.dedup import continuation_pairs

    docs = spark.createDataFrame(
        [
            # page1 tail "f g h i j k l m" == page2 head -> pair 1->2
            (1, "a b c d e f g h i j k l m"),
            (2, "f g h i j k l m n o p q r"),
            # too short to carry a k+1-token body: never pairs
            (3, "f g h i j k l m"),
            # unrelated
            (4, "z y x w v u t s r q p o n"),
        ],
        "doc_id long, text string",
    )
    out = [(r.doc_a, r.doc_b) for r in continuation_pairs(docs, k=8).collect()]
    assert out == [(1, 2)]
    with __import__("pytest").raises(ValueError):
        continuation_pairs(docs, k=1)


def test_continuation_hot_boundary_fanout_guard(spark):
    from rio_cogeo_spark.operators.dedup import continuation_pairs

    # 70 docs all STARTING with the same 8 tokens (site furniture) plus
    # one doc ENDING with them: the boundary's head-side posting list
    # exceeds max_fanout=64 and is dropped — no pairs
    furniture = "home about contact privacy terms login search help"
    docs = [(i, f"{furniture} page body {i} extra words here") for i in range(70)]
    docs.append((999, f"an article that happens to end with {furniture}"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assert continuation_pairs(df, k=8).count() == 0


def test_mirror_host_pairs_golden_and_cap(spark):
    from rio_cogeo_spark.operators.dedup import mirror_host_pairs

    rows = [
        # hosts a and b mirror two documents; c shares one with a
        (1, "https://a.example/1", "first article body text"),
        (2, "https://b.example/1", "first article body text"),
        (3, "https://a.example/2", "second article body text"),
        (4, "https://b.example/2", "second article body text"),
        (5, "https://c.example/1", "first article body text"),
        # same-host duplicate: never a host PAIR
        (6, "https://a.example/dup", "first article body text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = {(r.host_a, r.host_b): r.shared_fps
           for r in mirror_host_pairs(df, min_shared=1).collect()}
    assert out == {
        ("a.example", "b.example"): 2,
        ("a.example", "c.example"): 1,
        ("b.example", "c.example"): 1,
    }
    # min_shared=2 keeps only the true mirror pair
    out2 = {(r.host_a, r.host_b): r.shared_fps
            for r in mirror_host_pairs(df, min_shared=2).collect()}
    assert out2 == {("a.example", "b.example"): 2}


def test_mirror_host_pairs_template_farm_capped(spark):
    from rio_cogeo_spark.operators.dedup import mirror_host_pairs

    # one blank-template fp on 40 hosts: with the cap at 32 it must
    # contribute ZERO pairs (O(n_hosts^2) guard)
    rows = [
        (i, f"https://farm{i}.example/", "welcome to our site")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    assert mirror_host_pairs(df, min_shared=1).count() == 0
    # raising the cap exposes the farm
    assert mirror_host_pairs(
        df, min_shared=1, max_hosts_per_fp=64
    ).count() == 40 * 39 // 2
