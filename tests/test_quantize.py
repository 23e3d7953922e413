"""Int8 embedding quantization: bounded error, exact integer scoring,
recall against the float-dot ranking (operators/quantize.py).
"""

import numpy as np
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.quantize import (
    ann_int8_topk,
    int_dot,
    quantize_embeddings,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_quantization_bounds_and_error(spark):
    emb = _emb(spark)
    q = quantize_embeddings(emb)
    rows = q.join(emb, "vec_id").select("vec_id", "embedding", "q_embedding", "amax") \
        .limit(50).collect()
    amax = rows[0].amax
    assert amax > 0
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        qv = np.asarray(r.q_embedding, dtype=np.int64)
        assert qv.min() >= -127 and qv.max() <= 127
        # dequantization error bounded by half a quantization step
        back = qv * (amax / 127.0)
        assert np.max(np.abs(back - v)) <= amax / 127.0 * 0.5 + 1e-9


def test_int_dot_is_exact(spark):
    df = spark.createDataFrame(
        [(1, [1, -2, 3], [4, 5, -6])],
        "id long, a array<long>, b array<long>",
    )
    got = df.select(int_dot(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert got == 1 * 4 + (-2) * 5 + 3 * (-6)


def test_ann_int8_recall_vs_float_dot(spark):
    emb = _emb(spark)
    k = 10
    got = ann_int8_topk(emb, k=k).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    # float-dot ground truth
    rows = emb.collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    recalls = []
    for qid in by_q:
        qv = vecs[qid]
        scores = sorted(
            ((float(np.dot(v, qv)), vid) for vid, v in vecs.items() if vid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        truth = {vid for _, vid in scores}
        recalls.append(len(truth & by_q[qid]) / k)
        assert len(by_q[qid]) == k
    assert float(np.mean(recalls)) >= 0.6  # int8 vs float32: high overlap


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

def test_pq_m_must_divide_dim(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.quantize import pq_codebooks

    with _pytest.raises(ValueError):
        pq_codebooks(_emb(spark), m=7)  # dim=64, 7 does not divide


def test_pq_codebooks_repartition_invariant(spark):
    from rio_cogeo_spark.operators.quantize import pq_codebooks

    emb = _emb(spark)
    cb1 = sorted((r.subv, r.code, tuple(r.centroid))
                 for r in pq_codebooks(emb, m=4).collect())
    cb2 = sorted((r.subv, r.code, tuple(r.centroid))
                 for r in pq_codebooks(emb.repartition(13), m=4).collect())
    assert cb1 == cb2
    # int8 centroid bound: means of values in [-127, 127] stay inside
    assert all(all(-127 <= c <= 127 for c in cent) for _, _, cent in cb1)


def test_pq_exact_copy_gets_identical_codes(spark):
    from rio_cogeo_spark.operators.quantize import pq_codebooks, pq_encode

    emb = _emb(spark)
    copies = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 90000
    )
    both = emb.unionByName(copies)
    cb = pq_codebooks(both, m=4)
    codes = {(r.vec_id, r.subv): r.code
             for r in pq_encode(both, cb, m=4).collect()}
    for v in range(5):
        for j in range(4):
            assert codes[(v, j)] == codes[(v + 90000, j)]


def test_pq_recall_improves_with_m_and_beats_random(spark):
    from rio_cogeo_spark.operators.quantize import ann_pq_topk
    from rio_cogeo_spark.operators.similarity import ann_bruteforce_topk

    # deterministic data + exact-integer math: recalls are exact numbers
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    gt = {(r.query_id, r.vec_id)
          for r in ann_bruteforce_topk(emb, qs, k=10).collect()}

    def recall(m):
        got = {(r.query_id, r.vec_id)
               for r in ann_pq_topk(emb, m=m).collect()}
        return len(got & gt) / len(gt)

    r4, r16 = recall(4), recall(16)
    assert r4 >= 0.08   # random top-10 over 500 vectors ≈ 0.02
    assert r16 >= 0.30  # finer subquantizers recover more of the truth
    assert r16 > r4


# ---------------------------------------------------------------------------
# Centroid drift
# ---------------------------------------------------------------------------

def test_centroid_drift_identity_and_orthogonal(spark):
    from rio_cogeo_spark.operators.similarity import centroid_drift

    rows = [
        ("a", 1, [1.0, 0.0]), ("a", 2, [1.0, 0.0]),
        ("b", 3, [0.0, 1.0]),
    ]
    old = spark.createDataFrame(
        rows, "label string, vec_id long, embedding array<float>"
    )
    # identical snapshots: cosine exactly 1.0 for every group
    out = {r.label: (r.centroid_cos, r.n_old, r.n_new)
           for r in centroid_drift(old, old).collect()}
    assert out == {"a": (1.0, 2, 2), "b": (1.0, 1, 1)}
    # rotate group a's centroid 90 degrees: cosine 0
    new = spark.createDataFrame(
        [("a", 1, [0.0, 1.0]), ("b", 3, [0.0, 1.0])],
        "label string, vec_id long, embedding array<float>",
    )
    out2 = {r.label: r.centroid_cos for r in centroid_drift(old, new).collect()}
    assert out2["a"] == 0.0 and out2["b"] == 1.0


def test_centroid_drift_one_sided_groups_absent(spark):
    from rio_cogeo_spark.operators.similarity import centroid_drift

    old = spark.createDataFrame(
        [("a", 1, [1.0, 0.0])],
        "label string, vec_id long, embedding array<float>",
    )
    new = spark.createDataFrame(
        [("z", 2, [1.0, 0.0])],
        "label string, vec_id long, embedding array<float>",
    )
    assert centroid_drift(old, new).count() == 0


# ---------------------------------------------------------------------------
# PQ index persistence
# ---------------------------------------------------------------------------

def test_pq_index_roundtrip_query_equals_inline(spark, tmp_path):
    from rio_cogeo_spark.operators.quantize import (
        ann_pq_query_with_index,
        ann_pq_topk,
        corpus_amax,
        pq_codebooks,
        pq_encode,
        pq_load_index,
        pq_save_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    amax = corpus_amax(emb)
    cb = pq_codebooks(emb, m=4)
    path = str(tmp_path / "pq_index")
    pq_save_index(cb, path, m=4, dim=64, amax=amax)
    # round-trip value-exact
    cb2, params = pq_load_index(spark, path)
    assert params == {"m": 4, "dim": 64, "amax": amax}
    a = sorted((r.subv, r.code, tuple(r.centroid)) for r in cb.collect())
    b = sorted((r.subv, r.code, tuple(r.centroid)) for r in cb2.collect())
    assert a == b
    # with-index query == inline end-to-end query
    codes = pq_encode(emb, cb, m=4)
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    got = sorted(
        (r.query_id, r.vec_id, r.rank, r.score)
        for r in ann_pq_query_with_index(spark, codes, queries, path).collect()
    )
    want = sorted(
        (r.query_id, r.vec_id, r.rank, r.score)
        for r in ann_pq_topk(emb, m=4).collect()
    )
    assert got == want


def test_pq_index_refuses_missing_manifest_and_dim_mismatch(spark, tmp_path):
    import pytest as _pytest

    from rio_cogeo_spark.operators.quantize import (
        ann_pq_query_with_index,
        corpus_amax,
        pq_codebooks,
        pq_encode,
        pq_load_index,
        pq_save_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_codebooks(emb, m=4)
    bare = str(tmp_path / "bare")
    cb.coalesce(1).write.mode("overwrite").parquet(bare)
    with _pytest.raises(ValueError, match="manifest"):
        pq_load_index(spark, bare)

    path = str(tmp_path / "pq_index")
    pq_save_index(cb, path, m=4, dim=64, amax=corpus_amax(emb))
    codes = pq_encode(emb, cb, m=4)
    bad_queries = emb.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    with _pytest.raises(ValueError, match="dim"):
        ann_pq_query_with_index(spark, codes, bad_queries, path)


def test_ivfpq_partial_probe_recall_and_speedup_structure(spark):
    from rio_cogeo_spark.operators.quantize import ann_ivfpq_topk, ann_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    full = {(r.query_id, r.vec_id)
            for r in ann_pq_topk(emb, m=4).collect()}
    # all lists probed == exact PQ output
    allp = {(r.query_id, r.vec_id)
            for r in ann_ivfpq_topk(
                emb, n_probe=10).collect()}
    assert allp == full
    # partial probe: a SUBSET-quality result — k rows per query still
    # returned, overlap with the full ranking is substantial
    part = {(r.query_id, r.vec_id)
            for r in ann_ivfpq_topk(
                emb, n_probe=4).collect()}
    assert len(part) == 50
    assert len(part & full) / len(full) >= 0.3


def test_jl_projection_preserves_norms(spark):
    import numpy as np
    from pyspark.sql import functions as FF

    from rio_cogeo_spark.operators.similarity import random_projection

    # The JL guarantee on this data (deterministic seed, exact values):
    # E[||Px||^2] = ||x||^2 with the 1/sqrt(k) Gaussian scaling; the
    # squared-norm ratio concentrates like chi^2_k / k
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    proj = random_projection(emb, out_dim=16)
    pn = {r.vec_id: r.n2 for r in proj.groupBy("vec_id").agg(
        FF.sum(FF.col("val") * FF.col("val")).alias("n2")).collect()}
    on = {r.vec_id: r.n2 for r in emb.select(
        "vec_id",
        FF.aggregate(
            FF.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            FF.lit(0.0), lambda a, x: a + x,
        ).alias("n2")).collect()}
    ratios = np.array([pn[k] / on[k] for k in on if on[k] > 0])
    assert 0.85 <= float(ratios.mean()) <= 1.15
    assert float((abs(ratios - 1.0) < 0.8).mean()) >= 0.8
    # determinism: same seed -> identical values under repartition
    a = sorted(map(tuple, random_projection(emb, 16).collect()))
    b = sorted(map(tuple, random_projection(emb.repartition(7), 16).collect()))
    assert a == b


def test_jl_projection_validates(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.similarity import random_projection

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(ValueError):
        random_projection(emb, out_dim=0)
    with _pytest.raises(ValueError):
        random_projection(emb, out_dim=65)
