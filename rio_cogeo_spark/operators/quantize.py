"""Int8 embedding quantization + integer-dot ANN — the memory/bandwidth
configuration of a 100 TB embedding store.

Symmetric per-corpus absmax quantization (the faiss/SQ8-style scalar
quantizer): one global aggregate finds ``amax = max |x|`` over every
dimension of every vector, then each component maps to
``clamp(floor(x * 127 / amax + 0.5), -127, 127)`` — a pure projection.
The quantized table is 4x smaller than float32 (8x vs float64), scans
4x faster, and scoring becomes an INTEGER dot product (exact, order-
independent — so unlike the float cosine contracts, which compare at
6dp, the ``ann_int8`` contract query is hash-exact on raw BIGINTs).

``floor(x + 0.5)`` rather than ``round`` on both engines: round()'s
half-way rule differs across engines (half-even vs half-away), floor's
does not — the twin expressions are textually identical.

Scale shape: the quantize pass is one scalar-aggregate broadcast + one
``transform`` projection (no shuffle); the brute top-k mirrors
similarity.ann_bruteforce_topk (queries broadcast, corpus never
shuffles, per-query TakeOrdered) with the IVF/LSH routing from
similarity.py as the scale path — quantization composes with either
(route first, score int8 inside the probed lists).

All-zero corpora have no scale (amax = 0 → NaN components); quantizing
nothing is not meaningful input and is not defended.

Column names are fixed (``vec_id``, ``label``, and the vector column
``embedding``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.vector import as_double_array

# the ANN contract shared by the Spark builders and the DuckDB twin: the
# first N_QUERIES vec_ids query the corpus for their TOP_K neighbours
N_QUERIES = 5
TOP_K = 10


def quantize_embeddings(
    emb: DataFrame,
    extra_cols: tuple = (),
    amax: float = None,
) -> DataFrame:
    """→ ``(vec_id, [extra_cols...], q_embedding array<long>, amax double)``.

    One global absmax aggregate, broadcast back as a 1-row cross join
    (BroadcastNestedLoop of one row), then a pure ``transform``
    projection — the corpus never shuffles. ``extra_cols`` carry
    passenger columns (e.g. the label the PQ codebook trainer groups
    by) through the projection unchanged.
    """
    v = as_double_array(F.col("embedding"))
    if amax is not None:
        # fixed scale (index query path): pure projection, no aggregate;
        # from pandas, a JVM local relation that no Python worker scans
        amax_df = emb.sparkSession.createDataFrame(
            pd.DataFrame({"amax": [float(amax)]}), "amax double"
        )
    else:
        amax_df = emb.agg(
            F.max(F.array_max(F.transform(v, F.abs))).alias("amax")
        )
    qv = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(
                F.lit(127.0),
                F.floor(x * F.lit(127.0) / F.col("amax") + F.lit(0.5)),
            ),
        ).cast("long"),
    )
    return emb.crossJoin(F.broadcast(amax_df)).select(
        F.col("vec_id"), *[F.col(c) for c in extra_cols],
        qv.alias("q_embedding"), "amax",
    )


def int_dot(a, b):
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ann_int8_topk(emb: DataFrame, k: int = 10) -> DataFrame:
    """Brute-force top-k by int8 dot product, queries drawn from the
    corpus (``vec_id < N_QUERIES``), self-matches excluded.

    Output ``(query_id, vec_id, rank, qdot)`` — all integers, so the
    oracle comparison is exact, not rounded. Ties break by vec_id.
    """
    q = quantize_embeddings(emb)
    queries = F.broadcast(
        q.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("q_embedding").alias("q_vec"),
        )
    )
    pairs = q.crossJoin(queries).filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id"),
        int_dot(F.col("q_embedding"), F.col("q_vec")).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qdot"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "qdot")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — faiss-PQ-style, exact-integer end-to-end
# ---------------------------------------------------------------------------
#
# Completes the ANN family (brute / IVF / LSH / SQ8): vectors split into
# ``m`` subvectors; each subquantizer gets one int8 centroid per LABEL
# (the 0-Lloyd label-mean seeding the semantic_dedup contract proved
# cross-engine); a vector's code word is m small ints, an 8-32x
# compression at 100 TB, and asymmetric-distance (ADC) scoring reads the
# codes against a per-query lookup table instead of any vector data.
#
# The exactness trick that makes PQ oracle-pairable on RAW BIGINTs (a
# strictly stronger contract than float-centroid PQ): centroids are
# computed over the EXACT int8-quantized corpus as
# ``floor(sum/count + 0.5)`` — sum and count are exact BIGINTs, their
# double quotient is a single IEEE-exact-rounded division, and floor's
# half rule is engine-independent (the quantize_embeddings discipline) —
# so codebooks, code assignments (exact squared-int distances, ties to
# the smallest code), and ADC scores (exact int dots) are all
# hash-identical cross-engine with no rounding crutch.


def _subvectors(q: DataFrame, m: int, sd: int, extra=()):
    """Explode a quantized table into (id, [extra...], subv, qsub)."""
    j = F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("subv")
    out = q.select(F.col("vec_id"), *[F.col(c) for c in extra], j, "q_embedding")
    return out.select(
        F.col("vec_id"), *[F.col(c) for c in extra], "subv",
        F.slice(F.col("q_embedding"), F.col("subv") * sd + 1, sd).alias("qsub"),
    )


def _emb_dim(emb: DataFrame) -> int:
    row = emb.select(F.size(F.col("embedding")).alias("d")).first()
    if row is None:
        raise ValueError("empty embedding table")
    return int(row["d"])


def pq_codebooks(emb: DataFrame, m: int = 4) -> DataFrame:
    """Train the m sub-codebooks: ``(subv, code, centroid array<long>)``,
    one int8 centroid per (subquantizer, label).

    Scale shape: the int8 quantize is a broadcast-scalar projection; the
    per-(label, subv, pos) fold is map-side combinable and its output is
    codebook-bounded (m x n_labels x subdim rows), never corpus-bounded.
    """
    dim = _emb_dim(emb)
    if m < 1 or dim % m != 0:
        raise ValueError(f"m={m} must divide the embedding dim {dim}")
    sd = dim // m
    q = quantize_embeddings(emb, extra_cols=("label",))
    subs = _subvectors(q, m, sd, extra=("label",))
    pose = subs.select(
        "label", "subv", F.posexplode("qsub").alias("pos", "val")
    )
    cent = pose.groupBy("label", "subv", "pos").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("c")
    ).select(
        "label", "subv", "pos",
        F.floor(F.col("s").cast("double") / F.col("c") + F.lit(0.5))
        .cast("long").alias("cval"),
    )
    return (
        cent.groupBy("subv", F.col("label").alias("code"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cval"))),
                lambda st: st["cval"],
            ).alias("centroid")
        )
    )


def pq_encode(emb: DataFrame, codebooks: DataFrame, m: int = 4) -> DataFrame:
    """Assign each vector its m code words: ``(vec_id, subv, code)`` —
    argmin exact squared int distance per subquantizer, ties to the
    smallest code. Long-form output IS the PQ store shape (8-32x
    smaller than the vectors); the codebook broadcasts, the corpus
    never shuffles except the per-(vec, subv) argmin fold, whose rows
    are thin (id, subv, dist, code)."""
    dim = _emb_dim(emb)
    sd = dim // m
    q = quantize_embeddings(emb)
    subs = _subvectors(q, m, sd)
    joined = subs.join(F.broadcast(codebooks), "subv")
    dist = F.aggregate(
        F.zip_with(F.col("qsub"), F.col("centroid"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        joined.select(F.col("vec_id"), "subv", "code", dist.alias("d2"))
        .groupBy("vec_id", "subv")
        .agg(F.min(F.struct("d2", "code")).alias("mn"))
        .select("vec_id", "subv", F.col("mn.code").alias("code"))
    )


def ann_pq_topk(emb: DataFrame, m: int = 4) -> DataFrame:
    """End-to-end PQ ANN: train codebooks, encode the corpus, score
    ``vec_id < N_QUERIES`` by asymmetric distance (exact int dot of the
    int8 query subvector with each assigned centroid), rank desc.

    Output ``(query_id, vec_id, rank, score)`` — raw BIGINT scores, so
    the oracle comparison is exact. Scale shape: the ADC lookup table
    (queries x m x n_codes dots) is tiny and broadcasts onto the code
    store; the per-(query, vec) sum map-side-combines its m rows; no
    vector data moves at query time.
    """
    dim = _emb_dim(emb)
    sd = dim // m
    cb = pq_codebooks(emb, m)
    codes = pq_encode(emb, cb, m)
    q = quantize_embeddings(emb)
    qsubs = _subvectors(
        q.filter(F.col("vec_id") < N_QUERIES), m, sd
    ).select(F.col("vec_id").alias("query_id"), "subv", "qsub")
    lut = qsubs.join(cb, "subv").select(
        "query_id", "subv", "code",
        int_dot(F.col("qsub"), F.col("centroid")).alias("dot"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["subv", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dot").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "rank", "score")
    )


def ann_pq_sql() -> str:
    """DuckDB twin of :func:`ann_pq_topk` — textually parallel int8
    quantize, label-mean int8 codebooks, exact-int encode and ADC."""
    sd = 16  # 64-dim vectors, m=4 sub-quantizers
    return f"""
WITH pq_e AS (SELECT vec_id, label,
                     list_transform(embeddings.embedding,
                                    x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
pq_am AS (SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS amax
          FROM pq_e),
pq_q8 AS (SELECT vec_id, label,
                 list_transform(v, x -> CAST(greatest(-127.0, least(127.0,
                     floor(x * 127.0 / amax + 0.5))) AS BIGINT)) AS qv
          FROM pq_e, pq_am),
pq_j AS (SELECT unnest(generate_series(0, 3)) AS subv),
pq_sub AS (SELECT vec_id, label, subv,
                  qv[subv * {sd} + 1 : (subv + 1) * {sd}] AS qsub
           FROM pq_q8, pq_j),
pq_pos AS (SELECT label, subv, u.i AS pos, u.x AS val
           FROM pq_sub,
                unnest(list_transform(qsub,
                       (x, i) -> struct_pack(i := i, x := x))) AS t(u)),
pq_cent AS (SELECT label, subv, pos,
                   CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*) + 0.5)
                        AS BIGINT) AS cval
            FROM pq_pos GROUP BY 1, 2, 3),
pq_cb AS (SELECT subv, label AS code, list(cval ORDER BY pos) AS centroid
          FROM pq_cent GROUP BY 1, 2),
pq_d AS (SELECT s.vec_id, s.subv, c.code,
                list_sum(list_transform(list_zip(s.qsub, c.centroid),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         FROM pq_sub s JOIN pq_cb c ON s.subv = c.subv),
pq_codes AS (SELECT vec_id, subv, code FROM (
               SELECT vec_id, subv, code,
                      row_number() OVER (PARTITION BY vec_id, subv
                                         ORDER BY d2, code) AS rn
               FROM pq_d) WHERE rn = 1),
pq_lut AS (SELECT s.vec_id AS query_id, s.subv, c.code,
                  CAST(list_sum(list_transform(list_zip(s.qsub, c.centroid),
                       p -> p[1] * p[2])) AS BIGINT) AS dot
           FROM pq_sub s JOIN pq_cb c ON s.subv = c.subv
           WHERE s.vec_id < {N_QUERIES}),
pq_s AS (SELECT l.query_id, x.vec_id, SUM(l.dot) AS score
         FROM pq_codes x JOIN pq_lut l
           ON x.subv = l.subv AND x.code = l.code
         WHERE x.vec_id <> l.query_id
         GROUP BY 1, 2)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id ASC) AS INT)
           AS rank,
       CAST(score AS BIGINT) AS score
FROM pq_s QUALIFY rank <= {TOP_K}"""


def pq_save_index(
    codebooks: DataFrame,
    path: str,
    m: int,
    dim: int,
    amax: float,
) -> None:
    """Persist a PQ index: the codebook table as parquet plus a
    ``_pq_manifest.json`` recording ``(m, dim, amax)`` — the faiss
    index-file analog (the ivf_save_index discipline). ``amax`` MUST
    ride the index: ADC is only exact when queries quantize with the
    SAME scale the codebooks were trained at; a query job that
    recomputed amax over a different snapshot would silently skew every
    score, so loading refuses an index without its manifest.

    The corpus CODES need no bespoke artifact: ``pq_encode`` output is
    a plain 3-column table — write it partitioned/bucketed like any
    other store (8-32x smaller than the vectors)."""
    import json
    import os

    codebooks.coalesce(1).write.mode("overwrite").parquet(path)
    manifest = {"m": int(m), "dim": int(dim), "amax": float(amax)}
    with open(os.path.join(path, "_pq_manifest.json"), "w") as f:
        json.dump(manifest, f)


def pq_load_index(spark, path: str):
    """Load a PQ index saved by :func:`pq_save_index` →
    ``(codebooks DataFrame, params dict)``. Raises if the manifest is
    missing (an uncommitted / foreign directory is not an index)."""
    import json
    import os

    mf = os.path.join(path, "_pq_manifest.json")
    if not os.path.exists(mf):
        raise ValueError(f"no _pq_manifest.json at {path}: not a PQ index")
    with open(mf) as f:
        params = json.load(f)
    return spark.read.parquet(path), params


def corpus_amax(emb: DataFrame) -> float:
    """The absmax scale of a corpus (one scalar aggregate) — computed
    once at train time and persisted via :func:`pq_save_index`."""
    row = emb.agg(
        F.max(
            F.array_max(
                F.transform(
                    as_double_array(F.col("embedding")), F.abs
                )
            )
        ).alias("amax")
    ).first()
    return float(row["amax"])


def ann_pq_query_with_index(
    spark,
    codes: DataFrame,
    queries: DataFrame,
    path: str,
) -> DataFrame:
    """Query a persisted PQ index: ``codes`` is the stored
    ``(vec_id, subv, code)`` table from :func:`pq_encode`, ``queries``
    is ``(vec_id, embedding)`` raw query vectors. Loads the codebooks +
    the TRAINING amax from the manifest (queries quantize at the index
    scale — a pure projection, no corpus aggregate), builds the ADC
    lookup table, scores, ranks. Output matches :func:`ann_pq_topk`.
    """
    cb, params = pq_load_index(spark, path)
    dim, m, amax = params["dim"], params["m"], params["amax"]
    qdim = _emb_dim(queries)
    if qdim != dim:
        raise ValueError(
            f"query dim {qdim} != index dim {dim} (param manifest mismatch)"
        )
    sd = dim // m
    q = quantize_embeddings(queries, amax=amax)
    qsubs = _subvectors(q, m, sd).select(
        F.col("vec_id").alias("query_id"), "subv", "qsub"
    )
    lut = qsubs.join(cb, "subv").select(
        "query_id", "subv", "code",
        int_dot(F.col("qsub"), F.col("centroid")).alias("dot"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["subv", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dot").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "rank", "score")
    )


def ann_ivfpq_topk(emb: DataFrame, n_probe: int = 3) -> DataFrame:
    """IVFPQ — the composition that IS the production 10^12-vector
    index (faiss IndexIVFPQ): IVF coarse routing shrinks candidates to
    ~n_probe/n_lists of the corpus, PQ ADC scores them from codes alone
    (no vector data moves at query time). The routing quantizer is
    :func:`similarity.ivf_build_centroids`' one list per ``label``, and
    centroids and list routing both read the ``embedding`` column; PQ
    contract as :func:`ann_pq_topk`, with m=4 sub-quantizers. With ``n_probe >= n_lists`` the candidate set
    is the full corpus and the output equals :func:`ann_pq_topk`
    exactly — the certification trick the ``ann_ivf`` contract uses.

    Scale shape: codes store is 8-32x smaller than vectors AND only the
    probed lists' codes join the broadcast LUT; the per-(query, vec)
    score sum map-side-combines its m rows.
    """
    from rio_cogeo_spark.operators.similarity import (
        ivf_assign_lists,
        ivf_build_centroids,
    )

    dim = _emb_dim(emb)
    sd = dim // 4
    centroids = ivf_build_centroids(emb)
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    indexed = ivf_assign_lists(emb, centroids)
    np_ = int(min(n_probe, norm_c.shape[0]))

    @F.pandas_udf("array<int>")
    def _probe_lists(qv: pd.Series) -> pd.Series:
        mtx = np.stack([np.asarray(v, dtype=np.float64) for v in qv])
        mtx = mtx / np.linalg.norm(mtx, axis=1, keepdims=True)
        order = np.argsort(-(mtx @ norm_c.T), axis=1, kind="stable")[:, :np_]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    cb = pq_codebooks(emb)
    codes = pq_encode(emb, cb).join(
        indexed.select("vec_id", "ivf_list"), "vec_id"
    )

    raw_q = emb.filter(F.col("vec_id") < N_QUERIES)
    probes = raw_q.select(
        F.col("vec_id").alias("query_id"),
        F.explode(_probe_lists(F.col("embedding"))).alias("ivf_list"),
    )
    # queries quantize at the CORPUS scale (the codebooks' training
    # amax) — quantizing the filtered query set alone would rescale
    # every LUT dot (the pq_save_index manifest rule)
    q = quantize_embeddings(emb).filter(F.col("vec_id") < N_QUERIES)
    qsubs = _subvectors(q, 4, sd).select(
        F.col("vec_id").alias("query_id"), "subv", "qsub"
    )
    lut = qsubs.join(cb, "subv").select(
        "query_id", "subv", "code",
        int_dot(F.col("qsub"), F.col("centroid")).alias("dot"),
    )
    cands = codes.join(F.broadcast(probes), ["ivf_list"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = (
        cands.join(F.broadcast(lut), ["query_id", "subv", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dot").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "rank", "score")
    )
