"""Similarity search over embeddings: exact brute-force cosine top-k
(baseline) and an LSH-bucketed approximate path (scale).

Scale design: brute-force is one broadcast of the (small) query set and a
linear scan — right answer for ≤10^3 queries over any corpus size, since
the big side never shuffles and top-k folds map-side via the window's
partial rank... at true 10^12-vector scale the LSH variant buckets both
sides by random-hyperplane sign bits so each query only scans its bucket
ring; recall is tested against brute force at sandbox scale.

Column names are fixed (``vec_id``, ``embedding``, ``label``), except
the vector column of :func:`ivf_build_centroids` and
:func:`ivf_assign_lists`, which :mod:`quantize` sets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.vector import cosine_rounded


def ann_bruteforce_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries: (query_id long/string, q_embedding array<float>). Output:
    (query_id, vec_id, rank, cos) — rank by (cos DESC, vec_id ASC) on the
    6dp-rounded cosine so ranking is oracle-stable.

    r06: each side's norm is computed ONCE per input row, BEFORE the
    cross join (guide §1.2 per-task work): the inline
    ``cosine_rounded`` form re-derived sqrt(dot(a,a)) per *joined* row
    (|queries| times per corpus vector) and sqrt(dot(b,b)) per corpus
    row — 3 array folds per pair instead of 1. The division operands
    are the identical IEEE expression trees on the same inputs, so the
    rounded cosine is bit-equal (verified exceptAll==0 at sf1.0);
    measured 4.2s -> 1.8s noop at sf1.0.
    """
    from rio_cogeo_spark.functions.vector import as_double_array, dot

    e = embeddings.select(
        "vec_id", as_double_array(F.col("embedding")).alias("_e")
    ).withColumn("_na", F.sqrt(dot(F.col("_e"), F.col("_e"))))
    q = queries.select(
        "query_id", as_double_array(F.col("q_embedding")).alias("_q")
    ).withColumn("_nb", F.sqrt(dot(F.col("_q"), F.col("_q"))))
    joined = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    cos = F.round(
        dot(F.col("_e"), F.col("_q")) / (F.col("_na") * F.col("_nb")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        joined.select("query_id", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos")
    )


def _component_means(df: DataFrame, key_col: str) -> dict:
    """Per-key per-component vector means via posexplode + avg — the
    mergeable shape: partial aggregation combines map-side, so the
    shuffle carries n_partitions x n_keys x dim partial sums, never a
    ``collect_list`` of whole vectors per group. Only the (n_keys x dim)
    mean matrix reaches the driver."""
    rows = (
        df.select(key_col, F.posexplode("embedding").alias("pos", "x"))
        .groupBy(key_col, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .collect()
    )
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r[key_col], {})[r["pos"]] = r["m"]
    return by_key


def _kmeanspp_sample_seed(
    embeddings: DataFrame,
    n_lists: int,
    sample_rows: int,
) -> np.ndarray:
    """k-means++ seeding from a DETERMINISTIC corpus sample: the sample
    is the ``sample_rows`` smallest ``xxhash64(id)`` rows (a distributed
    TakeOrdered — no full sort, no dependence on partitioning or row
    order), and the ++ chain runs driver-side on that small matrix with
    a fixed RNG (seed 13). Only sample_rows x dim doubles ever reach the driver."""
    rows = (
        embeddings.select(F.col("embedding").alias("v"))
        .orderBy(F.xxhash64(F.col("vec_id").cast("string"), F.lit(13)))
        .limit(int(sample_rows))
        .collect()
    )
    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    if n_lists > X.shape[0]:
        raise ValueError(
            f"n_lists={n_lists} exceeds the seed sample ({X.shape[0]} rows); "
            "raise sample_rows"
        )
    rng = np.random.default_rng(13)

    def _pp_seed():
        centers = [X[int(rng.integers(X.shape[0]))]]
        d2 = np.full(X.shape[0], np.inf)
        for _ in range(n_lists - 1):
            d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(axis=1))
            if d2.sum() <= 0:  # fewer distinct points than lists
                centers.append(X[int(rng.integers(X.shape[0]))])
                continue
            centers.append(X[int(rng.choice(X.shape[0], p=d2 / d2.sum()))])
        return np.stack(centers)

    def _lloyd_on_sample(cent, iters=25):
        for _ in range(iters):
            assign = (X @ cent.T).argmax(axis=1)  # cosine on unit vectors
            new = cent.copy()
            for j in range(n_lists):
                m = assign == j
                if m.any():
                    new[j] = X[m].mean(axis=0)
            new = new / np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
            if np.allclose(new, cent):
                break
            cent = new
        inertia = -np.max(X @ cent.T, axis=1).sum()
        return cent, inertia

    # a single ++ chain can split one true cluster and merge two others;
    # full k-means on the (driver-side, tiny) sample with several
    # restarts costs milliseconds and reliably recovers the coarse
    # structure — the distributed Lloyd rounds then only polish
    best_cent, best_inertia = None, np.inf
    for _ in range(8):
        cent, inertia = _lloyd_on_sample(_pp_seed())
        if inertia < best_inertia:
            best_cent, best_inertia = cent, inertia
    return best_cent


def ivf_build_centroids(embeddings: DataFrame, lloyd_iters: int = 0,
                        n_lists: int = None,
                        sample_rows: int = 4096) -> np.ndarray:
    """IVF coarse quantizer. Two seeding modes:

    * ``n_lists`` given — k-means++ over a deterministic hash-ordered
      sample (:func:`_kmeanspp_sample_seed`); the corpus needs NO label
      column and the list count is an explicit knob, as in any IVF index.
    * ``n_lists`` None — one centroid per distinct ``label`` value,
      seeded from the partition means (useful when a meaningful grouping
      column already exists).

    Either seed is then refined with ``lloyd_iters`` distributed k-means
    rounds (each round: vectorized nearest-centroid assignment + a
    mergeable per-component avg — one shuffle per round, carrying
    n_lists x dim partial sums, never whole vectors per group). Returns
    (n_lists, dim).

    A list that loses all members in a round keeps its previous centroid
    (the standard empty-cluster rule), so n_lists is stable."""
    if n_lists is not None:
        cent = _kmeanspp_sample_seed(
            embeddings, int(n_lists), sample_rows
        )
    else:
        by_list = _component_means(embeddings, "label")
        labels = sorted(by_list)
        dim = max(max(d) for d in by_list.values()) + 1
        cent = np.array(
            [[by_list[lbl][p] for p in range(dim)] for lbl in labels],
            dtype=np.float64,
        )
    for _ in range(int(lloyd_iters)):
        assigned = ivf_assign_lists(embeddings, cent)
        by_idx = _component_means(assigned, "ivf_list")
        new_cent = cent.copy()
        for idx, comps in by_idx.items():
            new_cent[int(idx)] = [comps[p] for p in range(cent.shape[1])]
        cent = new_cent
    return cent


def ivf_assign_lists(embeddings: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Add ``ivf_list`` = nearest centroid by cosine (one Lloyd step —
    the routing rule MUST be distance-based so that a query near vector v
    probes v's list; an arbitrary partition column is not routable).
    Vectorized: one matmul per Arrow batch."""
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series((m @ norm_c.T).argmax(axis=1).astype(np.int32))

    return embeddings.withColumn("ivf_list", _assign(F.col("embedding")))


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    include_self: bool = False,
    lloyd_iters: int = 0,
    n_lists: int = None,
) -> DataFrame:
    """IVF ANN: vectors are re-assigned to their nearest coarse centroid
    (seeded from ``label`` means, optionally Lloyd-refined with
    ``lloyd_iters`` distributed k-means rounds); each query probes only its
    ``n_probe`` nearest inverted lists, then exact cosine + rank within
    them. Candidates shrink from |corpus| to ~n_probe/n_lists of it —
    the structure that scales to 10^12 vectors (lists = partitions).

    Probe routing is distributed: the (tiny) centroid matrix ships to
    executors inside the routing UDF's closure and each query's n_probe
    list is computed vectorized per Arrow batch, then exploded — the
    query table is never collected. The exploded probe side is
    broadcast into the join on ``ivf_list`` (right for <=10^6 probe
    rows).

    ``n_lists`` switches the quantizer to the label-free k-means++
    sample seed (see :func:`ivf_build_centroids`) — the right mode for a
    corpus without a meaningful grouping column."""
    centroids = ivf_build_centroids(
        embeddings, lloyd_iters=lloyd_iters,
        n_lists=n_lists,
    )
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    indexed = ivf_assign_lists(embeddings, centroids)
    np_ = int(min(n_probe, norm_c.shape[0]))

    @F.pandas_udf("array<int>")
    def _probe_lists(qv: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in qv])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ norm_c.T), axis=1, kind="stable")[:, :np_]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    probes = queries.withColumn(
        "ivf_list", F.explode(_probe_lists(F.col("q_embedding")))
    )
    joined = indexed.join(F.broadcast(probes), "ivf_list", "inner")
    if not include_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    cos = cosine_rounded(F.col("embedding"), F.col("q_embedding"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos")
    )


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.default_rng(42)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(df: DataFrame, vec_col: str, dim: int, n_planes: int = 8) -> DataFrame:
    """Add a random-hyperplane sign-bucket column (int, 2**n_planes
    buckets). Vectorized: one matmul per Arrow batch."""
    planes = _hyperplanes(dim, n_planes)

    @F.pandas_udf("int")
    def _bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        signs = (m @ planes.T) > 0
        vals = (signs * (1 << np.arange(n_planes))).sum(axis=1)
        return pd.Series(vals.astype(np.int32))

    return df.withColumn("bucket", _bucket(F.col(vec_col)))


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    (plus hamming-1 neighbor buckets for recall), then exact cosine + rank.
    """
    emb_b = lsh_bucket(embeddings, "embedding", dim, 6)

    q_b = lsh_bucket(queries, "q_embedding", dim, 6)
    # expand query buckets to hamming-1 ring
    ring = F.array(
        F.col("bucket").cast("int"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("int") for i in range(6)],
    )
    q_ring = q_b.withColumn("bucket", F.explode(ring))

    joined = emb_b.join(q_ring, "bucket", "inner")
    if not include_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    cos = cosine_rounded(F.col("embedding"), F.col("q_embedding"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos")
    )


# ---------------------------------------------------------------------------
# Persistable IVF index (build once, query many)
# ---------------------------------------------------------------------------


def ivf_save_index(
    spark_or_df,
    centroids: np.ndarray,
    path: str,
) -> None:
    """Persist an IVF coarse quantizer as a tiny parquet table
    ``(list_id int, centroid array<double>)`` — the FAISS-index-file
    analog for a Spark pipeline: build the quantizer once (expensive
    Lloyd rounds over the corpus), then every later query job loads the
    n_lists x dim matrix instead of re-clustering. The INVERTED LISTS
    themselves need no separate artifact: ``ivf_assign_lists`` is a
    stateless projection, so writing the corpus bucketed/partitioned by
    ``ivf_list`` (sources/pages.py::write_bucketed) IS the posting-list
    store, with partition pruning as the list scan."""
    spark = getattr(spark_or_df, "sparkSession", spark_or_df)
    rows = [
        (int(i), [float(x) for x in centroids[i]])
        for i in range(centroids.shape[0])
    ]
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["list_id", "centroid"]),
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def ivf_load_index(spark, path: str) -> np.ndarray:
    """Load a quantizer saved by :func:`ivf_save_index` back into the
    (n_lists, dim) ndarray shape the routing UDFs close over."""
    rows = spark.read.parquet(path).orderBy("list_id").collect()
    if not rows:
        raise ValueError(f"empty IVF index at {path}")
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ann_ivf_topk_with_index(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF ANN against a prebuilt quantizer (see :func:`ivf_save_index`)
    — identical query plan to :func:`ann_ivf_topk` minus the build."""
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    indexed = ivf_assign_lists(embeddings, centroids)
    np_ = int(min(n_probe, norm_c.shape[0]))

    @F.pandas_udf("array<int>")
    def _probe_lists(qv: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in qv])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ norm_c.T), axis=1, kind="stable")[:, :np_]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    probes = queries.withColumn(
        "ivf_list", F.explode(_probe_lists(F.col("q_embedding")))
    )
    joined = indexed.join(F.broadcast(probes), "ivf_list", "inner").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = cosine_rounded(F.col("embedding"), F.col("q_embedding"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos")
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    near-dup pairs found CLUSTER-LOCALLY: assign every vector to its
    nearest coarse-quantizer centroid (the same IVF routing the ANN
    index uses — one index serves search AND dedup), then compare
    cosine only within a cluster. Complexity drops from O(n²) to
    Σ|cluster|², the entire point of SemDeDup at 100 TB: with ~10^5
    clusters a trillion-vector corpus compares ~10^7× fewer pairs than
    all-pairs. Cross-cluster near-dups are missed BY DESIGN (the paper's
    trade-off); use :func:`dedup.embedding_neardup_pairs` when exact
    recall matters at smaller scale.

    Returns ``(vec_a, vec_b, cosine)`` with ``vec_a < vec_b`` and
    6-dp-rounded cosine ≥ ``threshold``.

    Scale design: the pair expansion groups each cluster's MEMBER IDS
    into one list and expands in place (ids only — vectors join back
    per surviving candidate) — one sort, not a cluster-key self-join
    that sorts the same table twice (ROUND5.md §9); the final verify is
    the shared JVM ``cosine_rounded`` expression, bit-identical to the
    DuckDB twin."""
    assigned = ivf_assign_lists(embeddings, centroids)
    grouped = (
        assigned.groupBy("ivf_list")
        .agg(F.collect_list("vec_id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # posexplode + tail-slice: s(s-1)/2 rows, not the filtered s²
    # cross (r06, same rewrite as dedup._shingle_pair_counts)
    cands = (
        grouped.select(F.posexplode("ids").alias("_p", "_x"), "ids")
        .select(
            "_x",
            F.explode(
                F.slice(F.col("ids"), F.col("_p") + F.lit(2), F.size("ids"))
            ).alias("_y"),
        )
        .select(
            F.least("_x", "_y").alias("vec_a"),
            F.greatest("_x", "_y").alias("vec_b"),
        )
    )
    vt = embeddings.select("vec_id", "embedding")
    pairs = (
        cands.join(
            vt.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")),
            "vec_a",
        )
        .join(
            vt.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")),
            "vec_b",
        )
        .withColumn("cosine", cosine_rounded(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= float(threshold))
    )
    return pairs.select("vec_a", "vec_b", "cosine")


def pool_embeddings(vecs: DataFrame) -> DataFrame:
    """Deterministic mean-pooling of embeddings per group — the
    chunk-embeddings→document-embedding (or class-centroid) fold every
    embedding pipeline needs before doc-level ANN / clustering.

    Emitted LONG: ``(label, dim, n_vecs, mean_val)`` with ``dim``
    1-based. ``mean_val`` is computed by a SEQUENTIAL left fold over the
    group's values sorted by ``vec_id`` (float32 → float64 first, so
    every add is one IEEE-754 double op in a fixed order): both engines
    execute the identical operation sequence, making the doubles
    BIT-identical cross-engine — no rounding crutch. A plain ``SUM``
    would be order-nondeterministic in the last ulp on any distributed
    engine.

    Scale design (100 TB): the explode is a projection; the shuffle
    groups by (group, dim) — for doc-level pooling the group is one
    document's chunks (tiny); for corpus-wide class centroids a
    production run swaps the sorted-fold contract for plain
    SUM/AVG (order-free, mergeable, last-ulp nondeterministic —
    exactly how :func:`ivf_build_centroids` folds its per-component
    means) and validates it against this exact form on a sample. The
    collect_list per (group, dim) is bounded by group size, which the
    caller controls.
    """
    ex = vecs.select(
        F.col("label"),
        F.col("vec_id"),
        F.posexplode(F.col("embedding")).alias("dim0", "val0"),
    ).select(
        "label",
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val0").cast("double").alias("val"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("vec_id"), F.col("val")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["val"],
            ).alias("tot"),
        )
        .select(
            "label", "dim", "n_vecs",
            (F.col("tot") / F.col("n_vecs")).alias("mean_val"),
        )
    )


def pool_embeddings_sql() -> str:
    """DuckDB twin of :func:`pool_embeddings` — the same
    sorted-by-id sequential double fold (list_reduce is a left fold;
    the 0.0-seeded Spark fold adds one exact 0.0+x step, which cannot
    round), so the doubles are bit-identical."""
    return rf"""
WITH ex AS (
  SELECT label, vec_id, u.i AS dim, CAST(u.v AS DOUBLE) AS val
  FROM embeddings,
       unnest(list_transform(embedding,
              (x, i) -> struct_pack(i := i, v := x))) AS t(u)
)
SELECT label, dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
           / COUNT(*) AS mean_val
FROM ex GROUP BY 1, 2"""


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    margin_threshold_ppm: int = 1_000_000,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    LASER / CCMatrix / ParaCrawl parallel-corpus miner): for every
    source-language vector, the best target-language candidate scored
    by the RATIO margin

        margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)

    where ``avgNN_k`` is the mean cosine to the k nearest neighbors in
    the OTHER set — raw cosine is miscalibrated across hubness regions,
    the margin normalizes by each side's local neighborhood density.

    Engine-exact determinism: cosines enter as integer micro-units
    (``round(cos * 1e6)`` — one rounding step off the shared rounded-
    cosine contract in functions/vector.py), and everything downstream
    (k-NN means, the margin ratio in ppm, ranking) is exact BIGINT with
    id tie-breaks, so Spark and DuckDB hash identically.
    ``margin_threshold_ppm`` must be >= 1: the integer-division margins
    of NEGATIVE-cosine pairs may differ between engines in the last
    unit (trunc vs floor), but such pairs can never survive a positive
    threshold in either engine, and the per-source argmax is decided by
    the (identical) positive margins. Pairs whose pooled neighborhood
    mean is <= 0 are dropped (margin undefined — nothing in their
    neighborhood correlates).

    Returns ``(src_id, tgt_id, cos_u, margin_ppm)``, the best target per
    source with ``margin_ppm >= margin_threshold_ppm``.

    Scale design (100 TB): this is the EXACT path — the target set
    and its neighborhood means broadcast (the ann_bruteforce_topk
    discipline) and the corpus-side table never shuffles except the
    two id-bounded neighborhood folds (map-side-combinable sum/count per id). At
    trillion-vector scale, swap the crossJoin candidate generator for
    the IVF routing already in this module (``ivf_assign_lists`` /
    :func:`semantic_dedup_pairs`'s cluster-local expansion) — margin
    scoring downstream is unchanged.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if margin_threshold_ppm < 1:
        raise ValueError(
            "margin_threshold_ppm must be >= 1 (sign-safe), got "
            f"{margin_threshold_ppm}"
        )
    from rio_cogeo_spark.functions.vector import cosine_rounded

    s = src.select(F.col("src_id"), F.col("embedding").alias("_sv"))
    t = tgt.select(F.col("tgt_id"), F.col("embedding").alias("_tv"))
    pairs = s.crossJoin(F.broadcast(t)).select(
        "src_id",
        "tgt_id",
        F.round(cosine_rounded(F.col("_sv"), F.col("_tv")) * 1_000_000, 0)
        .cast("long")
        .alias("cos_u"),
    )

    def _nn_mean(part_col: str, other_col: str, out: str) -> DataFrame:
        w = Window.partitionBy(part_col).orderBy(
            F.col("cos_u").desc(), F.col(other_col).asc()
        )
        return (
            pairs.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k)
            .groupBy(part_col)
            # shift to [0, 2e6] before the integer mean: Spark's `div`
            # truncates while DuckDB's `//` floors, which differ on
            # negative sums — on the shifted non-negative sum they
            # agree, and the shift distributes exactly through floor
            # ((sum + c*1e6) div c = 1e6 + floor(sum/c))
            .agg(
                F.expr(
                    "(sum(cos_u + 1000000) div count(1)) - 1000000"
                ).alias(out)
            )
        )

    a_src = _nn_mean("src_id", "tgt_id", "a_src")
    a_tgt = _nn_mean("tgt_id", "src_id", "a_tgt")
    # a_src is src-cardinality (joins back co-partitioned on src_id — a
    # legitimate shuffle at corpus scale); a_tgt is target-bounded and
    # rides the same broadcast budget as the target set itself
    scored = (
        pairs.join(a_src, "src_id")
        .join(F.broadcast(a_tgt), "tgt_id")
        .filter(F.col("a_src") + F.col("a_tgt") > 0)
        .select(
            "src_id",
            "tgt_id",
            "cos_u",
            F.expr("(2 * cos_u * 1000000) div (a_src + a_tgt)").alias(
                "margin_ppm"
            ),
        )
    )
    best = Window.partitionBy("src_id").orderBy(
        F.col("margin_ppm").desc(), F.col("tgt_id").asc()
    )
    return (
        scored.withColumn("_b", F.row_number().over(best))
        .filter(
            (F.col("_b") == 1)
            & (F.col("margin_ppm") >= margin_threshold_ppm)
        )
        .select("src_id", "tgt_id", "cos_u", "margin_ppm")
    )


def bitext_mine_sql(src_cte: str, tgt_cte: str, k: int = 4) -> str:
    """DuckDB twin of :func:`bitext_mine` (each CTE exposes
    ``({src,tgt}_id, embedding)``)."""
    from rio_cogeo_spark.functions.vector import cosine_sql

    cos = cosine_sql("s.embedding", "t.embedding")
    return rf"""
WITH s AS ({src_cte}), t AS ({tgt_cte}),
p AS (SELECT s.src_id, t.tgt_id,
             CAST(round(({cos}) * 1000000, 0) AS BIGINT) AS cos_u
      FROM s CROSS JOIN t),
rs AS (SELECT src_id, cos_u,
              ROW_NUMBER() OVER (PARTITION BY src_id
                                 ORDER BY cos_u DESC, tgt_id) AS r
       FROM p),
a_src AS (SELECT src_id,
                 CAST((SUM(cos_u + 1000000) // COUNT(*)) - 1000000
                      AS BIGINT) AS a_src
          FROM rs WHERE r <= {int(k)} GROUP BY 1),
rt AS (SELECT tgt_id, cos_u,
              ROW_NUMBER() OVER (PARTITION BY tgt_id
                                 ORDER BY cos_u DESC, src_id) AS r
       FROM p),
a_tgt AS (SELECT tgt_id,
                 CAST((SUM(cos_u + 1000000) // COUNT(*)) - 1000000
                      AS BIGINT) AS a_tgt
          FROM rt WHERE r <= {int(k)} GROUP BY 1),
m AS (SELECT p.src_id, p.tgt_id, p.cos_u,
             CAST((2 * p.cos_u * 1000000) // (a_src + a_tgt)
                  AS BIGINT) AS margin_ppm
      FROM p JOIN a_src USING (src_id) JOIN a_tgt USING (tgt_id)
      WHERE a_src + a_tgt > 0),
best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                   ORDER BY margin_ppm DESC, tgt_id) AS b FROM m)
SELECT src_id, tgt_id, cos_u, margin_ppm
FROM best WHERE b = 1 AND margin_ppm >= 1000000"""


def hard_negatives(candidates: DataFrame, pairs: DataFrame, k: int = 10) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR, Karpukhin et
    al. EMNLP'20; SimCSE): per anchor, the top-``k`` most-similar
    candidates that are NOT the anchor itself and NOT in the anchor's
    duplicate COMPONENT — a near-copy of the anchor is a false negative
    that poisons the contrastive loss, and pair-level exclusion misses
    transitive copies (A~B, B~C ⇒ C must not be A's negative), so the
    exclusion is component-aware.

    ``candidates`` is any mined similarity pool ``(query_id, vec_id,
    cos)`` — the output of :func:`ann_bruteforce_topk`,
    :func:`ann_ivf_topk`, or :func:`ann_lsh_topk` with a pool size
    comfortably above ``k`` (excluded dup-mates must not leave holes).
    ``pairs`` is any mined duplicate pair set (minhash / simhash /
    embedding near-dup). Output: ``(query_id, vec_id, rank,
    cos)`` re-ranked by (score DESC, cand ASC).

    Scale design (100 TB): the component table is bounded by the
    DUPLICATE population (never the corpus) and broadcasts twice onto
    the candidate pool; the pool itself
    is n_queries x pool_k rows; the final rank window is per-query and
    bounded by pool_k. The corpus never shuffles — mining happened
    upstream in the ANN operator.
    """
    from rio_cogeo_spark.operators.dedup import connected_components

    comp = connected_components(pairs)
    cq = F.broadcast(comp.select(
        F.col("doc_id").alias("query_id"), F.col("component").alias("_q_comp")
    ))
    cc = F.broadcast(comp.select(
        F.col("doc_id").alias("vec_id"), F.col("component").alias("_c_comp")
    ))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        candidates.join(cq, "query_id", "left")
        .join(cc, "vec_id", "left")
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(
            F.col("_q_comp").isNull()
            | F.col("_c_comp").isNull()
            | (F.col("_q_comp") != F.col("_c_comp"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos")
    )


def centroid_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Embedding-space drift monitoring between two snapshots: per
    group, the cosine between the OLD and NEW mean centroids plus both
    member counts — the dashboard behind "did the crawl's embedding
    distribution move" (re-train triggers, encoder-version checks,
    topic shift per language).

    Built on :func:`pool_embeddings`' bit-exact sequential-fold means;
    the cosine itself folds the (old, new) mean pairs in DIM ORDER —
    one fixed IEEE op sequence on both engines — then rounds to 6dp,
    so the contract hashes exactly. Groups missing from one side are
    ABSENT (no centroid to compare); n_old/n_new come from the pooled
    counts.

    Scale design: both pooled tables are (groups x dim) rows — tiny;
    the join is co-partitioned on (group, dim) and the fold's
    collect_list is dim-bounded (the embedding width).
    """
    pa = pool_embeddings(old).select(
        "label", "dim", F.col("n_vecs").alias("n_old"),
        F.col("mean_val").alias("ma"),
    )
    pb = pool_embeddings(new).select(
        "label", "dim", F.col("n_vecs").alias("n_new"),
        F.col("mean_val").alias("mb"),
    )
    j = pa.join(pb, ["label", "dim"])
    folded = (
        j.groupBy("label")
        .agg(
            F.max("n_old").alias("n_old"),
            F.max("n_new").alias("n_new"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("dim", "ma", "mb"))
                ),
                F.struct(
                    F.lit(0.0).alias("dot"),
                    F.lit(0.0).alias("a2"),
                    F.lit(0.0).alias("b2"),
                ),
                lambda acc, x: F.struct(
                    (acc["dot"] + x["ma"] * x["mb"]).alias("dot"),
                    (acc["a2"] + x["ma"] * x["ma"]).alias("a2"),
                    (acc["b2"] + x["mb"] * x["mb"]).alias("b2"),
                ),
            ).alias("s"),
        )
    )
    return folded.select(
        "label",
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        F.round(
            F.col("s.dot")
            / (F.sqrt(F.col("s.a2")) * F.sqrt(F.col("s.b2"))),
            6,
        ).alias("centroid_cos"),
    )


def centroid_drift_sql(old_cte: str, new_cte: str) -> str:
    """DuckDB twin of :func:`centroid_drift`. ``old_cte``/``new_cte``
    expose ``(label, vec_id, v)`` with the vector already cast
    to DOUBLE elements. The struct-accumulator list_reduce executes the
    same dim-ordered IEEE sequence as the Spark fold."""

    def pooled(cte, alias):
        return f"""{alias}0 AS ({cte}),
{alias}x AS (SELECT label, vec_id, u.i AS dim,
                    CAST(u.v AS DOUBLE) AS val
             FROM {alias}0,
                  unnest(list_transform(v,
                         (x, i) -> struct_pack(i := i, v := x))) AS t(u)),
{alias} AS (SELECT label, dim, COUNT(*) AS n_vecs,
                   list_reduce(list(val ORDER BY vec_id),
                               (a, b) -> a + b) / COUNT(*) AS mean_val
            FROM {alias}x GROUP BY 1, 2)"""

    return f"""
WITH {pooled(old_cte, "cd_a")},
{pooled(new_cte, "cd_b")},
cd_j AS (SELECT a.label, a.dim, a.mean_val AS ma, b.mean_val AS mb,
                a.n_vecs AS n_old, b.n_vecs AS n_new
         FROM cd_a a JOIN cd_b b USING (label, dim)),
cd_f AS (SELECT label,
                MAX(n_old) AS n_old, MAX(n_new) AS n_new,
                list_reduce(
                    list_prepend(struct_pack(dot := 0.0, a2 := 0.0,
                                             b2 := 0.0),
                                 list(struct_pack(dot := ma * mb,
                                                  a2 := ma * ma,
                                                  b2 := mb * mb)
                                      ORDER BY dim)),
                    (acc, x) -> struct_pack(dot := acc.dot + x.dot,
                                            a2 := acc.a2 + x.a2,
                                            b2 := acc.b2 + x.b2)) AS s
         FROM cd_j GROUP BY 1)
SELECT label,
       CAST(n_old AS BIGINT) AS n_old,
       CAST(n_new AS BIGINT) AS n_new,
       round(s.dot / (sqrt(s.a2) * sqrt(s.b2)), 6) AS centroid_cos
FROM cd_f"""


def _jl_matrix(in_dim: int, out_dim: int):
    """Deterministic Gaussian projection matrix (Python stdlib RNG —
    engine-independent by construction; the literal doubles are shared
    verbatim by the Spark expression and the SQL twin)."""
    import random

    rng = random.Random(42)
    scale = 1.0 / (out_dim ** 0.5)
    return [
        [rng.gauss(0.0, 1.0) * scale for _ in range(in_dim)]
        for _ in range(out_dim)
    ]


def random_projection(emb: DataFrame, out_dim: int = 16) -> DataFrame:
    """Johnson–Lindenstrauss random projection — the dimensionality
    reduction step in front of ANN/clustering at 100 TB (a 64→16
    projection cuts vector bandwidth 4x while approximately preserving
    pairwise distances, JL lemma). The projection matrix is a
    DETERMINISTIC plan literal (seeded stdlib Gaussian — no engine RNG
    anywhere), each output component one fixed left-to-right
    multiply-add chain, so the doubles are bit-identical cross-engine
    and the 6dp rounding is a formality.

    Output LONG (driver-canonicalizable): ``(vec_id, dim, val)`` with
    ``dim`` 0-based over the projected components.

    Scale design: a pure zero-shuffle projection — in_dim x out_dim
    literal multiply-adds per row, whole-stage codegen, no UDF.
    """
    in_dim_row = emb.select(F.size(F.col("embedding")).alias("d")).first()
    if in_dim_row is None:
        raise ValueError("empty embedding table")
    in_dim = int(in_dim_row["d"])
    if out_dim < 1 or out_dim > in_dim:
        raise ValueError(
            f"out_dim must be in [1, {in_dim}], got {out_dim}"
        )
    mat = _jl_matrix(in_dim, out_dim)
    comps = []
    for j in range(out_dim):
        terms = " + ".join(
            f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
            f" * CAST({mat[j][i]!r} AS DOUBLE)"
            for i in range(in_dim)
        )
        comps.append(F.expr(f"round({terms}, 6)").alias(f"_p{j}"))
    wide = emb.select(F.col("vec_id"), *comps)
    stacked = ", ".join(
        f"{j}, _p{j}" for j in range(out_dim)
    )
    return wide.selectExpr(
        "vec_id",
        f"stack({out_dim}, {stacked}) AS (dim, val)",
    ).select(
        "vec_id", F.col("dim").cast("int").alias("dim"), "val"
    )


def random_projection_sql() -> str:
    """DuckDB twin of :func:`random_projection` — the identical literal
    matrix and the identical left-to-right multiply-add chains."""
    mat = _jl_matrix(64, 16)
    selects = []
    for j in range(16):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE)"
            f" * CAST({mat[j][i]!r} AS DOUBLE)"
            for i in range(64)
        )
        selects.append(
            f"SELECT vec_id, CAST({j} AS INT) AS dim,"
            f" round({terms}, 6) AS val FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)
