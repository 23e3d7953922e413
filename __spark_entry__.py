"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pyramid build; ``queries()`` exposes one
callable per implemented operator from SURVEY.md §2 (+ the training-data
pipeline suite); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.

Cross-engine determinism contract (see rio_cogeo_spark/synth.py): the
pages derivation and every compared expression use integer modular
arithmetic + IEEE-double ops with fractional literals pinned via
``CAST(.. AS DOUBLE)``; transcendental steps (ln/tan in the mercator Y)
only feed integer ``floor`` outputs; every compared float is rounded
(6dp, 9dp for distances) on BOTH sides; ranks tie-break on ids.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from rio_cogeo_spark import grid
from rio_cogeo_spark.functions import text as TX
from rio_cogeo_spark.functions import vector as VEC
from rio_cogeo_spark.functions.tile import tile_xy_sql
from rio_cogeo_spark.operators import dedup as DD
from rio_cogeo_spark.operators import join as J
from rio_cogeo_spark.operators import similarity as SIM
from rio_cogeo_spark.operators.translate import (
    assign_tiles,
    base_tiles,
    cog_translate,
    tiles_meta,
)
from rio_cogeo_spark.operators.validate import validate_report
from rio_cogeo_spark.synth import MEGACITIES, pages_cte, synth_pages

ZOOM = 8
LEVELS = 4  # pyramid levels below ZOOM → zooms 8..4


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth_pages(spark, sf_dir)


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ re-keyed copies of the first 50 (guaranteed exact dups)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return docs.unionByName(dups)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _knn_queries(spark: SparkSession) -> DataFrame:
    rows = [
        (f"Q{cid:02d}", float(lat), float(lon))
        for cid, _, lat, lon in MEGACITIES[:10]
    ]
    return spark.createDataFrame(rows, "query_id string, q_lat double, q_lon double")


def _pyramid(spark: SparkSession, sf_dir: str):
    return cog_translate(_pages(spark, sf_dir), max_zoom=ZOOM, overview_level=LEVELS)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pyramid build (tile assign → base agg → overview
    chain) on sf0.001."""
    tiles, _ = _pyramid(spark, "/root/testdata/sf0.001")
    return tiles


# ---------------------------------------------------------------------------
# queries (Spark side)
# ---------------------------------------------------------------------------


def q_pages_extract(spark, sf_dir):
    return _pages(spark, sf_dir).select("doc_id", "url", "lang", "lat", "lon")


def q_tile_assign(spark, sf_dir):
    return assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "doc_id", "tile_x", "tile_y"
    )


def q_tile_counts(spark, sf_dir):
    return base_tiles(_pages(spark, sf_dir), ZOOM).select(
        "zoom", "tile_x", "tile_y", "page_count", "sum_chars", "max_doc_id"
    )


def q_pyramid(spark, sf_dir):
    tiles, _ = _pyramid(spark, sf_dir)
    return tiles


def q_tiles_meta(spark, sf_dir):
    tiles, plan = _pyramid(spark, sf_dir)
    return tiles_meta(tiles, plan)


def q_validate(spark, sf_dir):
    tiles, plan = _pyramid(spark, sf_dir)
    return validate_report(tiles, tiles_meta(tiles, plan), {"format": "parquet"})


def q_pip_join(spark, sf_dir):
    hits = J.point_in_polygon(_pages(spark, sf_dir), J.build_admin_areas())
    return hits.select("url", "admin_id")


def q_pip_anti(spark, sf_dir):
    anti = J.point_in_polygon(_pages(spark, sf_dir), J.build_admin_areas(), how="anti")
    return anti.agg(F.count(F.lit(1)).alias("n_outside"))


def q_knn_brute(spark, sf_dir):
    return J.knn_bruteforce(_pages(spark, sf_dir), _knn_queries(spark), k=5)


def q_knn_kring(spark, sf_dir):
    return J.knn_kring(_pages(spark, sf_dir), _knn_queries(spark), k=5, ring=2)


def q_knn_exact(spark, sf_dir):
    """Adaptive k-ring kNN with the coverage-bound exactness guarantee."""
    return J.knn_kring_exact(_pages(spark, sf_dir), _knn_queries(spark), k=5)


def q_range_join(spark, sf_dir):
    """Interval join: clicks within ±60s of a purchase by the same user
    (bucketized decomposition, operators/rangejoin.py)."""
    from rio_cogeo_spark.operators.rangejoin import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return range_join(
        clicks, purchases, on="user_id", ts="ts", window_seconds=60,
        left_cols=["click_id"], right_cols=["purchase_id"],
    )


def q_zonal_stats(spark, sf_dir):
    return J.zonal_stats(_pages(spark, sf_dir), J.build_admin_areas())


def q_nearest_zone(spark, sf_dir):
    """Nearest-facility assignment: every page labeled with its nearest
    admin center by squared lon/lat euclid (plan-literal struct array +
    array_min — zero-shuffle, zero-join projection); ties to the
    smallest admin_id."""
    from rio_cogeo_spark.operators.zonal import nearest_zone

    return nearest_zone(_pages(spark, sf_dir), J.build_admin_areas())


def _nearest_zone_oracle() -> str:
    # centroid recomputed with the SAME left-fold IEEE sequence the
    # Spark literal uses: (((lo-h)+(lo+h))+(lo+h))+(lo-h) over the rect
    # ring corners, h = 0.6 (build_admin_areas default)
    clat = ("((((c_lat - 0.6) + (c_lat - 0.6)) + (c_lat + 0.6)) "
            "+ (c_lat + 0.6)) / 4")
    clon = ("((((c_lon - 0.6) + (c_lon + 0.6)) + (c_lon + 0.6)) "
            "+ (c_lon - 0.6)) / 4")
    return f"""{_P}{_ADMIN_CTE}
, nz_c AS (SELECT admin_id, {clat} AS a_lat, {clon} AS a_lon FROM admin),
nz_d AS (SELECT p.doc_id, c.admin_id,
                (p.lat - c.a_lat) * (p.lat - c.a_lat)
                + (p.lon - c.a_lon) * (p.lon - c.a_lon) AS d2,
                row_number() OVER (PARTITION BY p.doc_id
                                   ORDER BY (p.lat - c.a_lat) * (p.lat - c.a_lat)
                                            + (p.lon - c.a_lon) * (p.lon - c.a_lon),
                                            c.admin_id) AS rk
         FROM pages p CROSS JOIN nz_c c)
SELECT doc_id, admin_id, round(d2, 9) AS dist2
FROM nz_d WHERE rk = 1"""


def q_zonal_mode(spark, sf_dir):
    """Zonal MAJORITY (GDAL zonal-majority / rasterstats 'majority'):
    per admin polygon, the most frequent page language with exact count
    + exact-ppm share; ties to the smallest class. The pick is a
    combinable MIN(struct(-n, class)) — no per-zone window."""
    from rio_cogeo_spark.operators.zonal import zonal_mode

    return zonal_mode(_pages(spark, sf_dir), J.build_admin_areas())


def q_dedup_exact(spark, sf_dir):
    return DD.exact_dedup_groups(_docs_with_dups(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    # df_cap=None ONLY here: the DuckDB oracle computes uncapped Jaccard,
    # so the contract comparison must too. The operator's default is
    # 'auto' (hot-shingle document-frequency cap) — the corpus-scale mode.
    return DD.ngram_jaccard_pairs(
        _docs_with_dups(spark, sf_dir), threshold=0.5, df_cap=None
    )


def q_minhash_lsh(spark, sf_dir):
    return DD.minhash_lsh_pairs(
        _docs_with_dups(spark, sf_dir), threshold=0.5, num_hashes=128, bands=64
    )


def q_url_latest(spark, sf_dir):
    """Re-crawl snapshot resolution: pages ∪ a later re-crawl of the
    first 200 (same page behind a scheme/www/trailing-slash URL
    variant, ts +1e7 s, re-keyed doc_id) → keep-latest per canonical
    URL. The 200 re-crawled pages must win over their originals."""
    pages = _pages(spark, sf_dir).select("doc_id", "url", "ts_sec")
    recrawl = pages.filter(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(
            F.lit("http://www."), F.expr("substr(url, 9)"), F.lit("/")
        ).alias("url"),
        (F.col("ts_sec") + 10_000_000).alias("ts_sec"),
    )
    return DD.url_dedup_latest(pages.unionByName(recrawl))


def q_snapshot_delta(spark, sf_dir):
    """Per-URL change history across crawl snapshots: pages ∪ an
    UNCHANGED re-crawl of doc_id<150 (+1e7 s) ∪ a CHANGED re-crawl of
    doc_id<100 (+2e7 s, text edited) → (n_snapshots, n_changes,
    first/last/last_change ts) per canonical URL."""
    pages = _pages(spark, sf_dir).select("doc_id", "url", "ts_sec", "text")
    re1 = pages.filter(F.col("doc_id") < 150).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "url",
        (F.col("ts_sec") + 10_000_000).alias("ts_sec"),
        "text",
    )
    re2 = pages.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "url",
        (F.col("ts_sec") + 20_000_000).alias("ts_sec"),
        F.concat(F.col("text"), F.lit(" updated edition")).alias("text"),
    )
    return DD.snapshot_change_stats(
        pages.unionByName(re1).unionByName(re2)
    )


def q_mirror_docs(spark, sf_dir):
    """Cross-host mirror detection: doc_id<80 re-hosted verbatim on
    mirror-site.example — every such fingerprint must flag on BOTH
    hosts with n_hosts>=2; single-host content stays out."""
    pages = _pages(spark, sf_dir).select("doc_id", "url", "text")
    mirrored = pages.filter(F.col("doc_id") < 80).select(
        (F.col("doc_id") + 950_000).alias("doc_id"),
        F.concat(
            F.lit("https://mirror-site.example/copy/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    return DD.mirror_docs(pages.unionByName(mirrored))


def q_snapshot_para_diff(spark, sf_dir):
    """Paragraph-granularity crawl delta: every page gets header+footer
    paragraphs; a re-crawl of doc_id<150 (+1e7 s) swaps the footer for
    an ad unit (→ 1 added / 1 removed / 2 common), and a second
    re-crawl of doc_id<100 (+2e7 s) is identical to the first
    (→ 0 added / 0 removed / 3 common)."""
    sep_s = " ## "
    pages = _pages(spark, sf_dir).select("doc_id", "url", "ts_sec", "text")
    base = pages.select(
        "doc_id", "url", "ts_sec",
        F.concat(F.lit("site header" + sep_s), F.col("text"),
                 F.lit(sep_s + "site footer")).alias("text"),
    )
    re1 = pages.filter(F.col("doc_id") < 150).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "url",
        (F.col("ts_sec") + 10_000_000).alias("ts_sec"),
        F.concat(F.lit("site header" + sep_s), F.col("text"),
                 F.lit(sep_s + "AD UNIT 7")).alias("text"),
    )
    re2 = pages.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "url",
        (F.col("ts_sec") + 20_000_000).alias("ts_sec"),
        F.concat(F.lit("site header" + sep_s), F.col("text"),
                 F.lit(sep_s + "AD UNIT 7")).alias("text"),
    )
    return DD.snapshot_paragraph_diff(
        base.unionByName(re1).unionByName(re2), sep=sep_s
    )


def q_path_filter(spark, sf_dir):
    """Literal URL path/query blocklist (the C4 bad-URL heuristics):
    pages ∪ mixed-case '/Login?SessionID=' variants of doc_id<120;
    blocking ['/login', 'sessionid='] must drop exactly the variants —
    case-insensitively — and nothing else."""
    from rio_cogeo_spark.operators.urlfilter import path_pattern_filter

    pages = _pages(spark, sf_dir).select("doc_id", "url")
    bad = pages.filter(F.col("doc_id") < 120).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.concat(F.col("url"), F.lit("/Login?SessionID=abc")).alias("url"),
    )
    return path_pattern_filter(
        pages.unionByName(bad), ["/login", "sessionid="]
    )


def q_host_cap(spark, sf_dir):
    """Per-host diversity cap (at most k=1 page per host here, so the
    ~9973-host pages table loses its multi-page hosts' extras): the
    kept page per host is the smallest md5_60(doc_id) rank — a uniform
    reproducible pick, identical to the oracle's single-window twin."""
    from rio_cogeo_spark.operators.sampling import cap_per_host

    pages = _pages(spark, sf_dir).select("doc_id", "url")
    return cap_per_host(pages, k=1).select("doc_id", "host")


def q_boilerplate_cut(spark, sf_dir):
    """CCNet-style host-frequency boilerplate removal: 50 hosts × ~100
    docs; NAV/FOOTER lines on every page (100% → cut), a PROMO line on
    exactly half (50% ≥ the 500000 ppm threshold → cut at the integer
    boundary), unique bodies kept."""
    from rio_cogeo_spark.operators.boilerplate import boilerplate_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = (F.col("doc_id") % 50).cast("string")
    pages2 = docs.select(
        "doc_id",
        F.concat(F.lit("https://h"), k, F.lit(".net/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(
            F.lit("NAV "), k, F.lit("\n"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit("PROMO "), k, F.lit("\n")))
            .otherwise(F.lit("")),
            F.col("text"), F.lit("\n"),
            F.lit("FOOTER "), k,
        ).alias("text"),
    )
    return boilerplate_lines(pages2)


def q_domain_filter(spark, sf_dir):
    """Domain-blocklist URL filter with suffix semantics: pages ∪ a
    'cdn.' subdomain variant of the first 100; blocking
    site3/site7.example must drop the exact hosts AND the cdn
    subdomains of site3, and nothing else."""
    from rio_cogeo_spark.operators.urlfilter import blocklist_filter

    pages = _pages(spark, sf_dir).select("doc_id", "url")
    cdn = pages.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 800_000).alias("doc_id"),
        F.concat(
            F.lit("https://cdn.site"),
            (F.col("doc_id") % 9973).cast("string"),
            F.lit(".example/p"),
        ).alias("url"),
    )
    return blocklist_filter(
        pages.unionByName(cdn), ["site3.example", "site7.example"]
    )


def q_crawl_priority(spark, sf_dir):
    """Re-crawl scheduling projection over the snapshot change history
    (fixed now_ts for determinism): changed-often + stale-longest
    first, in exact ppb fixed-point."""
    return DD.crawl_priority(
        q_snapshot_delta(spark, sf_dir), now_ts=1_800_000_000
    )


def q_paragraph_dedup(spark, sf_dir):
    """C4-style corpus-wide paragraph dedup: every doc gets a shared
    boilerplate header + footer paragraph, and doc_id<50 get whole-doc
    copies at +700000. The boilerplate survives only in the lowest
    (doc_id, idx) occurrence and the pure-copy docs vanish entirely."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sep = F.lit("\n\n")
    boiler = F.concat(
        F.lit("shared boilerplate header paragraph"), sep,
        F.col("text"), sep,
        F.lit("shared boilerplate footer paragraph"),
    )
    d0 = docs.select("doc_id", boiler.alias("text"))
    copies = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 700_000).alias("doc_id"), boiler.alias("text")
    )
    return DD.paragraph_dedup(d0.unionByName(copies))


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup against a persisted LSH index (the production
    crawl loop: index the accumulated corpus once, dedup each new
    snapshot against it without re-pairing the old corpus). Split:
    even doc_ids = indexed corpus, odd = new snapshot; the re-keyed
    copies land at +100001 so every exact-dup pair CROSSES the split.
    128 hashes / 64 bands → recall 1.0 at j>=0.5 at this scale, so the
    output equals the oracle's brute-force cross-parity Jaccard."""
    import shutil
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100001
    )
    both = docs.unionByName(dups)
    old = both.filter(F.col("doc_id") % 2 == 0)
    new = both.filter(F.col("doc_id") % 2 == 1)
    path = tempfile.mkdtemp(prefix="lsh_index_")
    try:
        DD.minhash_save_index(old, path, num_hashes=128, bands=64)
        # the call materializes the (small) result, so the on-disk
        # index can be dropped before returning
        return DD.minhash_dedup_against_index(new, path, threshold=0.5)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_simhash_pairs(spark, sf_dir):
    # md5_60 hasher: 60-bit md5-prefix token hash, bit-identical in DuckDB,
    # so the full simhash (votes → bits → banding → hamming<=3) is
    # oracle-paired; d<=3 output is exact by the 4x15-bit pigeonhole bound.
    return DD.simhash_pairs(
        _docs_with_dups(spark, sf_dir), hasher="md5_60"
    )


def q_embed_neardup(spark, sf_dir):
    return DD.embedding_neardup_pairs(_embeddings(spark, sf_dir), threshold=0.4)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup: label-mean coarse quantizer (0 Lloyd rounds, so the
    oracle can rebuild the exact centroids in SQL), embeddings ∪ exact
    copies of vec_id<50 at +10000 — each copy lands in its original's
    cluster and must pair at cosine 1.0; organic ≥0.4 pairs survive
    only when cluster-local (the SemDeDup trade-off, mirrored exactly
    by the twin)."""
    emb = _embeddings(spark, sf_dir)
    copies = emb.filter(F.col("vec_id") < 50).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    both = emb.unionByName(copies)
    cent = SIM.ivf_build_centroids(both, lloyd_iters=0)
    return SIM.semantic_dedup_pairs(both, cent, threshold=0.4)


def q_ann_topk(spark, sf_dir):
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return SIM.ann_bruteforce_topk(emb, queries, k=10)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN machinery driver-certified EXACTLY: probing all 10 inverted
    lists makes the candidate set the full corpus, so output must equal
    the brute-force oracle (ranks tie-break on vec_id in both)."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return SIM.ann_ivf_topk(emb, queries, k=10, n_probe=10)


def q_ann_ivf_free(spark, sf_dir):
    """Label-free IVF (round-5 quantizer decoupling): explicit n_lists +
    deterministic k-means++ sample seeding — NO label column touches the
    build. Driver-certified exactly the same way as `ann_ivf`: probing
    all lists makes the candidate set the full corpus, so output must
    equal the brute-force oracle whatever the quantizer is."""
    emb = _embeddings(spark, sf_dir).drop("label")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return SIM.ann_ivf_topk(emb, queries, k=10, n_probe=8, n_lists=8)


def q_ann_pq(spark, sf_dir):
    """Product-quantized ANN (faiss-PQ analog), exact-integer end-to-end:
    int8 absmax quantize -> per-(subquantizer, label) int8 centroids via
    floor(sum/count+0.5) on exact BIGINTs -> exact squared-int code
    assignment -> asymmetric-distance top-10 from a broadcast lookup
    table. Raw BIGINT scores, no rounding crutch anywhere."""
    from rio_cogeo_spark.operators.quantize import ann_pq_topk

    return ann_pq_topk(_embeddings(spark, sf_dir), m=4)


def q_jl_project(spark, sf_dir):
    """Johnson-Lindenstrauss 64->16 random projection: deterministic
    plan-literal Gaussian matrix (seeded stdlib RNG, no engine RNG),
    each component one fixed left-to-right multiply-add chain —
    bit-identical doubles cross-engine, emitted long-form."""
    from rio_cogeo_spark.operators.similarity import random_projection

    return random_projection(_embeddings(spark, sf_dir), out_dim=16)


def _jl_project_oracle() -> str:
    from rio_cogeo_spark.operators.similarity import random_projection_sql

    return random_projection_sql()


def q_embed_drift(spark, sf_dir):
    """Embedding-space drift dashboard: per label, the 6dp cosine
    between the full-corpus centroid and the centroid after dropping
    every 7th vector — built on pool_embeddings' BIT-exact sequential
    folds, with the cosine itself folded in dim order (one fixed IEEE
    sequence on both engines)."""
    from rio_cogeo_spark.operators.similarity import centroid_drift

    emb = _embeddings(spark, sf_dir)
    return centroid_drift(emb, emb.filter(F.col("vec_id") % 7 != 0))


def _embed_drift_oracle() -> str:
    from rio_cogeo_spark.operators.similarity import centroid_drift_sql

    base = (
        "SELECT label, vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings"
    )
    return centroid_drift_sql(base, f"{base} WHERE vec_id % 7 <> 0")


def q_ann_ivfpq(spark, sf_dir):
    """IVFPQ (faiss IndexIVFPQ analog): IVF coarse routing + PQ ADC
    scoring over codes alone. Driver-certified EXACTLY the ann_ivf way:
    probing all 10 lists makes the candidate set the full corpus, so
    the output must equal ann_pq's oracle whatever the router did."""
    from rio_cogeo_spark.operators.quantize import ann_ivfpq_topk

    return ann_ivfpq_topk(
        _embeddings(spark, sf_dir), n_probe=10
    )


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: top-10 cosine
    negatives per anchor from a top-15 pool, with the anchor's duplicate
    COMPONENT excluded (its exact copy at +10000 sits at rank 1 / cos
    1.0 in the raw pool and must vanish; other anchors' copies remain —
    they are legitimate negatives)."""
    emb = _embeddings(spark, sf_dir)
    copies = emb.filter(F.col("vec_id") < 50).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    emb2 = emb.unionByName(copies)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    pool = SIM.ann_bruteforce_topk(emb2, queries, k=15)
    pairs = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("doc_a"), (F.col("vec_id") + 10000).alias("doc_b")
    )
    return SIM.hard_negatives(pool, pairs, k=10)


def q_asof_join(spark, sf_dir):
    """Each event joined to the user's most recent purchase at-or-before
    its timestamp (the as-of join operator, operators/asof.py)."""
    from rio_cogeo_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    state = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("s_value"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        state,
        on="user_id",
        ts="ts",
        value_cols=["s_value"],
        how="inner",
    )
    return joined.select(
        "event_id", "user_id", F.round("s_value", 4).alias("asof_value")
    )


def q_quality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.punct_count(t).alias("n_punct"),
        TX.stopword_count(t).alias("n_stopwords"),
        TX.quality_score(t).alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("pred_lang"))


def q_profile(spark, sf_dir):
    """Per-column corpus datasheet (Deequ-style profiler): one row per
    column with exact counts/nulls/distincts, min/max and the most
    frequent value (combinable MIN(struct(-cnt, v)) pick, smallest-value
    ties), strings carrying heterogeneous types."""
    from rio_cogeo_spark.operators.report import column_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return column_profile(docs, ["lang", "source", "n_chars"])


def _profile_oracle() -> str:
    from rio_cogeo_spark.operators.report import column_profile_sql

    return column_profile_sql("documents", ["lang", "source", "n_chars"])


_DQ_RULES = [
    {"rule": "lang_present", "col": "lang",
     "check": "not_null_ppm_ge", "threshold": 1_000_000},
    {"rule": "lang_cardinality", "col": "lang",
     "check": "distinct_le", "threshold": 10},
    {"rule": "chars_positive", "col": "n_chars",
     "check": "min_ge", "threshold": 1},
    {"rule": "chars_bounded", "col": "n_chars",
     "check": "max_le", "threshold": 100_000},
]


def q_volume_anomaly(spark, sf_dir):
    """Crawl-volume anomaly monitor: per day, page count + z-score vs
    the trailing 7 observed days (current day excluded), every float
    derived from exact integer day sums through one fixed expression
    tree and pinned to mil ints; a dup-injected surge day must flag."""
    from rio_cogeo_spark.operators.report import volume_anomaly

    pages = _pages(spark, sf_dir).select("doc_id", "ts_sec")
    # inject a surge: every doc_id < 300 re-crawled on one later day
    surge = pages.filter(F.col("doc_id") < 300).select(
        (F.col("doc_id") + 800000).alias("doc_id"),
        (F.lit(1735689600) + F.lit(40) * 86400
         + F.col("doc_id") % 3600).alias("ts_sec"),
    )
    return volume_anomaly(pages.unionByName(surge), window_days=7)


def _volume_anomaly_oracle() -> str:
    from rio_cogeo_spark.operators.report import volume_anomaly_sql

    base = f"""SELECT doc_id, ts_sec FROM (
  SELECT doc_id, ts_sec FROM pages
  UNION ALL
  SELECT doc_id + 800000,
         1735689600 + 40 * 86400 + doc_id % 3600
  FROM pages WHERE doc_id < 300) va_in"""
    inner = volume_anomaly_sql(
        "SELECT doc_id, ts_sec FROM va_all"
    ).split("WITH ", 1)[1]
    return f"""{_P}
, va_all AS ({base}),
{inner}"""


def q_kappa(spark, sf_dir):
    """Cohen's kappa between the stored language label and the lang-id
    heuristic — chance-corrected agreement in exact staged integer
    arithmetic (negative-capable via an explicit double-floor identical
    on both engines)."""
    from rio_cogeo_spark.operators.report import cohen_kappa

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select("lang", TX.lang_id(F.col("text")).alias("pred"))
    return cohen_kappa(scored, "lang", "pred")


def _kappa_oracle() -> str:
    from rio_cogeo_spark.functions.text import LANG_ID_SQL
    from rio_cogeo_spark.operators.report import cohen_kappa_sql

    return cohen_kappa_sql(
        f"SELECT lang, {LANG_ID_SQL} AS pred FROM documents", "lang", "pred"
    )


def q_gini(spark, sf_dir):
    """Crawl-concentration report: Gini coefficient, Herfindahl index
    and top-host share of the pages-per-host distribution — ONE corpus
    fold to the host-count table, every measure exact staged
    DECIMAL(38,0) integers over that key-bounded table."""
    from rio_cogeo_spark.operators.report import host_concentration

    pages = _pages(spark, sf_dir)
    hosts = pages.select(TX.host_col(F.col("url")).alias("host"))
    return host_concentration(hosts)


def _gini_oracle() -> str:
    from rio_cogeo_spark.operators.report import host_concentration_sql

    inner = f"{pages_cte('VARCHAR')} SELECT {TX.HOST_SQL} AS host FROM pages"
    return host_concentration_sql(inner)


def q_chi2(spark, sf_dir):
    """Pearson chi-square independence test lang × source over the
    documents table (is the language mix independent of the crawl
    source?) — exact per-cell floor-then-sum contract in
    DECIMAL(38,0)/HUGEINT, full marginal cross including zero-observed
    cells."""
    from rio_cogeo_spark.operators.report import chi_square

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chi_square(docs.select("lang", "source"), "lang", "source")


def _chi2_oracle() -> str:
    from rio_cogeo_spark.operators.report import chi_square_sql

    return chi_square_sql(
        "SELECT lang, source FROM documents", "lang", "source"
    )


def q_zipf(spark, sf_dir):
    """Zipf's-law fit over the corpus term-frequency distribution —
    OLS slope of ln(freq) on ln(rank) for the top-500 terms, pinned to
    e6-int log coordinates and staged in DECIMAL(38,0) (sign-split
    trunc-division contract for the negative slope)."""
    from rio_cogeo_spark.operators.report import zipf_slope

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_slope(docs, top_k=500)


def _zipf_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import zipf_slope_sql

    return zipf_slope_sql(
        "SELECT text FROM documents", TOKENS_SQL
    )


def q_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic: does the document
    char-length distribution of lang='en' differ from the rest? Exact
    cumulative-count contract on the value-frequency table (d_ppm +
    the smallest value achieving the max)."""
    from rio_cogeo_spark.operators.report import ks_statistic

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ks_statistic(docs, "n_chars", "lang", "en")


def _ks_oracle() -> str:
    from rio_cogeo_spark.operators.report import ks_statistic_sql

    return ks_statistic_sql(
        "SELECT n_chars, lang FROM documents", "n_chars", "lang", "en"
    )


def q_term_shift(spark, sf_dir):
    """Term-distribution shift between the en slice and the rest of the
    corpus: exact total-variation distance over the top-500 union
    vocabulary plus add-1-smoothed KL divergences in per-term-pinned
    nano-nats."""
    from rio_cogeo_spark.operators.report import term_shift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return term_shift(
        docs.filter(F.col("lang") == "en").select("text"),
        docs.filter(F.col("lang") != "en").select("text"),
        top_k=500,
    )


def _term_shift_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import term_shift_sql

    return term_shift_sql(
        "SELECT text FROM documents WHERE lang = 'en'",
        "SELECT text FROM documents WHERE lang <> 'en'",
        TOKENS_SQL,
        top_k=500,
    )


def q_heaps(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over a geometric ladder of
    doc_id prefixes — β (mil) + ln K (mil) from ONE corpus read (per-doc
    token fold + per-term first-appearance fold, conditional sums per
    ladder point), pinned-log e6 OLS like zipf."""
    from rio_cogeo_spark.operators.report import heaps_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return heaps_fit(docs, n_points=8)


def _heaps_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import heaps_fit_sql

    return heaps_fit_sql("documents", TOKENS_SQL)


def q_entropy(spark, sf_dir):
    """Per-language token-distribution Shannon entropy in per-term
    pinned nano-nats, next to the ln(n_types) ceiling — the corpus
    diversity gauge beside zipf/heaps."""
    from rio_cogeo_spark.operators.report import lang_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_entropy(docs)


def _entropy_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import lang_entropy_sql

    return lang_entropy_sql("documents", TOKENS_SQL)


def q_data_checks(spark, sf_dir):
    """Declarative data-quality gate (Deequ VerificationSuite analog):
    four rules over the documents table evaluated in ONE combinable
    aggregation pass — per-rule measure (exact ints / ppm), threshold
    and pass flag."""
    from rio_cogeo_spark.operators.report import data_checks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return data_checks(docs, _DQ_RULES)


def _data_checks_oracle() -> str:
    from rio_cogeo_spark.operators.report import data_checks_sql

    return data_checks_sql("documents", _DQ_RULES)


def q_lang_eval(spark, sf_dir):
    """Classifier evaluation harness applied to the lang-id heuristic
    itself: stored lang = truth, lang_id(text) = prediction — per-class
    confusion counts + precision/recall in exact ppm (0-denominator
    classes get 0 by stated convention, not NULL)."""
    from rio_cogeo_spark.operators.report import classifier_eval

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "lang", TX.lang_id(F.col("text")).alias("pred_lang")
    )
    return classifier_eval(scored, "lang", "pred_lang")


def _lang_eval_oracle() -> str:
    from rio_cogeo_spark.functions.text import LANG_ID_SQL
    from rio_cogeo_spark.operators.report import classifier_eval_sql

    return classifier_eval_sql(
        f"SELECT lang, {LANG_ID_SQL} AS pred_lang FROM documents",
        "lang", "pred_lang",
    )


def q_fingerprint(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


def q_token_stats_bpe(spark, sf_dir):
    """BPE-ish regex token counting (the task's second tokenizer) plus the
    Karp-Rabin rolling-hash fingerprint, both cross-engine expressions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        TX.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


def q_token_stats(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = TX.token_count(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n).alias("total_tokens"),
        )
        .withColumn(
            "avg_tokens",
            F.round(
                F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"), 6
            ),
        )
    )


def q_quality_percentiles(spark, sf_dir):
    """Exact percentiles of document length per language (ordered agg)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
    )


def q_quality_cut(spark, sf_dir):
    """Quantile-threshold filtering: drop each language's bottom
    quartile by length (the per-group cutoff is a tiny broadcast
    aggregate; the corpus never shuffles)."""
    from rio_cogeo_spark.operators.sampling import filter_by_group_quantile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return filter_by_group_quantile(
        docs, q=0.25
    ).select("doc_id", "lang", "n_chars")


def q_lang_pivot(spark, sf_dir):
    """Pivot: per-source doc counts by language (wide layout)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    langs = ["en", "es", "de", "fr"]
    out = (
        docs.filter(F.col("lang").isin(langs))
        .groupBy("source")
        .pivot("lang", langs)
        .count()
        .na.fill(0, langs)
    )
    return out.select("source", *[F.col(g).cast("long").alias(g) for g in langs])


def q_rollup(spark, sf_dir):
    """Hierarchical rollup (lang, source) — the relational cousin of the
    tile pyramid's materialized rollup (SURVEY.md §2.4 note)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_cube(spark, sf_dir):
    """Full grouping-set cube over (lang, source) — the rollup's
    superset (adds the source-only marginals): the OLAP summary table a
    corpus dashboard materializes once instead of four GROUP BYs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # floor-div on epoch seconds, NOT date_trunc: immune to whatever
    # session timezone the driver's SparkSession carries
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    return (
        ev.groupBy(
            hour.alias("hour_sec"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_repetition(spark, sf_dir):
    """Gopher-style duplicate-bigram repetition signals (pure JVM array
    expressions; DuckDB twin in TX.repetition_sql())."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    st = TX.repetition_stats(F.col("text"))
    return docs.select(
        "doc_id",
        st["n_bigrams"].alias("n_bigrams"),
        st["n_distinct_bigrams"].alias("n_distinct_bigrams"),
        st["top_bigram_count"].alias("top_bigram_count"),
        st["dup_bigram_frac"].alias("dup_bigram_frac"),
    )


def q_contamination(spark, sf_dir):
    """Benchmark-contamination n-gram overlap: benchmark = every 97th doc
    (deterministic), corpus = the rest; hit = shared distinct 3-gram.
    Benchmark shingle set is broadcast — the corpus side never shuffles."""
    from rio_cogeo_spark.operators.contamination import contamination_hits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_hits(corpus, bench, n=3)


def q_url_hosts(spark, sf_dir):
    """URL canonicalization + per-domain aggregation (the unit of crawl
    policies: rate caps, blocklists, quality priors)."""
    pages = _pages(spark, sf_dir)
    return (
        pages.withColumn("host", TX.host_col(F.col("url")))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def q_dedup_components(spark, sf_dir):
    """Duplicate-GROUP resolution: minhash-LSH pairs -> connected
    components (distributed min-label propagation; DuckDB oracle is the
    recursive-CTE closure over the exact-Jaccard pair set, which the
    minhash_lsh contract query already proves identical to the LSH
    pairs)."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=128, bands=64)
    return DD.dedup_components(pairs)


def q_containment(spark, sf_dir):
    """Asymmetric shingle containment (quote/excerpt detection):
    doc_id<60 get a 15-token excerpt doc at +960000 — containment
    (excerpt in original) must be 1.0 while the Jaccard is far below
    any useful threshold; df_cap=None pins oracle exactness (same rule
    as the ngram_jaccard contract)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    excerpt = docs.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 960_000).alias("doc_id"),
        F.array_join(
            F.slice(TX.tokens_col(F.col("text")), 1, 15), " "
        ).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(excerpt)
    return DD.containment_pairs(both, threshold=0.8, df_cap=None)


def q_dedup_keep_best(spark, sf_dir):
    """Canonical selection per duplicate group, LONGEST member wins:
    doc_id<50 get near-dup copies at +100000 whose text is DOUBLED —
    the copy out-scores its original on exact token count, so the
    keeper must be the +100000 doc, not the min id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    both = docs.unionByName(dups.select(*docs.columns))
    pairs = DD.minhash_lsh_pairs(both, threshold=0.5, num_hashes=128, bands=64)
    return DD.dedup_keep_best(both, pairs)


def q_split_safe(spark, sf_dir):
    """Leakage-safe train/val/test split: near-dup clusters (the
    doc_id<50 exact copies at +100000) split by their COMPONENT key, so
    a copy can never land in a different split than its original;
    unpaired docs split exactly as `sample_split`."""
    from rio_cogeo_spark.operators.sampling import split_assign_leakage_safe

    docs = _docs_with_dups(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=128, bands=64)
    return split_assign_leakage_safe(docs, pairs).select("doc_id", "split")


def q_clean_corpus(spark, sf_dir):
    """FLAGSHIP composite: the full training-data filtering pipeline as
    ONE declarative plan — benchmark-member removal, exact-dup keeper
    (hash groupBy), language-ID, quality score, repetition filter, and
    contamination anti-join (broadcast benchmark shingles). Every stage
    is an individually-oracle-proven op; Catalyst fuses the stateless
    projections into one pass over the corpus, and the only shuffles are
    the fingerprint groupBy and the final tiny aggregation."""
    from rio_cogeo_spark.operators.contamination import contamination_hits

    docs2 = _docs_with_dups(spark, sf_dir)
    bench = docs2.filter(F.col("doc_id") % 97 == 0)
    corpus = docs2.filter(F.col("doc_id") % 97 != 0)
    t = F.col("text")
    rep = TX.repetition_stats(t)
    kept = DD.exact_dedup(corpus).select(
        "doc_id",
        TX.lang_id(t).alias("pred_lang"),
        TX.quality_score(t).alias("quality"),
        rep["dup_bigram_frac"].alias("dup_frac"),
    )
    hits = contamination_hits(corpus, bench, n=3)
    return (
        kept.filter(
            (F.col("pred_lang") == "en")
            & (F.col("quality") >= 0.25)
            & (F.col("dup_frac") <= 0.1)
        )
        .join(hits, "doc_id", "left_anti")
        .select("doc_id", "pred_lang", "quality", "dup_frac")
    )


def q_sample_split(spark, sf_dir):
    """Deterministic train/val/test assignment (cumulative-weight bins
    over a cross-engine uniform key hash) — reproducible across engines
    and reruns, a stateless projection at any scale."""
    from rio_cogeo_spark.operators.sampling import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return split_assign(docs).select("doc_id", "split")


def q_sample_stratified(spark, sf_dir):
    """Per-language deterministic sampling (the training-mix primitive:
    keep row iff uniform_hash(doc_id) < rate[lang])."""
    from rio_cogeo_spark.operators.sampling import sample_stratified

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.5, "es": 0.25, "de": 0.1}
    return sample_stratified(docs, rates, default_rate=0.05).select(
        "doc_id", "lang"
    )


def q_jaccard_curve(spark, sf_dir):
    """Dedup-threshold tuning curve: exact-ppm Jaccard histogram of all
    candidate pairs + cumulative pairs-at-or-above each bucket, read
    off one table (the Lee et al. ACL'22 threshold sweep). df_cap=None
    for the oracle-exact pair set, as for ngram_jaccard."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return DD.jaccard_threshold_curve(
        docs.unionByName(dups), step_ppm=10_000, df_cap=None
    )


def _jaccard_curve_oracle() -> str:
    return f"""WITH docs2 AS (
  SELECT * FROM documents UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id < 50),
{DD.jaccard_threshold_curve_sql('docs2', step_ppm=10_000).split('WITH ', 1)[1]}"""


def q_continuation(spark, sf_dir):
    """Pagination reassembly: for doc_id < 60, a synthetic page-2 doc
    starts with the original's last 8 tokens — every (orig, orig+5e5)
    pair must surface via the boundary-hash join; the hot-boundary
    fanout guard is part of the contract."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    part2 = (
        docs.filter((F.col("doc_id") < 60) & (F.size(toks) >= 9))
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(
                F.array_join(F.slice(toks, -8, 8), " "),
                F.lit(" and the story continues on the second page"),
            ).alias("text"),
        )
    )
    return DD.continuation_pairs(docs.unionByName(part2), k=8)


def _continuation_oracle() -> str:
    toks = r"string_split_regex(trim(text), '\s+')"
    return f"""WITH cq_t AS (SELECT doc_id, text, {toks} AS t FROM documents),
cq_p2 AS (SELECT doc_id + 500000 AS doc_id,
                 array_to_string(t[len(t) - 7 : len(t)], ' ')
                   || ' and the story continues on the second page' AS text
          FROM cq_t WHERE doc_id < 60 AND len(t) >= 9),
docs2 AS (SELECT doc_id, text FROM cq_t
          UNION ALL SELECT doc_id, text FROM cq_p2),
{DD.continuation_pairs_sql('docs2').split('WITH ', 1)[1]}"""


def q_curriculum(spark, sf_dir):
    """Deterministic balanced training order: round-robin interleave
    across languages by a single BIGINT curriculum_key (rank_in_group *
    n_groups + dense group index), ranked quality-first within each
    language (n_chars DESC, doc_id ASC)."""
    from rio_cogeo_spark.operators.sampling import curriculum_interleave

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curriculum_interleave(docs, score_col="n_chars")


def _curriculum_oracle() -> str:
    from rio_cogeo_spark.operators.sampling import curriculum_interleave_sql

    return curriculum_interleave_sql(score_expr="n_chars")


def q_temperature_mix(spark, sf_dir):
    """Temperature-weighted domain sampling (alpha=0.5 multilingual-mix
    primitive): exact-integer ppm rates — domain counts (map-side
    combine) -> broadcast rates -> stateless filter; the corpus never
    shuffles."""
    from rio_cogeo_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_mix(docs, target_ppm=400_000).select("doc_id", "lang")


def q_search(spark, sf_dir):
    """Inverted-index bag-of-terms search, exact-integer tf-idf scoring
    (floor(N*10^6/df) idf — bit-identical across engines regardless of
    summation order)."""
    from rio_cogeo_spark.operators.search import search_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return search_topk(docs, ["spark", "hash", "window"], k=20)


def q_search_bm25(spark, sf_dir):
    """BM25 ranking (k1=1.2, b=0.75) in exact BIGINT fixed-point —
    length-normalized counterpart of `search`; identical scores on both
    engines regardless of summation order."""
    from rio_cogeo_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, ["spark", "hash", "window"], k=20)


def q_rarity_score(spark, sf_dir):
    """Corpus token-rarity quality signal (CCNet-family): per-doc mean
    unigram corpus frequency (ppb) + rare-token occurrence fraction
    (ppm), all exact BIGINT arithmetic."""
    from rio_cogeo_spark.operators.rarity import token_rarity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_rarity(docs)


def q_lm_score(spark, sf_dir):
    """Bigram-LM predictability score (the conditional form of the
    CCNet LM-quality filter): per-doc occurrence-weighted mean of the
    corpus conditional bigram frequency (ppm) + corpus-novel bigram
    fraction (ppm), exact BIGINT throughout."""
    from rio_cogeo_spark.operators.rarity import bigram_lm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_lm(docs)


def q_lexdiv(spark, sf_dir):
    """Per-doc lexical diversity: type-token ratio + in-doc hapax share
    in exact ppm ints; no joins, one combinable count + one fold."""
    from rio_cogeo_spark.operators.rarity import lexical_diversity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lexical_diversity(docs)


def q_vocab_stats(spark, sf_dir):
    """Per-language corpus vocabulary report (Heaps-law diagnostic):
    tokens, types, hapax types, TTR and hapax share in exact ppm."""
    from rio_cogeo_spark.operators.rarity import vocab_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_stats(docs)


def q_corpus_info(spark, sf_dir):
    """One-row corpus dashboard (the text-side cog_info): docs, langs,
    tokens, types, chars, exact-dedup mass; all exact BIGINT."""
    from rio_cogeo_spark.operators.report import corpus_info

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_info(docs)


def q_median_chars(spark, sf_dir):
    """Exact per-language integer median of n_chars via the
    value-frequency cumulative fold (no corpus sort)."""
    from rio_cogeo_spark.operators.report import group_median

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_median(docs, group_col="lang")


def q_host_distance(spark, sf_dir):
    """BFS hop distance from seed hosts over the doc-derived host
    digraph (min-label propagation, 4 hops; recursive-unroll twin)."""
    from rio_cogeo_spark.operators.graph import host_distance

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = (
        docs.selectExpr(
            "doc_id % 97 AS src", "(doc_id * 31 + 7) % 97 AS dst"
        )
        .filter("src <> dst")
        .distinct()
    )
    seeds = spark.range(0, 2).select(F.col("id").alias("host"))
    return host_distance(edges, seeds, max_hops=4)


def q_frontier(spark, sf_dir):
    """Crawl-frontier priority table: PageRank x BFS seed distance x
    link-farm discount, all exact BIGINT, over the doc-derived host
    digraph (composition of three oracle-paired graph operators)."""
    from rio_cogeo_spark.operators.graph import crawl_frontier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = docs.selectExpr(
        "doc_id % 97 AS src", "(doc_id * 31 + 7) % 97 AS dst"
    )
    seeds = spark.range(0, 2).select(F.col("id").alias("host"))
    return crawl_frontier(edges, seeds, max_hops=4, iterations=3)


def q_gate_rates(spark, sf_dir):
    """Windowed Gopher-gate monitoring (batch twin of the streaming
    operator, streaming==batch pytest-asserted at two micro-batch
    sizes): per 6h window, pages / passes / pass_ppm / per-rule kill
    counts from the fail bitmask."""
    from rio_cogeo_spark.streaming.quality import gate_rates_batch

    pages = _pages(spark, sf_dir).select("doc_id", "text", "ts_sec")
    spread = pages.withColumn(
        "ts_sec", F.col("ts_sec") + (F.col("doc_id") % 3) * 21_600
    )
    return gate_rates_batch(spread)


def q_quartiles(spark, sf_dir):
    """Exact per-language n_chars quartiles (lower-quantile semantics,
    pure BIGINT probe cum*den >= n*num) over the value-frequency table
    — no corpus sort, no interpolated doubles."""
    from rio_cogeo_spark.operators.report import group_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_quantiles(docs)


def q_gopher(spark, sf_dir):
    """Composite Gopher quality-rule gate (Rae et al. 2021 App. A):
    exact-int fail bitmask (token count / mean word length / symbol
    ratio / alpha share / stopwords / dup-bigram share) + pass flag."""
    from rio_cogeo_spark.functions.text import gopher_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gg = gopher_gate(F.col("text"))
    return docs.select(
        "doc_id",
        gg["gopher_mask"].alias("gopher_mask"),
        gg["gopher_pass"].alias("gopher_pass"),
    )


def q_novelty(spark, sf_dir):
    """Per-day crawl novelty: pages ∪ a same-day dup of doc_id<50 ∪ an
    UNCHANGED re-crawl of doc_id<200 three days later (stale) ∪ a
    CHANGED re-crawl of doc_id<100 five days later (novel) → per-day
    stale share in exact ppm."""
    pages = _pages(spark, sf_dir).select("doc_id", "ts_sec", "text")
    same_day = pages.filter(F.col("doc_id") < 50).select("ts_sec", "text")
    re1 = pages.filter(F.col("doc_id") < 200).select(
        (F.col("ts_sec") + 259_200).alias("ts_sec"), "text"
    )
    re2 = pages.filter(F.col("doc_id") < 100).select(
        (F.col("ts_sec") + 432_000).alias("ts_sec"),
        F.concat(F.col("text"), F.lit(" EDITED")).alias("text"),
    )
    crawl = (
        pages.select("ts_sec", "text")
        .unionByName(same_day)
        .unionByName(re1)
        .unionByName(re2)
    )
    return DD.novelty_by_day(crawl)


def q_badwords(spark, sf_dir):
    """C4-style blocklist word-rate filter: token-exact blocklist hits
    + rate in exact ppm (pure plan-literal JVM expressions)."""
    from rio_cogeo_spark.functions.text import blockword_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bs = blockword_stats(F.col("text"), _BADWORDS)
    return docs.select(
        "doc_id",
        bs["block_hits"].alias("block_hits"),
        bs["block_ppm"].alias("block_ppm"),
    )


_BADWORDS = ["alpha", "delta", "data", "the"]


def q_recip_links(spark, sf_dir):
    """Per-host link reciprocity over the doc-derived host digraph
    (link-farm signal): out-edges, reciprocated edges, share in ppm."""
    from rio_cogeo_spark.operators.graph import reciprocal_links

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = docs.selectExpr(
        "doc_id % 97 AS src", "(doc_id * 31 + 7) % 97 AS dst"
    )
    return reciprocal_links(edges)


def q_embed_pool(spark, sf_dir):
    """Deterministic per-label mean-pooling of embeddings (long form,
    1-based dim): sequential sorted-by-id double fold on both engines,
    so the means are BIT-identical with no rounding."""
    from rio_cogeo_spark.operators.similarity import pool_embeddings

    return pool_embeddings(_embeddings(spark, sf_dir))


def q_pair_verify(spark, sf_dir):
    """Edit-distance verification of near-dup candidates: exact-Jaccard
    pairs over the dup-injected corpus, then per-pair Levenshtein on the
    256-char prefixes + similarity ratio in exact ppm ints."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, df_cap=None)
    return DD.pair_verify(docs, pairs, prefix_len=256)


def q_dsir(spark, sf_dir):
    """DSIR-style importance weighting: Laplace-smoothed target/raw
    bigram frequency ratio (target = lang='en'), occurrence-weighted
    per-doc mean in exact ppm ints."""
    from rio_cogeo_spark.operators.sampling import importance_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return importance_weights(docs, "lang = 'en'")


def q_collocations(spark, sf_dir):
    """Corpus collocation mining: top-20 bigrams by exact-integer lift
    (the PMI analog) over positional-bigram marginals — the stop-phrase
    / boilerplate-phrase discovery pass; deterministic TakeOrdered."""
    from rio_cogeo_spark.operators.rarity import collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return collocations(docs, min_cnt=3, topk=20)


def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity bucketing: bigram-LM score
    every page, NTILE(3) within language → head/middle/tail, exact and
    deterministic (score DESC, doc_id tiebreak)."""
    from rio_cogeo_spark.operators.rarity import ccnet_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ccnet_buckets(docs)


def q_trending(spark, sf_dir):
    """Per-6h-window trending terms over the pages crawl timeline
    (windowed counts + per-window top-5; exact BIGINT, term-ascending
    ties)."""
    from rio_cogeo_spark.operators.search import trending_terms

    pages = _pages(spark, sf_dir).select("doc_id", "ts_sec", "text")
    return trending_terms(pages, window_sec=21_600, k=5)


# Deterministic host->host edge list derived from the documents table
# (shared SQL, identical text on Spark and DuckDB): two outgoing links
# per doc over a 97-host space, self-loops dropped, UNION-deduped to a
# simple digraph.
_PR_EDGES = """
SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst FROM documents
WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97
UNION
SELECT doc_id % 97, (doc_id * 17 + 3) % 97 FROM documents
WHERE doc_id % 97 <> (doc_id * 17 + 3) % 97
""".strip()


def q_pagerank(spark, sf_dir):
    """Crawl-frontier host ranking: 3-iteration exact-BIGINT-fixed-point
    PageRank over the deterministic host link graph, merged with the
    in/out-degree table. The DataFrame engine (iterative joins) is
    hash-compared against the chained-CTE SQL unroll."""
    from rio_cogeo_spark.operators.graph import host_degrees, host_pagerank

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    edges = spark.sql(_PR_EDGES)
    pr = host_pagerank(edges, iterations=3)
    deg = host_degrees(edges)
    return pr.join(deg, "host").select(
        "host",
        "rank_ppb",
        F.col("out_deg").cast("long").alias("out_deg"),
        F.col("in_deg").cast("long").alias("in_deg"),
    )


def _keywords_oracle() -> str:
    from rio_cogeo_spark.operators.search import tfidf_keywords_sql

    return tfidf_keywords_sql()


def _pagerank_oracle() -> str:
    from rio_cogeo_spark.operators.graph import host_pagerank_sql

    return host_pagerank_sql(
        _PR_EDGES,
        extra_ctes=(
            "outd AS (SELECT src AS host, COUNT(*) AS out_deg FROM e GROUP BY 1)",
            "ind AS (SELECT dst AS host, COUNT(*) AS in_deg FROM e GROUP BY 1)",
        ),
        final_select="""SELECT host, rank AS rank_ppb,
       CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg
FROM r3 LEFT JOIN outd USING (host) LEFT JOIN ind USING (host)""",
    )


def q_triangles(spark, sf_dir):
    """Link-farm / tight-community detection: per-host triangle counts +
    exact-ppm local clustering coefficient over the deterministic host
    link graph, computed with the skew-safe degree-ordered orientation
    (oriented out-degree bounded by O(sqrt(m)))."""
    from rio_cogeo_spark.operators.graph import triangle_count

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    edges = spark.sql(_PR_EDGES)
    return triangle_count(edges)


def _triangles_oracle() -> str:
    from rio_cogeo_spark.operators.graph import triangle_count_sql

    return triangle_count_sql(_PR_EDGES)


def q_kcore(spark, sf_dir):
    """Fixed-round k-core peel (k=4, 3 rounds) over the deterministic
    host link graph — the fourth ITERATIVE oracle-paired operator: the
    DataFrame peel loop hash-compared against the chained-CTE unroll."""
    from rio_cogeo_spark.operators.graph import k_core

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    edges = spark.sql(_PR_EDGES)
    return k_core(edges, k=4, rounds=3)


def _kcore_oracle() -> str:
    from rio_cogeo_spark.operators.graph import k_core_sql

    return k_core_sql(_PR_EDGES, k=4)


def q_bitext(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk ACL'19): labels
    0-4 as the source 'language', 5-9 as the target; best target per
    source by the ratio margin over k=4 neighborhoods, all exact-BIGINT
    micro-cosine math past the shared rounded-cosine."""
    from rio_cogeo_spark.operators.similarity import bitext_mine

    emb = _embeddings(spark, sf_dir)
    src = emb.filter(F.col("label") < 5).select(
        F.col("vec_id").alias("src_id"), "embedding"
    )
    tgt = emb.filter(F.col("label") >= 5).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    return bitext_mine(src, tgt, k=4, margin_threshold_ppm=1_000_000)


def _bitext_oracle() -> str:
    from rio_cogeo_spark.operators.similarity import bitext_mine_sql

    return bitext_mine_sql(
        "SELECT vec_id AS src_id, embedding FROM embeddings WHERE label < 5",
        "SELECT vec_id AS tgt_id, embedding FROM embeddings WHERE label >= 5",
        k=4,
    )


def q_overlap(spark, sf_dir):
    """KMV corpus-overlap sketch between two crawl snapshots: B re-crawls
    A with 60% of texts unchanged and 40% edited; the k=128 smallest
    union hashes estimate the exact-text Jaccard in ppm without joining
    the corpora."""
    from rio_cogeo_spark.operators.dedup import corpus_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = docs.select(
        F.when(F.col("doc_id") % 5 < 3, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v2")))
        .alias("text")
    )
    return corpus_overlap(docs.select("text"), b, k=128)


def _overlap_oracle() -> str:
    from rio_cogeo_spark.operators.dedup import corpus_overlap_sql

    return corpus_overlap_sql(
        "SELECT text FROM documents",
        "SELECT CASE WHEN doc_id % 5 < 3 THEN text "
        "ELSE text || ' v2' END AS text FROM documents",
        k=128,
    )


def q_winnow(spark, sf_dir):
    """Winnowing (MOSS, Schleimer et al. SIGMOD 2003) partial-copy
    candidate pairs over docs ∪ exact dups: token 3-gram md5-60 hashes,
    window w=4 minima, pairs sharing >= 2 fingerprints. df_cap=None
    ONLY here (the DuckDB oracle computes uncapped pairs); the
    operator's default is 'auto' — the corpus-scale hot-fingerprint
    guard."""
    from rio_cogeo_spark.operators.dedup import winnow_pairs

    return winnow_pairs(
        _docs_with_dups(spark, sf_dir), min_shared=2, k=3, w=4, df_cap=None
    )


def _winnow_oracle() -> str:
    from rio_cogeo_spark.operators.dedup import winnow_pairs_sql

    return winnow_pairs_sql(
        "SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 100000 AS doc_id, text FROM documents "
        "WHERE doc_id < 50",
        min_shared=2,
    )


def q_bloom_prefilter(spark, sf_dir):
    """Bloom-filter contamination PREFILTER (Bloom 1970 + Kirsch-
    Mitzenmacher double hashing): benchmark = every 97th doc, corpus =
    the rest; the benchmark's shingle bitset (2^16 bits here) broadcasts
    as 8 KiB and the corpus never shuffles — flagged docs are a strict
    superset of the exact contamination hits (zero false negatives),
    bit membership recomputed relationally by the oracle."""
    from rio_cogeo_spark.operators.contamination import bloom_prefilter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    corpus = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    return bloom_prefilter(corpus, bench, m_bits=1 << 16, n_hashes=4)


def _bloom_prefilter_oracle() -> str:
    from rio_cogeo_spark.operators.contamination import bloom_prefilter_sql

    return bloom_prefilter_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0",
        "SELECT text FROM documents WHERE doc_id % 97 = 0",
        m_bits=1 << 16, n_hashes=4,
    )


_LINKS_HTML = (
    "'<p>intro</p>"
    '<a href="https://site\' || CAST((doc_id * 31 + 1) % 9973 AS {st}) || '
    "'.example/\">' || "
    "CASE WHEN doc_id % 3 = 0 THEN 'home page' ELSE 'read more' END || "
    "'</a>"
    '<a href="https://www.site\' || CAST((doc_id * 17 + 2) % 9973 AS {st}) '
    "|| '.example/about\">about ' || CAST(doc_id % 7 AS {st}) || '</a>'"
)


def q_anchors(spark, sf_dir):
    """Hyperlink extraction + per-target-host anchor rollup: pages carry
    two deterministic links each (one via a www. alias, exercising host
    canonicalization); extraction is a pure JVM regexp projection over
    the html binary, the rollup elects each host's top anchor with a
    deterministic (count DESC, anchor ASC) tie-break."""
    from rio_cogeo_spark.operators.links import anchor_stats, extract_links

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 9973).cast("string"),
            F.lit(".example/page/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(F.expr(_LINKS_HTML.format(st="STRING")), "utf-8").alias(
            "html"
        ),
    )
    return anchor_stats(extract_links(pages))


def _anchors_oracle() -> str:
    from rio_cogeo_spark.operators.links import (
        anchor_stats_sql,
        extract_links_sql,
    )

    pages_cte = (
        "SELECT 'https://site' || CAST(doc_id % 9973 AS VARCHAR) || "
        "'.example/page/' || CAST(doc_id AS VARCHAR) AS url, "
        + _LINKS_HTML.format(st="VARCHAR")
        + " AS html FROM documents"
    )
    links_cte = extract_links_sql(pages_cte)
    return anchor_stats_sql(links_cte)


def q_budget(spark, sf_dir):
    """Exact crawl-budget apportionment (Hamilton largest-remainder):
    1,000,003 fetch slots split across the 97-host deterministic domain
    layout proportionally to (host doc count x (1 + doc_id%5 priority
    mass)); integral, sums to EXACTLY the budget, quota-rule-safe —
    DECIMAL(38,0)/HUGEINT arithmetic, remainder election by distributed
    TakeOrdered threshold (no global window)."""
    from rio_cogeo_spark.operators.graph import apportion_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = docs.groupBy(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 97).cast("string"),
            F.lit(".example"),
        ).alias("host")
    ).agg(F.sum(F.lit(1) + F.col("doc_id") % 5).alias("weight"))
    return apportion_budget(weights, budget=1_000_003)


def _budget_oracle() -> str:
    from rio_cogeo_spark.operators.graph import apportion_budget_sql

    return apportion_budget_sql(
        "SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example'"
        " AS host, SUM(1 + doc_id % 5) AS weight FROM documents GROUP BY 1",
        budget=1_000_003,
    )


_META_HTML = (
    "'<!doctype html><head>' || "
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN '<meta name=\"robots\" content=\"noindex, follow\">' "
    "WHEN 1 THEN '<meta name=\"robots\" content=\"index, follow\">' "
    "WHEN 2 THEN '<meta name=\"robots\" content=\"NONE\">' "
    "ELSE '' END || "
    "'<meta name=\"description\" content=\"page ' || "
    "CAST(doc_id % 13 AS {st}) || '\"></head>'"
)


def _meta_pages(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 9973).cast("string"),
            F.lit(".example/page/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(F.expr(_META_HTML.format(st="STRING")), "utf-8").alias(
            "html"
        ),
    )


_META_PAGES_CTE = (
    "SELECT doc_id, 'https://site' || CAST(doc_id % 9973 AS VARCHAR) || "
    "'.example/page/' || CAST(doc_id AS VARCHAR) AS url, "
    + _META_HTML.format(st="VARCHAR")
    + " AS html FROM documents"
)


def q_meta_tags(spark, sf_dir):
    """Document-order meta-tag extraction (the generic form of the
    geotag parse): every page carries a description tag and 3/5 carry a
    robots directive — one codegen projection, no Python."""
    from rio_cogeo_spark.operators.links import extract_meta

    return extract_meta(_meta_pages(spark, sf_dir))


def _meta_tags_oracle() -> str:
    from rio_cogeo_spark.operators.links import extract_meta_sql

    return extract_meta_sql(_META_PAGES_CTE)


def q_meta_robots(spark, sf_dir):
    """Respect <meta name=robots>: drop pages whose robots directives
    contain the TOKEN noindex or none (case-insensitive; 'NONE' implies
    noindex per the robots spec) — pages with doc_id%5 in (0,2) must
    vanish, the rest keep. Pure per-row EXISTS filter, zero shuffle."""
    from rio_cogeo_spark.operators.links import meta_robots_noindex

    kept = meta_robots_noindex(_meta_pages(spark, sf_dir))
    return kept.select("doc_id", "url")


def _meta_robots_oracle() -> str:
    from rio_cogeo_spark.operators.links import meta_robots_noindex_sql

    inner = meta_robots_noindex_sql(_META_PAGES_CTE)
    return f"SELECT doc_id, url FROM ({inner})"


_HREFLANG_HTML = (
    "'<head>"
    '<link rel="alternate" hreflang="en" href="https://x.example/\' || '
    "CAST(doc_id {d} 5 AS {st}) || '/en\">"
    '<link rel="alternate" hreflang="de" href="https://x.example/\' || '
    "CAST(doc_id {d} 5 AS {st}) || '/de\">"
    '<link rel="alternate" hreflang="zh" href="https://x.example/\' || '
    "CAST(doc_id {d} 5 AS {st}) || '/zh\"></head>'"
)


def q_hreflang(spark, sf_dir):
    """Publisher-declared translation pairs from hreflang alternates
    (the ParaCrawl high-precision bitext seed): every page in a 5-doc
    cluster re-declares the same en/de/zh alternate set — pair
    expansion via grouped posting lists (no corpus self-join), pairs
    deduplicated across the re-declaring pages to 3 per cluster."""
    from rio_cogeo_spark.operators.links import (
        extract_hreflang,
        hreflang_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 9973).cast("string"),
            F.lit(".example/page/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(
            F.expr(_HREFLANG_HTML.format(st="STRING", d="div")), "utf-8"
        ).alias("html"),
    )
    return hreflang_pairs(extract_hreflang(pages))


def _hreflang_oracle() -> str:
    from rio_cogeo_spark.operators.links import (
        extract_hreflang_sql,
        hreflang_pairs_sql,
    )

    pages_cte = (
        "SELECT 'https://site' || CAST(doc_id % 9973 AS VARCHAR) || "
        "'.example/page/' || CAST(doc_id AS VARCHAR) AS url, "
        + _HREFLANG_HTML.format(st="VARCHAR", d="//")
        + " AS html FROM documents"
    )
    return hreflang_pairs_sql(extract_hreflang_sql(pages_cte))


_HOST_LANG_CASE = (
    "CASE WHEN doc_id % 23 < 12 THEN 'en' ELSE lang END"
)


def q_host_langs(spark, sf_dir):
    """Per-host language purity (the CCNet domain statistic / content-
    farm signal): 23-host layout where hosts 0-11 are forced pure-en
    and hosts 12-22 keep the natural 5-language mix — the mixed hosts
    fall under the 60% majority threshold and get the suspect flag."""
    from rio_cogeo_spark.operators.rarity import host_lang_purity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 23).cast("string"),
            F.lit(".example/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.expr(_HOST_LANG_CASE).alias("lang"),
    )
    return host_lang_purity(pages)


def _host_langs_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import host_lang_purity_sql

    return host_lang_purity_sql(
        "SELECT 'https://site' || CAST(doc_id % 23 AS VARCHAR) || "
        "'.example/p/' || CAST(doc_id AS VARCHAR) AS url, "
        + _HOST_LANG_CASE
        + " AS lang FROM documents",
    )


def q_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg JACM'99) over the
    deterministic host digraph + a planted pure hub (out-links only)
    and pure authority (in-links only): 2 exact-BIGINT sweeps with
    HUGEINT L1 normalization — the pure hub's authority and the pure
    authority's hub score must be EXACTLY zero; hash-compared against
    the chained-CTE unroll."""
    from rio_cogeo_spark.operators.graph import host_hits

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    edges = spark.sql(_HITS_EDGES)
    return host_hits(edges, iterations=2)


_HITS_EDGES = (
    _PR_EDGES
    + "\nUNION\nSELECT 1000 AS src, doc_id % 11 AS dst FROM documents"
    + "\nUNION\nSELECT doc_id % 13 AS src, 2000 AS dst FROM documents"
)


def _hits_oracle() -> str:
    from rio_cogeo_spark.operators.graph import host_hits_sql

    return host_hits_sql(_HITS_EDGES, iterations=2)


_REDIRECTS_CTE = (
    "SELECT 'https://r.example/u' || CAST(doc_id AS {st}) AS src, "
    "'https://r.example/u' || CAST(doc_id + 1 AS {st}) AS dst "
    "FROM documents WHERE doc_id % 10 <> 9 "
    "UNION ALL "
    "SELECT 'https://loop.example/a' || CAST(doc_id AS {st}), "
    "'https://loop.example/b' || CAST(doc_id AS {st}) "
    "FROM documents WHERE doc_id % 100 = 0 "
    "UNION ALL "
    "SELECT 'https://loop.example/b' || CAST(doc_id AS {st}), "
    "'https://loop.example/a' || CAST(doc_id AS {st}) "
    "FROM documents WHERE doc_id % 100 = 0"
)


def q_redirects(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling (O(log n) rounds,
    the connected-components discipline): per-decade chains u0→…→u9
    (terminal) plus planted 2-cycles; every chain resolves with its
    EXACT hop count, loop members surface resolved=false instead of
    spinning — hash-compared against the unrolled doubling twin."""
    from rio_cogeo_spark.operators.urlfilter import resolve_redirects

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    redirects = spark.sql(_REDIRECTS_CTE.format(st="STRING"))
    return resolve_redirects(redirects, max_hops=16)


def _redirects_oracle() -> str:
    from rio_cogeo_spark.operators.urlfilter import resolve_redirects_sql

    return resolve_redirects_sql(
        _REDIRECTS_CTE.format(st="VARCHAR")
    )


def q_lexical_pairs(spark, sf_dir):
    """Sparse tf-idf cosine related-document pairs over docs ∪ exact
    dups (the lexical complement to embed_neardup): exact-int weights
    (BM25 scaled idf), DECIMAL(38,0)/HUGEINT dot products and norms
    (order-independent sums — no float-associativity divergence),
    doubles only in the final rounded scalar. df_cap=None ONLY here
    for the oracle-exact comparison; 'auto' is the corpus-scale
    hot-term guard."""
    from rio_cogeo_spark.operators.search import lexical_cosine_pairs

    return lexical_cosine_pairs(
        _docs_with_dups(spark, sf_dir), threshold=0.6, df_cap=None
    )


def _lexical_pairs_oracle() -> str:
    from rio_cogeo_spark.operators.search import lexical_cosine_pairs_sql

    return lexical_cosine_pairs_sql(
        "SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 100000 AS doc_id, text FROM documents "
        "WHERE doc_id < 50",
        threshold=0.6,
    )


def q_host_trend(spark, sf_dir):
    """Per-host Gopher-pass quality trend across crawl days (the
    takeover/decay monitor): 23-host layout over 4 synthetic crawl
    days; every 3rd day-2+ doc on odd hosts is symbol-spammed so
    those (host, day) cells drop and flag degrading. Lag window group
    size = crawl days per host, never pages."""
    from rio_cogeo_spark.operators.rarity import host_quality_trend

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 23).cast("string"),
            F.lit(".example/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 4 * 86400 + F.col("doc_id")).alias("ts_sec"),
        F.expr(_HOST_TREND_TEXT).alias("text"),
    )
    return host_quality_trend(pages)


_HOST_TREND_TEXT = (
    "CASE WHEN doc_id % 4 >= 2 AND doc_id % 23 % 2 = 1"
    " AND doc_id % 3 = 0"
    " THEN '$$$ ### !!! %%% ^^^' ELSE text END"
)


def _host_trend_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import host_quality_trend_sql

    return host_quality_trend_sql(
        "SELECT 'https://site' || CAST(doc_id % 23 AS VARCHAR) || "
        "'.example/p/' || CAST(doc_id AS VARCHAR) AS url, "
        "doc_id % 4 * 86400 + doc_id AS ts_sec, "
        + _HOST_TREND_TEXT
        + " AS text FROM documents"
    )


def q_host_gate(spark, sf_dir):
    """Per-(6h window, HOST) Gopher pass rate — the batch twin of the
    streaming per-domain quality monitor (streaming==batch
    pytest-asserted at two micro-batch sizes); state row per active
    (window, host), never pages."""
    from rio_cogeo_spark.streaming.quality import host_gate_rates_batch

    pages = _pages(spark, sf_dir).select("doc_id", "url", "text", "ts_sec")
    spread = pages.withColumn(
        "ts_sec", F.col("ts_sec") + (F.col("doc_id") % 3) * 21_600
    )
    return host_gate_rates_batch(spread)


def _host_gate_oracle() -> str:
    from rio_cogeo_spark.functions.text import HOST_SQL, gopher_gate_sql

    gp = gopher_gate_sql()["gopher_pass"]
    return f"""{_P}
, spread AS (SELECT url, ts_sec + (doc_id % 3) * 21600 AS ts_sec,
                    CASE WHEN {gp} THEN 1 ELSE 0 END AS p
             FROM pages),
win AS (SELECT (ts_sec // 21600) * 21600 AS win_sec,
               {HOST_SQL} AS host, p FROM spread)
SELECT win_sec, host,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(SUM(p) AS BIGINT) AS n_pass,
       CAST((SUM(p) * 1000000) // COUNT(*) AS BIGINT) AS pass_ppm
FROM win GROUP BY 1, 2"""


_PLAN_EDGES = (
    "SELECT 'site' || CAST(doc_id % 97 AS {st}) || '.example' AS src, "
    "'site' || CAST((doc_id * 31 + 7) % 97 AS {st}) || '.example' AS dst "
    "FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97 "
    "UNION "
    "SELECT 'site' || CAST(doc_id % 97 AS {st}) || '.example', "
    "'site' || CAST((doc_id * 17 + 3) % 97 AS {st}) || '.example' "
    "FROM documents WHERE doc_id % 97 <> (doc_id * 17 + 3) % 97"
)

_PLAN_TEXT = (
    "CASE WHEN doc_id % 4 >= 2 AND (doc_id % 97) % 2 = 1"
    " AND doc_id % 3 = 0"
    " THEN '$$$ ### !!! %%% ^^^' ELSE text END"
)

_PLAN_PAGES = (
    "SELECT doc_id, 'https://site' || CAST(doc_id % 97 AS {st}) || "
    "'.example/p/' || CAST(doc_id AS {st}) AS url, "
    "doc_id % 4 * 86400 + doc_id AS ts_sec, "
    + _PLAN_TEXT + " AS text FROM documents"
)


def q_crawl_plan(spark, sf_dir):
    """The crawl-SCHEDULING flagship composite (the frontier sibling of
    clean_corpus): 3-iteration exact-BIGINT PageRank over the 97-host
    digraph × each host's LATEST-day Gopher pass rate (max_by over the
    quality-trend fold) → composite weight (rank_ppb·pass_ppm div
    10^6) → Hamilton apportionment of 1,000,003 fetch slots. One
    declarative plan; the oracle composes the PageRank CTE unroll, the
    trend SQL, and the HUGEINT budget twin into ONE query."""
    from rio_cogeo_spark.operators.graph import (
        apportion_budget,
        host_pagerank,
    )
    from rio_cogeo_spark.operators.rarity import host_quality_trend

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    edges = spark.sql(_PLAN_EDGES.format(st="STRING"))
    rank = host_pagerank(edges, iterations=3)
    pages = spark.sql(_PLAN_PAGES.format(st="STRING"))
    latest = (
        host_quality_trend(pages)
        .groupBy("host")
        .agg(F.expr("max_by(pass_ppm, day)").alias("latest_ppm"))
    )
    weights = rank.join(latest, "host").select(
        "host",
        F.expr("(rank_ppb * latest_ppm) div 1000000").alias("weight"),
    )
    return apportion_budget(weights, budget=1_000_003)


def _crawl_plan_oracle() -> str:
    from rio_cogeo_spark.operators.graph import (
        apportion_budget_sql,
        host_pagerank_sql,
    )
    from rio_cogeo_spark.operators.rarity import host_quality_trend_sql

    pr = host_pagerank_sql(_PLAN_EDGES.format(st="VARCHAR"))
    trend = host_quality_trend_sql(_PLAN_PAGES.format(st="VARCHAR"))
    weights_cte = (
        f"SELECT pr.host, (pr.rank_ppb * lt.latest_ppm) // 1000000"
        f" AS weight "
        f"FROM ({pr}) pr JOIN "
        f"(SELECT host, max_by(pass_ppm, day) AS latest_ppm"
        f" FROM ({trend}) t GROUP BY 1) lt ON pr.host = lt.host"
    )
    return apportion_budget_sql(weights_cte, budget=1_000_003)


_ROBOTS_BODIES = (
    "SELECT DISTINCT 'site' || CAST(doc_id % 23 AS {st}) || '.example'"
    " AS host, "
    "CASE WHEN doc_id % 23 % 3 = 0 THEN "
    "'User-agent: googlebot' || chr(10) || 'Disallow: /g' || chr(10) || "
    "'User-agent: *' || chr(10) || 'Disallow: /p' "
    "WHEN doc_id % 23 % 3 = 1 THEN "
    "'User-agent: onlybot' || chr(10) || 'Disallow: /p' "
    "ELSE 'User-agent: bing' || chr(10) || 'User-agent: *' || chr(10) || "
    "'Disallow: /q' END AS body FROM documents"
)


def q_robots(spark, sf_dir):
    """Crawl-level robots.txt politeness: per-host wildcard Disallow
    rules (UA-run grammar — a run naming '*' governs its block) parsed
    from synthesized bodies over the 23-host layout, then pages under
    /p or /q dropped per their host's rules; hosts whose robots only
    constrain other agents keep everything."""
    from rio_cogeo_spark.operators.urlfilter import robots_filter

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    robots = spark.sql(_ROBOTS_BODIES.format(st="STRING"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 23).cast("string"),
            F.lit(".example"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/p/"))
            .when(F.col("doc_id") % 3 == 1, F.lit("/q/"))
            .otherwise(F.lit("/ok/")),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return robots_filter(pages, robots)


def _robots_oracle() -> str:
    from rio_cogeo_spark.operators.urlfilter import robots_filter_sql

    pages_cte = (
        "SELECT doc_id, 'https://site' || CAST(doc_id % 23 AS VARCHAR) || "
        "'.example' || CASE WHEN doc_id % 3 = 0 THEN '/p/' "
        "WHEN doc_id % 3 = 1 THEN '/q/' ELSE '/ok/' END || "
        "CAST(doc_id AS VARCHAR) AS url FROM documents"
    )
    return robots_filter_sql(
        pages_cte, _ROBOTS_BODIES.format(st="VARCHAR")
    )


_SITEMAP_XML = (
    "'<urlset><url><loc>https://site' || CAST(doc_id % 23 AS {st}) || "
    "'.example/p/' || CAST(doc_id AS {st}) || '</loc></url>"
    "<url><loc>https://site' || CAST(doc_id % 23 AS {st}) || "
    "'.example/new/' || CAST(doc_id AS {st}) || '</loc></url></urlset>'"
)


def q_sitemap_new(spark, sf_dir):
    """Sitemap frontier discovery: each host's sitemap declares a
    crawled URL (/p/...) and an undiscovered one (/new/...); the
    crawled set holds scheme/www/trailing-slash VARIANTS of the /p
    pages, so canonicalization must collapse them and exactly the
    /new URLs surface for the fetch queue."""
    from rio_cogeo_spark.operators.links import (
        extract_sitemap_urls,
        frontier_discovery,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sitemaps = docs.select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 23).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        F.expr(_SITEMAP_XML.format(st="STRING")).alias("xml"),
    )
    crawled = docs.select(
        F.concat(
            F.lit("http://www.site"), (F.col("doc_id") % 23).cast("string"),
            F.lit(".example/p/"), F.col("doc_id").cast("string"),
            F.lit("/"),
        ).alias("url")
    )
    return frontier_discovery(extract_sitemap_urls(sitemaps), crawled)


def _sitemap_new_oracle() -> str:
    from rio_cogeo_spark.operators.links import (
        extract_sitemap_urls_sql,
        frontier_discovery_sql,
    )

    sm_cte = (
        "SELECT 'site' || CAST(doc_id % 23 AS VARCHAR) || '.example'"
        " AS host, " + _SITEMAP_XML.format(st="VARCHAR")
        + " AS xml FROM documents"
    )
    crawled_cte = (
        "SELECT 'http://www.site' || CAST(doc_id % 23 AS VARCHAR) || "
        "'.example/p/' || CAST(doc_id AS VARCHAR) || '/' AS url "
        "FROM documents"
    )
    return frontier_discovery_sql(
        extract_sitemap_urls_sql(sm_cte), crawled_cte
    )


def q_winnow_incremental(spark, sf_dir):
    """Incremental MOSS matching against a persisted winnow index (the
    partial-copy side of the crawl loop, mirroring dedup_incremental):
    even doc_ids indexed once, odd snapshot matched against the thin
    (doc_id, fp) table — the indexed corpus's TEXT is never re-read.
    Exact-dup copies land at +100001 so every pair crosses the split;
    df_cap=None ONLY for the oracle-exact comparison."""
    import shutil
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100001
    )
    both = docs.unionByName(dups)
    old = both.filter(F.col("doc_id") % 2 == 0)
    new = both.filter(F.col("doc_id") % 2 == 1)
    path = tempfile.mkdtemp(prefix="winnow_index_")
    try:
        DD.winnow_save_index(old, path, k=3, w=4)
        return DD.winnow_match_index(
            new, path, min_shared=2, df_cap=None, eager_release=True
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _winnow_incremental_oracle() -> str:
    from rio_cogeo_spark.operators.dedup import winnow_pairs_sql

    inner = winnow_pairs_sql(
        "SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 100001 AS doc_id, text FROM documents "
        "WHERE doc_id < 50",
        min_shared=2,
    )
    # re-orient the unordered batch pairs to (indexed=even, new=odd)
    return rf"""
SELECT CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END AS doc_a,
       CASE WHEN doc_a % 2 = 0 THEN doc_b ELSE doc_a END AS doc_b,
       n_shared
FROM ({inner})
WHERE (doc_a % 2 = 0) <> (doc_b % 2 = 0)"""


_SCRIPT_MIX_CASE = (
    "CASE CAST(doc_id % 4 AS INT) "
    "WHEN 1 THEN concat(text, ' привет мир привет мир') "
    "WHEN 2 THEN repeat('中文网页内容 ', 30) "
    "WHEN 3 THEN concat(repeat('مرحبا بالعالم ', 40), text) "
    "ELSE text END"
)


def q_script_mix(spark, sf_dir):
    """Unicode script-mix routing report: documents deterministically
    remixed into four script profiles (pure Latin / Latin+Cyrillic
    spice / pure CJK / Arabic-dominant + Latin tail), per-doc dominant
    script elected over functions/text.SCRIPT_RANGES (first-listed max
    wins ties), rolled up to (dom_script, n_docs, sum_script_chars,
    sum_dom_ppm) exact ints — the pre-language-ID corpus router."""
    from rio_cogeo_spark.functions.text import script_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mixed = docs.select(
        "doc_id", F.expr(_SCRIPT_MIX_CASE).alias("text")
    )
    sm = script_mix(F.col("text"))
    per_doc = mixed.select(
        sm["dom_script"].alias("dom_script"),
        sm["script_chars"].alias("script_chars"),
        sm["dom_ppm"].alias("dom_ppm"),
    )
    return per_doc.groupBy("dom_script").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("script_chars").alias("sum_script_chars"),
        F.sum("dom_ppm").alias("sum_dom_ppm"),
    )


def _script_mix_oracle() -> str:
    from rio_cogeo_spark.functions.text import script_mix_sql

    s = script_mix_sql()
    return rf"""
WITH mixed AS (SELECT doc_id, {_SCRIPT_MIX_CASE} AS text FROM documents),
per_doc AS (SELECT {s['dom_script']} AS dom_script,
                   {s['script_chars']} AS script_chars,
                   {s['dom_ppm']} AS dom_ppm FROM mixed)
SELECT dom_script, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(script_chars) AS BIGINT) AS sum_script_chars,
       CAST(SUM(dom_ppm) AS BIGINT) AS sum_dom_ppm
FROM per_doc GROUP BY 1"""


_TRUST_SEEDS = "(VALUES (0), (1), (2), (3), (4), (1000)) t(h)"


def q_trustrank(spark, sf_dir):
    """Seeded TrustRank (Gyongyi et al. VLDB'04) over the deterministic
    host digraph: teleport mass only on 5 trusted seed hosts (+ one
    seed absent from the graph, exercising the seed-anchoring path), 3
    exact-BIGINT fixed-point iterations, hash-compared against the
    chained-CTE SQL unroll."""
    from rio_cogeo_spark.operators.graph import host_trustrank

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    edges = spark.sql(_PR_EDGES)
    seeds = spark.sql(
        f"SELECT CAST(h AS BIGINT) AS host FROM {_TRUST_SEEDS}"
    )
    return host_trustrank(edges, seeds, iterations=3)


def _trustrank_oracle() -> str:
    from rio_cogeo_spark.operators.graph import host_trustrank_sql

    return host_trustrank_sql(
        _PR_EDGES,
        f"SELECT CAST(h AS BIGINT) AS host FROM {_TRUST_SEEDS}",
    )


# Deterministic messy-URL variants over the pages url space: fragments,
# tracking params (leading / middle / only param), uppercase scheme+host,
# www. prefix, explicit default port, trailing slash. Shared dialect-
# common SQL so both engines canonicalize the SAME input strings.
def _urlvar_sql(t: str) -> str:
    sid = f"CAST(doc_id % 97 AS {t})"
    did = f"CAST(doc_id AS {t})"
    return f"""
SELECT doc_id,
  CASE doc_id % 6
    WHEN 0 THEN 'https://site' || {sid} || '.example/page/' || {did}
                 || '?utm_source=feed&fbclid=abc123'
    WHEN 1 THEN 'https://www.site' || {sid} || '.example/page/' || {did} || '/'
    WHEN 2 THEN 'HTTP://SITE' || {sid} || '.EXAMPLE:80/page/' || {did}
                 || '#section-2'
    WHEN 3 THEN 'https://site' || {sid} || '.example/page/' || {did}
                 || '?a=1&utm_campaign=x&b=2'
    WHEN 4 THEN 'https://site' || {sid} || '.example:443/page/' || {did}
                 || '?utm_medium=rss'
    ELSE 'https://site' || {sid} || '.example/page/' || {did}
  END AS url
FROM documents"""


def q_url_canonical(spark, sf_dir):
    """URL canonicalization (the pre-dedup normalizer): fragments,
    utm_*/fbclid tracking params, host case, www., default ports and
    trailing slashes all collapse; query-string punctuation repaired.
    Pure JVM regexp projection vs the RE2 twin, byte-identical."""
    from rio_cogeo_spark.operators.urlfilter import canonical_url

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    variants = spark.sql(_urlvar_sql("STRING"))
    return variants.select(
        "doc_id", "url", canonical_url(F.col("url")).alias("curl")
    )


def _url_canonical_oracle() -> str:
    from rio_cogeo_spark.operators.urlfilter import canonical_url_sql

    return (
        f"SELECT doc_id, url, {canonical_url_sql()} AS curl\n"
        f"FROM ({_urlvar_sql('VARCHAR')})"
    )


def q_readability(spark, sf_dir):
    """Flesch reading-ease corpus quality signal: word / sentence /
    vowel-group-syllable counts + the x1000 exact-BIGINT score."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rs = TX.readability_stats()
    return docs.select(
        "doc_id",
        rs["n_words"].alias("n_words"),
        rs["n_sentences"].alias("n_sentences"),
        rs["n_syllables"].alias("n_syllables"),
        rs["flesch_milli"].alias("flesch_milli"),
    )


def _readability_oracle() -> str:
    from rio_cogeo_spark.functions.text import READABILITY_SQL as R

    return (
        f"SELECT doc_id, {R['n_words']} AS n_words,\n"
        f"       {R['n_sentences']} AS n_sentences,\n"
        f"       {R['n_syllables']} AS n_syllables,\n"
        f"       {R['flesch_milli']} AS flesch_milli\n"
        f"FROM documents"
    )


def q_keywords(spark, sf_dir):
    """Per-document top-5 tf-idf keyword extraction (exact-integer
    scaled idf, term-ascending ties)."""
    from rio_cogeo_spark.operators.search import tfidf_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_keywords(docs, k=5)


def q_lang_mix(spark, sf_dir):
    """mC4-style mixed-language page report: every doc gets a German
    and a French paragraph appended (doc_id<100 get a second German
    one, flipping the majority) — per-paragraph lang-id counts fold to
    (n_paras, n_langs, major_lang, exact-ppm majority fraction)."""
    from rio_cogeo_spark.operators.rarity import lang_mix

    sep_s = " ## "
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mixed = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(sep_s + "der die und ist der" + sep_s + "le et est le"),
            F.when(F.col("doc_id") < 100, F.lit(sep_s + "und der die"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return lang_mix(mixed, sep=sep_s)


def q_bpe_merges(spark, sf_dir):
    """One distributed BPE merge round: top-30 adjacent character pairs
    by corpus count, computed over the word-frequency table (vocab-
    bounded explode), ties on pair ascending — exact BIGINT counts."""
    from rio_cogeo_spark.operators.bpe import bpe_merge_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_merge_topk(docs, k=30)


def q_normalize_text(spark, sf_dir):
    """Unicode NFC normalization (the one genuinely-Python text op,
    Arrow-batched): decomposed accents injected around each doc must
    fold to precomposed forms, whitespace runs collapse, ends trim —
    byte-identical to DuckDB's nfc_normalize."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    messy = F.concat(
        F.lit("  Résumé\t"), F.col("text"), F.lit("  café ")
    )
    return docs.select("doc_id", TX.normalize_text(messy).alias("text_norm"))


def q_search_phrase(spark, sf_dir):
    """Exact-phrase search over a positional index ("table table" —
    the repeated term exercises the per-term slot-list logic): anchor
    decomposition, one shuffle for an m-term phrase, exact BIGINT tf."""
    from rio_cogeo_spark.operators.search import phrase_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return phrase_topk(docs, ["table", "table"], k=20)


def q_top_per_lang(spark, sf_dir):
    """Generic per-group top-k: 3 longest docs per language."""
    from rio_cogeo_spark.operators.search import topk_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return topk_per_group(docs, ["lang"], "n_chars", k=3).select(
        "lang", "doc_id", "n_chars", "rank"
    )


def q_chunks(spark, sf_dir):
    """Document chunking (embedding-pipeline primitive): stage the token
    array once, emit every chunk from a slice-transform projection —
    ZERO Exchange (plan-shape row chunk_docs)."""
    from rio_cogeo_spark.operators.chunking import chunk_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_docs(docs, chunk_tokens=16)


def q_chunks_sliding(spark, sf_dir):
    """Overlapping sliding-window chunking (RAG-ingest default): window i
    covers tokens [i*stride, i*stride + C) — same zero-Exchange
    projection structure as q_chunks."""
    from rio_cogeo_spark.operators.chunking import chunk_docs_sliding

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_docs_sliding(docs, chunk_tokens=16, stride=8)


def q_pack_chunks(spark, sf_dir):
    """Sequence packing (pretraining-batch primitive): concat-then-chunk
    pack assignment — sharded running token sum (one window, one
    shuffle) + explode over the pack span; all-integer, cross-engine
    bit-identical."""
    from rio_cogeo_spark.operators.packing import pack_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_chunks(docs, context_tokens=64, n_shards=8)


def q_repeated_spans(spark, sf_dir):
    """Repeated-passage detection (Lee et al. 2022-style substring dedup
    as DataFrame algebra): positional n-gram hashes -> corpus-wide count
    (one map-side-combinable shuffle) -> hot-hash broadcast join -> per-
    doc window merging hits into maximal spans. Bit-exact cross-engine."""
    from rio_cogeo_spark.operators.passages import repeated_ngram_spans

    return repeated_ngram_spans(_docs_with_dups(spark, sf_dir), n=5, min_count=2)


def q_passage_cut(spark, sf_dir):
    """Span-cut application (completes the substring-dedup pipeline):
    spans aggregate to per-doc cut arrays, broadcast-join back, one
    higher-order filter/exists projection rebuilds the text — JVM
    expressions, no UDF."""
    from rio_cogeo_spark.operators.passages import (
        cut_spans,
        repeated_ngram_spans,
    )

    docs = _docs_with_dups(spark, sf_dir)
    spans = repeated_ngram_spans(docs, n=5, min_count=2)
    out = cut_spans(docs, spans)
    return out.select(
        "doc_id",
        F.md5(F.encode(F.col("clean_text"), "utf-8")).alias("clean_md5"),
        "n_tokens_removed",
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction (email / IPv4 / long-digit-ID), staged counts +
    scrubbed-text digest — one whole-stage-codegen projection, no
    shuffle. Synthetic PII is injected per-doc so counts are non-trivial
    on both engines."""
    from rio_cogeo_spark.functions.text import pii_scrub

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 ref 9"),
            F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        ).alias("text"),
    )
    out = pii_scrub(injected)
    return out.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_ids",
        F.length("clean_text").alias("clean_len"),
        F.md5(F.encode(F.col("clean_text"), "utf-8")).alias("clean_md5"),
    )


def q_zorder(spark, sf_dir):
    """Z-order (Morton) layout key over the base tile grid — the
    clustered-write key for bbox locality; pure BIGINT shift/mask
    expressions, bit-identical cross-engine."""
    from rio_cogeo_spark.functions.tile import morton_key

    tiles = base_tiles(_pages(spark, sf_dir), ZOOM)
    return tiles.select(
        "tile_x",
        "tile_y",
        morton_key(F.col("tile_x"), F.col("tile_y")).alias("zkey"),
        "page_count",
    )


# bbox (x0, y0, x1, y1) for the Z-order range-decomposition contract —
# inclusive tile coords at ZOOM, chosen to straddle many quad boundaries
MORTON_BBOX = (120, 80, 180, 140)
COMPACT_MIN_ZOOM = 4


def q_tile_compact(spark, sf_dir):
    """Quadtree compaction of the 1-ring-dilated occupied-tile set:
    the minimal mixed-zoom cover (H3 `compact` analog / sparse-COG
    overview structure). Iterative — one window shuffle per level on a
    4x-shrinking set; oracle twin is the per-level window-CTE unroll."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.compact_tiles(
        focal.dilate_tiles(base, ZOOM), ZOOM, min_zoom=COMPACT_MIN_ZOOM
    )


def q_tile_focal(spark, sf_dir):
    """3x3 edge-clipped focal sum/mean over the density grid (absent
    tiles are value 0; in-bounds window size in closed form)."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.focal_stats(base, ZOOM).select(
        "tile_x", "tile_y", "focal_sum", "n_cells", "focal_mean"
    )


def q_focal_mode(spark, sf_dir):
    """Focal MAJORITY filter (GDAL majority-filter analog): classify
    each occupied z8 tile by an exact-int page-count bucket, then
    re-label it with the modal class of its 3x3 occupied neighborhood
    (absent tiles carry no class — categorical, not zero-fill); ties to
    the smallest class."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    classified = base.select(
        "tile_x", "tile_y",
        F.expr(
            "CASE WHEN page_count >= 8 THEN 3 WHEN page_count >= 4 THEN 2 "
            "WHEN page_count >= 2 THEN 1 ELSE 0 END"
        ).cast("long").alias("cls"),
    )
    return focal.focal_mode(classified, ZOOM)


def q_hillshade(spark, sf_dir):
    """gdaldem-hillshade analog over the z8 page-density surface:
    Horn '81 gradients folded as 9 conditional slot sums, Lambertian
    normal-dot-light shading with DRIVER-side light constants (no trig
    inside either engine), pinned to exact shade_mil ints by
    floor(x+0.5)."""
    from rio_cogeo_spark.operators.focal import hillshade

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return hillshade(base, ZOOM, z_factor=0.05)


def _hillshade_oracle() -> str:
    from rio_cogeo_spark.operators.focal import hillshade_sql

    inner = hillshade_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM, z_factor=0.05
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_tile_density(spark, sf_dir):
    """True-area density correction (mercator distortion fix): per z8
    tile, its world-area share in exact pptr (floor(x+0.5) over a
    textually identical exp pipeline — tanh via exp, since tanh itself
    is not guaranteed across libm builds) and pages per ppm of world
    area in exact BIGINT division."""
    from rio_cogeo_spark.operators.focal import area_weighted_density

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return area_weighted_density(base, ZOOM)


def _tile_density_oracle() -> str:
    from rio_cogeo_spark.operators.focal import area_weighted_density_sql

    inner = area_weighted_density_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_crosstab(spark, sf_dir):
    """Land-cover-style change matrix: density-bucket classification of
    the even-doc half-corpus vs the full corpus at z8 — the (old, new)
    class crosstab with exact-ppm shares; one-sided tiles cross with
    '(absent)' so the margins are the coverage report."""
    from rio_cogeo_spark.operators.focal import class_crosstab

    pages = _pages(spark, sf_dir)
    bucket = (
        "CASE WHEN page_count >= 8 THEN 3 WHEN page_count >= 4 THEN 2 "
        "WHEN page_count >= 2 THEN 1 ELSE 0 END"
    )
    old = base_tiles(pages.filter(F.col("doc_id") % 2 == 0), ZOOM).selectExpr(
        "tile_x", "tile_y", f"{bucket} AS cls"
    )
    new = base_tiles(pages, ZOOM).selectExpr(
        "tile_x", "tile_y", f"{bucket} AS cls"
    )
    return class_crosstab(old, new)


def _crosstab_oracle() -> str:
    bucket = (
        "CASE WHEN page_count >= 8 THEN 3 WHEN page_count >= 4 THEN 2 "
        "WHEN page_count >= 2 THEN 1 ELSE 0 END"
    )
    return f"""{_P}
, ct_a0 AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,
                   COUNT(*) AS page_count
            FROM pages WHERE doc_id % 2 = 0 GROUP BY 1, 2),
ct_b0 AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,
                 COUNT(*) AS page_count
          FROM pages GROUP BY 1, 2),
ct_a AS (SELECT tile_x, tile_y, CAST({bucket} AS VARCHAR) AS cls_a
         FROM ct_a0),
ct_b AS (SELECT tile_x, tile_y, CAST({bucket} AS VARCHAR) AS cls_b
         FROM ct_b0),
ct_j AS (SELECT COALESCE(a.cls_a, '(absent)') AS cls_a,
                COALESCE(b.cls_b, '(absent)') AS cls_b
         FROM ct_a a FULL OUTER JOIN ct_b b
           ON a.tile_x = b.tile_x AND a.tile_y = b.tile_y),
ct_c AS (SELECT cls_a, cls_b, COUNT(*) AS n_tiles FROM ct_j GROUP BY 1, 2),
ct_t AS (SELECT SUM(n_tiles) AS total FROM ct_c)
SELECT cls_a, cls_b, CAST(n_tiles AS BIGINT) AS n_tiles,
       CAST((n_tiles * 1000000) // total AS BIGINT) AS share_ppm
FROM ct_c, ct_t"""


def q_hotspots(spark, sf_dir):
    """Getis-Ord Gi* hotspot z-scores over the FULL 4^zoom grid (empty
    cells count as 0 in the global moments). Exact-int moments feed a
    deterministic IEEE expression tree mirrored by the SQL twin."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.hotspots(base, ZOOM).select(
        "tile_x", "tile_y", "focal_sum", "n_cells", "gi_star"
    )


def q_moran(spark, sf_dir):
    """Global Moran's I spatial autocorrelation of the page-density
    grid (binary queen weights, absent cells = 0 over the FULL 4^zoom
    grid) — the rational statistic reduced to pure staged integers,
    i_mil via the sign-split trunc-division contract."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.morans_i(base, ZOOM)


def _moran_oracle() -> str:
    from rio_cogeo_spark.operators.focal import morans_i_sql

    return morans_i_sql(_BASE_CTE, ZOOM)


def q_aspect(spark, sf_dir):
    """8-way aspect classification of the page-density surface
    (gdaldem aspect analog): Horn gradients stay exact BIGINTs and the
    compass octant is a pure comparison CASE — no trig in either
    engine (octant case exhaustively verified against atan2 in
    tests)."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.aspect8(base, ZOOM)


def _aspect_oracle() -> str:
    from rio_cogeo_spark.operators.focal import aspect8_sql

    return aspect8_sql(_BASE_CTE, ZOOM)


def q_contour(spark, sf_dir):
    """Marching-squares contour extraction (gdal_contour analog) at
    iso-level 2 over the density grid: every 2x2 corner block the
    contour crosses, with its case index 1..14 — pure integers, one
    4-slot vote explode."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.contour_cells(base, ZOOM, threshold=2)


def _contour_oracle() -> str:
    from rio_cogeo_spark.operators.focal import contour_cells_sql

    return contour_cells_sql(_BASE_CTE, ZOOM, threshold=2)


def q_d8(spark, sf_dir):
    """D8 steepest-descent flow direction over the density surface
    (hydrology analog): exact integer steepest-descent via the
    2·drop²-vs-drop² squared-distance trick — no irrationals, pits
    flagged, receivers in closed form."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.d8_flow(base, ZOOM)


def _d8_oracle() -> str:
    from rio_cogeo_spark.operators.focal import d8_flow_sql

    return d8_flow_sql(_BASE_CTE, ZOOM)


def q_flow_acc(spark, sf_dir):
    """4-round D8 flow accumulation (catchment size within 4 flow
    steps) — the third oracle-paired ITERATIVE operator (after
    PageRank and BFS): exact BIGINT rounds vs an unrolled CTE chain."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.flow_accumulation(base, ZOOM, rounds=4)


def _flow_acc_oracle() -> str:
    from rio_cogeo_spark.operators.focal import flow_accumulation_sql

    return flow_accumulation_sql(_BASE_CTE, ZOOM)


def q_geohash(spark, sf_dir):
    """Geohash cell rollup (precision 5): the base-32 public-standard
    key beside quadkey/morton — encode is pure bit/concat expressions
    (byte-identical across engines; canonical Niemeyer vector pinned
    in pytest), counts per cell."""
    from rio_cogeo_spark.functions.geohash import geohash

    pages = _pages(spark, sf_dir)
    return (
        pages.select(
            geohash(F.col("lat"), F.col("lon"), 5).alias("gh")
        )
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def _geohash_oracle() -> str:
    from rio_cogeo_spark.functions.geohash import geohash_sql

    return f"""{pages_cte('VARCHAR')}
SELECT {geohash_sql('lat', 'lon', 5)} AS gh, COUNT(*) AS n_pages
FROM pages GROUP BY 1"""


def q_terrain(spark, sf_dir):
    """Terrain-ruggedness report (gdaldem TRI/TPI/roughness trio) over
    the density surface: per occupied cell, 8x-Wilson TRI, 8x TPI and
    window roughness as exact BIGINTs — one 9-offset vote explode +
    one combinable aggregate, no joins, no floats."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.terrain_rugged(base, ZOOM)


def _terrain_oracle() -> str:
    from rio_cogeo_spark.operators.focal import terrain_rugged_sql

    return terrain_rugged_sql(_BASE_CTE, ZOOM)


def q_viewshed(spark, sf_dir):
    """Row-wise west-edge viewshed (gdal_viewshed 1-D core): a cell is
    visible iff it strictly exceeds every cell west of it in its grid
    row — one running-max window on the row key (bounded by 2^zoom),
    exact BIGINTs throughout."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.viewshed_rows(base)


def _viewshed_oracle() -> str:
    from rio_cogeo_spark.operators.focal import viewshed_rows_sql

    return viewshed_rows_sql(_BASE_CTE)


def q_proximity(spark, sf_dir):
    """Grid distance transform (gdal_proximity analog): exact Chebyshev
    distance to the nearest occupied cell for every cell within 3
    rounds of BFS dilation over the 8-neighborhood — the fourth
    oracle-paired iterative operator, unrolled-CTE twin."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.proximity(base, ZOOM, rounds=3)


def _proximity_oracle() -> str:
    from rio_cogeo_spark.operators.focal import proximity_sql

    return proximity_sql(_BASE_CTE, ZOOM)


def q_sieve(spark, sf_dir):
    """Grid connected-component sieve (gdal_sieve analog): rook
    components via 4 rounds of min-label propagation (exact for
    diameter <= 4), component cell count + page mass via one label-key
    window, keep flag at min_size=3 — the fifth bounded-round
    iterative operator."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.sieve_components(base, ZOOM, rounds=4, min_size=3)


def _sieve_oracle() -> str:
    from rio_cogeo_spark.operators.focal import sieve_components_sql

    return sieve_components_sql(_BASE_CTE, ZOOM)


def q_benford(spark, sf_dir):
    """Benford first-digit audit of the pages-per-host distribution
    (forensic test for bot-inflated crawl segments): observed vs
    expected first-digit shares in exact ppm, the expectation table a
    Python literal — no log evaluates in either engine."""
    from rio_cogeo_spark.operators.report import benford

    pages = _pages(spark, sf_dir)
    hosts = pages.select(TX.host_col(F.col("url")).alias("host"))
    return benford(hosts)


def _benford_oracle() -> str:
    from rio_cogeo_spark.operators.report import benford_sql

    inner = f"{pages_cte('VARCHAR')} SELECT {TX.HOST_SQL} AS host FROM pages"
    return benford_sql(inner)


def q_mannwhitney(spark, sf_dir):
    """Mann-Whitney U (rank-sum) test: are English documents longer
    than the rest? 2U with the half-credit tie rule kept integer, plus
    the rank-biserial effect size in ppm — all on the value-frequency
    table, never a per-row rank."""
    from rio_cogeo_spark.operators.report import mann_whitney

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mann_whitney(docs, "lang", "en", "n_chars")


def _mannwhitney_oracle() -> str:
    from rio_cogeo_spark.operators.report import mann_whitney_sql

    return mann_whitney_sql(
        "SELECT lang, n_chars FROM documents", "lang", "en", "n_chars"
    )


def q_geary(spark, sf_dir):
    """Global Geary's C spatial autocorrelation of the page-density
    grid (binary queen weights, absent cells = 0 over the full 4^zoom
    grid) — the local-contrast companion to Moran's I, same rational-
    to-pure-integer reduction, c_mil via the sign-split contract."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.geary_c(base, ZOOM)


def _geary_oracle() -> str:
    from rio_cogeo_spark.operators.focal import geary_c_sql

    return geary_c_sql(_BASE_CTE, ZOOM)


def q_lisa(spark, sf_dir):
    """Local Moran's I (Anselin LISA) per occupied cell: the per-cell
    decomposition of the global Moran statistic with HH/LL/HL/LH
    quadrant labels from exact deviation signs."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.local_moran(base, ZOOM)


def _lisa_oracle() -> str:
    from rio_cogeo_spark.operators.focal import local_moran_sql

    return local_moran_sql(_BASE_CTE, ZOOM)


def q_fillnodata(spark, sf_dir):
    """Nodata fill (gdal_fillnodata analog): cells within 3 BFS rounds
    take the value of the NEAREST occupied cell, ties to the smallest
    source cell key — the packed-BIGINT min fold carries (distance,
    tie rule, value) through one aggregate per round."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.fillnodata(base, ZOOM, rounds=3)


def _fillnodata_oracle() -> str:
    from rio_cogeo_spark.operators.focal import fillnodata_sql

    return fillnodata_sql(_BASE_CTE, ZOOM)


def q_polygonize(spark, sf_dir):
    """Equal-value region extraction (gdal_polygonize analog): rook
    components among same-valued cells via min-label propagation with
    the value riding the group key (join-free)."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return focal.polygonize(base, ZOOM, rounds=4)


def _polygonize_oracle() -> str:
    from rio_cogeo_spark.operators.focal import polygonize_sql

    return polygonize_sql(_BASE_CTE, ZOOM)


def q_spearman(spark, sf_dir):
    """Spearman rank correlation (tie-correct: Pearson over doubled
    average ranks, all exact ints to the one pinned sqrt) between the
    whitespace token count and the stored n_chars — the quality-signal
    consistency check."""
    from rio_cogeo_spark.operators.report import spearman

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pair = docs.select(
        TX.token_count(F.col("text")).alias("a"),
        F.col("n_chars").alias("b"),
    )
    return spearman(pair, "a", "b")


def _spearman_oracle() -> str:
    from rio_cogeo_spark.operators.report import spearman_sql

    return spearman_sql(
        f"SELECT {TX.TOKEN_COUNT_SQL} AS a, n_chars AS b FROM documents",
        "a", "b",
    )


def q_acf(spark, sf_dir):
    """Daily crawl-volume autocorrelation at lags 1-7 over a
    week-periodic surge injection (doc_id < 400 re-crawled on six
    spike days a week apart): lag-7 must read high, lag 1-6 low —
    exact staged-integer ACF, sign-split mil contract."""
    from rio_cogeo_spark.operators.report import volume_acf

    pages = _pages(spark, sf_dir).select("doc_id", "ts_sec")
    surge = pages.filter(F.col("doc_id") < 400).select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        (F.lit(1735689600) + (F.col("doc_id") % 6) * F.lit(7 * 86400)
         + F.col("doc_id") % 1800).alias("ts_sec"),
    )
    return volume_acf(pages.unionByName(surge), max_lag=7)


def _acf_oracle() -> str:
    from rio_cogeo_spark.operators.report import volume_acf_sql

    base = """SELECT doc_id, ts_sec FROM (
  SELECT doc_id, ts_sec FROM pages
  UNION ALL
  SELECT doc_id + 900000,
         1735689600 + (doc_id % 6) * (7 * 86400) + doc_id % 1800
  FROM pages WHERE doc_id < 400) ac_in"""
    inner = volume_acf_sql(
        "SELECT doc_id, ts_sec FROM ac_all"
    ).split("WITH ", 1)[1]
    return f"""{_P}
, ac_all AS ({base}),
{inner}"""


def q_raster_hist(spark, sf_dir):
    """Tile-value histogram (gdalinfo -hist analog): 16 equal-width
    integer buckets over the observed [min, max], zero-count buckets
    included, all pure BIGINT binning."""
    from rio_cogeo_spark.operators.gdalutil import raster_hist

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return raster_hist(base, n_buckets=16)


def _raster_hist_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import raster_hist_sql

    return raster_hist_sql(_BASE_CTE)


def q_scale_bytes(spark, sf_dir):
    """Linear byte rescale (gdal_translate -scale analog): observed
    [min, max] mapped onto [0, 255] in exact integer arithmetic,
    constant input degenerating to lo."""
    from rio_cogeo_spark.operators.gdalutil import scale_bytes

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return scale_bytes(base)


def _scale_bytes_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import scale_bytes_sql

    return scale_bytes_sql(_BASE_CTE)


def q_locationinfo(spark, sf_dir):
    """Point query (gdallocationinfo analog): megacity coordinates +
    one open-ocean miss against the z8 density grid — point set
    broadcasts as the build side of one inner scan join; the miss
    reads NULL."""
    from rio_cogeo_spark.operators.gdalutil import locationinfo

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    rows = [
        (f"P{cid:02d}", float(lon), float(lat))
        for cid, _, lat, lon in MEGACITIES[:8]
    ] + [("P_miss", -160.0, -44.5)]
    pts = spark.createDataFrame(rows, "name string, lon double, lat double")
    return locationinfo(base, pts, ZOOM)


def _locationinfo_oracle() -> str:
    from rio_cogeo_spark.functions.tile import tile_xy_sql
    from rio_cogeo_spark.operators.gdalutil import locationinfo_sql

    vals = ", ".join(
        f"('P{cid:02d}', CAST({lon!r} AS DOUBLE), CAST({lat!r} AS DOUBLE))"
        for cid, _, lat, lon in MEGACITIES[:8]
    ) + ", ('P_miss', CAST(-160.0 AS DOUBLE), CAST(-44.5 AS DOUBLE))"
    tx, ty = tile_xy_sql("lon", "lat", ZOOM)
    return locationinfo_sql(_BASE_CTE, vals, tx, ty)


def q_mosaic(spark, sf_dir):
    """Priority mosaic (gdal_merge analog): the z8 grid mosaicked over
    an x-shifted doubled copy of itself — grid a wins on overlap, the
    shifted ring survives from b; one co-partitioned full-outer tile
    join."""
    from rio_cogeo_spark.operators.gdalutil import mosaic

    base = base_tiles(_pages(spark, sf_dir), ZOOM).localCheckpoint(
        eager=False
    )  # a and b both derive from this fold
    edge = 2 ** ZOOM - 1
    b = base.filter(F.col("tile_x") < edge).select(
        (F.col("tile_x") + 1).alias("tile_x"), "tile_y",
        (F.col("page_count") * 2).alias("page_count"),
    )
    return mosaic(base, b)


def _mosaic_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import mosaic_sql

    edge = 2 ** ZOOM - 1
    inner = mosaic_sql(
        "SELECT tile_x, tile_y, page_count FROM base",
        f"SELECT tile_x + 1 AS tile_x, tile_y, page_count * 2 AS page_count"
        f" FROM base WHERE tile_x < {edge}",
    ).split("WITH ", 1)[1]
    return f"""{_BASE_CTE}
, {inner}"""


def q_color_relief(spark, sf_dir):
    """Density class map (gdaldem color-relief, exact-entry form): the
    plan-literal ramp assigns each tile the largest break <= value —
    one projection, zero joins."""
    from rio_cogeo_spark.operators.gdalutil import color_relief

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return color_relief(
        base, [(1, "sparse"), (10, "low"), (100, "mid"), (1000, "high")]
    )


def _color_relief_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import color_relief_sql

    return color_relief_sql(
        _BASE_CTE, [(1, "sparse"), (10, "low"), (100, "mid"), (1000, "high")]
    )


def q_boxplot(spark, sf_dir):
    """Per-language Tukey box-plot of document length: exact quartile
    probes + doubled-integer 1.5-IQR fences + outlier counts, all on
    the pinned value-frequency table."""
    from rio_cogeo_spark.operators.report import group_boxplot

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_boxplot(docs)


def _boxplot_oracle() -> str:
    from rio_cogeo_spark.operators.report import group_boxplot_sql

    return group_boxplot_sql()


def q_equalize(spark, sf_dir):
    """Histogram equalization (CDF contrast remap): corpus folds once
    into the pinned value-frequency table, ONE cumulative window on it,
    remap broadcasts back — exact floor form, 64 output levels."""
    from rio_cogeo_spark.operators.gdalutil import equalize

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return equalize(base, levels=64)


def _equalize_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import equalize_sql

    return equalize_sql(_BASE_CTE, levels=64)


CLIP_BBOX = (-10.0, 35.0, 30.0, 60.0)  # Europe window


def q_clip(spark, sf_dir):
    """Geographic crop (gdalwarp -te analog): bbox resolved to an
    inclusive tile range on the driver, pure plan-literal range filter
    + window re-origin (col_off/row_off)."""
    from rio_cogeo_spark.operators.gdalutil import clip

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return clip(base, ZOOM, CLIP_BBOX)


def _clip_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import clip_sql, clip_window

    return clip_sql(_BASE_CTE, clip_window(ZOOM, CLIP_BBOX))


def q_upsample(spark, sf_dir):
    """Nearest-neighbor 2x upsample (gdal_translate -outsize 200%):
    each z8 tile explodes into its 4 z9 children with the value copied
    — pure projection, zero shuffles."""
    from rio_cogeo_spark.operators.gdalutil import upsample

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return upsample(base)


def _upsample_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import upsample_sql

    return upsample_sql(_BASE_CTE)


def q_raster_calc(spark, sf_dir):
    """Cell-wise grid algebra (gdal_calc analog): the z8 grid minus its
    x-shifted copy — the discrete x-gradient of the density surface;
    absent cells contribute 0, one co-partitioned full-outer join."""
    from rio_cogeo_spark.operators.gdalutil import raster_calc

    base = base_tiles(_pages(spark, sf_dir), ZOOM).localCheckpoint(
        eager=False
    )  # a and b both derive from this fold
    edge = 2 ** ZOOM - 1
    b = base.filter(F.col("tile_x") < edge).select(
        (F.col("tile_x") + 1).alias("tile_x"), "tile_y", "page_count",
    )
    return raster_calc(base, b, op="sub")


def _raster_calc_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import raster_calc_sql

    edge = 2 ** ZOOM - 1
    inner = raster_calc_sql(
        "SELECT tile_x, tile_y, page_count FROM base",
        f"SELECT tile_x + 1 AS tile_x, tile_y, page_count"
        f" FROM base WHERE tile_x < {edge}",
    ).split("WITH ", 1)[1]
    return f"""{_BASE_CTE}
, {inner}"""


def q_raster_compare(spark, sf_dir):
    """Grid regression diff (gdalcompare analog): the z8 grid vs a copy
    with every even-column value doubled and one column dropped — ONE
    full-outer tile join folded straight into a 1-row summary."""
    from rio_cogeo_spark.operators.gdalutil import raster_compare

    base = base_tiles(_pages(spark, sf_dir), ZOOM).localCheckpoint(
        eager=False
    )  # a and b both derive from this fold
    b = base.filter(F.col("tile_x") != 128).select(
        "tile_x", "tile_y",
        F.when(F.col("tile_x") % 2 == 0, F.col("page_count") * 2)
        .otherwise(F.col("page_count")).alias("page_count"),
    )
    return raster_compare(base, b)


def _raster_compare_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import raster_compare_sql

    inner = raster_compare_sql(
        "SELECT tile_x, tile_y, page_count FROM base",
        "SELECT tile_x, tile_y, CASE WHEN tile_x % 2 = 0"
        " THEN page_count * 2 ELSE page_count END AS page_count"
        " FROM base WHERE tile_x <> 128",
    ).split("WITH ", 1)[1]
    return f"""{_BASE_CTE}
, {inner}"""


def q_slope(spark, sf_dir):
    """Percent slope (gdaldem slope -p analog): Horn gradients on the
    exact aspect8 fold, ONE pinned IEEE sqrt shared verbatim with the
    oracle, floored to mil."""
    from rio_cogeo_spark.operators.gdalutil import slope_pct

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return slope_pct(base, ZOOM)


def _slope_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import slope_pct_sql

    return slope_pct_sql(_BASE_CTE, ZOOM)


def q_footprint(spark, sf_dir):
    """Data-footprint regions (gdal_footprint analog): rook components
    of the occupancy mask via polygonize, per-region bbox + exact
    fill_ppm."""
    from rio_cogeo_spark.operators.gdalutil import footprint

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return footprint(base, ZOOM, rounds=4)


def _footprint_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import footprint_sql

    return footprint_sql(_BASE_CTE, ZOOM)


def q_idw(spark, sf_dir):
    """IDW interpolation (gdal_grid invdist analog): exact lcm-scaled
    1/d² Chebyshev weights within radius 2 — occupied nodes exact,
    empty nodes floor(1000·Σwv/Σw); one vote explode + one
    aggregate."""
    from rio_cogeo_spark.operators.gdalutil import idw

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return idw(base, ZOOM)


def _idw_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import idw_sql

    return idw_sql(_BASE_CTE, ZOOM)


def q_tindex(spark, sf_dir):
    """Tile-bounds index (gdaltindex analog): per-tile EPSG:3857
    bounds as pinned-double millimeter BIGINTs — the same
    driver-computed span/shift literals in both engines."""
    from rio_cogeo_spark.operators.gdalutil import tindex

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return tindex(base, ZOOM)


def _tindex_oracle() -> str:
    from rio_cogeo_spark.operators.gdalutil import tindex_sql

    return tindex_sql(_BASE_CTE, ZOOM)


# mojibake suffix injected for doc_id % 7 == 0 — identical literal in
# the Spark query and the oracle so the counts are non-trivial
_MOJI_SUFFIX = " Ã© said â€œcafÃ©â€ ï¿½"


def q_mojibake(spark, sf_dir):
    """Encoding-corruption gate: mojibake-signature and U+FFFD counts
    per document over a corpus with deterministic corruption injected
    (doc_id % 7) — pure codegen regexp, no UDF."""
    from rio_cogeo_spark.functions.text import mojibake_cols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(_MOJI_SUFFIX)),
        ).otherwise(F.col("text")).alias("text"),
    )
    cols = mojibake_cols(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_moji"].alias("n_moji"),
        cols["n_repl"].alias("n_repl"),
        cols["clean"].alias("clean"),
    )


def _mojibake_oracle() -> str:
    from rio_cogeo_spark.functions.text import mojibake_sql

    # single-quote SQL string literal; the suffix contains none
    sfx = _MOJI_SUFFIX.replace("'", "''")
    t = f"(CASE WHEN doc_id % 7 = 0 THEN text || '{sfx}' ELSE text END)"
    cols = mojibake_sql(t)
    return f"""SELECT doc_id,
       {cols['n_moji']} AS n_moji,
       {cols['n_repl']} AS n_repl,
       {cols['clean']} AS clean
FROM documents"""


def q_kruskal(spark, sf_dir):
    """Kruskal-Wallis H across languages: doubled integer ranks on the
    value-frequency table, one pinned double combination floored to
    mil — the k-group mann_whitney."""
    from rio_cogeo_spark.operators.report import kruskal_wallis

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kruskal_wallis(docs)


def _kruskal_oracle() -> str:
    from rio_cogeo_spark.operators.report import kruskal_wallis_sql

    return kruskal_wallis_sql()


def q_cusum(spark, sf_dir):
    """CUSUM changepoint trace of daily volume with a deterministic
    +100% level shift injected from day 5 (identical in both engines):
    s_up must accumulate after the shift — exact prefix-extremum form,
    no mean division."""
    from rio_cogeo_spark.operators.report import cusum_days

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select((F.col("doc_id") * 1728).alias("ts2"))
    shifted = t.unionAll(t.filter(F.expr("ts2 div 86400 >= 5")))
    return cusum_days(shifted, "ts2")


def _cusum_oracle() -> str:
    from rio_cogeo_spark.operators.report import cusum_days_sql

    pages_cte = """WITH cu_t0 AS (SELECT doc_id * 1728 AS ts2 FROM documents),
pages AS (SELECT ts2 FROM cu_t0
          UNION ALL SELECT ts2 FROM cu_t0 WHERE ts2 // 86400 >= 5)"""
    return cusum_days_sql(pages_cte, "ts2")


def q_curvature(spark, sf_dir):
    """Discrete Laplacian curvature of the z8 density surface: rook
    votes (weight 1) + self (−4), one combinable aggregate —
    convex/concave/flat class per occupied cell."""
    from rio_cogeo_spark.operators.focal import curvature

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return curvature(base, ZOOM)


def _curvature_oracle() -> str:
    from rio_cogeo_spark.operators.focal import curvature_sql

    return curvature_sql(_BASE_CTE, ZOOM)


def q_hilbert(spark, sf_dir):
    """Hilbert-curve layout key per z8 tile (the locality-superior
    Z-order alternative: consecutive keys are always rook-adjacent):
    zoom staged integer projections, one codegen stage, zero
    shuffles."""
    from rio_cogeo_spark.functions.hilbert import with_hilbert

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return with_hilbert(base, ZOOM).select(
        "tile_x", "tile_y",
        F.col("page_count").cast("long").alias("page_count"), "hilbert",
    )


def _hilbert_oracle() -> str:
    from rio_cogeo_spark.functions.hilbert import hilbert_cte_sql

    # CAST-aliased carry is idempotent across the round CTEs
    return hilbert_cte_sql(
        _BASE_CTE, ZOOM,
        carry_cols="tile_x, tile_y, CAST(page_count AS BIGINT) AS page_count",
    )


def q_morton_range(spark, sf_dir):
    """Z-order bbox query: filter the tile table by the exact quadtree
    range decomposition of MORTON_BBOX. The oracle twin filters by the
    bbox directly — hash-equality IS the covering proof (the range set
    admits exactly the bbox, nothing more, nothing less)."""
    from rio_cogeo_spark.functions.tile import (
        morton_bbox_ranges, morton_key, morton_range_filter,
    )

    x0, y0, x1, y1 = MORTON_BBOX
    ranges = morton_bbox_ranges(x0, y0, x1, y1, ZOOM)
    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return (
        base.withColumn(
            "morton", morton_key(F.col("tile_x"), F.col("tile_y"))
        )
        .filter(morton_range_filter(F.col("morton"), ranges))
        .select("tile_x", "tile_y", "morton")
    )


def q_ann_int8(spark, sf_dir):
    """Int8-quantized brute-force ANN: symmetric absmax quantization +
    INTEGER dot scoring — hash-exact on raw BIGINTs (no 6dp rounding),
    the memory/bandwidth configuration of a 100 TB embedding store."""
    from rio_cogeo_spark.operators.quantize import ann_int8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_int8_topk(emb, k=10)


def q_pyramid_stream(spark, sf_dir):
    """Continuous pyramid maintenance driven to completion
    (availableNow): the streaming store must equal the batch pyramid —
    the oracle IS the full-recompute pyramid SQL, certifying
    streaming == batch cross-engine."""
    import tempfile

    from rio_cogeo_spark.streaming.pyramid import (
        maintain_pyramid, read_pyramid_store,
    )
    from rio_cogeo_spark.streaming.tiles import read_pages_stream

    tmp = tempfile.mkdtemp(prefix="rcs_pyr_stream_")
    q = maintain_pyramid(
        read_pages_stream(spark, sf_dir),
        f"{tmp}/store", ZOOM, LEVELS, checkpoint=f"{tmp}/ckpt",
    )
    q.awaitTermination(600)
    return read_pyramid_store(spark, f"{tmp}/store").select(
        "zoom", "tile_x", "tile_y", "page_count", "sum_chars", "max_doc_id"
    )


def q_pyramid_diff(spark, sf_dir):
    """Pyramid map algebra: per-level per-tile signed difference
    between two snapshot halves of the corpus — crawl-coverage change
    detection. Sum-band-only (max/hll have no inverse)."""
    from rio_cogeo_spark.operators.incremental import pyramid_subtract

    pages = _pages(spark, sf_dir)
    a, _ = cog_translate(
        pages.filter(F.col("doc_id") % 10 < 5),
        max_zoom=ZOOM, overview_level=LEVELS,
    )
    b, _ = cog_translate(
        pages.filter(F.col("doc_id") % 10 >= 5),
        max_zoom=ZOOM, overview_level=LEVELS,
    )
    return pyramid_subtract(a, b).select(
        "zoom", "tile_x", "tile_y", "d_page_count", "d_sum_chars"
    )


def q_quadkey(spark, sf_dir):
    """Quadkey addressing: the Spark side derives the parent key by
    RE-ENCODING (x>>1, y>>1) at zoom-1 while the oracle takes
    substr(child_qk, 1, zoom-1) — hash-equality proves the
    prefix-ancestor property of the codec cross-engine."""
    from rio_cogeo_spark.functions.quadkey import quadkey

    tiles = base_tiles(_pages(spark, sf_dir), ZOOM)
    x, y = F.col("tile_x"), F.col("tile_y")
    return tiles.select(
        "tile_x", "tile_y",
        quadkey(x, y, ZOOM).alias("qk"),
        quadkey(F.shiftright(x, 1), F.shiftright(y, 1), ZOOM - 1)
        .alias("parent_qk"),
    )


# viewport (x0, y0, x1, y1) at ZOOM for the LOD-assembly contract —
# 40x40 requested tiles straddling dense and empty regions
VIEWPORT_BBOX = (100, 70, 139, 109)


def q_viewport(spark, sf_dir):
    """LOD viewport assembly over the compacted mixed-zoom cover: each
    requested tile resolves to the DEEPEST available ancestor cell
    (rio-cogeo's read-the-nearest-overview semantics for a sparse tile
    store); uncovered tiles emit nothing."""
    from rio_cogeo_spark.operators import focal

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    avail = focal.compact_tiles(
        focal.dilate_tiles(base, ZOOM), ZOOM, min_zoom=COMPACT_MIN_ZOOM
    )
    return focal.assemble_viewport(
        avail, ZOOM, VIEWPORT_BBOX, min_zoom=COMPACT_MIN_ZOOM
    )


def q_tile_serve(spark, sf_dir):
    """The full serving query: viewport LOD resolution over the SPARSE
    pyramid (an empty z8 tile falls back to its deepest occupied
    ancestor level) joined back to the band values the renderer draws.
    The viewport side is screen-bounded and broadcasts onto the tile
    table — the pyramid never shuffles."""
    from rio_cogeo_spark.operators import focal

    tiles, _ = _pyramid(spark, sf_dir)
    vp = focal.assemble_viewport(
        tiles, ZOOM, VIEWPORT_BBOX, min_zoom=ZOOM - LEVELS
    )
    return (
        tiles.join(
            F.broadcast(vp),
            (F.col("zoom") == F.col("src_zoom"))
            & (F.col("tile_x") == F.col("src_x"))
            & (F.col("tile_y") == F.col("src_y")),
        )
        .select(
            "req_x", "req_y", "src_zoom", "src_x", "src_y",
            "page_count", "sum_chars",
        )
    )


def q_pyramid_update(spark, sf_dir):
    """Incremental pyramid maintenance: pyramid(old 90%) merged with
    pyramid(delta 10%) must equal the full-recompute pyramid — the
    oracle IS the full-pyramid SQL, so hash-equality proves
    merge(pyramid(A), pyramid(B)) == pyramid(A ∪ B) band-exactly."""
    from rio_cogeo_spark.operators.incremental import (
        pyramid_delta, pyramid_merge,
    )

    pages = _pages(spark, sf_dir)
    old, _ = cog_translate(
        pages.filter(F.col("doc_id") % 10 != 9),
        max_zoom=ZOOM, overview_level=LEVELS,
    )
    delta = pyramid_delta(
        pages.filter(F.col("doc_id") % 10 == 9),
        max_zoom=ZOOM, overview_level=LEVELS,
    )
    return pyramid_merge(old, delta).select(
        "zoom", "tile_x", "tile_y", "page_count", "sum_chars", "max_doc_id"
    )


def q_pip_semi(spark, sf_dir):
    semi = J.point_in_polygon(_pages(spark, sf_dir), J.build_admin_areas(), how="semi")
    return semi.select("url")


def q_sessionize(spark, sf_dir):
    from rio_cogeo_spark.streaming.events import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(ev)


def q_media_features(spark, sf_dir):
    # oracle-paired columns: payload is utf-8(text), so n_bytes/checksum are
    # strlen/md5 in DuckDB; feat_mean/std/thumb (fake-decoder outputs) stay
    # pytest-verified (tests/test_sources_streaming.py) — the mapInPandas UDF
    # still computes them (output projection happens after the UDF runs)
    from rio_cogeo_spark.operators.multimodal import attach_media, extract_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return extract_features(attach_media(docs), decoder="fake").select(
        "media_id", "kind", "n_bytes", "checksum"
    )


def q_tile_distinct(spark, sf_dir):
    """Mergeable distinct-count band: HLL sketches built at the base level
    and UNIONED through every overview level (COUNT DISTINCT is not
    mergeable; the sketch is). Estimates are exact at these per-tile
    cardinalities (<=20 langs << 2^12 sketch buckets), so the plain
    COUNT(DISTINCT) oracle matches bit-for-bit."""
    from rio_cogeo_spark.operators.translate import (
        BandSpec,
        hll_band,
        with_hll_estimates,
    )

    bands = [
        BandSpec("page_count", lambda: F.count(F.lit(1)).cast("long"), "sum"),
        hll_band("lang_hll", "lang"),
    ]
    tiles, _ = cog_translate(
        _pages(spark, sf_dir), max_zoom=ZOOM, overview_level=LEVELS, bands=bands
    )
    return with_hll_estimates(tiles, bands).select(
        "zoom", "tile_x", "tile_y", "page_count",
        F.col("lang_hll_estimate").alias("n_langs"),
    )


def q_tile_rollup(spark, sf_dir):
    # batch twin of the streaming tile ingest (streaming/tiles.py) —
    # windowed per-tile rollup on warc_ts event time; 1-hour tumbling
    # windows are epoch-aligned, so window_sec is timezone-independent
    from rio_cogeo_spark.streaming.tiles import tile_rollup_batch

    pages = _pages(spark, sf_dir).withColumn(
        "warc_ts", F.timestamp_seconds(F.col("ts_sec"))
    )
    return tile_rollup_batch(pages, zoom=6)


def q_pyramid_web(spark, sf_dir):
    # web-optimized tiles_meta: extent snapped outward to whole tiles at
    # max_zoom - aligned_levels (reference tests/test_web.py:241-300)
    tiles, plan = cog_translate(
        _pages(spark, sf_dir), max_zoom=ZOOM, overview_level=LEVELS,
        web_optimized=True, aligned_levels=2,
    )
    return tiles_meta(tiles, plan)


def q_raster_overview(spark, sf_dir):
    # one pixel-level overview with the 'average' window kernel: z5/px8
    # pixels are z8 cells whose value is trunc(mean of 4 z9-cell counts)
    # = (z8 count) // 4 — integer math, hence DuckDB-expressible
    from rio_cogeo_spark.operators.raster import (
        downsample_pixel_level,
        rasterize_tiles,
    )

    base = rasterize_tiles(_pages(spark, sf_dir), zoom=6, px=8)
    lvl = downsample_pixel_level(base, px=8, kernel="average")
    return lvl.select(
        "zoom",
        "tile_x",
        "tile_y",
        F.aggregate(
            "pixels", F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("px_sum"),
        F.size(F.filter("pixels", lambda v: v > 0)).alias("nonzero_px"),
        F.array_max("pixels").alias("px_max"),
    )


def q_media_frames(spark, sf_dir):
    # video frame-sampling plumbing: explode into (media_id, frame_idx,
    # t_ms) — the batch shape a real ffmpeg seek UDF consumes; fully
    # SQL-expressible (duration_ms = n_chars*10, kind = doc_id%3==2)
    from rio_cogeo_spark.operators.multimodal import attach_media, sample_frames

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sample_frames(attach_media(docs))


def q_rle(spark, sf_dir):
    """Per-block run-length encoding of the z6/px8 density raster — the
    declarative block-compression step (COG deflate analog): run table
    rows (tile, run_idx, value, run_len), exact ints; per-tile windows
    bounded by the 64-pixel block, never grid/corpus size."""
    from rio_cogeo_spark.operators.raster import (
        rasterize_tiles,
        rle_encode_tiles,
    )

    t = rasterize_tiles(_pages(spark, sf_dir), zoom=6, px=8)
    return rle_encode_tiles(t)


def _rle_oracle() -> str:
    from rio_cogeo_spark.operators.raster import rle_encode_tiles_sql

    inner = rle_encode_tiles_sql(
        "SELECT tile_x, tile_y, pixels FROM rle_in"
    ).split("WITH ", 1)[1]
    return f"""{_P}
, rq_a AS (SELECT {_TX9} AS tx9, {_TY9} AS ty9 FROM pages),
rq_px AS (SELECT tx9 // 8 AS tile_x, ty9 // 8 AS tile_y,
                 (ty9 % 8) * 8 + (tx9 % 8) AS pixel, COUNT(*) AS cnt
          FROM rq_a GROUP BY 1, 2, 3),
rq_grid AS (SELECT DISTINCT tile_x, tile_y FROM rq_px),
rq_dense AS (SELECT g.tile_x, g.tile_y, s.p,
                    COALESCE(px.cnt, 0) AS v
             FROM rq_grid g
             CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS p) s
             LEFT JOIN rq_px px
               ON px.tile_x = g.tile_x AND px.tile_y = g.tile_y
              AND px.pixel = s.p),
rle_in AS (SELECT tile_x, tile_y, list(v ORDER BY p) AS pixels
           FROM rq_dense GROUP BY 1, 2),
{inner}"""


def q_raster_tiles(spark, sf_dir):
    # per-tile scalar digests of the pixel histogram (driver-canonicalizable,
    # unlike the raw array<long>): px=8 at zoom 6 makes each pixel exactly a
    # zoom-9 tile cell, so sum/support/max are DuckDB-expressible
    from rio_cogeo_spark.operators.raster import rasterize_tiles

    t = rasterize_tiles(_pages(spark, sf_dir), zoom=6, px=8)
    return t.select(
        "zoom",
        "tile_x",
        "tile_y",
        F.aggregate(
            "pixels", F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("px_sum"),
        F.size(F.filter("pixels", lambda v: v > 0)).alias("nonzero_px"),
        F.array_max("pixels").alias("px_max"),
    )


def q_variogram(spark, sf_dir):
    """Experimental semivariogram of the z8 density surface (rook
    directions, lags 1-4): exact pair counts + Σd² BIGINT, one pinned
    gamma_mil quotient — the spatial-continuity profile a kriging fit
    consumes, built with the curvature vote shape (no join)."""
    from rio_cogeo_spark.operators.focal import semivariogram

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return semivariogram(base, ZOOM, max_lag=4)


def _variogram_oracle() -> str:
    from rio_cogeo_spark.operators.focal import semivariogram_sql

    return semivariogram_sql(_BASE_CTE, ZOOM)


def q_join_counts(spark, sf_dir):
    """Cliff-Ord join-count statistics of the binarized z8 density
    grid (black = count ≥ 2, absent = white, rook adjacency over the
    FULL grid): BB/BW/WW exact BIGINT with both-absent pairs closed
    form, plus the CSR-expected BB in pinned mil."""
    from rio_cogeo_spark.operators.focal import join_counts

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return join_counts(base, ZOOM)


def _join_counts_oracle() -> str:
    from rio_cogeo_spark.operators.focal import join_counts_sql

    return join_counts_sql(_BASE_CTE, ZOOM)


def q_kendall(spark, sf_dir):
    """Kendall tau-b between the n_chars-bucket and token-count-bucket
    of every document: concordant/discordant exact frequency products
    on the joint value-frequency table (O(V²) on distinct cells, never
    O(n²) on rows), doubled tie terms integer, one pinned tau_mil."""
    from rio_cogeo_spark.operators.report import kendall_tau

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        F.expr("n_chars div 100").alias("cb"),
        TX.token_count(F.col("text")).alias("tc"),
    ).selectExpr("cb", "tc div 10 AS tb")
    return kendall_tau(src, "cb", "tb")


def _kendall_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKEN_COUNT_SQL
    from rio_cogeo_spark.operators.report import kendall_tau_sql

    inner = (
        f"SELECT n_chars // 100 AS cb, ({TOKEN_COUNT_SQL}) // 10 AS tb"
        " FROM documents"
    )
    return kendall_tau_sql(inner, "cb", "tb")


def q_theilsen(spark, sf_dir):
    """Theil-Sen robust slope of daily crawl volume over a triangular
    ramp injection (day d gains d+1 extra crawls — a linear upward
    trend): the median pairwise day-slope, FULLY exact integers via
    the 10^10 floordiv slope key; slope_mil must read ≈ +1 doc/day."""
    from rio_cogeo_spark.operators.report import theil_sen_days

    pages = _pages(spark, sf_dir).select("ts_sec")
    ramp = spark.range(600).select(
        (
            F.lit(1735689600)
            + F.expr("CAST(floor((sqrt(8 * id + 1) - 1) / 2) AS BIGINT)")
            * 86400
            + F.col("id") % 1800
        ).alias("ts_sec")
    )
    return theil_sen_days(pages.unionByName(ramp))


def _theilsen_oracle() -> str:
    from rio_cogeo_spark.operators.report import theil_sen_days_sql

    cte = f"""{_P}
, ts_ramp AS (SELECT 1735689600
    + CAST(floor((sqrt(8 * id + 1) - 1) / 2) AS BIGINT) * 86400
    + id % 1800 AS ts_sec FROM range(600) t(id))
, ts_all AS (SELECT ts_sec FROM pages
             UNION ALL SELECT ts_sec FROM ts_ramp)"""
    return theil_sen_days_sql(cte, table="ts_all")


def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend significance on daily crawl volume over the
    same triangular ramp injection as `theilsen` (the estimator /
    test pair on one input): S exact BIGINT over calendar-bounded day
    pairs, tie-corrected var18 exact, one pinned continuity-corrected
    z_mil — must read strongly positive (|z| > 1.96e6 rejects
    no-trend at 5%)."""
    from rio_cogeo_spark.operators.report import mann_kendall_days

    pages = _pages(spark, sf_dir).select("ts_sec")
    ramp = spark.range(600).select(
        (
            F.lit(1735689600)
            + F.expr("CAST(floor((sqrt(8 * id + 1) - 1) / 2) AS BIGINT)")
            * 86400
            + F.col("id") % 1800
        ).alias("ts_sec")
    )
    return mann_kendall_days(pages.unionByName(ramp))


def _mann_kendall_oracle() -> str:
    from rio_cogeo_spark.operators.report import mann_kendall_days_sql

    cte = f"""{_P}
, ts_ramp AS (SELECT 1735689600
    + CAST(floor((sqrt(8 * id + 1) - 1) / 2) AS BIGINT) * 86400
    + id % 1800 AS ts_sec FROM range(600) t(id))
, ts_all AS (SELECT ts_sec FROM pages
             UNION ALL SELECT ts_sec FROM ts_ramp)"""
    return mann_kendall_days_sql(cte, table="ts_all")


def q_transitions(spark, sf_dir):
    """First-order Markov transition table of per-user event types:
    exact counts over lag pairs (ts + event_id tie-break), row-
    stochastic p_ppm by integer division — NO float anywhere."""
    from rio_cogeo_spark.streaming.events import event_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_transitions(ev)


def q_assortativity(spark, sf_dir):
    """Directed out-in degree assortativity of the doc-derived host
    digraph (the same 97-host graph as `pagerank`/`host_distance`):
    six exact BIGINT moments over edges + one pinned Pearson r_mil."""
    from rio_cogeo_spark.operators.graph import degree_assortativity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = (
        docs.selectExpr(
            "doc_id % 97 AS src", "(doc_id * 31 + 7) % 97 AS dst"
        )
        .filter("src <> dst")
        .distinct()
    )
    return degree_assortativity(edges)


def _transitions_oracle() -> str:
    from rio_cogeo_spark.streaming.events import event_transitions_sql

    return event_transitions_sql()


def _assortativity_oracle() -> str:
    from rio_cogeo_spark.operators.graph import degree_assortativity_sql

    return degree_assortativity_sql(
        "SELECT DISTINCT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst"
        " FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97"
    )


def q_terrain_idx(spark, sf_dir):
    """gdaldem TRI/TPI/roughness edge-aware variant over the z8 density
    surface — unlike `terrain` (terrain_rugged: 8x-scaled whole-window
    sums), this computes the per-cell MEAN-based Wilson TRI in exact
    mil with the clipped-window in-bounds neighbor count n_nb (GDAL
    -compute_edges semantics): tri_mil = (Σ|z_nb−z|·10^6) div n_nb
    (exact int division on non-negative operands), TPI numerator
    z·n_nb − Σz_nb exact BIGINT with the ONE pinned double floor for
    its (possibly negative) mil, roughness max−min exact. Same
    vote-explode + 9-slot fold plan as hillshade."""
    from rio_cogeo_spark.operators.focal import terrain_indices

    base = base_tiles(_pages(spark, sf_dir), ZOOM)
    return terrain_indices(base, ZOOM)


def _terrain_idx_oracle() -> str:
    from rio_cogeo_spark.operators.focal import terrain_indices_sql

    inner = terrain_indices_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_knox(spark, sf_dir):
    """Knox space-time interaction over the crawl: pages on the z8 cell
    grid × 600-second warc_ts buckets — exact close-pair counts (space /
    time / both, Chebyshev-radius-1) via three dual-role vote explodes
    (27/9/3 offsets, ONE pair-key aggregate each, no self-join) and the
    knox ratio X·P/(S·T) in mil as the ONE pinned double."""
    from rio_cogeo_spark.operators.focal import knox_stat
    from rio_cogeo_spark.synth import WARC_EPOCH

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y",
        F.expr(f"(ts_sec - {WARC_EPOCH}) div 600").alias("t_bucket"),
    )
    return knox_stat(pts)


def _knox_oracle() -> str:
    from rio_cogeo_spark.operators.focal import knox_stat_sql
    from rio_cogeo_spark.synth import WARC_EPOCH

    pts = (
        f"SELECT {_TX8} AS tile_x, {_TY8} AS tile_y, "
        f"(ts_sec - {WARC_EPOCH}) // 600 AS t_bucket FROM pages"
    )
    inner = knox_stat_sql(pts).split("WITH ", 1)[1]
    return f"{_P},\n{inner}"


def q_centrography(spark, sf_dir):
    """Centrographic first moments of the z8 density surface: weighted
    mean center (exact mil floordiv) + RMS standard distance (the ONE
    pinned double sqrt) from one map-side-combinable corpus fold."""
    from rio_cogeo_spark.operators.focal import centrography

    return centrography(base_tiles(_pages(spark, sf_dir), ZOOM))


def _centrography_oracle() -> str:
    from rio_cogeo_spark.operators.focal import centrography_sql

    inner = centrography_sql(
        "SELECT tile_x, tile_y, page_count FROM base"
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_nn_idx(spark, sf_dir):
    """Grid-adapted Clark-Evans nearest-neighbor index of the occupied
    z8 cells: exact Chebyshev NN distances out to ring 3 via one
    48-offset ring-vote explode + ONE min-ring aggregate; ce_mil the
    ONE pinned double (observed mean over the CSR 0.5/sqrt(λ))."""
    from rio_cogeo_spark.operators.focal import nn_index

    return nn_index(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _nn_idx_oracle() -> str:
    from rio_cogeo_spark.operators.focal import nn_index_sql

    inner = nn_index_sql(
        "SELECT tile_x, tile_y FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_burstiness(spark, sf_dir):
    """Temporal burstiness (variance-to-mean dispersion index) of the
    top-50 crawl terms over 600-second warc_ts buckets — FULLY exact
    integer VMR in mil ((D·Q − S²)·1e6 div D·S, non-negative by
    Cauchy-Schwarz), one corpus explode-fold + vocab-bounded top-K."""
    from rio_cogeo_spark.operators.report import term_burstiness
    from rio_cogeo_spark.synth import WARC_EPOCH

    pages = _pages(spark, sf_dir).select(
        "text",
        F.expr(f"(ts_sec - {WARC_EPOCH}) div 600").alias("t_bucket"),
    )
    return term_burstiness(pages, top_k=50)


def _burstiness_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import term_burstiness_sql
    from rio_cogeo_spark.synth import WARC_EPOCH

    inner = term_burstiness_sql(
        f"SELECT text, (ts_sec - {WARC_EPOCH}) // 600 AS t_bucket"
        " FROM pages",
        TOKENS_SQL,
    ).split("WITH ", 1)[1]
    return f"{_P},\n{inner}"


def q_vocab_overlap(spark, sf_dir):
    """Cross-language vocabulary Jaccard for every unordered language
    pair — corpus folds once to the distinct (term, lang) vocabulary,
    terms fold to language bitmasks, pair counting runs on langs² ×
    distinct masks; jaccard_mil exact."""
    from rio_cogeo_spark.operators.report import lang_vocab_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_vocab_overlap(docs)


def _vocab_overlap_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import lang_vocab_overlap_sql

    return lang_vocab_overlap_sql(
        "SELECT text, lang FROM documents", TOKENS_SQL
    )


def q_ripley(spark, sf_dir):
    """Grid-adapted Ripley's K of the crawl point pattern at Chebyshev
    radii 1–4 over the z8 grid: exact pair counts within each radius
    (dual-role disc-vote explode + per-ring conditional sums, ONE
    pair-key aggregate) and the observed/CSR k-ratio in mil per radius
    (the pinned double) — the multi-scale clustering profile beside
    nn_idx/knox."""
    from rio_cogeo_spark.operators.focal import ripley_k

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y"
    )
    return ripley_k(pts, ZOOM)


def _ripley_oracle() -> str:
    from rio_cogeo_spark.operators.focal import ripley_k_sql

    inner = ripley_k_sql(
        f"SELECT {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages",
        ZOOM,
    ).split("WITH ", 1)[1]
    return f"{_P},\n{inner}"


def q_cocitation(spark, sf_dir):
    """Related-host discovery by co-citation: unordered pairs of hosts
    cited together by a common citer over the deterministic host link
    graph — one co-partitioned self-join on the citer, exact common-
    citer counts."""
    from rio_cogeo_spark.operators.graph import cocitation

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return cocitation(spark.sql(_PR_EDGES))


def _cocitation_oracle() -> str:
    from rio_cogeo_spark.operators.graph import cocitation_sql

    return cocitation_sql(_PR_EDGES)


def q_term_geo(spark, sf_dir):
    """Geographic localization of the top-50 crawl terms: per-term
    centrography over the z8 cells of the mentioning pages — exact mil
    mean centers + the per-term pinned-double RMS dispersion radius;
    low radius ⇒ geographically local term."""
    from rio_cogeo_spark.operators.report import term_localization

    pages = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "text", "tile_x", "tile_y"
    )
    return term_localization(pages, top_k=50)


def _term_geo_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import term_localization_sql

    inner = term_localization_sql(
        f"SELECT text, {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages",
        TOKENS_SQL,
    ).split("WITH ", 1)[1]
    return f"{_P},\n{inner}"


def q_quadrat(spark, sf_dir):
    """Quadrat-count dispersion test over the full z8 grid: exact
    integer variance-to-mean ratio of per-cell counts vs CSR-Poisson
    ((C·Q − S²)·1e6 div (C·S), absent cells zero quadrats) — ONE
    corpus fold, NO float anywhere."""
    from rio_cogeo_spark.operators.focal import quadrat_test

    return quadrat_test(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _quadrat_oracle() -> str:
    from rio_cogeo_spark.operators.focal import quadrat_test_sql

    inner = quadrat_test_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_general_g(spark, sf_dir):
    """Getis-Ord General G of the z8 density surface — the global
    hot-spot statistic: queen-adjacent Σx_i·x_j over all-pairs
    Σ_{i≠j}x_i·x_j (= S² − Q closed form), FULLY exact integer mil
    via one dual-role vote explode + pair-key aggregate."""
    from rio_cogeo_spark.operators.focal import general_g

    return general_g(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _general_g_oracle() -> str:
    from rio_cogeo_spark.operators.focal import general_g_sql

    inner = general_g_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_gini_cells(spark, sf_dir):
    """Gini coefficient of crawl concentration over the occupied z8
    cells (the SPATIAL sibling of the host-level `gini` query) — exact
    integer Lorenz arithmetic ((2Σi·x_(i) − (n+1)S)·1e6 div (n·S)) on
    the grid-bounded ranked cell table, NO float."""
    from rio_cogeo_spark.operators.focal import gini_concentration

    return gini_concentration(base_tiles(_pages(spark, sf_dir), ZOOM))


def _gini_cells_oracle() -> str:
    from rio_cogeo_spark.operators.focal import gini_concentration_sql

    inner = gini_concentration_sql(
        "SELECT page_count AS v FROM base"
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_cell_diversity(spark, sf_dir):
    """Spatial language-diversity map: per occupied z8 cell, the
    Shannon entropy of its page-language mix in per-term-pinned
    nano-nats (the cell-keyed lang_entropy sibling) — ONE (cell, lang)
    corpus fold + a window reusing its partitioning, no join."""
    from rio_cogeo_spark.operators.report import cell_diversity

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    return cell_diversity(pts)


def _cell_diversity_oracle() -> str:
    from rio_cogeo_spark.operators.report import cell_diversity_sql

    inner = cell_diversity_sql(
        f"SELECT {_TX8} AS tile_x, {_TY8} AS tile_y, lang FROM pages"
    ).split("WITH ", 1)[1]
    return f"{_P},\n{inner}"


def q_hapax(spark, sf_dir):
    """Hapax/dis-legomena vocabulary profile per language — exact
    frequency-1/2 type counts + hapax_mil exact floordiv over the
    vocab-bounded per-language fold; the productivity gauge beside
    heaps/zipf."""
    from rio_cogeo_spark.operators.report import hapax_ratio

    return hapax_ratio(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _hapax_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import hapax_ratio_sql

    return hapax_ratio_sql("documents", TOKENS_SQL)


def q_scan(spark, sf_dir):
    """Kulldorff-style spatial scan shortlist: top-20 window centers by
    EXACT integer relative risk of the 3×3 edge-clipped window vs the
    global rate over the z8 grid — focal vote fold + broadcast 1-row
    total + integer-ranked top-K."""
    from rio_cogeo_spark.operators.focal import scan_stat

    return scan_stat(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _scan_oracle() -> str:
    from rio_cogeo_spark.operators.focal import scan_stat_sql

    inner = scan_stat_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_lang_mixing(spark, sf_dir):
    """Language assortativity of the host link graph — Newman mixing
    coefficient over the lang×lang edge matrix (majority language per
    host, deterministic ties): exact DECIMAL marginals, r_mil the ONE
    pinned double (negative ⇒ disassortative)."""
    from rio_cogeo_spark.operators.graph import host_majority_lang, lang_mixing

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    return lang_mixing(spark.sql(_PR_EDGES), host_majority_lang(docs))


def _lang_mixing_oracle() -> str:
    from rio_cogeo_spark.operators.graph import (
        host_majority_lang_sql,
        lang_mixing_sql,
    )

    return lang_mixing_sql(
        _PR_EDGES, host_majority_lang_sql("SELECT * FROM documents")
    )


def _cities_df(spark):
    return spark.createDataFrame(
        [(name, float(lat), float(lon)) for _, name, lat, lon in MEGACITIES],
        "city string, c_lat double, c_lon double",
    )


_CITIES_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"('{name}', CAST({lat} AS DOUBLE), CAST({lon} AS DOUBLE))"
    for _, name, lat, lon in MEGACITIES
) + ") v(city, c_lat, c_lon)"


def q_regional_terms(spark, sf_dir):
    """Regionally distinctive vocabulary: per megacity box, the top-5
    terms by EXACT in/out odds ratio (region-exclusive terms first) —
    broadcast range tag, map-side term folds, city-bounded top-K."""
    from rio_cogeo_spark.operators.report import regional_terms

    pages = _pages(spark, sf_dir).select("text", "lat", "lon")
    return regional_terms(pages, _cities_df(spark))


def _regional_terms_oracle() -> str:
    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import regional_terms_sql

    inner = regional_terms_sql(
        "SELECT text, lat, lon FROM pages", _CITIES_SQL, TOKENS_SQL
    ).split("WITH ", 1)[1]
    return f"{_P},\n{inner}"


def q_g_function(spark, sf_dir):
    """Diggle's G function of the occupied z8 cells — the NN-distance
    CDF (exact counts per Chebyshev distance 1–3 + cumulative mil,
    bounded-ring contract), the distributional refinement of
    nn_idx."""
    from rio_cogeo_spark.operators.focal import g_function

    return g_function(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _g_function_oracle() -> str:
    from rio_cogeo_spark.operators.focal import g_function_sql

    inner = g_function_sql(
        "SELECT tile_x, tile_y FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


_CELL_LANG_SQL = """SELECT tile_x, tile_y, lang FROM (
  SELECT tile_x, tile_y, lang, ROW_NUMBER() OVER
         (PARTITION BY tile_x, tile_y ORDER BY cnt DESC, lang ASC) AS _rk
  FROM (SELECT tile_x, tile_y, lang, COUNT(*) AS cnt
        FROM assigned GROUP BY 1, 2, 3))
WHERE _rk = 1"""


def q_lang_adjacency(spark, sf_dir):
    """Spatial language segregation: queen-adjacent occupied-cell pair
    counts per unordered majority-language pair over the z8 grid —
    canonical-direction pair votes, ONE pair-key aggregate, exact."""
    from pyspark.sql import Window as W

    from rio_cogeo_spark.operators.focal import lang_adjacency

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    counts = pts.groupBy("tile_x", "tile_y", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("tile_x", "tile_y").orderBy(
        F.col("cnt").desc(), F.col("lang").asc()
    )
    cells = (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("tile_x", "tile_y", "lang")
    )
    return lang_adjacency(cells)


def _lang_adjacency_oracle() -> str:
    from rio_cogeo_spark.operators.focal import lang_adjacency_sql

    inner = lang_adjacency_sql(_CELL_LANG_SQL).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_sd_ellipse(spark, sf_dir):
    """Standard deviational ellipse of the z8 density surface — exact
    integer central-moment numerators (DECIMAL 38), eigen axes +
    tan(2θ) as pinned doubles through one fixed IEEE tree; the
    directional refinement of centrography (one corpus fold)."""
    from rio_cogeo_spark.operators.focal import sd_ellipse

    return sd_ellipse(base_tiles(_pages(spark, sf_dir), ZOOM))


def _sd_ellipse_oracle() -> str:
    from rio_cogeo_spark.operators.focal import sd_ellipse_sql

    inner = sd_ellipse_sql(
        "SELECT tile_x, tile_y, page_count FROM base"
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_f_function(spark, sf_dir):
    """Diggle's F (empty-space) function of the z8 occupied grid — the
    CDF of empty-cell → nearest-occupied Chebyshev distance, closed-form
    n_empty = 4^zoom − occupied; with G this completes the J-function
    diagnostics. FULLY exact."""
    from rio_cogeo_spark.operators.focal import f_function

    return f_function(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _f_function_oracle() -> str:
    from rio_cogeo_spark.operators.focal import f_function_sql

    inner = f_function_sql(
        "SELECT tile_x, tile_y FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_dissimilarity(spark, sf_dir):
    """Duncan & Duncan dissimilarity index between every unordered
    language pair over the z8 grid — the classic spatial-segregation
    evenness measure, FULLY exact common-denominator form
    Σ|aᵢ·B − bᵢ·A|·10^6 div (2AB); one corpus fold, pair expansion
    bounded by n_langs−1."""
    from rio_cogeo_spark.operators.report import dissimilarity_index

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    return dissimilarity_index(pts)


def _dissimilarity_oracle() -> str:
    from rio_cogeo_spark.operators.report import dissimilarity_index_sql

    inner = dissimilarity_index_sql(
        "SELECT tile_x, tile_y, lang FROM assigned"
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_j_function(spark, sf_dir):
    """Van Lieshout–Baddeley J function: (1−G)/(1−F) per Chebyshev
    distance — the single-number CSR diagnostic, one shared ring-vote
    explode feeding both CDFs, every value an exact mil floordiv."""
    from rio_cogeo_spark.operators.focal import j_function

    return j_function(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _j_function_oracle() -> str:
    from rio_cogeo_spark.operators.focal import j_function_sql

    inner = j_function_sql(
        "SELECT tile_x, tile_y FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_location_quotient(spark, sf_dir):
    """Location quotient per (z8 cell, language): exact integer
    LQ = (aᵢ·T·10^6) div (tᵢ·A) — the per-cell concentration sibling of
    regional_terms' odds ratio; one corpus fold + partition-reusing
    window + broadcast label totals."""
    from rio_cogeo_spark.operators.report import location_quotient

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    return location_quotient(pts)


def _location_quotient_oracle() -> str:
    from rio_cogeo_spark.operators.report import location_quotient_sql

    inner = location_quotient_sql(
        "SELECT tile_x, tile_y, lang FROM assigned"
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_exposure(spark, sf_dir):
    """Bell exposure/isolation P* matrix per ordered language pair —
    sum of per-cell exact floordivs (aᵢ·bᵢ·10^9 div (A·tᵢ)); the
    probabilistic complement of the dissimilarity index. Pair expansion
    via per-cell collect_list double-explode, never a self-join."""
    from rio_cogeo_spark.operators.report import exposure_index

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    return exposure_index(pts)


def _exposure_oracle() -> str:
    from rio_cogeo_spark.operators.report import exposure_index_sql

    inner = exposure_index_sql(
        "SELECT tile_x, tile_y, lang FROM assigned"
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_host_spread(spark, sf_dir):
    """Geographic footprint per host: exact distinct-cell counts +
    mean center, rms radius the one pinned double; top-50 by footprint
    via distributed TakeOrdered. Two-level map-side-combinable fold."""
    from rio_cogeo_spark.operators.report import host_spread

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        TX.host_col(F.col("url")).alias("host"), "tile_x", "tile_y"
    )
    # min_pages=1: the synthetic sf tables carry one page per host, so
    # the production default (2) would certify an empty result
    return host_spread(pts, min_pages=1)


def _host_spread_oracle() -> str:
    from rio_cogeo_spark.operators.report import host_spread_sql

    inner = host_spread_sql(
        "SELECT host, tile_x, tile_y FROM assigned", min_pages=1
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {TX.HOST_SQL} AS host,"
        f" {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_morisita(spark, sf_dir):
    """Morisita–Horn spatial-distribution overlap per unordered
    language pair — exact integer moments, the final ratio the ONE
    pinned double (the integer form overflows 38 digits at 10^12
    pages); collect_list double-explode pair expansion."""
    from rio_cogeo_spark.operators.report import morisita_horn

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    return morisita_horn(pts)


def _morisita_oracle() -> str:
    from rio_cogeo_spark.operators.report import morisita_horn_sql

    inner = morisita_horn_sql(
        "SELECT tile_x, tile_y, lang FROM assigned"
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_lang_range(spark, sf_dir):
    """Geographic range profile per language: exact page/cell counts,
    bounding box, and box-occupancy mil — range-filling vs archipelago
    distributions. Two-level map-side-combinable fold."""
    from rio_cogeo_spark.operators.report import lang_range

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    return lang_range(pts)


def _lang_range_oracle() -> str:
    from rio_cogeo_spark.operators.report import lang_range_sql

    inner = lang_range_sql(
        "SELECT tile_x, tile_y, lang FROM assigned"
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_cell_novelty(spark, sf_dir):
    """Spatial crawl-frontier expansion per UTC day: cells first
    occupied that day + cumulative distinct cells — one per-cell
    min(ts) fold + a days-bounded running sum. FULLY exact."""
    from rio_cogeo_spark.operators.report import cell_novelty

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "ts_sec"
    )
    # hourly buckets: synth ts_sec spans < 1 UTC day at small sf, so
    # the daily default would certify a single row
    return cell_novelty(pts, day_sec=3600)


def _cell_novelty_oracle() -> str:
    from rio_cogeo_spark.operators.report import cell_novelty_sql

    inner = cell_novelty_sql(
        "SELECT tile_x, tile_y, ts_sec FROM assigned", day_sec=3600
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " ts_sec FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_correlogram(spark, sf_dir):
    """Moran spatial correlogram at Chebyshev lags 1-3 over the z8
    density grid — the autocorrelation-range diagnostic; morans_i is
    the k=1 row. Exact-integer contract per lag, one ring-vote explode
    for all lags."""
    from rio_cogeo_spark.operators.focal import correlogram

    return correlogram(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _correlogram_oracle() -> str:
    from rio_cogeo_spark.operators.focal import correlogram_sql

    inner = correlogram_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_emerging_hotspots(spark, sf_dir):
    """Space-time-cube trend scan: per-cell exact Mann-Kendall S over
    observed hourly buckets, top-50 by |S| — emerging vs declining
    crawl hot spots. collect_list pair expansion, distributed
    TakeOrdered."""
    from rio_cogeo_spark.operators.focal import emerging_hotspots

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "ts_sec"
    )
    return emerging_hotspots(pts, bucket_sec=900)


def _emerging_hotspots_oracle() -> str:
    from rio_cogeo_spark.operators.focal import emerging_hotspots_sql

    inner = emerging_hotspots_sql(
        "SELECT tile_x, tile_y, ts_sec FROM assigned", bucket_sec=900
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " ts_sec FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_rank_size(spark, sf_dir):
    """Zipf rank-size rule over the density surface: top-50 cells with
    rank, Zipf product, and exact top-cell share. Distributed
    TakeOrdered + bounded window."""
    from rio_cogeo_spark.operators.focal import rank_size

    return rank_size(base_tiles(_pages(spark, sf_dir), ZOOM))


def _rank_size_oracle() -> str:
    from rio_cogeo_spark.operators.focal import rank_size_sql

    inner = rank_size_sql(
        "SELECT tile_x, tile_y, page_count FROM base"
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_theil_h(spark, sf_dir):
    """Theil multigroup entropy segregation H over the z8 grid — exact
    floordiv of exact integer entropy sums (per-term-pinned nano-nat
    convention shared with cell_diversity); the multigroup complement
    of the pairwise dissimilarity index."""
    from rio_cogeo_spark.operators.report import theil_h

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    return theil_h(pts)


def _theil_h_oracle() -> str:
    from rio_cogeo_spark.operators.report import theil_h_sql

    inner = theil_h_sql(
        "SELECT tile_x, tile_y, lang FROM assigned"
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_clq(spark, sf_dir):
    """Leslie–Kronenfeld colocation quotient per ordered language pair
    over the majority-language cell pattern — nearest-neighbor-set
    colocation with all-ties inclusion, exact integers end to end; the
    cross-type complement of the G/F/J battery."""
    from pyspark.sql import Window as W

    from rio_cogeo_spark.operators.focal import colocation_quotient

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "lang"
    )
    counts = pts.groupBy("tile_x", "tile_y", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("tile_x", "tile_y").orderBy(
        F.col("cnt").desc(), F.col("lang").asc()
    )
    cells = (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("tile_x", "tile_y", "lang")
    )
    return colocation_quotient(cells, ZOOM)


def _clq_oracle() -> str:
    from rio_cogeo_spark.operators.focal import colocation_quotient_sql

    inner = colocation_quotient_sql(_CELL_LANG_SQL, ZOOM).split(
        "WITH ", 1
    )[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_syndication(spark, sf_dir):
    """Syndication geography: content fingerprints spanning ≥2 cells
    with exact bbox Chebyshev span (how far identical content travels);
    dup pages synthesized by mirroring the first 80 docs to (−lat,−lon)
    so cross-cell duplicates exist at every sf. Two-level fold +
    TakeOrdered."""
    from rio_cogeo_spark.operators.report import syndication

    pages = _pages(spark, sf_dir)
    dups = pages.filter(F.col("doc_id") < 80).withColumn(
        "lat", -F.col("lat")
    ).withColumn("lon", -F.col("lon"))
    allp = pages.unionByName(dups)
    pts = assign_tiles(allp, ZOOM).select(
        TX.fingerprint(F.col("text")).alias("fp"), "tile_x", "tile_y"
    )
    return syndication(pts)


def _syndication_oracle() -> str:
    from rio_cogeo_spark.operators.report import syndication_sql

    inner = syndication_sql(
        "SELECT fp, tile_x, tile_y FROM assigned"
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, allp AS (SELECT text, lat, lon FROM pages"
        " UNION ALL"
        " SELECT text, -lat AS lat, -lon AS lon FROM pages"
        " WHERE doc_id < 80)"
        f", assigned AS (SELECT {TX.FINGERPRINT_SQL} AS fp,"
        f" {_TX8} AS tile_x, {_TY8} AS tile_y FROM allp)"
    )
    return f"{assigned},\n{inner}"


def q_city_langs(spark, sf_dir):
    """Language profile per megacity: top-3 languages in each ±0.6°
    city box with exact share mil — broadcast 20-row city tag,
    cities×langs-bounded windows."""
    from rio_cogeo_spark.operators.report import city_langs

    pages = _pages(spark, sf_dir).select("lang", "lat", "lon")
    return city_langs(pages, _cities_df(spark))


def _city_langs_oracle() -> str:
    from rio_cogeo_spark.operators.report import city_langs_sql

    inner = city_langs_sql(
        "SELECT lang, lat, lon FROM pages", _CITIES_SQL
    ).split("WITH ", 1)[1]
    return f"{_P},\n{inner}"


def q_cross_moran(spark, sf_dir):
    """Bivariate cross-Moran's I between the English and Chinese page
    density surfaces on the z8 grid — does zh cluster where the en
    NEIGHBORHOOD is dense? Exact integer moments, the standardized
    index the one pinned double."""
    from rio_cogeo_spark.operators.focal import cross_moran

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM)
    base = pts.groupBy("tile_x", "tile_y").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long").alias("x_count"),
        F.sum(F.when(F.col("lang") == "zh", 1).otherwise(0))
        .cast("long").alias("y_count"),
    )
    return cross_moran(base, ZOOM)


def _cross_moran_oracle() -> str:
    from rio_cogeo_spark.operators.focal import cross_moran_sql

    inner = cross_moran_sql(
        "SELECT tile_x, tile_y, x_count, y_count FROM xy", ZOOM
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " lang FROM pages)"
        ", xy AS (SELECT tile_x, tile_y,"
        " CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)"
        " AS x_count,"
        " CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)"
        " AS y_count"
        " FROM assigned GROUP BY 1, 2)"
    )
    return f"{assigned},\n{inner}"


def q_cell_transitions(spark, sf_dir):
    """Space-time density-class Markov matrix over 15-min buckets —
    exact transition counts between power-of-two classes incl. the
    closed-form empty→empty row; vote-pair expansion, never a
    cells×buckets spine."""
    from rio_cogeo_spark.operators.focal import cell_transitions

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "ts_sec"
    )
    return cell_transitions(pts, bucket_sec=900)


def _cell_transitions_oracle() -> str:
    from rio_cogeo_spark.operators.focal import cell_transitions_sql

    inner = cell_transitions_sql(
        "SELECT tile_x, tile_y, ts_sec FROM assigned", bucket_sec=900
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " ts_sec FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_lang_spread(spark, sf_dir):
    """Geographic footprint per LANGUAGE — host_spread's two-level
    fold grouped by lang: exact cell counts + mean center, rms radius
    the one pinned double — which languages publish globally vs
    regionally (the dispersion companion of lang_range's bbox)."""
    from rio_cogeo_spark.operators.report import host_spread

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        F.col("lang").alias("host"), "tile_x", "tile_y"
    )
    return host_spread(pts, min_pages=1).withColumnRenamed("host", "lang")


def _lang_spread_oracle() -> str:
    from rio_cogeo_spark.operators.report import host_spread_sql

    inner = host_spread_sql(
        "SELECT host, tile_x, tile_y FROM assigned", min_pages=1
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT lang AS host,"
        f" {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages)"
    )
    body = f"{assigned},\n{inner}"
    # rename only the FINAL projection's host column (the hs_p CTE also
    # starts with "SELECT host," — anchor on the following CAST line)
    return body.replace(
        "SELECT host,\n       CAST(n_pages",
        "SELECT host AS lang,\n       CAST(n_pages",
        1,
    )


def q_moran_quadrants(spark, sf_dir):
    """Moran-scatterplot quadrant census (HH/HL/LH/LL) of the occupied
    z8 cells — exact integer cross-product comparisons against the
    full-grid means, zero-count quadrants kept via a 4-row spine; the
    categorical companion of local_moran."""
    from rio_cogeo_spark.operators.focal import moran_quadrants

    return moran_quadrants(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _moran_quadrants_oracle() -> str:
    from rio_cogeo_spark.operators.focal import moran_quadrants_sql

    inner = moran_quadrants_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_zoom_entropy(spark, sf_dir):
    """Batty spatial-entropy profile across the pyramid: per zoom, the
    pinned-term Shannon entropy of the cell-count distribution + the
    uniform ceiling — how concentration changes with scale."""
    from rio_cogeo_spark.operators.report import zoom_entropy

    tiles, _ = _pyramid(spark, sf_dir)
    return zoom_entropy(tiles)


def _zoom_entropy_oracle() -> str:
    from rio_cogeo_spark.operators.report import zoom_entropy_sql

    levels = "\nUNION ALL\n".join(
        _PYRAMID_LEVEL_SQL.format(z=ZOOM - j, d=2**j)
        for j in range(0, LEVELS + 1)
    )
    inner = zoom_entropy_sql(levels).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_cell_median(spark, sf_dir):
    """Exact per-CELL lower-median page length — the certified
    group_median machinery (value-frequency fold + cumulative window,
    never a corpus sort) keyed by the packed z8 cell id."""
    from rio_cogeo_spark.operators.report import group_median

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        (F.col("tile_x") * (1 << ZOOM) + F.col("tile_y"))
        .cast("long").alias("cell_id"),
        "n_chars",
    )
    return group_median(pts, group_col="cell_id")


def _cell_median_oracle() -> str:
    from rio_cogeo_spark.operators.report import group_median_sql

    inner = group_median_sql("assigned", group_col="cell_id").strip()
    assert inner.startswith("WITH ")
    assigned = (
        f"{_P}\n, assigned AS (SELECT"
        f" CAST(({_TX8}) * {1 << ZOOM} + ({_TY8}) AS BIGINT) AS cell_id,"
        " n_chars FROM pages)"
    )
    return f"{assigned},\n{inner[len('WITH '):]}"


def q_moran_chars(spark, sf_dir):
    """Moran's I of the TEXT-VOLUME surface (sum_chars band) — is
    verbose content spatially clustered independently of page count?
    Reuses the exact-integer morans_i machinery on the second band."""
    from rio_cogeo_spark.operators import focal

    return focal.morans_i(
        base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM,
        value_col="sum_chars",
    )


def _moran_chars_oracle() -> str:
    from rio_cogeo_spark.operators.focal import morans_i_sql

    # morans_i_sql binds relation base(page_count); rebind the value
    # column to the sum_chars band behind a renaming CTE
    rebased = _BASE_CTE.replace(
        "base AS (SELECT tile_x, tile_y, COUNT(*) AS page_count,",
        "base0 AS (SELECT tile_x, tile_y, COUNT(*) AS page_count,",
        1,
    ) + (",\nbase AS (SELECT tile_x, tile_y,"
         " sum_chars AS page_count FROM base0)")
    return morans_i_sql(rebased, ZOOM)


def q_compactness(spark, sf_dir):
    """Isoperimetric compactness of the occupied z8 footprint — exact
    perimeter (4N − 2·rook pairs, canonical-direction votes) + pinned
    isoperimetric quotient; disc → 1e6, filaments → 0."""
    from rio_cogeo_spark.operators.focal import compactness

    return compactness(base_tiles(_pages(spark, sf_dir), ZOOM))


def _compactness_oracle() -> str:
    from rio_cogeo_spark.operators.focal import compactness_sql

    inner = compactness_sql(
        "SELECT tile_x, tile_y FROM base"
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_diurnal(spark, sf_dir):
    """Diurnal periodicity scan: per-cell EXACT chi-square of the
    hour-of-day histogram vs uniform (absent hours closed-form, no
    spine), top-50 by chi2 — crawl-scheduler artifacts and regional
    office-hours."""
    from rio_cogeo_spark.operators.focal import diurnal

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y", "ts_sec"
    )
    return diurnal(pts)


def _diurnal_oracle() -> str:
    from rio_cogeo_spark.operators.focal import diurnal_sql

    inner = diurnal_sql(
        "SELECT tile_x, tile_y, ts_sec FROM assigned"
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x, {_TY8} AS tile_y,"
        " ts_sec FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_gini_time(spark, sf_dir):
    """Gini coefficient of TEMPORAL crawl concentration — the certified
    exact-Lorenz machinery over per-15-min-bucket page counts (the
    time-axis sibling of gini_cells)."""
    from rio_cogeo_spark.operators.focal import gini_concentration

    buckets = _pages(spark, sf_dir).groupBy(
        F.expr("CAST(ts_sec AS LONG) div 900").alias("bkt")
    ).agg(F.count(F.lit(1)).cast("long").alias("page_count"))
    return gini_concentration(buckets)


def _gini_time_oracle() -> str:
    from rio_cogeo_spark.operators.focal import gini_concentration_sql

    inner = gini_concentration_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS v FROM pages"
        " GROUP BY CAST(ts_sec AS BIGINT) // 900"
    ).split("WITH ", 1)[1]
    return f"{_P},\n{inner}"


_TOKYO = (35.6895, 139.6917)


def q_geo_ann(spark, sf_dir):
    """Spatially filtered ANN: exact cosine top-10 among embeddings
    whose page geotag falls in the Tokyo ±0.6° box — the filter
    prunes the candidate set BEFORE any distance math (the
    cell-prefilter pattern of the north_star applied to vector
    search); queries are the region's vec_id < 4 members."""
    lat, lon = _TOKYO
    region = _pages(spark, sf_dir).filter(
        (F.col("lat") >= lat - 0.6) & (F.col("lat") <= lat + 0.6)
        & (F.col("lon") >= lon - 0.6) & (F.col("lon") <= lon + 0.6)
    ).select(F.col("doc_id").alias("vec_id"))
    emb_r = _embeddings(spark, sf_dir).join(region, "vec_id").select(
        "vec_id", "embedding"
    )
    queries = emb_r.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return SIM.ann_bruteforce_topk(emb_r, queries, k=10)


def _geo_ann_oracle() -> str:
    lat, lon = _TOKYO
    box = (
        f"lat >= CAST({lat} AS DOUBLE) - CAST(0.6 AS DOUBLE)"
        f" AND lat <= CAST({lat} AS DOUBLE) + CAST(0.6 AS DOUBLE)"
        f" AND lon >= CAST({lon} AS DOUBLE) - CAST(0.6 AS DOUBLE)"
        f" AND lon <= CAST({lon} AS DOUBLE) + CAST(0.6 AS DOUBLE)"
    )
    return f"""{_P}
, region AS (SELECT doc_id AS vec_id FROM pages WHERE {box}),
ge AS (SELECT e.vec_id,
              list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
       FROM embeddings e JOIN region r ON r.vec_id = e.vec_id),
gq AS (SELECT vec_id AS query_id, v FROM ge WHERE vec_id < 4),
gd AS (SELECT q.query_id, a.vec_id,
              {VEC.cosine_sql("a.v", "q.v")} AS cos
       FROM ge a CROSS JOIN gq q WHERE a.vec_id <> q.query_id)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, vec_id ASC) AS INT) AS rank,
       cos
FROM gd QUALIFY rank <= 10"""


def q_cap_per_cell(spark, sf_dir):
    """Geographic diversity cap — at most 3 pages per z8 cell, selected
    by deterministic hash rank (balanced spatial sampling for training
    data; a megacity's pages mustn't dominate a corpus draw). The
    certified skew-safe two-phase cap_per_group machinery keyed by
    cell."""
    from rio_cogeo_spark.operators.sampling import cap_per_group

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "doc_id", "tile_x", "tile_y"
    )
    return cap_per_group(pts, ["tile_x", "tile_y"], 3)


def _cap_per_cell_oracle() -> str:
    from rio_cogeo_spark.operators.sampling import cap_per_group_sql

    inner = cap_per_group_sql(
        "assigned", ["tile_x", "tile_y"], 3,
        select="doc_id, tile_x, tile_y",
    ).strip()
    assigned = (
        f"{_P}\n, assigned AS (SELECT doc_id, {_TX8} AS tile_x,"
        f" {_TY8} AS tile_y FROM pages)"
    )
    return f"{assigned}\n{inner}"


_MORAN_LANGS = ("en", "zh", "es", "de", "fr")


def q_moran_by_lang(spark, sf_dir):
    """Comparative clustering: Moran's I of each language's OWN density
    surface (exact-integer machinery per branch, lang-bounded union of
    one-row results) — which languages cluster hardest."""
    from rio_cogeo_spark.operators import focal

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM)
    parts = []
    for lg in _MORAN_LANGS:
        base = (
            pts.filter(F.col("lang") == lg)
            .groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).cast("long").alias("page_count"))
        )
        parts.append(
            focal.morans_i(base, ZOOM).select(
                F.lit(lg).alias("lang"), "s", "q", "c", "b", "i_mil"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _moran_by_lang_oracle() -> str:
    from rio_cogeo_spark.operators.focal import morans_i_sql

    branches = []
    for lg in _MORAN_LANGS:
        base_cte = (
            f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x,"
            f" {_TY8} AS tile_y FROM pages WHERE lang = '{lg}'),\n"
            "base AS (SELECT tile_x, tile_y,"
            " CAST(COUNT(*) AS BIGINT) AS page_count"
            " FROM assigned GROUP BY 1, 2)"
        )
        branches.append(
            f"SELECT '{lg}' AS lang, s, q, c, b, i_mil FROM ("
            + morans_i_sql(base_cte, ZOOM) + ")"
        )
    return "\nUNION ALL\n".join(branches)


def q_link_distance(spark, sf_dir):
    """Geographic reach of the link graph: Chebyshev distance between
    the two endpoints' MODAL cells for every host edge, folded to
    exact power-of-two distance buckets — do sites link locally or
    globally? Modal cells via one window on the hosts×cells-bounded
    table, endpoints broadcast onto the edges."""
    from pyspark.sql import Window as W

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    edges = spark.sql(_PR_EDGES)
    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).selectExpr(
        "doc_id % 97 AS h", "tile_x", "tile_y"
    )
    counts = pts.groupBy("h", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("h").orderBy(
        F.col("cnt").desc(), F.col("tile_x").asc(), F.col("tile_y").asc()
    )
    modal = (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("h", "tile_x", "tile_y")
    )
    ma = modal.selectExpr("h AS src", "tile_x AS ax", "tile_y AS ay")
    mb = modal.selectExpr("h AS dst", "tile_x AS bx", "tile_y AS by")
    return (
        edges.join(F.broadcast(ma), "src")
        .join(F.broadcast(mb), "dst")
        .selectExpr(
            "GREATEST(ABS(ax - bx), ABS(ay - by)) AS d"
        )
        .selectExpr(
            "CASE WHEN d = 0 THEN 'same' WHEN d <= 2 THEN 'near'"
            " WHEN d <= 8 THEN 'regional' WHEN d <= 32 THEN 'continental'"
            " ELSE 'global' END AS bucket",
            "d",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.min("d").cast("long").alias("min_d"),
            F.max("d").cast("long").alias("max_d"),
        )
    )


def _link_distance_oracle() -> str:
    return f"""{_P}
, ld_e AS ({_PR_EDGES}),
ld_p AS (SELECT doc_id % 97 AS h, {_TX8} AS tile_x, {_TY8} AS tile_y
         FROM pages),
ld_c AS (SELECT h, tile_x, tile_y, COUNT(*) AS cnt
         FROM ld_p GROUP BY 1, 2, 3),
ld_m AS (SELECT h, tile_x, tile_y FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY h
                ORDER BY cnt DESC, tile_x ASC, tile_y ASC) AS _rk
           FROM ld_c) WHERE _rk = 1),
ld_d AS (SELECT GREATEST(ABS(a.tile_x - b.tile_x),
                         ABS(a.tile_y - b.tile_y)) AS d
         FROM ld_e e
         JOIN ld_m a ON a.h = e.src
         JOIN ld_m b ON b.h = e.dst)
SELECT CASE WHEN d = 0 THEN 'same' WHEN d <= 2 THEN 'near'
            WHEN d <= 8 THEN 'regional' WHEN d <= 32 THEN 'continental'
            ELSE 'global' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(MIN(d) AS BIGINT) AS min_d,
       CAST(MAX(d) AS BIGINT) AS max_d
FROM ld_d GROUP BY 1"""


def _city_cells() -> "list[tuple[str, int, int]]":
    """Megacity centers as z8 cells — same grid.tile_index math the
    engine's tile assignment uses, computed once on the driver."""
    return [
        (name, *grid.tile_index(lon, lat, ZOOM))
        for _, name, lat, lon in MEGACITIES
    ]


def q_urban_gradient(spark, sf_dir):
    """Core–periphery curve: exact page counts by Chebyshev cell
    distance to the nearest megacity center — how fast crawl density
    decays away from the cores; 20-center literal spine, nearest
    reduction per DISTINCT cell."""
    from rio_cogeo_spark.operators.report import urban_gradient

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y"
    )
    return urban_gradient(pts, _city_cells())


def _urban_gradient_oracle() -> str:
    from rio_cogeo_spark.operators.report import urban_gradient_sql

    inner = urban_gradient_sql(
        "SELECT tile_x, tile_y FROM assigned", _city_cells()
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x,"
        f" {_TY8} AS tile_y FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_city_catchment(spark, sf_dir):
    """Chebyshev-Voronoi catchments: per megacity, the exact page and
    cell counts of the region it is nearest to (min(struct(d, idx))
    argmin — total and deterministic)."""
    from rio_cogeo_spark.operators.report import city_catchment

    pts = assign_tiles(_pages(spark, sf_dir), ZOOM).select(
        "tile_x", "tile_y"
    )
    return city_catchment(pts, _city_cells())


def _city_catchment_oracle() -> str:
    from rio_cogeo_spark.operators.report import city_catchment_sql

    inner = city_catchment_sql(
        "SELECT tile_x, tile_y FROM assigned", _city_cells()
    ).split("WITH ", 1)[1]
    assigned = (
        f"{_P}\n, assigned AS (SELECT {_TX8} AS tile_x,"
        f" {_TY8} AS tile_y FROM pages)"
    )
    return f"{assigned},\n{inner}"


def q_zonal_trend(spark, sf_dir):
    """Per-admin-area crawl trend: the PIP broadcast join assigns
    pages to areas, then the exact Mann-Kendall S machinery (keyed by
    area instead of cell) ranks areas by |trend| over 15-min buckets
    — the zonal × space-time fusion query."""
    from rio_cogeo_spark.operators.focal import emerging_hotspots

    hits = J.point_in_polygon(
        _pages(spark, sf_dir), J.build_admin_areas()
    ).selectExpr(
        # admin ids are 'A000'-style; the numeric suffix keys the trend
        "CAST(SUBSTR(admin_id, 2) AS LONG) AS tile_x",
        "CAST(0 AS LONG) AS tile_y",
        "ts_sec",
    )
    out = emerging_hotspots(hits, bucket_sec=900)
    return out.selectExpr(
        "tile_x AS admin_num", "n_buckets", "s_stat", "trend"
    )


def _zonal_trend_oracle() -> str:
    from rio_cogeo_spark.operators.focal import emerging_hotspots_sql

    inner = emerging_hotspots_sql(
        "SELECT CAST(SUBSTR(a.admin_id, 2) AS BIGINT) AS tile_x,"
        " CAST(0 AS BIGINT) AS tile_y, p.ts_sec"
        f" FROM pages p JOIN admin a ON {_PIP_COND}",
        bucket_sec=900,
    )
    return (f"{_P}{_ADMIN_CTE}\n"
            "SELECT tile_x AS admin_num, n_buckets, s_stat, trend"
            f" FROM ({inner})")


def q_flow_dir(spark, sf_dir):
    """D8 flow-direction census of the z8 density surface — the
    hydrology member of the gdaldem family: per compass direction the
    count of cells whose steepest descent points there, plus sinks;
    exact integer drops, E→NE priority tie-break."""
    from rio_cogeo_spark.operators.focal import flow_dir

    return flow_dir(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _flow_dir_oracle() -> str:
    from rio_cogeo_spark.operators.focal import flow_dir_sql

    inner = flow_dir_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_quality_geo(spark, sf_dir):
    """Per-admin-area Gopher-gate pass rate: the six-rule quality mask
    joined through the PIP broadcast assignment — exact pass counts
    and rate mil per area (where does low-quality text concentrate
    geographically?)."""
    from rio_cogeo_spark.functions.text import gopher_gate

    gg = gopher_gate(F.col("text"))
    hits = J.point_in_polygon(
        _pages(spark, sf_dir), J.build_admin_areas()
    ).select(
        "admin_id",
        (gg["gopher_mask"] == 0).cast("long").alias("ok"),
    )
    return hits.groupBy("admin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum("ok").cast("long").alias("n_pass"),
    ).selectExpr(
        "admin_id", "n_pages", "n_pass",
        "CAST((n_pass * 1000000) div n_pages AS BIGINT) AS pass_mil",
    )


def _quality_geo_oracle() -> str:
    from rio_cogeo_spark.functions.text import gopher_gate_sql

    gp = gopher_gate_sql()["gopher_pass"]
    return f"""{_P}{_ADMIN_CTE}
, qg AS (SELECT a.admin_id,
                CASE WHEN {gp} THEN 1 ELSE 0 END AS ok
         FROM pages p JOIN admin a ON {_PIP_COND})
SELECT admin_id,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(SUM(ok) AS BIGINT) AS n_pass,
       CAST((SUM(ok) * 1000000) // COUNT(*) AS BIGINT) AS pass_mil
FROM qg GROUP BY 1"""


def q_geo_corpus(spark, sf_dir):
    """SECOND flagship composition — the geographically balanced
    training corpus: exact dedup (keep-first) → Gopher quality gate →
    per-cell diversity cap (≤3 pages/cell by hash rank) →
    deterministic train/val/test split, reported per (split, lang)
    with exact doc/cell/char counts. Every stage is an
    already-certified operator; the value here is the ONE fused plan
    (dedup window → codegen gate → two-phase cap → hash split → one
    fold) with no intermediate materialization."""
    from rio_cogeo_spark.functions.text import gopher_gate
    from rio_cogeo_spark.operators.sampling import cap_per_group, split_assign

    pages = _pages(spark, sf_dir)
    dd = DD.exact_dedup(pages)
    gg = gopher_gate(F.col("text"))
    clean = dd.filter(gg["gopher_mask"] == 0)
    tiled = assign_tiles(clean, ZOOM)
    capped = cap_per_group(tiled, ["tile_x", "tile_y"], 3)
    split = split_assign(capped)
    return (
        split.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("tile_x", "tile_y").cast("long")
            .alias("n_cells"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


def _geo_corpus_oracle() -> str:
    from rio_cogeo_spark.operators.sampling import (
        cap_per_group_sql,
        split_assign_sql,
    )

    from rio_cogeo_spark.functions.text import gopher_gate_sql

    fp = TX.FINGERPRINT_SQL
    gp = gopher_gate_sql()["gopher_pass"]
    cap = cap_per_group_sql(
        "gc_t", ["tile_x", "tile_y"], 3,
        select="doc_id, lang, n_chars, tile_x, tile_y",
    ).strip()
    return f"""{_P}
, gc_d AS (SELECT * FROM (
    SELECT p.*, ROW_NUMBER() OVER (PARTITION BY {fp}
                                   ORDER BY doc_id) AS _dr
    FROM pages p) WHERE _dr = 1),
gc_g AS (SELECT * FROM gc_d
         WHERE {gp}),
gc_t AS (SELECT doc_id, lang, n_chars,
                {_TX8} AS tile_x, {_TY8} AS tile_y
         FROM gc_g),
gc_c AS ({cap}),
gc_s AS (SELECT *, {split_assign_sql('doc_id')} AS split FROM gc_c)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT (tile_x, tile_y)) AS BIGINT) AS n_cells,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM gc_s GROUP BY 1, 2"""


def q_lacunarity(spark, sf_dir):
    """Multi-scale lacunarity profile of the z8 density surface —
    Λ(r) per grid-aligned box size 1/2/4, absent boxes via closed-form
    counts; the texture/gappiness gauge separating megacity clumping
    from uniform cover. FULLY exact."""
    from rio_cogeo_spark.operators.focal import lacunarity

    return lacunarity(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _lacunarity_oracle() -> str:
    from rio_cogeo_spark.operators.focal import lacunarity_sql

    inner = lacunarity_sql(
        "SELECT tile_x, tile_y, page_count FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def q_pair_correlation(spark, sf_dir):
    """Pair-correlation function g(k) of the occupied z8 cells — the
    ring-wise derivative of Ripley's K: exact observed/CSR pair ratio
    per Chebyshev distance with closed-form grid denominators."""
    from rio_cogeo_spark.operators.focal import pair_correlation

    return pair_correlation(base_tiles(_pages(spark, sf_dir), ZOOM), ZOOM)


def _pair_correlation_oracle() -> str:
    from rio_cogeo_spark.operators.focal import pair_correlation_sql

    inner = pair_correlation_sql(
        "SELECT tile_x, tile_y FROM base", ZOOM
    ).split("WITH ", 1)[1]
    return f"{_BASE_CTE},\n{inner}"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # FINAL fifth-continuation rotation (ROUND5.md §113): the 12 most
    # twin-intricate new ops (footprint's nested polygonize unroll, idw,
    # kruskal/slope/tindex pinned-float contracts, cusum, curvature,
    # hilbert's 8-round CTE chain, equalize, mosaic, boxplot, mojibake)
    # moved into the first-50 window; displaced to the tail — all still
    # check_oracle-covered — were simple-twin veterans robots, redirects,
    # search_phrase, median_chars, corpus_info, budget, host_distance,
    # lexical_pairs, recip_links, split_safe, mirror_docs, keywords
    # (keywords' tf-idf machinery stays in-window via search_bm25).
    # Registry order is the driver's certification order, and its
    # CORRECTNESS file covers the FIRST 50 entries. Round-5 rotation
    # (ROUND5.md): the 8 round-3/4 operators previously parked at
    # positions 51-58 (temperature_mix, pii_scrub, zorder,
    # repeated_spans, passage_cut, pyramid_crs84, tile_counts_avg,
    # chunks_sliding) now sit inside the first 50, as do the new
    # ann_ivf_free and dedup_incremental; the displaced veterans
    # (lang_pivot, rollup, url_hosts, sample_split, top_per_lang,
    # token_stats, quality_percentiles, tile_rollup, sample_stratified,
    # pack_chunks — all driver-certified hash-exact in rounds 2-4)
    # moved to the tail and stay covered by scripts/check_oracle.py.
    # Late-round-5 additions pagerank/keywords displaced dedup_exact and
    # ngram_jaccard (both r04-driver-certified) to the tail likewise;
    # lm_score/lexdiv/vocab_stats displaced tile_counts, zonal_stats and
    # raster_overview (driver-certified r1-r4; tile_counts' agg is also
    # still exercised inside pyramid, zonal_stats/raster_overview keep
    # their pytest + check_oracle coverage); collocations/ccnet_buckets
    # displaced knn_exact and containment (driver-certified r2-r4;
    # knn's machinery stays in-window via pip_join, and both keep
    # pytest + check_oracle coverage at the tail); pair_verify and
    # dsir_weights displaced minhash_lsh and dedup_components
    # (driver-certified r2-r4, still check_oracle-covered, and their
    # machinery stays in-window via pair_verify's candidate stage and
    # dedup_keep_best's component resolution); embed_pool displaced
    # tile_assign (driver-certified r1-r4; the same tile math runs
    # in-window inside pyramid and zorder); corpus_info/median_chars/
    # host_distance displaced pages_extract, validate and clean_corpus
    # (driver-certified r1-r4 every round; all three stay
    # check_oracle-covered at the tail, and validate also keeps its
    # bad-structure pytest suite); recip_links displaced pip_join
    # (driver-certified r1-r4, measured in every scaling session, and
    # check_oracle-covered at the tail). Final-session rotation: the
    # new focal-suite flagships compact/hotspots/morton_range (iterative
    # quadtree compaction, Getis-Ord Gi*, Z-order range-decomposition
    # covering contract) displaced trending/cube/quality_cut — standard
    # SQL machinery (windowed counts, grouping sets, quantile
    # thresholds) that stays represented in-window via collocations,
    # corpus_info and ccnet_buckets, all three check_oracle-covered at
    # the tail alongside tile_focal (the focal sum/mean variant whose
    # machinery hotspots subsumes). pyramid_update (incremental pyramid
    # maintenance — merge(pyr(old), pyr(delta)) == pyr(all), oracle =
    # the full-recompute SQL) displaced url_latest, whose keep-latest
    # window machinery stays in-window via dedup_keep_best; viewport
    # (LOD deepest-ancestor assembly over the compacted cover) displaced
    # snapshot_delta, whose two-snapshot diff machinery stays in-window
    # via snapshot_para_diff; pyramid_stream (streaming==batch pyramid
    # certified against the full-recompute SQL) displaced
    # paragraph_dedup (exact-dedup machinery in-window via
    # dedup_incremental/winnow/bloom_prefilter/pair_verify); ann_int8
    # (symmetric absmax quantization, exact-integer dot contract)
    # displaced crawl_priority, whose composition crawl_plan — a strict
    # superset of its machinery — remains in-window. Continuation-
    # session rotation: triangles/kcore (degree-ordered triangle
    # counting + the fourth iterative oracle-paired op), hard_negatives
    # (component-aware contrastive negative mining), zonal_mode (zonal
    # majority) and ann_pq (exact-integer product quantization)
    # displaced ann_ivf (r4-DRIVER-certified; IVF machinery stays
    # in-window via ann_ivf_free, a strict superset path), pii_scrub,
    # lexdiv, vocab_stats and passage_cut (single-projection /
    # simple-rollup ops whose families stay in-window via
    # repeated_spans, lm_score and rarity_score) — all five displaced
    # queries keep scripts/check_oracle.py coverage at the tail.
    # Second continuation rotation: hillshade (trig-free Lambertian
    # shading pinned to exact ints) and tile_density (exp-pinned
    # true-area correction) displaced zorder (morton machinery stays
    # in-window via morton_range, which exercises the same key
    # functions) and rarity_score (the LM quality family stays
    # in-window via lm_score) — both displaced queries r4-judge- and
    # check_oracle-certified, still covered at the tail.
    q = {
        "pagerank": q_pagerank,
        "footprint": q_footprint,
        "dedup_incremental": q_dedup_incremental,
        "pyramid_update": q_pyramid_update,
        "snapshot_para_diff": q_snapshot_para_diff,
        "idw": q_idw,
        "viewport": q_viewport,
        "ann_int8": q_ann_int8,
        "pyramid_stream": q_pyramid_stream,
        "crawl_plan": q_crawl_plan,
        "winnow": q_winnow,
        "bloom_prefilter": q_bloom_prefilter,
        "boilerplate_cut": q_boilerplate_cut,
        "hits": q_hits,
        "semantic_dedup": q_semantic_dedup,
        "kruskal": q_kruskal,
        "ann_pq": q_ann_pq,
        "ann_ivf_free": q_ann_ivf_free,
        "lm_score": q_lm_score,
        "kcore": q_kcore,
        "zonal_mode": q_zonal_mode,
        "collocations": q_collocations,
        "ccnet_buckets": q_ccnet_buckets,
        "pair_verify": q_pair_verify,
        "dsir_weights": q_dsir,
        "embed_pool": q_embed_pool,
        "cusum": q_cusum,
        "curvature": q_curvature,
        "hilbert": q_hilbert,
        "slope": q_slope,
        "tindex": q_tindex,
        "temperature_mix": q_temperature_mix,
        "triangles": q_triangles,
        "hillshade": q_hillshade,
        "repeated_spans": q_repeated_spans,
        "hard_negatives": q_hard_negatives,
        "equalize": q_equalize,
        "tile_density": q_tile_density,
        "mosaic": q_mosaic,
        "bpe_merges": q_bpe_merges,
        "boxplot": q_boxplot,
        "compact": q_tile_compact,
        "hotspots": q_hotspots,
        "morton_range": q_morton_range,
        "pyramid_crs84": q_pyramid_crs84,
        "dedup_keep_best": q_dedup_keep_best,
        "mojibake": q_mojibake,
        "tile_counts_avg": q_tile_counts_avg,
        "search_bm25": q_search_bm25,
        "chunks_sliding": q_chunks_sliding,
        "novelty": q_novelty,
        "gopher": q_gopher,
        "quartiles": q_quartiles,
        "gate_rates": q_gate_rates,
        "frontier": q_frontier,
        "trustrank": q_trustrank,
        "overlap": q_overlap,
        "bitext": q_bitext,
        "script_mix": q_script_mix,
        "anchors": q_anchors,
        "meta_tags": q_meta_tags,
        "meta_robots": q_meta_robots,
        "hreflang": q_hreflang,
        "host_langs": q_host_langs,
        "host_trend": q_host_trend,
        "host_gate": q_host_gate,
        "sitemap_new": q_sitemap_new,
        "winnow_incremental": q_winnow_incremental,
        "tile_focal": q_tile_focal,
        "quadkey": q_quadkey,
        "pyramid_diff": q_pyramid_diff,
        "tile_serve": q_tile_serve,
        "paragraph_dedup": q_paragraph_dedup,
        "crawl_priority": q_crawl_priority,
        "snapshot_delta": q_snapshot_delta,
        "url_latest": q_url_latest,
        "trending": q_trending,
        "cube": q_cube,
        "quality_cut": q_quality_cut,
        "pyramid": q_pyramid,
        "pip_join": q_pip_join,
        "pages_extract": q_pages_extract,
        "validate": q_validate,
        "clean_corpus": q_clean_corpus,
        "tile_counts": q_tile_counts,
        "zonal_stats": q_zonal_stats,
        "raster_overview": q_raster_overview,
        "knn_exact": q_knn_exact,
        "containment": q_containment,
        "minhash_lsh": q_minhash_lsh,
        "dedup_components": q_dedup_components,
        "tile_assign": q_tile_assign,
        "lang_pivot": q_lang_pivot,
        "rollup": q_rollup,
        "url_hosts": q_url_hosts,
        "sample_split": q_sample_split,
        "top_per_lang": q_top_per_lang,
        "token_stats": q_token_stats,
        "quality_percentiles": q_quality_percentiles,
        "tile_rollup": q_tile_rollup,
        "sample_stratified": q_sample_stratified,
        "pack_chunks": q_pack_chunks,
        "contamination": q_contamination,
        "search": q_search,
        "chunks": q_chunks,
        "fingerprint": q_fingerprint,
        "lang_id": q_lang_id,
        "events_hourly": q_events_hourly,
        "token_stats_bpe": q_token_stats_bpe,
        "quality": q_quality,
        "repetition": q_repetition,
        "media_frames": q_media_frames,
        "media_features": q_media_features,
        "tile_distinct": q_tile_distinct,
        "knn_brute": q_knn_brute,
        "pip_anti": q_pip_anti,
        "raster_tiles": q_raster_tiles,
        "knn_kring": q_knn_kring,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "sessionize": q_sessionize,
        "pyramid_web": q_pyramid_web,
        "pip_semi": q_pip_semi,
        "tiles_meta": q_tiles_meta,
        "embed_neardup": q_embed_neardup,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash_pairs": q_simhash_pairs,
        "ann_topk": q_ann_topk,
        "domain_filter": q_domain_filter,
        "path_filter": q_path_filter,
        "readability": q_readability,
        "badwords": q_badwords,
        "url_canonical": q_url_canonical,
        "normalize_text": q_normalize_text,
        "lang_mix": q_lang_mix,
        "host_cap": q_host_cap,
        "ann_ivf": q_ann_ivf,
        "pii_scrub": q_pii_scrub,
        "lexdiv": q_lexdiv,
        "vocab_stats": q_vocab_stats,
        "passage_cut": q_passage_cut,
        "focal_mode": q_focal_mode,
        "curriculum": q_curriculum,
        "jaccard_curve": q_jaccard_curve,
        "continuation": q_continuation,
        "crosstab": q_crosstab,
        "embed_drift": q_embed_drift,
        "mirror_hosts": q_mirror_hosts,
        "zorder": q_zorder,
        "rarity_score": q_rarity_score,
        "lang_eval": q_lang_eval,
        "ann_ivfpq": q_ann_ivfpq,
        "rle": q_rle,
        "nearest_zone": q_nearest_zone,
        "profile": q_profile,
        "data_checks": q_data_checks,
        "volume_anomaly": q_volume_anomaly,
        "kappa": q_kappa,
        "gini": q_gini,
        "chi2": q_chi2,
        "zipf": q_zipf,
        "ks": q_ks,
        "moran": q_moran,
        "term_shift": q_term_shift,
        "heaps": q_heaps,
        "entropy": q_entropy,
        "aspect": q_aspect,
        "contour": q_contour,
        "d8": q_d8,
        "flow_acc": q_flow_acc,
        "geohash": q_geohash,
        "jl_project": q_jl_project,
        "terrain": q_terrain,
        "viewshed": q_viewshed,
        "proximity": q_proximity,
        "sieve": q_sieve,
        "benford": q_benford,
        "mannwhitney": q_mannwhitney,
        "geary": q_geary,
        "lisa": q_lisa,
        "fillnodata": q_fillnodata,
        "polygonize": q_polygonize,
        "spearman": q_spearman,
        "acf": q_acf,
        "raster_hist": q_raster_hist,
        "scale_bytes": q_scale_bytes,
        "locationinfo": q_locationinfo,
        "color_relief": q_color_relief,
        "clip": q_clip,
        "upsample": q_upsample,
        "raster_calc": q_raster_calc,
        "raster_compare": q_raster_compare,
        "robots": q_robots,
        "redirects": q_redirects,
        "search_phrase": q_search_phrase,
        "median_chars": q_median_chars,
        "corpus_info": q_corpus_info,
        "budget": q_budget,
        "host_distance": q_host_distance,
        "lexical_pairs": q_lexical_pairs,
        "recip_links": q_recip_links,
        "split_safe": q_split_safe,
        "mirror_docs": q_mirror_docs,
        "keywords": q_keywords,
        "variogram": q_variogram,
        "join_counts": q_join_counts,
        "kendall": q_kendall,
        "theilsen": q_theilsen,
        "mann_kendall": q_mann_kendall,
        "transitions": q_transitions,
        "assortativity": q_assortativity,
        "terrain_idx": q_terrain_idx,
        "knox": q_knox,
        "centrography": q_centrography,
        "nn_idx": q_nn_idx,
        "burstiness": q_burstiness,
        "vocab_overlap": q_vocab_overlap,
        "ripley": q_ripley,
        "cocitation": q_cocitation,
        "term_geo": q_term_geo,
        "quadrat": q_quadrat,
        "general_g": q_general_g,
        "gini_cells": q_gini_cells,
        "cell_diversity": q_cell_diversity,
        "hapax": q_hapax,
        "scan": q_scan,
        "lang_mixing": q_lang_mixing,
        "regional_terms": q_regional_terms,
        "g_function": q_g_function,
        "lang_adjacency": q_lang_adjacency,
        "sd_ellipse": q_sd_ellipse,
        "f_function": q_f_function,
        "dissimilarity": q_dissimilarity,
        "j_function": q_j_function,
        "location_quotient": q_location_quotient,
        "exposure": q_exposure,
        "host_spread": q_host_spread,
        "morisita": q_morisita,
        "lang_range": q_lang_range,
        "cell_novelty": q_cell_novelty,
        "correlogram": q_correlogram,
        "emerging_hotspots": q_emerging_hotspots,
        "rank_size": q_rank_size,
        "theil_h": q_theil_h,
        "clq": q_clq,
        "syndication": q_syndication,
        "city_langs": q_city_langs,
        "cross_moran": q_cross_moran,
        "cell_transitions": q_cell_transitions,
        "lang_spread": q_lang_spread,
        "moran_quadrants": q_moran_quadrants,
        "zoom_entropy": q_zoom_entropy,
        "cell_median": q_cell_median,
        "moran_chars": q_moran_chars,
        "compactness": q_compactness,
        "diurnal": q_diurnal,
        "gini_time": q_gini_time,
        "geo_ann": q_geo_ann,
        "cap_per_cell": q_cap_per_cell,
        "moran_by_lang": q_moran_by_lang,
        "link_distance": q_link_distance,
        "urban_gradient": q_urban_gradient,
        "city_catchment": q_city_catchment,
        "zonal_trend": q_zonal_trend,
        "flow_dir": q_flow_dir,
        "quality_geo": q_quality_geo,
        "geo_corpus": q_geo_corpus,
        "lacunarity": q_lacunarity,
        "pair_correlation": q_pair_correlation,
    }
    # EIGHTH-continuation rotation (ROUND5.md §139): the 12 most
    # twin-intricate operators of this session move into the driver's
    # first-50 certification window; the displaced veterans (all
    # driver-certified in earlier rounds, all still covered by
    # scripts/check_oracle.py at the tail) move to the end in order.
    rotate_in = [
        "correlogram", "theil_h", "clq", "cross_moran",
        "cell_transitions", "j_function", "exposure", "dissimilarity",
        "morisita", "sd_ellipse", "moran_quadrants", "diurnal",
    ]
    displace = [
        "viewport", "crawl_plan", "bloom_prefilter", "boilerplate_cut",
        "zonal_mode", "tile_density", "compact", "morton_range",
        "dedup_keep_best", "hard_negatives", "snapshot_para_diff",
        "ann_int8",
    ]
    incoming = iter(rotate_in)
    order = []
    for k in q:
        if k in rotate_in:
            continue
        if k in displace:
            order.append(next(incoming))
        else:
            order.append(k)
    order.extend(displace)
    assert next(incoming, None) is None and len(order) == len(q)
    return {k: q[k] for k in order}


def q_pyramid_crs84(spark, sf_dir):
    """Pyramid over the geographic WorldCRS84Quad TMS (round-4 custom-TMS
    surface; reference cog_translate(tms=...), cogeo.py:86)."""
    from rio_cogeo_spark.grid import WORLD_CRS84_QUAD

    tiles, _ = cog_translate(
        _pages(spark, sf_dir), max_zoom=6, overview_level=2,
        tms=WORLD_CRS84_QUAD,
    )
    return tiles


def q_tile_counts_avg(spark, sf_dir):
    """Base tiles under the warp 'average' kernel (round-4 --resampling
    surface; reference WarpResampling, cogeo.py:60-72)."""
    from rio_cogeo_spark.operators.translate import warp_bands

    return base_tiles(
        _pages(spark, sf_dir), ZOOM, warp_bands("average")
    ).select(
        "zoom", "tile_x", "tile_y", "page_count",
        F.round("avg_chars", 6).alias("avg_chars"), "max_doc_id",
    )


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB side)
# ---------------------------------------------------------------------------

_P = pages_cte("VARCHAR")
from rio_cogeo_spark.operators.urlfilter import DOMAIN_SUFFIXES_SQL as _DOMAIN_SFX  # noqa: E402
_MD5_60_DOCID = TX.MD5_60_SQL.format(c="CAST(doc_id AS VARCHAR)")
_SNAPSHOT_DELTA_SQL = f"""{_P}
, re1 AS (SELECT doc_id + 1000000 AS doc_id, url,
                 ts_sec + 10000000 AS ts_sec, text
          FROM pages WHERE doc_id < 150),
re2 AS (SELECT doc_id + 2000000 AS doc_id, url,
               ts_sec + 20000000 AS ts_sec,
               text || ' updated edition' AS text
        FROM pages WHERE doc_id < 100),
allp AS (SELECT doc_id, url, ts_sec, text FROM pages
         UNION ALL SELECT doc_id, url, ts_sec, text FROM re1
         UNION ALL SELECT doc_id, url, ts_sec, text FROM re2),
c AS (SELECT {TX.CANONICAL_URL_SQL} AS canon_url, doc_id, ts_sec,
             {TX.FINGERPRINT_SQL} AS fp
      FROM allp),
v AS (SELECT canon_url, ts_sec,
             COALESCE(fp <> LAG(fp) OVER (PARTITION BY canon_url
                                          ORDER BY ts_sec, doc_id),
                      TRUE) AS changed
      FROM c)
SELECT canon_url, COUNT(*) AS n_snapshots,
       CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
       MIN(ts_sec) AS first_ts, MAX(ts_sec) AS last_ts,
       MAX(CASE WHEN changed THEN ts_sec END) AS last_change_ts
FROM v GROUP BY 1"""
_TX8, _TY8 = tile_xy_sql("lon", "lat", ZOOM)
_TX9, _TY9 = tile_xy_sql("lon", "lat", 9)  # raster_tiles: z6 tiles, 8x8 px grid

_RASTER_TILES_SQL = f"""{_P}
, a AS (SELECT {_TX9} AS tx9, {_TY9} AS ty9 FROM pages),
px AS (SELECT tx9 // 8 AS tile_x, ty9 // 8 AS tile_y,
              (ty9 % 8) * 8 + (tx9 % 8) AS pixel, COUNT(*) AS cnt
       FROM a GROUP BY 1, 2, 3)
SELECT CAST(6 AS INT) AS zoom, tile_x, tile_y,
       CAST(SUM(cnt) AS BIGINT) AS px_sum,
       CAST(COUNT(*) AS INT) AS nonzero_px,
       CAST(MAX(cnt) AS BIGINT) AS px_max
FROM px GROUP BY 1, 2, 3"""

_SIMHASH_SQL_TMPL = """{docs2}
, th AS (SELECT doc_id, unnest({toks}) AS tok FROM docs2),
hh AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM th),
votes AS (SELECT doc_id, bs.b AS b,
                 SUM(CASE WHEN ((h >> bs.b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
          FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
          GROUP BY 1, 2),
sh AS (SELECT doc_id,
              CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b)
                            ELSE 0 END) AS BIGINT) AS simhash
       FROM votes GROUP BY 1)
SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3"""

_ADMIN_CTE = (
    ", admin AS (SELECT 'A' || lpad(CAST(city_id AS VARCHAR), 3, '0') AS admin_id, "
    "c_lat, c_lon FROM cities)"
)
_PIP_COND = (
    "p.lon >= a.c_lon - CAST(0.6 AS DOUBLE) AND p.lon < a.c_lon + CAST(0.6 AS DOUBLE) "
    "AND p.lat >= a.c_lat - CAST(0.6 AS DOUBLE) AND p.lat < a.c_lat + CAST(0.6 AS DOUBLE)"
)

_KNN_SQL = f"""{_P}
, q AS (SELECT 'Q' || lpad(CAST(city_id AS VARCHAR), 2, '0') AS query_id,
        c_lat AS q_lat, c_lon AS q_lon FROM cities WHERE city_id < 10),
d AS (SELECT q.query_id, p.doc_id, p.url,
        (p.lat - q.q_lat) * (p.lat - q.q_lat)
      + (p.lon - q.q_lon) * (p.lon - q.q_lon) AS dist2_raw
      FROM pages p CROSS JOIN q)
SELECT query_id, doc_id, url,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY dist2_raw ASC, doc_id ASC) AS INT) AS rank,
       round(dist2_raw, 9) AS dist2
FROM d
QUALIFY rank <= 5
"""

_DOCS2 = (
    "WITH docs2 AS (SELECT * FROM documents UNION ALL "
    "SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id < 50)"
)

_TOKS = TX.TOKENS_SQL
_SHINGLES = DD.SHINGLES_SQL.format(toks=_TOKS)

_JACCARD_SQL = f"""{_DOCS2}
, s AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs2),
s2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
             6) AS jaccard
FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
            6) >= CAST(0.5 AS DOUBLE)
"""

_COS = VEC.cosine_sql("a.v", "b.v")

_PYRAMID_LEVEL_SQL = """
SELECT CAST({z} AS INT) AS zoom,
       CAST(floor(tile_x / CAST({d} AS DOUBLE)) AS BIGINT) AS tile_x,
       CAST(floor(tile_y / CAST({d} AS DOUBLE)) AS BIGINT) AS tile_y,
       CAST(SUM(page_count) AS BIGINT) AS page_count,
       CAST(SUM(sum_chars) AS BIGINT) AS sum_chars,
       MAX(max_doc_id) AS max_doc_id
FROM base GROUP BY 1, 2, 3"""

_BASE_CTE = f"""{_P}
, assigned AS (SELECT doc_id, n_chars, {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages),
base AS (SELECT tile_x, tile_y, COUNT(*) AS page_count,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         MAX(doc_id) AS max_doc_id FROM assigned GROUP BY 1, 2)"""


def _pyramid_sql() -> str:
    parts = [
        _PYRAMID_LEVEL_SQL.format(z=ZOOM - j, d=2**j) for j in range(0, LEVELS + 1)
    ]
    return _BASE_CTE + "\n" + "\nUNION ALL\n".join(parts)


def _tiles_meta_parts() -> list:
    parts = []
    for j in range(0, LEVELS + 1):
        d = 2**j
        parts.append(f"""
SELECT CAST({ZOOM - j} AS INT) AS zoom, CAST({j} AS INT) AS level,
       CAST(((max(tile_x) // {d}) - (min(tile_x) // {d}) + 1) * 512 AS BIGINT) AS width,
       CAST(((max(tile_y) // {d}) - (min(tile_y) // {d}) + 1) * 512 AS BIGINT) AS height,
       CAST(512 AS INT) AS blocksize_x, CAST(512 AS INT) AS blocksize_y,
       CAST({d} AS INT) AS decimation,
       CAST({LEVELS - j} AS BIGINT) AS write_index,
       (SELECT COUNT(*) FROM (SELECT DISTINCT tile_x // {d}, tile_y // {d} FROM base) t)
           AS n_tiles
FROM base""")
    return parts


def _tiles_meta_sql() -> str:
    return _BASE_CTE + "\n" + "\nUNION ALL\n".join(_tiles_meta_parts())


def _geo_tile_sql(z: int) -> tuple:
    """WorldCRS84Quad tile index (2x1 zoom-0 matrix, geographic CRS) —
    operation-order-identical to grid.TileMatrixSet.tile_index."""
    nx = 2 * (1 << z)
    ny = 1 << z
    tx = (
        f"least(greatest(CAST(floor((lon - CAST(-180.0 AS DOUBLE)) / "
        f"CAST(360.0 AS DOUBLE) * CAST({nx} AS DOUBLE)) AS BIGINT), 0), {nx - 1})"
    )
    ty = (
        f"least(greatest(CAST(floor((CAST(90.0 AS DOUBLE) - lat) / "
        f"CAST(180.0 AS DOUBLE) * CAST({ny} AS DOUBLE)) AS BIGINT), 0), {ny - 1})"
    )
    return tx, ty


def _pyramid_crs84_sql() -> str:
    tx, ty = _geo_tile_sql(6)
    base = f"""{_P}
, assigned AS (SELECT doc_id, n_chars, {tx} AS tile_x, {ty} AS tile_y FROM pages),
base AS (SELECT tile_x, tile_y, COUNT(*) AS page_count,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         MAX(doc_id) AS max_doc_id FROM assigned GROUP BY 1, 2)"""
    parts = [_PYRAMID_LEVEL_SQL.format(z=6 - j, d=2**j) for j in range(0, 3)]
    return base + "\n" + "\nUNION ALL\n".join(parts)


def _validate_sql() -> str:
    """DuckDB twin of ``validate_report``: every structural check V1-V14
    recomputed in SQL over the tiles_meta + pyramid CTEs (the property
    checks V1/V5/V6/V14 reduce to constants because the canon fixture's
    table properties are the clean defaults and declare no aligned
    levels). Failure messages come from the same CHECK_MSGS table as the
    Spark side, so the two reports cannot drift."""
    from rio_cogeo_spark.operators.validate import CHECK_MSGS, CHECK_ORDER

    meta_union = "\nUNION ALL\n".join(_tiles_meta_parts())
    pyr_union = "\nUNION ALL\n".join(
        _PYRAMID_LEVEL_SQL.format(z=ZOOM - j, d=2**j) for j in range(0, LEVELS + 1)
    )
    agg = """
agg AS (SELECT
  (SELECT COUNT(*) FROM meta) AS n_levels,
  (SELECT width  FROM meta WHERE level = 0) AS base_w,
  (SELECT height FROM meta WHERE level = 0) AS base_h,
  (SELECT blocksize_x FROM meta WHERE level = 0) AS base_bx,
  (SELECT blocksize_y FROM meta WHERE level = 0) AS base_by,
  (SELECT COUNT(*) FROM
     (SELECT DISTINCT zoom FROM pyr EXCEPT SELECT zoom FROM meta)) AS n_external,
  (SELECT coalesce(bool_and(CASE WHEN prev IS NULL THEN TRUE
                                 ELSE decimation >= prev END), TRUE)
   FROM (SELECT decimation, lag(decimation) OVER (ORDER BY level) AS prev
         FROM meta WHERE level > 0)) AS v7_ok,
  (SELECT coalesce(bool_and(decimation > 1), TRUE)
   FROM meta WHERE level > 0) AS v8_ok,
  (SELECT coalesce(bool_and(CASE WHEN prev IS NULL THEN TRUE
                                 ELSE write_index > prev END), TRUE)
   FROM (SELECT write_index, lag(write_index) OVER (ORDER BY zoom) AS prev
         FROM meta)) AS v9_ok,
  (SELECT coalesce(bool_and(blocksize_x > 0 AND blocksize_y > 0), TRUE)
   FROM meta WHERE level > 0) AS v11_pos,
  (SELECT COUNT(DISTINCT (blocksize_x, blocksize_y))
   FROM meta WHERE level > 0) AS v11_uniq,
  (SELECT coalesce(MAX(c), 0) FROM
     (SELECT COUNT(*) AS c FROM pyr GROUP BY zoom, tile_x, tile_y)) AS max_dup
)"""
    flags = {
        "v1_format": "TRUE",
        "v2_no_external_overviews": "n_external = 0",
        "v3_tiled": (
            "NOT (base_w > 512 AND base_h > 512 AND (base_bx <= 0 OR "
            "base_by <= 0 OR (base_bx >= base_w AND base_by < base_h)))"
        ),
        "v4_overviews_present": "NOT (base_w > 512 AND base_h > 512 AND n_levels < 2)",
        "v5_header_first": "TRUE",
        "v6_not_modified": "TRUE",
        "v7_overviews_sorted": "v7_ok",
        "v8_decimation_gt1": "v8_ok",
        "v9_write_order": "v9_ok",
        "v10_no_duplicate_tiles": "max_dup <= 1",
        "v11_overview_blocksize": "(v11_pos AND v11_uniq <= 1)",
        "v14_aligned_levels": "TRUE",
    }
    error_checks = [c for c in CHECK_ORDER if c != "v4_overviews_present"]
    valid_expr = " AND ".join(f"({flags[c]})" for c in error_checks)
    rows = [
        f"SELECT 'valid' AS check_name, CAST({valid_expr} AS BOOLEAN) AS ok, "
        "'' AS detail FROM agg"
    ]
    for c in CHECK_ORDER:
        msg = CHECK_MSGS[c].replace("'", "''")
        rows.append(
            f"SELECT '{c}', CAST({flags[c]} AS BOOLEAN), "
            f"CASE WHEN {flags[c]} THEN '' ELSE '{msg}' END FROM agg"
        )
    return (
        f"{_BASE_CTE}\n, meta AS ({meta_union})\n, pyr AS ({pyr_union})\n, "
        f"{agg}\n" + "\nUNION ALL\n".join(rows)
    )


_TILE_DISTINCT_LEVEL_SQL = """
SELECT CAST({z} AS INT) AS zoom,
       CAST(floor(tile_x / CAST({d} AS DOUBLE)) AS BIGINT) AS tile_x,
       CAST(floor(tile_y / CAST({d} AS DOUBLE)) AS BIGINT) AS tile_y,
       CAST(COUNT(*) AS BIGINT) AS page_count,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM assigned GROUP BY 1, 2, 3"""

_ASSIGNED_LANG_CTE = f"""{_P}
, assigned AS (SELECT lang, {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages)"""


def _tile_distinct_sql() -> str:
    parts = [
        _TILE_DISTINCT_LEVEL_SQL.format(z=ZOOM - j, d=2**j)
        for j in range(0, LEVELS + 1)
    ]
    return _ASSIGNED_LANG_CTE + "\n" + "\nUNION ALL\n".join(parts)


_RASTER_OVERVIEW_SQL = f"""{_P}
, a AS (SELECT {_TX9} AS tx9, {_TY9} AS ty9 FROM pages),
c8 AS (SELECT tx9 // 2 AS tx8, ty9 // 2 AS ty8, COUNT(*) AS cnt
       FROM a GROUP BY 1, 2),
v AS (SELECT tx8 // 8 AS tile_x, ty8 // 8 AS tile_y, cnt // 4 AS val FROM c8)
SELECT CAST(5 AS INT) AS zoom, tile_x, tile_y,
       CAST(SUM(val) AS BIGINT) AS px_sum,
       CAST(COUNT(*) FILTER (val > 0) AS INT) AS nonzero_px,
       CAST(MAX(val) AS BIGINT) AS px_max
FROM v GROUP BY 1, 2, 3"""


def _tiles_meta_web_sql(snap: int = 4) -> str:
    ext = (
        f", ext AS (SELECT (min(tile_x) // {snap}) * {snap} AS tx0, "
        f"(min(tile_y) // {snap}) * {snap} AS ty0, "
        f"((max(tile_x) // {snap}) + 1) * {snap} - 1 AS tx1, "
        f"((max(tile_y) // {snap}) + 1) * {snap} - 1 AS ty1 FROM base)"
    )
    parts = []
    for j in range(0, LEVELS + 1):
        d = 2**j
        parts.append(f"""
SELECT CAST({ZOOM - j} AS INT) AS zoom, CAST({j} AS INT) AS level,
       CAST(((ext.tx1 // {d}) - (ext.tx0 // {d}) + 1) * 512 AS BIGINT) AS width,
       CAST(((ext.ty1 // {d}) - (ext.ty0 // {d}) + 1) * 512 AS BIGINT) AS height,
       CAST(512 AS INT) AS blocksize_x, CAST(512 AS INT) AS blocksize_y,
       CAST({d} AS INT) AS decimation,
       CAST({LEVELS - j} AS BIGINT) AS write_index,
       (SELECT COUNT(*) FROM (SELECT DISTINCT tile_x // {d}, tile_y // {d} FROM base) t)
           AS n_tiles
FROM ext""")
    return _BASE_CTE + ext + "\n" + "\nUNION ALL\n".join(parts)


_ANN_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
d AS (SELECT q.query_id, a.vec_id,
             {VEC.cosine_sql("a.v", "q.v")} AS cos
      FROM e a CROSS JOIN q WHERE a.vec_id <> q.query_id)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
            AS INT) AS rank,
       cos
FROM d QUALIFY rank <= 10"""


_HARD_NEGATIVES_SQL = f"""
WITH RECURSIVE hn_e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
hn_e2 AS (SELECT vec_id, v FROM hn_e
          UNION ALL
          SELECT vec_id + 10000, v FROM hn_e WHERE vec_id < 50),
hn_q AS (SELECT vec_id AS query_id, v FROM hn_e WHERE vec_id < 5),
hn_d AS (SELECT q.query_id, a.vec_id,
                {VEC.cosine_sql("a.v", "q.v")} AS cos
         FROM hn_e2 a CROSS JOIN hn_q q WHERE a.vec_id <> q.query_id),
hn_pool AS (SELECT query_id, vec_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, vec_id ASC) AS prank
            FROM hn_d QUALIFY prank <= 15),
hn_pairs AS (SELECT vec_id AS doc_a, vec_id + 10000 AS doc_b
             FROM hn_e WHERE vec_id < 50),
hn_edges AS (SELECT doc_a AS a, doc_b AS b FROM hn_pairs
             UNION SELECT doc_b, doc_a FROM hn_pairs),
hn_nodes AS (SELECT DISTINCT a AS doc_id FROM hn_edges),
hn_reach AS (SELECT doc_id AS a, doc_id AS b FROM hn_nodes
             UNION
             SELECT r.a, e.b FROM hn_reach r JOIN hn_edges e ON r.b = e.a),
hn_comp AS (SELECT a AS doc_id, MIN(b) AS component FROM hn_reach GROUP BY a),
hn_filt AS (SELECT p.query_id, p.vec_id, p.cos
            FROM hn_pool p
            LEFT JOIN hn_comp cq ON cq.doc_id = p.query_id
            LEFT JOIN hn_comp cc ON cc.doc_id = p.vec_id
            WHERE cq.component IS NULL OR cc.component IS NULL
               OR cq.component <> cc.component)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, vec_id ASC) AS INT) AS rank,
       cos
FROM hn_filt QUALIFY rank <= 10"""


def _ann_pq_oracle() -> str:
    from rio_cogeo_spark.operators.quantize import ann_pq_sql

    return ann_pq_sql()


_ANN_INT8_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
am AS (SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS amax FROM e),
q AS (SELECT vec_id,
             list_transform(v, x -> CAST(greatest(-127.0, least(127.0,
                 floor(x * 127.0 / amax + 0.5))) AS BIGINT)) AS qv
      FROM e, am),
qq AS (SELECT vec_id AS query_id, qv AS q_vec FROM q WHERE vec_id < 5),
d AS (SELECT qq.query_id, q.vec_id,
             CAST(list_sum(list_transform(list_zip(q.qv, qq.q_vec),
                 p -> p[1] * p[2])) AS BIGINT) AS qdot
      FROM q CROSS JOIN qq WHERE q.vec_id <> qq.query_id)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY qdot DESC, vec_id ASC) AS INT) AS rank,
       qdot
FROM d QUALIFY rank <= 10"""


def oracle_sql() -> dict[str, str]:
    return {
        "pages_extract": f"{_P}\nSELECT doc_id, url, lang, lat, lon FROM pages",
        "tile_assign": f"{_P}\nSELECT doc_id, {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages",
        "tile_counts": f"""{_BASE_CTE}
SELECT CAST({ZOOM} AS INT) AS zoom, tile_x, tile_y, page_count, sum_chars, max_doc_id
FROM base""",
        "pyramid": _pyramid_sql(),
        # the incremental-update contract's oracle IS the full recompute:
        # hash-equality proves merge(pyr(old), pyr(delta)) == pyr(all)
        "pyramid_update": _pyramid_sql(),
        # streaming==batch certified cross-engine: the drained stream's
        # store must hash-match the full-recompute pyramid
        "pyramid_stream": _pyramid_sql(),
        "ann_int8": _ANN_INT8_SQL,
        "tiles_meta": _tiles_meta_sql(),
        "validate": _validate_sql(),
        "pip_join": f"""{_P}{_ADMIN_CTE}
SELECT p.url, a.admin_id FROM pages p JOIN admin a ON {_PIP_COND}""",
        "pip_anti": f"""{_P}{_ADMIN_CTE}
SELECT COUNT(*) AS n_outside FROM pages p
WHERE NOT EXISTS (SELECT 1 FROM admin a WHERE {_PIP_COND})""",
        "knn_brute": _KNN_SQL,
        "knn_kring": _KNN_SQL,
        "knn_exact": _KNN_SQL,
        "range_join": """
WITH c AS (SELECT event_id AS click_id, user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events WHERE event_type = 'purchase')
SELECT c.click_id, p.purchase_id
FROM c JOIN p ON c.user_id = p.user_id AND abs(c.t - p.t) <= 60""",
        "zonal_stats": f"""{_P}{_ADMIN_CTE}
SELECT a.admin_id, COUNT(*) AS page_count,
       CAST(SUM(p.n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT p.lang) AS lang_count
FROM pages p JOIN admin a ON {_PIP_COND}
GROUP BY 1""",
        "zonal_mode": f"""{_P}{_ADMIN_CTE}
, zm_c AS (SELECT a.admin_id, p.lang, COUNT(*) AS n
           FROM pages p JOIN admin a ON {_PIP_COND}
           GROUP BY 1, 2),
zm_t AS (SELECT admin_id, SUM(n) AS zone_count FROM zm_c GROUP BY 1),
zm_r AS (SELECT admin_id, lang, n,
                row_number() OVER (PARTITION BY admin_id
                                   ORDER BY n DESC, lang ASC) AS rk
         FROM zm_c)
SELECT r.admin_id, r.lang AS mode_class,
       CAST(r.n AS BIGINT) AS mode_count,
       CAST(t.zone_count AS BIGINT) AS zone_count,
       CAST((r.n * 1000000) // t.zone_count AS BIGINT) AS mode_ppm
FROM zm_r r JOIN zm_t t USING (admin_id) WHERE r.rk = 1""",
        "raster_tiles": _RASTER_TILES_SQL,
        "raster_overview": _RASTER_OVERVIEW_SQL,
        "media_frames": """
WITH vids AS (
  SELECT doc_id AS media_id,
         least(CAST(floor(CAST(n_chars * 10 AS DOUBLE) / 1000) AS INT) + 1, 8)
             AS n_frames
  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
f AS (SELECT media_id, CAST(unnest(generate_series(0, n_frames - 1)) AS INT)
             AS frame_idx
      FROM vids)
SELECT media_id, frame_idx, CAST(frame_idx * 1000 AS INT) AS t_ms FROM f""",
        "pyramid_web": _tiles_meta_web_sql(4),
        "tile_distinct": _tile_distinct_sql(),
        "tile_rollup": f"""{_P}
, a AS (SELECT (ts_sec // 3600) * 3600 AS window_sec,
        {tile_xy_sql("lon", "lat", 6)[0]} AS tile_x,
        {tile_xy_sql("lon", "lat", 6)[1]} AS tile_y,
        n_chars
  FROM pages)
SELECT window_sec, tile_x, tile_y, COUNT(*) AS page_count,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM a GROUP BY 1, 2, 3""",
        "media_features": """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CAST(strlen(text) AS INT) AS n_bytes,
       md5(text) AS checksum
FROM documents""",
        "simhash_pairs": _SIMHASH_SQL_TMPL.format(docs2=_DOCS2, toks=_TOKS),
        "dedup_exact": f"""{_DOCS2}
SELECT {TX.FINGERPRINT_SQL} AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM docs2 GROUP BY 1""",
        "ngram_jaccard": _JACCARD_SQL,
        "minhash_lsh": _JACCARD_SQL,
        # keep-latest per canonical URL over pages ∪ a URL-variant
        # re-crawl; window twin of the max_by aggregation
        # per-host cap twin: single-window selection (the operator's
        # two-phase salted top-k is selection-identical by construction)
        "host_cap": f"""{_P}
, hosted AS (SELECT doc_id, {TX.HOST_SQL} AS host FROM pages)
SELECT doc_id, host FROM (
  SELECT doc_id, host,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY {_MD5_60_DOCID}, doc_id) AS rn
  FROM hosted) WHERE rn = 1""",
        # host-frequency boilerplate: distinct-doc line counts vs host
        # doc totals, exact ppm threshold, NOT EXISTS anti-join twin
        "boilerplate_cut": """
WITH d0 AS (
  SELECT doc_id, 'h' || CAST(doc_id % 50 AS VARCHAR) || '.net' AS host,
         'NAV ' || CAST(doc_id % 50 AS VARCHAR) || chr(10) ||
         CASE WHEN doc_id % 2 = 0
              THEN 'PROMO ' || CAST(doc_id % 50 AS VARCHAR) || chr(10)
              ELSE '' END ||
         text || chr(10) || 'FOOTER ' || CAST(doc_id % 50 AS VARCHAR)
             AS text
  FROM documents),
l0 AS (SELECT doc_id, host,
              unnest(list_transform(string_split(text, chr(10)),
                     (x, i) -> {'idx': i - 1, 'line': x})) AS pt
       FROM d0),
l AS (SELECT doc_id, host, pt.idx AS idx, pt.line AS line,
             md5(pt.line) AS lh
      FROM l0 WHERE len(trim(pt.line)) > 0),
ld AS (SELECT host, lh, COUNT(DISTINCT doc_id) AS n_docs
       FROM l GROUP BY 1, 2),
hd AS (SELECT host, COUNT(DISTINCT doc_id) AS host_docs
       FROM d0 GROUP BY 1),
hot AS (SELECT ld.host, ld.lh FROM ld JOIN hd USING (host)
        WHERE ld.n_docs * 1000000 >= 500000 * hd.host_docs
          AND ld.n_docs >= 2),
t AS (SELECT doc_id, COUNT(*) AS n_total FROM l GROUP BY 1),
kept AS (SELECT * FROM l
         WHERE NOT EXISTS (SELECT 1 FROM hot h
                           WHERE h.host = l.host AND h.lh = l.lh))
SELECT k.doc_id, ANY_VALUE(k.host) AS host,
       string_agg(k.line, chr(10) ORDER BY k.idx) AS text,
       COUNT(*) AS n_kept, ANY_VALUE(t.n_total) AS n_total
FROM kept k JOIN t ON k.doc_id = t.doc_id
GROUP BY 1""",
        # suffix-semantics blocklist: list_has_any over the dot-suffix
        # chain (twin of urlfilter.blocklist_filter's literal path)
        "domain_filter": f"""{_P}
, allp AS (SELECT doc_id, url FROM pages
           UNION ALL
           SELECT doc_id + 800000,
                  'https://cdn.site' || CAST(doc_id % 9973 AS VARCHAR)
                      || '.example/p'
           FROM pages WHERE doc_id < 100)
SELECT doc_id, url FROM allp
WHERE NOT list_has_any({_DOMAIN_SFX},
                       ['site3.example', 'site7.example'])""",
        "path_filter": _path_filter_oracle(),
        # C4-style paragraph dedup: window twin of the min_by keeper
        # (oracle scale doesn't need the skew-free aggregation)
        "paragraph_dedup": """
WITH d0 AS (
  SELECT doc_id,
         'shared boilerplate header paragraph' || chr(10) || chr(10) ||
         text || chr(10) || chr(10) ||
         'shared boilerplate footer paragraph' AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 700000,
         'shared boilerplate header paragraph' || chr(10) || chr(10) ||
         text || chr(10) || chr(10) ||
         'shared boilerplate footer paragraph'
  FROM documents WHERE doc_id < 50),
p AS (SELECT doc_id,
             unnest(list_transform(string_split(text, chr(10) || chr(10)),
                    (x, i) -> {'idx': i - 1, 'para': x})) AS pt
      FROM d0),
f AS (SELECT doc_id, pt.idx AS idx, pt.para AS para, md5(pt.para) AS ph
      FROM p WHERE len(trim(pt.para)) > 0),
k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ph
                                   ORDER BY doc_id, idx) AS rn FROM f),
t AS (SELECT doc_id, COUNT(*) AS n_total FROM f GROUP BY 1)
SELECT k.doc_id,
       string_agg(k.para, chr(10) || chr(10) ORDER BY k.idx) AS text,
       COUNT(*) AS n_kept, ANY_VALUE(t.n_total) AS n_total
FROM k JOIN t ON k.doc_id = t.doc_id
WHERE k.rn = 1
GROUP BY 1""",
        # per-URL change history: window twin of snapshot_change_stats
        # (fingerprint lag over (canon_url, ts, doc_id) order)
        "snapshot_delta": _SNAPSHOT_DELTA_SQL,
        # scheduling projection over the change history (ppb fixed-point)
        "crawl_priority": f"""
WITH stats AS ({_SNAPSHOT_DELTA_SQL})
SELECT *,
       CAST(CASE WHEN n_snapshots > 1 AND last_ts - first_ts > 0
                 THEN least((n_changes - 1) * 1000000000
                            // (last_ts - first_ts), 1000000000)
                 ELSE {1_000_000_000 // (30 * 86400)} END AS BIGINT)
           AS change_rate_ppb,
       1800000000 - last_ts AS age_sec,
       (1800000000 - last_ts) *
       CAST(CASE WHEN n_snapshots > 1 AND last_ts - first_ts > 0
                 THEN least((n_changes - 1) * 1000000000
                            // (last_ts - first_ts), 1000000000)
                 ELSE {1_000_000_000 // (30 * 86400)} END AS BIGINT)
           AS priority
FROM stats""",
        "url_latest": f"""{_P}
, re AS (SELECT doc_id + 500000 AS doc_id,
                'http://www.' || substr(url, 9) || '/' AS url,
                ts_sec + 10000000 AS ts_sec
         FROM pages WHERE doc_id < 200),
allp AS (SELECT doc_id, url, ts_sec FROM pages
         UNION ALL SELECT doc_id, url, ts_sec FROM re),
c AS (SELECT doc_id, ts_sec, {TX.CANONICAL_URL_SQL} AS canon_url FROM allp),
r AS (SELECT canon_url, doc_id, ts_sec,
             COUNT(*) OVER (PARTITION BY canon_url) AS n_snapshots,
             ROW_NUMBER() OVER (PARTITION BY canon_url
                                ORDER BY ts_sec DESC, doc_id DESC) AS rn
      FROM c)
SELECT canon_url, doc_id, ts_sec, n_snapshots FROM r WHERE rn = 1""",
        # brute-force cross-parity Jaccard: doc_a = indexed (even),
        # doc_b = new snapshot (odd); dup copies at +100001 flip parity
        "dedup_incremental": f"""
WITH docs2 AS (SELECT * FROM documents UNION ALL
  SELECT doc_id + 100001 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id < 50)
, s AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs2),
s2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
             6) AS jaccard
FROM s2 a JOIN s2 b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
            6) >= CAST(0.5 AS DOUBLE)""",
        "embed_neardup": f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS} AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_COS} >= CAST(0.4 AS DOUBLE)""",
        "semantic_dedup": _semantic_dedup_oracle(),
        "ann_topk": _ANN_TOPK_SQL,
        "hard_negatives": _HARD_NEGATIVES_SQL,
        "ann_pq": _ann_pq_oracle(),
        # IVF with n_probe = all lists scans the full corpus → exact,
        # so it shares the brute-force oracle
        "ann_ivf": _ANN_TOPK_SQL,
        "ann_ivf_free": _ANN_TOPK_SQL,
        "quality": f"""
SELECT doc_id, {TX.TOKEN_COUNT_SQL} AS n_tokens, {TX.PUNCT_COUNT_SQL} AS n_punct,
       {TX.STOPWORD_COUNT_SQL} AS n_stopwords, {TX.QUALITY_SCORE_SQL} AS quality
FROM documents""",
        "lang_id": f"SELECT doc_id, {TX.LANG_ID_SQL} AS pred_lang FROM documents",
        "fingerprint": f"SELECT doc_id, {TX.FINGERPRINT_SQL} AS fp FROM documents",
        "token_stats_bpe": f"""
SELECT doc_id, CAST({TX.BPE_TOKEN_COUNT_SQL} AS INT) AS n_bpe_tokens,
       CAST({TX.ROLLING_FINGERPRINT_SQL} AS BIGINT) AS rolling_fp
FROM documents""",
        "token_stats": f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM({TX.TOKEN_COUNT_SQL}) AS BIGINT) AS total_tokens,
       round(CAST(SUM({TX.TOKEN_COUNT_SQL}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS avg_tokens
FROM documents GROUP BY 1""",
        "events_hourly": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_sec, event_type,
       COUNT(*) AS n, round(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2""",
        "asof_join": """
WITH state AS (
  SELECT user_id, ts, max(value) AS s_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT e.event_id, e.user_id, round(s.s_value, 4) AS asof_value
FROM events e ASOF JOIN state s
  ON e.user_id = s.user_id AND e.ts >= s.ts""",
        "pip_semi": f"""{_P}{_ADMIN_CTE}
SELECT DISTINCT p.url FROM pages p
WHERE EXISTS (SELECT 1 FROM admin a WHERE {_PIP_COND})""",
        "rollup": """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP (lang, source)""",
        "cube": """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (lang, source)""",
        "quality_cut": """
WITH cuts AS (SELECT lang,
                     round(quantile_cont(n_chars, CAST(0.25 AS DOUBLE)), 6)
                         AS cut
              FROM documents GROUP BY 1)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN cuts USING (lang)
WHERE d.n_chars >= cut""",
        "quality_percentiles": """
SELECT lang, COUNT(*) AS n_docs,
       round(quantile_cont(n_chars, CAST(0.5 AS DOUBLE)), 6) AS p50_chars,
       round(quantile_cont(n_chars, CAST(0.9 AS DOUBLE)), 6) AS p90_chars
FROM documents GROUP BY 1""",
        "lang_pivot": """
SELECT source,
       COUNT(*) FILTER (lang = 'en') AS en,
       COUNT(*) FILTER (lang = 'es') AS es,
       COUNT(*) FILTER (lang = 'de') AS de,
       COUNT(*) FILTER (lang = 'fr') AS fr
FROM documents WHERE lang IN ('en', 'es', 'de', 'fr')
GROUP BY 1""",
        "sessionize": """
WITH g AS (
  SELECT user_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events),
s AS (SELECT user_id, ts,
             CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
      FROM g),
c AS (SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS seq
      FROM s)
SELECT user_id,
       CAST(user_id AS VARCHAR) || '-' || CAST(seq AS VARCHAR) AS session_id,
       COUNT(*) AS n_events,
       MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS t_start_sec,
       MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS t_end_sec
FROM c GROUP BY 1, 2""",
        "repetition": TX.repetition_sql(),
        "contamination": f"""
WITH bench AS (
  SELECT DISTINCT unnest({_SHINGLES}) AS shingle
  FROM documents WHERE doc_id % 97 = 0),
corp AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle
  FROM documents WHERE doc_id % 97 <> 0)
SELECT c.doc_id, COUNT(*) AS n_hits
FROM corp c JOIN bench b USING (shingle)
GROUP BY 1""",
        "url_hosts": f"""{_P}
SELECT {TX.HOST_SQL} AS host, COUNT(*) AS n_pages,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM pages GROUP BY 1""",
        "dedup_components": f"""WITH RECURSIVE docs2 AS (
  SELECT * FROM documents UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id < 50),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs2),
s2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6)
        >= CAST(0.5 AS DOUBLE)),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach AS (SELECT doc_id AS a, doc_id AS b FROM nodes
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
SELECT a AS doc_id, MIN(b) AS component, (a = MIN(b)) AS is_keeper
FROM reach GROUP BY a""",
        "split_safe": _split_safe_oracle(),
        "containment": f"""
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 960000 AS doc_id,
         array_to_string(({TX.TOKENS_SQL})[1:15], ' ') AS text
  FROM documents WHERE doc_id < 60),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs2),
s2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_sh AS size_a, b.n_sh AS size_b,
             len(list_intersect(a.sh, b.sh)) AS n_common
      FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0),
d AS (SELECT doc_a AS doc_src, doc_b AS doc_dst,
             round(CAST(n_common AS DOUBLE) / CAST(size_a AS DOUBLE), 6)
                 AS containment
      FROM j
      UNION ALL
      SELECT doc_b, doc_a,
             round(CAST(n_common AS DOUBLE) / CAST(size_b AS DOUBLE), 6)
      FROM j)
SELECT doc_src, doc_dst, containment FROM d
WHERE containment >= CAST(0.8 AS DOUBLE)""",
        "dedup_keep_best": f"""WITH RECURSIVE docs2 AS (
  SELECT * FROM documents UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' ' || text AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id < 50),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs2),
s2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6)
        >= CAST(0.5 AS DOUBLE)),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach AS (SELECT doc_id AS a, doc_id AS b FROM nodes
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
scored AS (SELECT c.doc_id, c.component, {TX.TOKEN_COUNT_SQL} AS score
           FROM comp c JOIN docs2 USING (doc_id)),
keep AS (SELECT component, MIN(STRUCT_PACK(ns := -score, kid := doc_id)).kid
                 AS keeper
         FROM scored GROUP BY component)
SELECT s.doc_id, s.component, s.score, (s.doc_id = k.keeper) AS is_keeper
FROM scored s JOIN keep k USING (component)""",
        "clean_corpus": f"""{_DOCS2}
, corpus AS (SELECT * FROM docs2 WHERE doc_id % 97 <> 0),
fpk AS (SELECT MIN(doc_id) AS doc_id FROM corpus
        GROUP BY {TX.FINGERPRINT_SQL}),
bsh AS (SELECT DISTINCT unnest({_SHINGLES}) AS shingle
        FROM docs2 WHERE doc_id % 97 = 0),
csh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM corpus),
hits AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b USING (shingle)),
rt AS (SELECT doc_id, {TX.TOKENS_SQL} AS toks FROM corpus),
rb AS (SELECT doc_id,
              list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                             i -> array_to_string(toks[i:i+1], ' ')) AS bg
       FROM rt),
rep AS (SELECT doc_id,
               CASE WHEN len(bg) = 0 THEN CAST(0 AS DOUBLE)
                    ELSE round(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
                               / CAST(len(bg) AS DOUBLE), 6) END AS dup_frac
        FROM rb)
SELECT c.doc_id, {TX.LANG_ID_SQL} AS pred_lang,
       {TX.QUALITY_SCORE_SQL} AS quality, rep.dup_frac AS dup_frac
FROM corpus c JOIN fpk USING (doc_id) JOIN rep USING (doc_id)
WHERE {TX.LANG_ID_SQL} = 'en'
  AND {TX.QUALITY_SCORE_SQL} >= CAST(0.25 AS DOUBLE)
  AND rep.dup_frac <= CAST(0.1 AS DOUBLE)
  AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = c.doc_id)""",
        "sample_split": _sample_split_oracle(),
        "sample_stratified": _sample_stratified_oracle(),
        "search": f"""
WITH tok AS (SELECT doc_id, unnest({TX.TOKENS_SQL}) AS term FROM documents),
p AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok
      WHERE term IN ('spark', 'hash', 'window') GROUP BY 1, 2),
d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY 1),
n AS (SELECT COUNT(*) AS n_total FROM documents),
s AS (SELECT p.doc_id,
             CAST(SUM(p.tf * ((n.n_total * 1000000) // d.df)) AS BIGINT)
                 AS score,
             COUNT(*) AS n_terms_hit
      FROM p JOIN d USING (term) CROSS JOIN n
      GROUP BY 1)
SELECT doc_id, score, n_terms_hit,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM s QUALIFY rank <= 20""",
        # BM25 (k1=6/5, b=3/4) in pure BIGINT fixed-point — the exact
        # twin of operators/search.bm25_topk's scaled contribution
        "search_bm25": f"""
WITH t AS (SELECT doc_id, {TX.TOKENS_SQL} AS toks FROM documents),
tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
p AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM tok
      WHERE term IN ('spark', 'hash', 'window') GROUP BY 1, 2, 3),
d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY 1),
n AS (SELECT COUNT(*) AS n_total, CAST(SUM(len(toks)) AS BIGINT) AS sum_dl
      FROM t),
a AS (SELECT n_total, (sum_dl * 1000) // n_total AS avgdl_s FROM n),
s AS (SELECT p.doc_id,
             CAST(SUM((((a.n_total * 1000) // d.df) * p.tf * 22 * a.avgdl_s)
                      // (p.tf * 10 * a.avgdl_s + 3 * a.avgdl_s
                          + 9 * p.dl * 1000)) AS BIGINT) AS score,
             COUNT(*) AS n_terms_hit
      FROM p JOIN d USING (term) CROSS JOIN a
      GROUP BY 1)
SELECT doc_id, score, n_terms_hit,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM s QUALIFY rank <= 20""",
        "top_per_lang": """
SELECT lang, doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY n_chars DESC, doc_id) AS INT) AS rank
FROM documents QUALIFY rank <= 3""",
        "search_phrase": _search_phrase_oracle(),
        "rarity_score": _rarity_score_oracle(),
        "lm_score": _lm_score_oracle(),
        "lexdiv": _lexdiv_oracle(),
        "vocab_stats": _vocab_stats_oracle(),
        "collocations": _collocations_oracle(),
        "ccnet_buckets": _ccnet_buckets_oracle(),
        "pair_verify": _pair_verify_oracle(),
        "embed_pool": _embed_pool_oracle(),
        "corpus_info": _corpus_info_oracle(),
        "median_chars": _median_chars_oracle(),
        "host_distance": _host_distance_oracle(),
        "recip_links": _recip_links_oracle(),
        "badwords": _badwords_oracle(),
        "novelty": _novelty_oracle(),
        "gopher": _gopher_oracle(),
        "quartiles": _quartiles_oracle(),
        "gate_rates": _gate_rates_oracle(),
        "frontier": _frontier_oracle(),
        "trustrank": _trustrank_oracle(),
        "overlap": _overlap_oracle(),
        "bitext": _bitext_oracle(),
        "winnow": _winnow_oracle(),
        "script_mix": _script_mix_oracle(),
        "bloom_prefilter": _bloom_prefilter_oracle(),
        "anchors": _anchors_oracle(),
        "budget": _budget_oracle(),
        "meta_tags": _meta_tags_oracle(),
        "meta_robots": _meta_robots_oracle(),
        "hreflang": _hreflang_oracle(),
        "host_langs": _host_langs_oracle(),
        "hits": _hits_oracle(),
        "redirects": _redirects_oracle(),
        "lexical_pairs": _lexical_pairs_oracle(),
        "host_trend": _host_trend_oracle(),
        "host_gate": _host_gate_oracle(),
        "crawl_plan": _crawl_plan_oracle(),
        "robots": _robots_oracle(),
        "sitemap_new": _sitemap_new_oracle(),
        "winnow_incremental": _winnow_incremental_oracle(),
        "dsir_weights": _dsir_oracle(),
        "normalize_text": _normalize_text_oracle(),
        "bpe_merges": _bpe_merges_oracle(),
        "lang_mix": _lang_mix_oracle(),
        "trending": _trending_oracle(),
        "pagerank": _pagerank_oracle(),
        "triangles": _triangles_oracle(),
        "kcore": _kcore_oracle(),
        "keywords": _keywords_oracle(),
        "readability": _readability_oracle(),
        "url_canonical": _url_canonical_oracle(),
        "snapshot_para_diff": _snapshot_para_diff_oracle(),
        "mirror_docs": _mirror_docs_oracle(),
        "chunks": _chunks_oracle(),
        "pack_chunks": _pack_chunks_oracle(),
        "temperature_mix": _temperature_mix_oracle(),
        "pii_scrub": _pii_scrub_oracle(),
        "zorder": _zorder_oracle(),
        "compact": _compact_oracle(),
        "hotspots": _hotspots_oracle(),
        "morton_range": _morton_range_oracle(),
        "viewport": _viewport_oracle(),
        "quadkey": _quadkey_oracle(),
        "pyramid_diff": _pyramid_diff_oracle(),
        "tile_serve": _tile_serve_oracle(),
        "tile_focal": _tile_focal_oracle(),
        "focal_mode": _focal_mode_oracle(),
        "curriculum": _curriculum_oracle(),
        "jaccard_curve": _jaccard_curve_oracle(),
        "continuation": _continuation_oracle(),
        "crosstab": _crosstab_oracle(),
        "embed_drift": _embed_drift_oracle(),
        "mirror_hosts": _mirror_hosts_oracle(),
        "tile_density": _tile_density_oracle(),
        "hillshade": _hillshade_oracle(),
        "lang_eval": _lang_eval_oracle(),
        "ann_ivfpq": _ann_pq_oracle(),
        "rle": _rle_oracle(),
        "nearest_zone": _nearest_zone_oracle(),
        "profile": _profile_oracle(),
        "data_checks": _data_checks_oracle(),
        "volume_anomaly": _volume_anomaly_oracle(),
        "kappa": _kappa_oracle(),
        "gini": _gini_oracle(),
        "chi2": _chi2_oracle(),
        "zipf": _zipf_oracle(),
        "ks": _ks_oracle(),
        "moran": _moran_oracle(),
        "term_shift": _term_shift_oracle(),
        "heaps": _heaps_oracle(),
        "entropy": _entropy_oracle(),
        "aspect": _aspect_oracle(),
        "contour": _contour_oracle(),
        "d8": _d8_oracle(),
        "flow_acc": _flow_acc_oracle(),
        "geohash": _geohash_oracle(),
        "jl_project": _jl_project_oracle(),
        "terrain": _terrain_oracle(),
        "viewshed": _viewshed_oracle(),
        "proximity": _proximity_oracle(),
        "sieve": _sieve_oracle(),
        "benford": _benford_oracle(),
        "mannwhitney": _mannwhitney_oracle(),
        "geary": _geary_oracle(),
        "lisa": _lisa_oracle(),
        "fillnodata": _fillnodata_oracle(),
        "polygonize": _polygonize_oracle(),
        "spearman": _spearman_oracle(),
        "acf": _acf_oracle(),
        "raster_hist": _raster_hist_oracle(),
        "scale_bytes": _scale_bytes_oracle(),
        "locationinfo": _locationinfo_oracle(),
        "mosaic": _mosaic_oracle(),
        "color_relief": _color_relief_oracle(),
        "boxplot": _boxplot_oracle(),
        "equalize": _equalize_oracle(),
        "clip": _clip_oracle(),
        "upsample": _upsample_oracle(),
        "raster_calc": _raster_calc_oracle(),
        "raster_compare": _raster_compare_oracle(),
        "slope": _slope_oracle(),
        "footprint": _footprint_oracle(),
        "idw": _idw_oracle(),
        "tindex": _tindex_oracle(),
        "mojibake": _mojibake_oracle(),
        "kruskal": _kruskal_oracle(),
        "cusum": _cusum_oracle(),
        "curvature": _curvature_oracle(),
        "hilbert": _hilbert_oracle(),
        "repeated_spans": _repeated_spans_oracle(),
        "passage_cut": _passage_cut_oracle(),
        "pyramid_crs84": _pyramid_crs84_sql(),
        "tile_counts_avg": f"""{_P}
, assigned AS (SELECT doc_id, n_chars, {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages)
SELECT CAST({ZOOM} AS INT) AS zoom, tile_x, tile_y,
       COUNT(*) AS page_count,
       round(AVG(n_chars), 6) AS avg_chars,
       MAX(doc_id) AS max_doc_id
FROM assigned GROUP BY 1, 2, 3""",
        "chunks_sliding": _chunks_sliding_oracle(),
        "variogram": _variogram_oracle(),
        "join_counts": _join_counts_oracle(),
        "kendall": _kendall_oracle(),
        "theilsen": _theilsen_oracle(),
        "mann_kendall": _mann_kendall_oracle(),
        "transitions": _transitions_oracle(),
        "assortativity": _assortativity_oracle(),
        "terrain_idx": _terrain_idx_oracle(),
        "knox": _knox_oracle(),
        "centrography": _centrography_oracle(),
        "nn_idx": _nn_idx_oracle(),
        "burstiness": _burstiness_oracle(),
        "vocab_overlap": _vocab_overlap_oracle(),
        "ripley": _ripley_oracle(),
        "cocitation": _cocitation_oracle(),
        "term_geo": _term_geo_oracle(),
        "quadrat": _quadrat_oracle(),
        "general_g": _general_g_oracle(),
        "gini_cells": _gini_cells_oracle(),
        "cell_diversity": _cell_diversity_oracle(),
        "hapax": _hapax_oracle(),
        "scan": _scan_oracle(),
        "lang_mixing": _lang_mixing_oracle(),
        "regional_terms": _regional_terms_oracle(),
        "g_function": _g_function_oracle(),
        "lang_adjacency": _lang_adjacency_oracle(),
        "sd_ellipse": _sd_ellipse_oracle(),
        "f_function": _f_function_oracle(),
        "dissimilarity": _dissimilarity_oracle(),
        "j_function": _j_function_oracle(),
        "location_quotient": _location_quotient_oracle(),
        "exposure": _exposure_oracle(),
        "host_spread": _host_spread_oracle(),
        "morisita": _morisita_oracle(),
        "lang_range": _lang_range_oracle(),
        "cell_novelty": _cell_novelty_oracle(),
        "correlogram": _correlogram_oracle(),
        "emerging_hotspots": _emerging_hotspots_oracle(),
        "rank_size": _rank_size_oracle(),
        "theil_h": _theil_h_oracle(),
        "clq": _clq_oracle(),
        "syndication": _syndication_oracle(),
        "city_langs": _city_langs_oracle(),
        "cross_moran": _cross_moran_oracle(),
        "cell_transitions": _cell_transitions_oracle(),
        "lang_spread": _lang_spread_oracle(),
        "moran_quadrants": _moran_quadrants_oracle(),
        "zoom_entropy": _zoom_entropy_oracle(),
        "cell_median": _cell_median_oracle(),
        "moran_chars": _moran_chars_oracle(),
        "compactness": _compactness_oracle(),
        "diurnal": _diurnal_oracle(),
        "gini_time": _gini_time_oracle(),
        "geo_ann": _geo_ann_oracle(),
        "cap_per_cell": _cap_per_cell_oracle(),
        "moran_by_lang": _moran_by_lang_oracle(),
        "link_distance": _link_distance_oracle(),
        "urban_gradient": _urban_gradient_oracle(),
        "city_catchment": _city_catchment_oracle(),
        "zonal_trend": _zonal_trend_oracle(),
        "flow_dir": _flow_dir_oracle(),
        "quality_geo": _quality_geo_oracle(),
        "geo_corpus": _geo_corpus_oracle(),
        "lacunarity": _lacunarity_oracle(),
        "pair_correlation": _pair_correlation_oracle(),
    }


def _mirror_docs_oracle() -> str:
    return f"""{_P}
, allp AS (SELECT doc_id, url, text FROM pages
           UNION ALL
           SELECT doc_id + 950000,
                  'https://mirror-site.example/copy/'
                      || CAST(doc_id AS VARCHAR),
                  text
           FROM pages WHERE doc_id < 80),
tagged AS (SELECT doc_id, {TX.HOST_SQL} AS host,
                  {TX.FINGERPRINT_SQL} AS fp
           FROM allp),
bh AS (SELECT fp, COUNT(*) AS n_hosts
       FROM (SELECT DISTINCT fp, host FROM tagged)
       GROUP BY fp HAVING COUNT(*) >= 2),
cp AS (SELECT fp, COUNT(*) AS n_copies FROM tagged GROUP BY fp)
SELECT t.doc_id, t.host, t.fp,
       CAST(bh.n_hosts AS BIGINT) AS n_hosts,
       CAST(cp.n_copies AS BIGINT) AS n_copies
FROM tagged t JOIN bh USING (fp) JOIN cp USING (fp)"""


def q_mirror_hosts(spark, sf_dir):
    """Mirror-SITE discovery: the host-pair rollup of mirror_docs —
    doc_id<80 re-hosted on mirror-a, doc_id<40 ALSO on mirror-b: the
    (origin, mirror-a) pairs must dominate, (mirror-a, mirror-b) must
    count exactly the overlap; template-farm fps capped."""
    pages = _pages(spark, sf_dir)
    m1 = pages.filter(F.col("doc_id") < 80).select(
        (F.col("doc_id") + 950000).alias("doc_id"),
        F.concat(
            F.lit("https://mirror-a.example/copy/"), F.col("doc_id")
        ).alias("url"),
        "text",
    )
    m2 = pages.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 970000).alias("doc_id"),
        F.concat(
            F.lit("https://mirror-b.example/c/"), F.col("doc_id")
        ).alias("url"),
        "text",
    )
    allp = pages.select("doc_id", "url", "text").unionByName(m1).unionByName(m2)
    return DD.mirror_host_pairs(allp, min_shared=1)


def _mirror_hosts_oracle() -> str:
    from rio_cogeo_spark.operators.dedup import mirror_host_pairs_sql

    inner = mirror_host_pairs_sql(
        "SELECT url, text FROM mh_all", min_shared=1
    ).split("WITH ", 1)[1]
    return f"""{_P}
, mh_all AS (SELECT url, text FROM pages
             UNION ALL
             SELECT 'https://mirror-a.example/copy/'
                        || CAST(doc_id AS VARCHAR), text
             FROM pages WHERE doc_id < 80
             UNION ALL
             SELECT 'https://mirror-b.example/c/'
                        || CAST(doc_id AS VARCHAR), text
             FROM pages WHERE doc_id < 40),
{inner}"""


def _snapshot_para_diff_oracle() -> str:
    from rio_cogeo_spark.operators.dedup import snapshot_paragraph_diff_sql

    base = f"""{_P}
, b AS (SELECT doc_id, url, ts_sec,
               'site header ## ' || text || ' ## site footer' AS text
        FROM pages),
r1 AS (SELECT doc_id + 1000000 AS doc_id, url, ts_sec + 10000000 AS ts_sec,
              'site header ## ' || text || ' ## AD UNIT 7' AS text
       FROM pages WHERE doc_id < 150),
r2 AS (SELECT doc_id + 2000000 AS doc_id, url, ts_sec + 20000000 AS ts_sec,
              'site header ## ' || text || ' ## AD UNIT 7' AS text
       FROM pages WHERE doc_id < 100),
snapfix AS (SELECT * FROM b UNION ALL SELECT * FROM r1
            UNION ALL SELECT * FROM r2)"""
    return snapshot_paragraph_diff_sql(base, sep=" ## ")


def _path_filter_oracle() -> str:
    from rio_cogeo_spark.operators.urlfilter import path_pattern_filter_sql

    base = f"""{_P}
, allp AS (SELECT doc_id, url FROM pages
           UNION ALL
           SELECT doc_id + 900000, url || '/Login?SessionID=abc'
           FROM pages WHERE doc_id < 120)"""
    return base + "\n" + path_pattern_filter_sql(
        "allp", ["/login", "sessionid="]
    )


def _semantic_dedup_oracle() -> str:
    # label-mean centroids rebuilt in SQL (0 Lloyd rounds), assignment =
    # argmax UNROUNDED cosine with label-ascending ties (the exact twin
    # of numpy argmax over the sorted-label centroid matrix), pairs
    # cluster-local with the shared 6-dp rounded cosine
    cos_ab = VEC.cosine_sql("a.v", "b.v")
    dot_vc = VEC.dot_sql("b2.v", "c.c")
    n_v = f"sqrt({VEC.dot_sql('b2.v', 'b2.v')})"
    n_c = f"sqrt({VEC.dot_sql('c.c', 'c.c')})"
    return f"""
WITH base AS (SELECT vec_id, label,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
bth AS (SELECT * FROM base
        UNION ALL
        SELECT vec_id + 10000, label, v FROM base WHERE vec_id < 50),
pos AS (SELECT label,
               unnest(list_transform(v, (x, i) -> {{'i': i, 'x': x}})) AS u
        FROM bth),
cm AS (SELECT label, u.i AS i, AVG(u.x) AS ax FROM pos GROUP BY 1, 2),
cent AS (SELECT label, list(ax ORDER BY i) AS c FROM cm GROUP BY label),
scored AS (SELECT b2.vec_id, c.label,
                  {dot_vc} / ({n_v} * {n_c}) AS cs
           FROM bth b2 CROSS JOIN cent c),
asg AS (SELECT vec_id, label AS alist FROM (
          SELECT vec_id, label,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cs DESC, label) AS rn
          FROM scored) WHERE rn = 1)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos_ab} AS cosine
FROM bth a JOIN asg aa ON a.vec_id = aa.vec_id
JOIN bth b ON a.vec_id < b.vec_id
JOIN asg bb ON b.vec_id = bb.vec_id
WHERE aa.alist = bb.alist AND {cos_ab} >= CAST(0.4 AS DOUBLE)"""


def _trending_oracle() -> str:
    from rio_cogeo_spark.operators.search import trending_terms_sql

    return f"{_P}\n" + trending_terms_sql(
        "pages", window_sec=21_600
    ).replace("\nWITH ", "\n, ", 1).replace("WITH tok", ", tok", 1)


def _lang_mix_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import lang_mix_sql

    fixture = (
        "SELECT doc_id, text || ' ## der die und ist der ## le et est le'"
        " || CASE WHEN doc_id < 100 THEN ' ## und der die' ELSE '' END"
        " AS text FROM documents"
    )
    sql = lang_mix_sql("mixed", sep=" ## ")
    return sql.replace("\nWITH paras", f"\nWITH mixed AS ({fixture}),\nparas", 1)


def _bpe_merges_oracle() -> str:
    from rio_cogeo_spark.operators.bpe import bpe_merge_topk_sql

    return bpe_merge_topk_sql(k=30)


def _normalize_text_oracle() -> str:
    # the same decomposed-accent fixture, built with chr(769) = U+0301
    messy = (
        "'  Re' || chr(769) || 'sume' || chr(769) || chr(9) || text "
        "|| '  cafe' || chr(769) || ' '"
    )
    return (
        f"SELECT doc_id, {TX.NORMALIZE_TEXT_SQL.format(c=messy)} "
        "AS text_norm FROM documents"
    )


def _rarity_score_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import token_rarity_sql

    return token_rarity_sql()


def _lm_score_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import bigram_lm_sql

    return bigram_lm_sql()


def _lexdiv_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import lexical_diversity_sql

    return lexical_diversity_sql()


def _vocab_stats_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import vocab_stats_sql

    return vocab_stats_sql()


def _collocations_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import collocations_sql

    return collocations_sql(min_cnt=3, topk=20)


def _ccnet_buckets_oracle() -> str:
    from rio_cogeo_spark.operators.rarity import ccnet_buckets_sql

    return ccnet_buckets_sql()


def _pair_verify_oracle() -> str:
    # exact-Jaccard candidate pairs (the _JACCARD_SQL core) + the
    # pair_verify Levenshtein/ppm formula on 256-char prefixes
    return f"""{_DOCS2}
, s2 AS (SELECT doc_id, sh, len(sh) AS n_sh
         FROM (SELECT doc_id, {_SHINGLES} AS sh FROM docs2)
         WHERE len(sh) > 0),
pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
       WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh))
                    AS DOUBLE), 6) >= CAST(0.5 AS DOUBLE)),
ta AS (SELECT doc_id AS doc_a, left(text, 256) AS ta FROM docs2),
tb AS (SELECT doc_id AS doc_b, left(text, 256) AS tb FROM docs2)
SELECT pr.doc_a, pr.doc_b,
       CAST(levenshtein(ta, tb) AS INT) AS edit_dist,
       CAST(((greatest(length(ta), length(tb)) - levenshtein(ta, tb))
             * 1000000)
            // greatest(greatest(length(ta), length(tb)), 1) AS BIGINT)
           AS sim_ppm
FROM pr JOIN ta USING (doc_a) JOIN tb USING (doc_b)"""


def _corpus_info_oracle() -> str:
    from rio_cogeo_spark.operators.report import corpus_info_sql

    return corpus_info_sql()


def _median_chars_oracle() -> str:
    from rio_cogeo_spark.operators.report import group_median_sql

    return group_median_sql("documents", group_col="lang")


def _host_distance_oracle() -> str:
    from rio_cogeo_spark.operators.graph import host_distance_sql

    return host_distance_sql(
        "SELECT DISTINCT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst"
        " FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97",
        "SELECT * FROM (VALUES (0), (1)) t(host)",
    )


def _frontier_oracle() -> str:
    from rio_cogeo_spark.operators.graph import host_pagerank_sql

    edges = (
        "SELECT DISTINCT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst"
        " FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97"
    )
    dist = ["sd AS (SELECT * FROM (VALUES (0), (1)) t(host))",
            "d0 AS (SELECT DISTINCT host, CAST(0 AS INT) AS hops FROM sd)"]
    for i in range(4):
        dist.append(
            f"d{i + 1} AS (SELECT host, CAST(MIN(hops) AS INT) AS hops "
            f"FROM (SELECT host, hops FROM d{i} UNION ALL "
            f"SELECT e.dst AS host, d.hops + 1 AS hops "
            f"FROM d{i} d JOIN e ON d.host = e.src) GROUP BY 1)"
        )
    recip = [
        "recipe AS (SELECT a.src FROM e a WHERE EXISTS "
        "(SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src))",
        "og AS (SELECT src AS host, COUNT(*) AS out_edges FROM e GROUP BY 1)",
        "rg AS (SELECT src AS host, COUNT(*) AS recip_edges FROM recipe"
        " GROUP BY 1)",
        "rc AS (SELECT og.host, CAST((COALESCE(rg.recip_edges, 0) * 1000000)"
        " // og.out_edges AS BIGINT) AS recip_ppm"
        " FROM og LEFT JOIN rg ON og.host = rg.host)",
    ]
    final = (
        "SELECT d.host, d.hops, r.rank AS rank_ppb,\n"
        "       CAST(COALESCE(rc.recip_ppm, 0) AS BIGINT) AS recip_ppm,\n"
        "       CAST(((r.rank * (1000000 - COALESCE(rc.recip_ppm, 0) // 2))"
        " // 1000000) // (d.hops + 1) AS BIGINT) AS priority_ppb\n"
        "FROM d4 d JOIN r3 r ON d.host = r.host\n"
        "LEFT JOIN rc ON d.host = rc.host"
    )
    return host_pagerank_sql(
        edges, extra_ctes=tuple(dist + recip),
        final_select=final,
    )


def _gate_rates_oracle() -> str:
    from rio_cogeo_spark.functions.text import gopher_gate_sql

    mask = gopher_gate_sql()["gopher_mask"]
    kills = ",\n       ".join(
        f"CAST(SUM(CASE WHEN (m & {1 << b}) <> 0 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS kill_bit{b}"
        for b in range(6)
    )
    return f"""{_P}
, spread AS (SELECT ts_sec + (doc_id % 3) * 21600 AS ts_sec,
                    {mask} AS m
             FROM pages),
win AS (SELECT (ts_sec // 21600) * 21600 AS win_sec, m FROM spread)
SELECT win_sec,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST((SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS pass_ppm,
       {kills}
FROM win GROUP BY 1"""


def _quartiles_oracle() -> str:
    from rio_cogeo_spark.operators.report import group_quantiles_sql

    return group_quantiles_sql()


def _gopher_oracle() -> str:
    from rio_cogeo_spark.functions.text import gopher_gate_sql

    sq = gopher_gate_sql()
    return (
        f"SELECT doc_id, {sq['gopher_mask']} AS gopher_mask, "
        f"{sq['gopher_pass']} AS gopher_pass FROM documents"
    )


def _novelty_oracle() -> str:
    from rio_cogeo_spark.operators.dedup import novelty_by_day_sql

    inner = f"""{_P}
SELECT ts_sec, text FROM pages
UNION ALL SELECT ts_sec, text FROM pages WHERE doc_id < 50
UNION ALL SELECT ts_sec + 259200 AS ts_sec, text FROM pages
    WHERE doc_id < 200
UNION ALL SELECT ts_sec + 432000 AS ts_sec, text || ' EDITED' AS text
    FROM pages WHERE doc_id < 100"""
    return novelty_by_day_sql(inner)


def _badwords_oracle() -> str:
    from rio_cogeo_spark.functions.text import blockword_stats_sql

    sq = blockword_stats_sql(_BADWORDS)
    return (
        f"SELECT doc_id, {sq['block_hits']} AS block_hits, "
        f"{sq['block_ppm']} AS block_ppm FROM documents"
    )


def _recip_links_oracle() -> str:
    from rio_cogeo_spark.operators.graph import reciprocal_links_sql

    return reciprocal_links_sql(
        "SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst"
        " FROM documents"
    )


def _embed_pool_oracle() -> str:
    from rio_cogeo_spark.operators.similarity import pool_embeddings_sql

    return pool_embeddings_sql()


def _dsir_oracle() -> str:
    from rio_cogeo_spark.operators.sampling import importance_weights_sql

    return importance_weights_sql()


def _search_phrase_oracle() -> str:
    from rio_cogeo_spark.operators.search import phrase_topk_sql

    return phrase_topk_sql("documents", ["table", "table"], k=20)


def _chunks_sliding_oracle() -> str:
    from rio_cogeo_spark.operators.chunking import chunk_docs_sliding_sql

    return chunk_docs_sliding_sql(chunk_tokens=16, stride=8)


def _chunks_oracle() -> str:
    from rio_cogeo_spark.operators.chunking import chunk_docs_sql

    return chunk_docs_sql(chunk_tokens=16)


def _pack_chunks_oracle() -> str:
    from rio_cogeo_spark.operators.packing import pack_chunks_sql

    return pack_chunks_sql(context_tokens=64, n_shards=8)


def _repeated_spans_oracle() -> str:
    from rio_cogeo_spark.operators.passages import repeated_ngram_spans_sql

    sql = repeated_ngram_spans_sql("docs2", n=5)
    # splice the dup-union CTE in front of the operator's own CTE chain
    return sql.replace("WITH t AS", _DOCS2 + ",\nt AS", 1)


def _passage_cut_oracle() -> str:
    from rio_cogeo_spark.operators.passages import cut_spans_sql

    inner = cut_spans_sql("docs2", n=5).replace(
        "WITH t AS", _DOCS2 + ",\nt AS", 1
    )
    return (
        "SELECT doc_id, md5(clean_text) AS clean_md5, n_tokens_removed "
        f"FROM ({inner}) q"
    )


def _pii_scrub_oracle() -> str:
    from rio_cogeo_spark.functions.text import pii_scrub_sql

    cols = pii_scrub_sql()
    return f"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
              || '.0.1 ref 9' || lpad(CAST(doc_id AS VARCHAR), 8, '0')
           AS text
  FROM documents)
SELECT doc_id,
       {cols['n_emails']} AS n_emails,
       {cols['n_ips']} AS n_ips,
       {cols['n_ids']} AS n_ids,
       CAST(length({cols['clean_text']}) AS INT) AS clean_len,
       md5({cols['clean_text']}) AS clean_md5
FROM inj"""


def _zorder_oracle() -> str:
    from rio_cogeo_spark.functions.tile import morton_sql

    return f"""{_BASE_CTE}
SELECT tile_x, tile_y, {morton_sql('tile_x', 'tile_y')} AS zkey, page_count
FROM base"""


def _dilate_cte(src: str, name: str) -> str:
    """1-ring dilation of a (tile_x, tile_y) CTE, grid-clipped (the SQL
    twin of focal._neighbor_rows at radius 1)."""
    edge = 2 ** ZOOM - 1
    return f"""
, {name} AS (SELECT DISTINCT b.tile_x + o1.dx AS tile_x, b.tile_y + o2.dy AS tile_y
             FROM {src} b,
                  (VALUES (-1), (0), (1)) o1(dx),
                  (VALUES (-1), (0), (1)) o2(dy)
             WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
               AND b.tile_y + o2.dy BETWEEN 0 AND {edge})"""


def _compact_parts() -> tuple:
    """Per-level window-CTE unroll of focal.compact_tiles over the
    dilated base grid (count siblings per parent, keep qc<4 at the
    level, promote one representative even-even child of each full quad
    to the parent set). Returns (cte_chain, keeps_union) so the
    viewport oracle can reuse the cover as a CTE."""
    parts = [_BASE_CTE, _dilate_cte("base", "dil")]
    prev = "dil"
    keeps = []
    for z in range(ZOOM, COMPACT_MIN_ZOOM, -1):
        parts.append(f"""
, c{z} AS (SELECT tile_x, tile_y,
                  COUNT(*) OVER (PARTITION BY tile_x // 2, tile_y // 2) AS qc
           FROM {prev})
, k{z} AS (SELECT CAST({z} AS INT) AS zoom, tile_x, tile_y FROM c{z} WHERE qc < 4)
, d{z - 1} AS (SELECT tile_x // 2 AS tile_x, tile_y // 2 AS tile_y
               FROM c{z}
               WHERE qc = 4 AND tile_x % 2 = 0 AND tile_y % 2 = 0)""")
        keeps.append(f"SELECT zoom, tile_x, tile_y FROM k{z}")
        prev = f"d{z - 1}"
    keeps.append(
        f"SELECT CAST({COMPACT_MIN_ZOOM} AS INT) AS zoom, tile_x, tile_y FROM {prev}"
    )
    return "".join(parts), "\nUNION ALL\n".join(keeps)


def _compact_oracle() -> str:
    ctes, union = _compact_parts()
    return ctes + "\n" + union


def _viewport_oracle() -> str:
    """Deepest-available-ancestor pick over the compacted cover: the
    viewport enumerates via generate_series, each requested tile joins
    its per-level ancestor keys against the cover, a window keeps the
    deepest hit — the SQL twin of focal.assemble_viewport."""
    ctes, union = _compact_parts()
    x0, y0, x1, y1 = VIEWPORT_BBOX
    anc = " UNION ALL ".join(
        f"SELECT req_x, req_y, CAST({z} AS INT) AS anc_zoom, "
        f"req_x // {2 ** (ZOOM - z)} AS anc_x, "
        f"req_y // {2 ** (ZOOM - z)} AS anc_y FROM vp"
        for z in range(COMPACT_MIN_ZOOM, ZOOM + 1)
    )
    return f"""{ctes}
, avail AS ({union})
, vp AS (SELECT CAST(gx.x AS BIGINT) AS req_x, CAST(gy.y AS BIGINT) AS req_y
         FROM generate_series({x0}, {x1}) gx(x),
              generate_series({y0}, {y1}) gy(y))
, anc AS ({anc})
, hit AS (SELECT a.req_x, a.req_y, v.zoom, v.tile_x, v.tile_y,
                 row_number() OVER (PARTITION BY a.req_x, a.req_y
                                    ORDER BY v.zoom DESC) AS rn
          FROM anc a JOIN avail v
            ON v.zoom = a.anc_zoom AND v.tile_x = a.anc_x
           AND v.tile_y = a.anc_y)
SELECT req_x, req_y, zoom AS src_zoom, tile_x AS src_x, tile_y AS src_y
FROM hit WHERE rn = 1"""


def _focal_cte() -> str:
    """Contribution-explode + neighbor-key aggregate + closed-form
    in-bounds window size — the SQL twin of focal.focal_stats(r=1)."""
    edge = 2 ** ZOOM - 1
    return f"""{_BASE_CTE}
, contrib AS (SELECT b.tile_x + o1.dx AS nx, b.tile_y + o2.dy AS ny,
                     b.page_count AS v
              FROM base b,
                   (VALUES (-1), (0), (1)) o1(dx),
                   (VALUES (-1), (0), (1)) o2(dy)
              WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
                AND b.tile_y + o2.dy BETWEEN 0 AND {edge})
, foc AS (SELECT nx AS tile_x, ny AS tile_y, CAST(SUM(v) AS BIGINT) AS focal_sum
          FROM contrib GROUP BY 1, 2)
, foc2 AS (SELECT tile_x, tile_y, focal_sum,
                  CAST((1 + least(tile_x, 1) + least({edge} - tile_x, 1))
                     * (1 + least(tile_y, 1) + least({edge} - tile_y, 1))
                       AS BIGINT) AS n_cells
           FROM foc)"""


def _focal_mode_oracle() -> str:
    """Majority-filter twin: classify, vote-explode with a dx=dy=0
    center flag, two-stage count + rank (n DESC, cls ASC), keep only
    cells that are themselves classified."""
    edge = 2 ** ZOOM - 1
    return f"""{_BASE_CTE}
, fm_cls AS (SELECT tile_x, tile_y,
                    CAST(CASE WHEN page_count >= 8 THEN 3
                              WHEN page_count >= 4 THEN 2
                              WHEN page_count >= 2 THEN 1
                              ELSE 0 END AS BIGINT) AS cls
             FROM base),
fm_votes AS (SELECT b.tile_x + o1.dx AS nx, b.tile_y + o2.dy AS ny, b.cls,
                    CASE WHEN o1.dx = 0 AND o2.dy = 0 THEN 1 ELSE 0 END
                        AS is_center
             FROM fm_cls b,
                  (VALUES (-1), (0), (1)) o1(dx),
                  (VALUES (-1), (0), (1)) o2(dy)
             WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
               AND b.tile_y + o2.dy BETWEEN 0 AND {edge}),
fm_c AS (SELECT nx, ny, cls, COUNT(*) AS n, MAX(is_center) AS ctr
         FROM fm_votes GROUP BY 1, 2, 3),
fm_m AS (SELECT nx, ny, cls, n,
                SUM(n) OVER (PARTITION BY nx, ny) AS window_count,
                MAX(ctr) OVER (PARTITION BY nx, ny) AS occ,
                row_number() OVER (PARTITION BY nx, ny
                                   ORDER BY n DESC, cls ASC) AS rk
         FROM fm_c)
SELECT nx AS tile_x, ny AS tile_y, cls AS mode_class,
       CAST(n AS BIGINT) AS mode_count,
       CAST(window_count AS BIGINT) AS window_count
FROM fm_m WHERE rk = 1 AND occ = 1"""


def _tile_focal_oracle() -> str:
    return f"""{_focal_cte()}
SELECT tile_x, tile_y, focal_sum, n_cells,
       CAST(focal_sum AS DOUBLE) / CAST(n_cells AS DOUBLE) AS focal_mean
FROM foc2"""


def _hotspots_oracle() -> str:
    """Gi* twin: exact-int global moments over the FULL 4^zoom grid
    (absent cells are 0), then the identical IEEE expression tree as
    focal.hotspots — plain * and sqrt, no pow."""
    n = float(4 ** ZOOM)
    nm1 = n - 1.0
    return f"""{_focal_cte()}
, mo AS (SELECT SUM(CAST(page_count AS DOUBLE)) / {n!r} AS g_mean,
                SUM(CAST(page_count AS DOUBLE) * CAST(page_count AS DOUBLE))
                  / {n!r} AS g_ex2
         FROM base)
SELECT tile_x, tile_y, focal_sum, n_cells,
       (focal_sum - g_mean * CAST(n_cells AS DOUBLE))
       / (sqrt(g_ex2 - g_mean * g_mean)
          * sqrt(({n!r} * CAST(n_cells AS DOUBLE)
                  - CAST(n_cells AS DOUBLE) * CAST(n_cells AS DOUBLE)) / {nm1!r}))
         AS gi_star
FROM foc2, mo"""


def _pyramid_diff_oracle() -> str:
    """Two filtered base CTEs → two per-level pyramid unions → the
    union-negate-sum dual of pyramid_merge (zero rows cancel to
    explicit 0, matching pyramid_subtract's keep-unchanged contract)."""
    def levels(src: str) -> str:
        parts = []
        for j in range(0, LEVELS + 1):
            d = 2 ** j
            parts.append(f"""
SELECT CAST({ZOOM - j} AS INT) AS zoom,
       CAST(floor(tile_x / CAST({d} AS DOUBLE)) AS BIGINT) AS tile_x,
       CAST(floor(tile_y / CAST({d} AS DOUBLE)) AS BIGINT) AS tile_y,
       CAST(SUM(page_count) AS BIGINT) AS page_count,
       CAST(SUM(sum_chars) AS BIGINT) AS sum_chars
FROM {src} GROUP BY 1, 2, 3""")
        return "\nUNION ALL\n".join(parts)

    return f"""{_P}
, assigned AS (SELECT doc_id, n_chars, {_TX8} AS tile_x, {_TY8} AS tile_y FROM pages)
, base_a AS (SELECT tile_x, tile_y, COUNT(*) AS page_count,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             FROM assigned WHERE doc_id % 10 < 5 GROUP BY 1, 2)
, base_b AS (SELECT tile_x, tile_y, COUNT(*) AS page_count,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             FROM assigned WHERE doc_id % 10 >= 5 GROUP BY 1, 2)
, pyr_a AS ({levels('base_a')})
, pyr_b AS ({levels('base_b')})
, u AS (SELECT zoom, tile_x, tile_y, page_count, sum_chars FROM pyr_a
        UNION ALL
        SELECT zoom, tile_x, tile_y, -page_count, -sum_chars FROM pyr_b)
SELECT zoom, tile_x, tile_y,
       CAST(SUM(page_count) AS BIGINT) AS d_page_count,
       CAST(SUM(sum_chars) AS BIGINT) AS d_sum_chars
FROM u GROUP BY 1, 2, 3"""


def _tile_serve_oracle() -> str:
    """Sparse-pyramid serving twin: the per-level pyramid union as the
    available store, viewport ancestors joined, deepest hit ranked,
    band values carried through."""
    x0, y0, x1, y1 = VIEWPORT_BBOX
    min_z = ZOOM - LEVELS
    lv = []
    for j in range(0, LEVELS + 1):
        d = 2 ** j
        lv.append(f"""
SELECT CAST({ZOOM - j} AS INT) AS zoom,
       CAST(floor(tile_x / CAST({d} AS DOUBLE)) AS BIGINT) AS tile_x,
       CAST(floor(tile_y / CAST({d} AS DOUBLE)) AS BIGINT) AS tile_y,
       CAST(SUM(page_count) AS BIGINT) AS page_count,
       CAST(SUM(sum_chars) AS BIGINT) AS sum_chars
FROM base GROUP BY 1, 2, 3""")
    anc = " UNION ALL ".join(
        f"SELECT req_x, req_y, CAST({z} AS INT) AS anc_zoom, "
        f"req_x // {2 ** (ZOOM - z)} AS anc_x, "
        f"req_y // {2 ** (ZOOM - z)} AS anc_y FROM vp"
        for z in range(min_z, ZOOM + 1)
    )
    return f"""{_BASE_CTE}
, pyr AS ({(chr(10) + "UNION ALL").join(lv)})
, vp AS (SELECT CAST(gx.x AS BIGINT) AS req_x, CAST(gy.y AS BIGINT) AS req_y
         FROM generate_series({x0}, {x1}) gx(x),
              generate_series({y0}, {y1}) gy(y))
, anc AS ({anc})
, hit AS (SELECT a.req_x, a.req_y, p.zoom, p.tile_x, p.tile_y,
                 p.page_count, p.sum_chars,
                 row_number() OVER (PARTITION BY a.req_x, a.req_y
                                    ORDER BY p.zoom DESC) AS rn
          FROM anc a JOIN pyr p
            ON p.zoom = a.anc_zoom AND p.tile_x = a.anc_x
           AND p.tile_y = a.anc_y)
SELECT req_x, req_y, zoom AS src_zoom, tile_x AS src_x, tile_y AS src_y,
       page_count, sum_chars
FROM hit WHERE rn = 1"""


def _quadkey_oracle() -> str:
    """parent = substr(child, 1, z-1): the prefix-ancestor property is
    the contract (the Spark side re-encodes the parent coords)."""
    from rio_cogeo_spark.functions.quadkey import quadkey_sql

    qk = quadkey_sql("tile_x", "tile_y", ZOOM)
    return f"""{_BASE_CTE}
SELECT tile_x, tile_y, {qk} AS qk, substr({qk}, 1, {ZOOM - 1}) AS parent_qk
FROM base"""


def _morton_range_oracle() -> str:
    """The bbox filter DIRECTLY — hash-equality with the Spark side's
    OR-of-morton-ranges filter proves the quadtree decomposition covers
    exactly the bbox."""
    from rio_cogeo_spark.functions.tile import morton_sql

    x0, y0, x1, y1 = MORTON_BBOX
    return f"""{_BASE_CTE}
, w AS (SELECT tile_x, tile_y FROM base
        WHERE tile_x BETWEEN {x0} AND {x1} AND tile_y BETWEEN {y0} AND {y1})
SELECT tile_x, tile_y, {morton_sql('tile_x', 'tile_y')} AS morton FROM w"""


def _temperature_mix_oracle() -> str:
    from rio_cogeo_spark.operators.sampling import temperature_mix_sql

    return temperature_mix_sql(
        target_ppm=400_000, select="d.doc_id, d.lang"
    )


def _split_safe_oracle() -> str:
    from rio_cogeo_spark.operators.sampling import split_assign_sql

    key = split_assign_sql("COALESCE(c.component, d.doc_id)")
    return f"""WITH RECURSIVE docs2 AS (
  SELECT * FROM documents UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id < 50),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs2),
s2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6)
        >= CAST(0.5 AS DOUBLE)),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach AS (SELECT doc_id AS a, doc_id AS b FROM nodes
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
SELECT d.doc_id, {key} AS split
FROM docs2 d LEFT JOIN comp c ON d.doc_id = c.doc_id"""


def _sample_split_oracle() -> str:
    from rio_cogeo_spark.operators.sampling import split_assign_sql

    return (
        f"SELECT doc_id, {split_assign_sql('doc_id')} AS split "
        "FROM documents"
    )


def _sample_stratified_oracle() -> str:
    from rio_cogeo_spark.operators.sampling import uniform_hash_sql

    u = uniform_hash_sql("doc_id")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {u} < CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                      WHEN 'es' THEN CAST(0.25 AS DOUBLE)
                      WHEN 'de' THEN CAST(0.1 AS DOUBLE)
                      ELSE CAST(0.05 AS DOUBLE) END"""
