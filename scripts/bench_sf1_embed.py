"""100x-vectors scaling probe for the EMBEDDING suite (the text ops have
BENCH/SF1.md; this is the same evidence for embed_neardup /
semantic_dedup / ann_ivf_free at ~100x the sf0.1 embeddings table).

Replication is by per-replica SIGN FLIP: replica k multiplies every
vector element-wise by a deterministic ±1 pattern seeded from (k, dim).
Sign flips preserve every INTRA-replica dot product exactly
((s⊙a)·(s⊙b) = a·b since s_i² = 1), so the sf0.1 near-dup pair
structure repeats once per replica — pair counts grow LINEARLY, as a
scaling probe requires — while CROSS-replica cosines are those of
independent random sign patterns (≈ N(0, 1/√d): far below any useful
threshold, so no quadratic cross-replica cluster pathology).

PASS rule (same as bench_sf1.py): per-VECTOR time at the big scale
≤ 10x the small scale for the sub-quadratic ops (semantic_dedup with
constant-target cluster size; ann_ivf_free whose probe set is a fixed
fraction of lists). embed_neardup — the EXACT all-pairs baseline — is
measured and reported but exempt: it is Θ(n²/chunk) by definition, the
very cost SemDeDup exists to avoid, and its row in the table is marked
`expected-quadratic`.

Usage: python scripts/bench_sf1_embed.py   (writes BENCH/SF1_EMBED.md)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICATE = int(os.environ.get("SPARK_GRAFT_SF1_REPLICATE", "100"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))


def build_embed_sf1(spark, sf_dir: str, replicate: int):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    stride = emb.agg(F.max("vec_id")).first()[0] + 1
    k = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("k")
    e = emb.select("vec_id", "embedding", "label", k)
    # ±1 from murmur3(k, i): deterministic, replica 0 keeps the original
    flipped = F.expr(
        "CASE WHEN k = 0 THEN embedding ELSE "
        "transform(embedding, (x, i) -> CAST(x * "
        "(CASE WHEN pmod(hash(k, i), 2) = 0 THEN 1.0 ELSE -1.0 END)"
        " AS FLOAT)) END"
    )
    return e.select(
        (F.col("vec_id") + F.col("k") * stride).alias("vec_id"),
        flipped.alias("embedding"),
        "label",
    )


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench_sf1_embed")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from rio_cogeo_spark.operators import dedup as DD
    from rio_cogeo_spark.operators import similarity as SIM

    import tempfile

    def materialized(replicate):
        path = os.path.join(
            tempfile.gettempdir(), f"sf1_embed_v1_{replicate}"
        )
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            build_embed_sf1(spark, SF_DIR, replicate).repartition(
                32
            ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    small = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    big = materialized(REPLICATE)
    # the exact all-pairs baseline is Θ(n²·d): at 100x vectors that is
    # ~10^16 flops — days, not a probe. It gets its own 10x table, which
    # is enough to EXHIBIT the quadratic curve the sub-quadratic ops
    # avoid at 100x.
    mid = materialized(max(2, REPLICATE // 10))
    n_small, n_big, n_mid = small.count(), big.count(), mid.count()

    def suite(emb, n):
        # constant TARGET cluster size (~160 vectors) so Σ|c|² stays
        # linear in n; the k-means++ sample must exceed n_lists
        n_lists = max(16, n // 160)
        sample = max(4096, 2 * n_lists)
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )

        def _semantic():
            cent = SIM.ivf_build_centroids(
                emb.drop("label"), n_lists=n_lists, sample_rows=sample
            )
            return SIM.semantic_dedup_pairs(emb, cent, threshold=0.4).count()

        def _ann():
            return SIM.ann_ivf_topk(
                emb.drop("label"), queries, k=10,
                n_probe=max(2, n_lists // 8), n_lists=n_lists,
            ).count()

        def _int8():
            # brute int8 scan: linear in n (5 broadcast queries), the
            # quantize pass is a projection — per-vector cost constant
            from rio_cogeo_spark.operators.quantize import ann_int8_topk

            return ann_int8_topk(emb.drop("label"), k=10).count()

        def _pq():
            # PQ ADC: codebook fold + encode projection + broadcast-LUT
            # scoring — every stage linear in n (codes per subquantizer
            # fixed at the 10 labels)
            from rio_cogeo_spark.operators.quantize import ann_pq_topk

            return ann_pq_topk(emb, m=4).count()

        return {
            "semantic_dedup": _semantic,
            "ann_ivf_free": _ann,
            "ann_int8": _int8,
            "ann_pq": _pq,
        }

    results = {}
    for scale, emb, n in (("sf0.1", small, n_small), ("sf1", big, n_big)):
        for name, fn in suite(emb, n).items():
            best = None
            for _ in range(REPS):
                t0 = time.time()
                fn()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            results.setdefault(name, {})[scale] = round(best, 3)
            print(f"{scale} {name}: {best:.2f}s", flush=True)
    # exact baseline: small + 10x only (see the `mid` note above)
    for scale, emb in (("sf0.1", small), ("sf1", mid)):
        best = None
        for _ in range(REPS):
            t0 = time.time()
            DD.embedding_neardup_pairs(emb, threshold=0.4).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results.setdefault("embed_neardup_10x", {})[scale] = round(best, 3)
        print(f"{scale} embed_neardup_10x: {best:.2f}s", flush=True)

    exempt = {"embed_neardup_10x"}
    rows, ok_all = [], True
    for name, t in results.items():
        nb = n_mid if name in exempt else n_big
        ratio = (t["sf1"] / nb) / (t["sf0.1"] / n_small)
        ok = ratio <= 10.0 or name in exempt
        ok_all &= ok
        tag = "expected-quadratic" if name in exempt else (
            "PASS" if ratio <= 10.0 else "FAIL")
        rows.append((name, t["sf0.1"], t["sf1"], ratio, tag))

    md = [
        "# BENCH/SF1_EMBED — embedding suite at ~100x vectors\n",
        f"Input: {n_big:,} vectors ({REPLICATE}x sign-flip replication of "
        f"{SF_DIR} embeddings — intra-replica dot products exact, "
        f"cross-replica cosines ≈ N(0, 1/√d)) vs {n_small:,}; "
        f"local[{cpus}], min-of-{REPS}.\n",
        "PASS rule: per-vector time ≤ 10x for the sub-quadratic ops "
        "(constant-target cluster size, fixed probe fraction). "
        f"embed_neardup — the EXACT all-pairs baseline, Θ(n²·d) — runs "
        f"at 10x ({n_mid:,} vectors) only and is `expected-quadratic` "
        "by design: at 100x it would be ~10^16 flops, the very cost "
        "SemDeDup exists to avoid; the measured per-vector blowup IS "
        "the SemDeDup speedup.\n",
        "| query | sf0.1 (s) | sf1 (s) | per-vector ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    for name, ts, tb, ratio, tag in rows:
        md.append(f"| {name} | {ts} | {tb} | {ratio:.2f}x | {tag} |")
    out_md = REPO / "BENCH" / "SF1_EMBED.md"
    out_md.write_text("\n".join(md) + "\n")
    print(json.dumps({"pass": ok_all, "results": results}))
    spark.stop()
    if not ok_all:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
