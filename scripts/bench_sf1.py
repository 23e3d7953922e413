"""sf1 memory-pressure probe for the text/packing suite (round-3 verdict
item #10): run minhash_lsh / repetition / contamination / pack_chunks /
clean_corpus over a documents table ~100x the sf0.1 one (500k docs,
deterministic replication with shifted doc_ids and per-replica token
salting, so pair structure grows linearly — see build_docs_sf1), and compare per-doc seconds against the same ops
over the sf0.1 table measured in the same session.

PASS criterion (verdict): no query's per-doc time at the big scale may
exceed 10x its sf0.1 per-doc time — a super-linear blowup there means a
memory/spill cliff the 100 TB design would hit.

Usage: python scripts/bench_sf1.py   (writes BENCH/SF1.md + sf1_snapshot.json)
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


def build_docs_sf1(spark, sf_dir: str, replicate: int):
    """Deterministically replicate documents: replica k shifts doc_id by
    k*stride and SALTS every token with the replica index, so replicas
    share zero shingles. The sf0.1 near-dup/duplicate structure repeats
    once per replica (pair count grows LINEARLY with the corpus, as it
    must for a scaling probe) while the distinct-shingle vocabulary and
    every per-doc cost grow 100x. Exact-duplicate or rotated replicas
    would instead create quadratic cross-replica candidate clusters — a
    data pathology (real pipelines exact-dedup before MinHash), not an
    engine measurement."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stride = docs.agg(F.max("doc_id")).first()[0] + 1
    k = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("k")
    e = docs.select("doc_id", "text", "lang", "n_chars", k)
    sep = F.concat(F.lit("_"), F.col("k").cast("string"), F.lit(" "))
    salted = F.when(F.col("k") == 0, F.col("text")).otherwise(
        F.concat(
            F.regexp_replace(F.col("text"), F.lit(" "), sep),
            F.lit("_"), F.col("k").cast("string"),
        )
    )
    return e.select(
        (F.col("doc_id") + F.col("k") * stride).alias("doc_id"),
        salted.alias("text"),
        "lang",
        F.length(salted).cast("long").alias("n_chars"),
    )


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench_sf1")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from rio_cogeo_spark.functions.text import repetition_stats
    from rio_cogeo_spark.operators import dedup as DD
    from rio_cogeo_spark.operators.contamination import (
        bloom_prefilter,
        contamination_hits,
    )
    from rio_cogeo_spark.operators.packing import pack_chunks

    import tempfile

    big_path = os.path.join(tempfile.gettempdir(), f"sf1_docs_v2_{REPLICATE}")
    if not os.path.exists(os.path.join(big_path, "_SUCCESS")):
        build_docs_sf1(spark, SF_DIR, REPLICATE).repartition(64).write.mode(
            "overwrite"
        ).parquet(big_path)

    small = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    big = spark.read.parquet(big_path)
    n_small, n_big = small.count(), big.count()

    from rio_cogeo_spark.operators.chunking import (
        chunk_docs, chunk_docs_sliding,
    )
    from rio_cogeo_spark.operators.passages import (
        cut_spans, repeated_ngram_spans,
    )
    from rio_cogeo_spark.operators.boilerplate import boilerplate_lines
    from rio_cogeo_spark.operators.sampling import cap_per_host
    from rio_cogeo_spark.functions.text import normalize_text
    from rio_cogeo_spark.operators.bpe import bpe_merge_topk
    from rio_cogeo_spark.operators.rarity import (
        bigram_lm, ccnet_buckets, collocations, lang_mix,
        lexical_diversity, token_rarity, vocab_stats,
    )
    from rio_cogeo_spark.operators.sampling import importance_weights
    from rio_cogeo_spark.functions.text import blockword_stats, gopher_gate
    from rio_cogeo_spark.operators.graph import crawl_frontier
    from rio_cogeo_spark.operators.report import (
        corpus_info,
        dissimilarity_index,
        exposure_index,
        group_quantiles,
        theil_h,
    )
    from rio_cogeo_spark.streaming.quality import gate_rates_batch

    _GG = gopher_gate(F.col("text"))
    _BW = blockword_stats(F.col("text"), ["alpha", "delta", "data", "the"])
    from rio_cogeo_spark.operators.graph import host_pagerank
    from rio_cogeo_spark.operators.search import (
        bm25_topk, phrase_topk, search_topk, tfidf_keywords,
    )
    from rio_cogeo_spark.operators.urlfilter import (
        blocklist_filter, path_pattern_filter,
    )

    def suite(docs):
        bench_docs = docs.filter(F.col("doc_id") % 97 == 0)
        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        rep = repetition_stats(F.col("text"))
        # crawl-shaped view: urls/timestamps derived from doc_id exactly
        # like synth.pages_cte, so the url ops see pages-table cardinality
        paged = docs.select(
            "doc_id",
            F.concat(
                F.lit("https://site"),
                (F.col("doc_id") % 9973).cast("string"),
                F.lit(".example/page/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            (F.lit(1735689600) + F.col("doc_id") * 13).alias("ts_sec"),
            "text",
        )

        def _components():
            pairs = DD.minhash_lsh_pairs(
                docs, threshold=0.5, num_hashes=128, bands=64
            )
            return DD.dedup_components(pairs).count()

        def _spans_and_cut():
            spans = repeated_ngram_spans(docs, n=5, min_count=2)
            return cut_spans(docs, spans).count()

        def _dedup_incremental():
            # the crawl loop: index the even half once, dedup the odd
            # half against it (build + query both timed — the build is
            # the amortized cost, the query the per-snapshot one)
            import shutil
            import tempfile

            old = docs.filter(F.col("doc_id") % 2 == 0)
            new = docs.filter(F.col("doc_id") % 2 == 1)
            path = tempfile.mkdtemp(prefix="sf1_lsh_idx_")
            try:
                DD.minhash_save_index(old, path, num_hashes=128, bands=64)
                return DD.minhash_dedup_against_index(
                    new, path, threshold=0.5
                ).count()
            finally:
                shutil.rmtree(path, ignore_errors=True)

        return {
            "continuation": lambda: DD.continuation_pairs(
                docs.select("doc_id", "text"), k=8
            ).count(),
            "mirror_hosts": lambda: DD.mirror_host_pairs(
                paged, min_shared=1
            ).count(),
            "minhash_lsh": lambda: DD.minhash_lsh_pairs(
                docs, threshold=0.5, num_hashes=128, bands=64
            ).count(),
            "repetition": lambda: docs.select(
                "doc_id", rep["dup_bigram_frac"].alias("f")
            ).agg(F.sum("f")).first(),
            "contamination": lambda: contamination_hits(
                corpus, bench_docs, n=3
            ).count(),
            "pack_chunks": lambda: pack_chunks(
                docs, context_tokens=2048, n_shards=64
            ).count(),
            "clean_corpus": lambda: (
                DD.exact_dedup(corpus)
                .select("doc_id", rep["dup_bigram_frac"].alias("dup_frac"))
                .filter(F.col("dup_frac") <= 0.1)
                .join(contamination_hits(corpus, bench_docs, n=3),
                      "doc_id", "left_anti")
                .count()
            ),
            # round-5 extension (VERDICT r4 #5): the round-3/4 operators
            "chunks": lambda: chunk_docs(docs, chunk_tokens=128).count(),
            "chunks_sliding": lambda: chunk_docs_sliding(
                docs, chunk_tokens=128, stride=64
            ).count(),
            "search": lambda: search_topk(
                docs, ["spark", "hash", "window"], k=20
            ).count(),
            "dedup_components": _components,
            "spans_cut": _spans_and_cut,
            "dedup_incremental": _dedup_incremental,
            "url_latest": lambda: DD.url_dedup_latest(paged).count(),
            "snapshot_delta": lambda: DD.snapshot_change_stats(
                paged
            ).count(),
            "paragraph_dedup": lambda: DD.paragraph_dedup(
                paged.select(
                    "doc_id",
                    F.concat(
                        F.lit("shared header"), F.lit("\n\n"), "text",
                        F.lit("\n\n"), F.lit("shared footer"),
                    ).alias("text"),
                )
            ).count(),
            "domain_filter": lambda: blocklist_filter(
                paged, [f"site{i}.example" for i in range(0, 9973, 13)]
            ).count(),
            "search_bm25": lambda: bm25_topk(
                docs, ["spark", "hash", "window"], k=20
            ).count(),
            "host_cap": lambda: cap_per_host(paged, k=3).count(),
            # round-5 additions (ROUND5.md §24-28)
            "rarity_score": lambda: token_rarity(docs).count(),
            "search_phrase": lambda: phrase_topk(
                docs, ["table", "table"], k=20
            ).count(),
            "path_filter": lambda: path_pattern_filter(
                paged, ["/login", "sessionid=", "/cgi-bin/", ".exe"]
            ).count(),
            "dedup_keep_best": lambda: DD.dedup_keep_best(
                docs,
                DD.minhash_lsh_pairs(
                    docs, threshold=0.5, num_hashes=128, bands=64
                ),
            ).count(),
            # round-5 additions, part 2 (ROUND5.md §30-§38)
            "bpe_merges": lambda: bpe_merge_topk(docs, k=30).count(),
            "normalize_text": lambda: docs.select(
                "doc_id", normalize_text(F.col("text")).alias("t")
            ).agg(F.sum(F.length("t"))).first(),
            "mirror_docs": lambda: DD.mirror_docs(
                # re-host every 7th doc on a second host so mirrors exist
                paged.unionByName(
                    paged.filter(F.col("doc_id") % 7 == 0).select(
                        (F.col("doc_id") + 10_000_000).alias("doc_id"),
                        F.concat(F.lit("https://m.example/"),
                                 F.col("doc_id").cast("string")).alias("url"),
                        "ts_sec", "text",
                    )
                )
            ).count(),
            "containment": lambda: DD.containment_pairs(
                docs, threshold=0.8, df_cap="auto"
            ).count(),
            "lang_mix": lambda: lang_mix(
                paged.select(
                    "doc_id",
                    F.concat(
                        "text",
                        F.lit(" ## der die und ist ## le et est le"),
                    ).alias("text"),
                ),
                sep=" ## ",
            ).count(),
            # snapshot-shaped view: ~9973 canonical URLs, so each URL
            # accumulates n_docs/9973 snapshots (50 at sf0.1, 5000 at
            # sf1) — the per-URL window stress grows WITH scale here
            "snapshot_para_diff": lambda: DD.snapshot_paragraph_diff(
                paged.select(
                    "doc_id",
                    F.concat(
                        F.lit("https://site"),
                        (F.col("doc_id") % 9973).cast("string"),
                        F.lit(".example/p"),
                    ).alias("url"),
                    "ts_sec",
                    F.concat(
                        F.lit("hdr ## "), "text", F.lit(" ## ftr"),
                    ).alias("text"),
                ),
                sep=" ## ",
            ).count(),
            # round-5 additions, part 3 (ROUND5.md §47-§48)
            "pagerank": lambda: host_pagerank(
                # doc-derived host digraph: host space scales with the
                # corpus (mod 9973) so the rank table grows too
                docs.selectExpr(
                    "doc_id % 9973 AS src", "(doc_id * 31 + 7) % 9973 AS dst"
                ).filter("src <> dst").distinct(),
                iterations=3,
            ).agg(F.sum("rank_ppb")).first(),
            "keywords": lambda: tfidf_keywords(docs, k=5).count(),
            "boilerplate_cut": lambda: boilerplate_lines(
                paged.select(
                    "doc_id", "url",
                    F.concat(
                        F.lit("NAV "),
                        (F.col("doc_id") % 9973).cast("string"),
                        F.lit("\n"), "text", F.lit("\nSHARED FOOTER"),
                    ).alias("text"),
                )
            ).count(),
            # round-5 additions, part 4 (ROUND5.md §51-§53). The salted
            # replication grows the BIGRAM vocabulary ~100x, so the LM
            # family runs with broadcast_model=False at both scales —
            # the one-row-per-key shuffle join IS the 100 TB
            # configuration (a 100x bigram model stops fitting a
            # broadcast long before the corpus stops fitting the
            # cluster).
            "lm_score": lambda: bigram_lm(
                docs, broadcast_model=False
            ).count(),
            "lexdiv": lambda: lexical_diversity(docs).count(),
            "vocab_stats": lambda: vocab_stats(docs).count(),
            "collocations": lambda: collocations(
                docs, min_cnt=5, topk=100
            ).count(),
            "ccnet_buckets": lambda: ccnet_buckets(
                docs, broadcast_model=False
            ).count(),
            "dsir_weights": lambda: importance_weights(
                docs, "lang = 'en'", broadcast_model=False
            ).count(),
            "pair_verify": lambda: DD.pair_verify(
                docs,
                DD.minhash_lsh_pairs(
                    docs, threshold=0.5, num_hashes=128, bands=64
                ),
                prefix_len=256,
            ).count(),
            # round-5 additions, part 5 (ROUND5.md §55-§62). The host
            # graph derives mod 9973 so the node space scales with the
            # corpus, like the pagerank entry above.
            "corpus_info": lambda: corpus_info(docs).count(),
            "quartiles": lambda: group_quantiles(docs).count(),
            "novelty": lambda: DD.novelty_by_day(
                paged.select("ts_sec", "text")
            ).count(),
            "gopher": lambda: docs.select(
                "doc_id", _GG["gopher_mask"].alias("m")
            ).agg(F.sum("m")).first(),
            "badwords": lambda: docs.select(
                "doc_id", _BW["block_hits"].alias("h")
            ).agg(F.sum("h")).first(),
            "gate_rates": lambda: gate_rates_batch(
                paged.select(
                    "doc_id", "text",
                    (F.col("ts_sec") + (F.col("doc_id") % 3) * 21_600)
                    .alias("ts_sec"),
                )
            ).count(),
            "frontier": lambda: crawl_frontier(
                docs.selectExpr(
                    "doc_id % 9973 AS src",
                    "(doc_id * 31 + 7) % 9973 AS dst",
                ),
                docs.sparkSession.range(0, 5).selectExpr("id AS host"),
                max_hops=4, iterations=3,
            ).agg(F.sum("priority_ppb")).first(),
            # this-session additions (ROUND5.md §67, §69)
            "winnow": lambda: DD.winnow_pairs(
                docs, min_shared=2, k=3, w=4, df_cap="auto"
            ).count(),
            "bloom_prefilter": lambda: bloom_prefilter(
                corpus, bench_docs, m_bits=1 << 20, n_hashes=4
            ).count(),
            # eighth-session spatial-stats additions (ROUND5.md §140):
            # cell keys derive deterministically from doc_id (the grid
            # is fixed 256x256 while the corpus grows 100x — the
            # corpus-fold term is what must stay linear; the pair/
            # window terms are grid-bounded by design)
            "dissimilarity": lambda: dissimilarity_index(
                docs.selectExpr(
                    "doc_id % 256 AS tile_x",
                    "(doc_id * 7) % 256 AS tile_y", "lang",
                )
            ).count(),
            "theil_h": lambda: theil_h(
                docs.selectExpr(
                    "doc_id % 256 AS tile_x",
                    "(doc_id * 7) % 256 AS tile_y", "lang",
                )
            ).count(),
            "exposure": lambda: exposure_index(
                docs.selectExpr(
                    "doc_id % 256 AS tile_x",
                    "(doc_id * 7) % 256 AS tile_y", "lang",
                )
            ).count(),
        }

    # SPARK_GRAFT_SF1_ONLY="a,b,c" runs just those queries and merges
    # into the existing snapshot (each query's small+big pair is still
    # measured in ONE session, which is what the per-doc ratio needs)
    only = {
        s for s in os.environ.get("SPARK_GRAFT_SF1_ONLY", "").split(",") if s
    }
    snap_path = REPO / "BENCH" / "sf1_snapshot.json"
    results = {}
    if only and snap_path.exists():
        prior = json.loads(snap_path.read_text())
        if prior.get("replicate") == REPLICATE:
            results = {
                k: v for k, v in prior.get("results", {}).items()
                if k not in only
            }

    for scale, docs, n in (("sf0.1", small, n_small), ("sf1", big, n_big)):
        for name, fn in suite(docs).items():
            if only and name not in only:
                continue
            best = None
            for _ in range(REPS):
                t0 = time.time()
                fn()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            results.setdefault(name, {})[scale] = round(best, 3)
            print(f"{scale} {name}: {best:.2f}s", flush=True)

    rows = []
    ok_all = True
    for name, t in results.items():
        per_small = t["sf0.1"] / n_small
        per_big = t["sf1"] / n_big
        ratio = per_big / per_small
        ok = ratio <= 10.0
        ok_all &= ok
        rows.append((name, t["sf0.1"], t["sf1"], ratio, ok))

    md = [
        "# BENCH/SF1 — text/packing suite at ~100x documents\n",
        f"Input: {n_big:,} docs (deterministic {REPLICATE}x replication of "
        f"{SF_DIR} documents, shifted ids + per-replica token salting) vs "
        f"{n_small:,} docs; local[{cpus}], min-of-{REPS}.\n",
        "PASS rule (round-3 verdict #10): per-doc time at the big scale "
        "<= 10x the sf0.1 per-doc time for every query.\n",
        "| query | sf0.1 (s) | sf1 (s) | per-doc ratio | ok |",
        "|---|---|---|---|---|",
    ]
    for name, ts, tb, ratio, ok in rows:
        md.append(f"| {name} | {ts} | {tb} | {ratio:.2f}x | "
                  f"{'PASS' if ok else 'FAIL'} |")
    md.append(f"\n**Overall: {'PASS' if ok_all else 'FAIL'}** — a per-doc "
              "ratio near 1x means the op is linear in the corpus; the 10x "
              "bound is the memory/spill-cliff detector.")
    # keep hand-written analysis sections ("## ..." after the table) across
    # regenerations — the table is machine-owned, the notes are not
    sf1_md = REPO / "BENCH" / "SF1.md"
    if sf1_md.exists():
        old = sf1_md.read_text()
        cut = old.find("\n## ")
        if cut != -1:
            md.append(old[cut:].rstrip("\n"))
    sf1_md.write_text("\n".join(md) + "\n")
    snap_path.write_text(json.dumps({
        "n_small": n_small, "n_big": n_big, "replicate": REPLICATE,
        "cpus": cpus, "reps": REPS, "results": results,
        "pass": ok_all,
    }, indent=1))
    print(json.dumps({"pass": ok_all, "results": results}))
    spark.stop()
    if not ok_all:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
