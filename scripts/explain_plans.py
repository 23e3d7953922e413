"""Physical-plan audit: print and assert the plan properties that matter
at 100 TB — predicate pushdown reaching the parquet scan, column pruning,
broadcast joins on small sides, no shuffle in the tile-assignment
projection, partial aggregation before every exchange.

Run: python scripts/explain_plans.py   (writes docs/PLANS.md)
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan_audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from rio_cogeo_spark.operators import dedup as DD
    from rio_cogeo_spark.operators import join as J
    from rio_cogeo_spark.operators.translate import assign_tiles, base_tiles
    from rio_cogeo_spark.synth import synth_pages

    sf = "/root/testdata/sf0.01"
    pages = synth_pages(spark, sf)
    checks = []
    sections = []

    def audit(name, df, must, must_not=()):
        p = plan_of(df)
        ok = True
        notes = []
        for pat in must:
            hit = re.search(pat, p) is not None
            ok &= hit
            notes.append(f"  {'PASS' if hit else 'FAIL'} must-have: /{pat}/")
        for pat in must_not:
            hit = re.search(pat, p) is not None
            ok &= not hit
            notes.append(f"  {'PASS' if not hit else 'FAIL'} must-not: /{pat}/")
        checks.append((name, ok))
        sections.append((name, "\n".join(notes), p))
        print(f"[{'OK' if ok else 'BAD'}] {name}")
        for n in notes:
            print(n)

    # 1. filter + projection pushdown to the parquet scan
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    audit(
        "scan pushdown (filter + column pruning)",
        q,
        must=[r"PushedFilters: \[.*IsNotNull\(lang\).*EqualTo\(lang,en\)",
              r"ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"],
    )

    # 2. tile assignment = projection only: a pure JVM expression (r06
    # — the former ArrowEvalPython boundary is gone; values asserted
    # equal to numpy by tests/test_tile_expr.py), and the assignment
    # adds ZERO exchanges over the bare pages plan (the pages synth
    # itself carries one broadcast join)
    assigned = assign_tiles(pages, 8)
    p2a = plan_of(assigned)
    p2b = plan_of(pages)
    n_ex = len(re.findall(r"\(\d+\) Exchange", p2a))
    n_ex_base = len(re.findall(r"\(\d+\) Exchange", p2b))
    t2_ok = (
        "ArrowEvalPython" not in p2a
        and "BatchEvalPython" not in p2a
        and n_ex == n_ex_base
    )
    checks.append(("tile assignment (no shuffle, no Python boundary)", t2_ok))
    sections.append(
        ("tile assignment", f"  {'PASS' if t2_ok else 'FAIL'} "
         f"no Python eval; exchanges {n_ex} == base {n_ex_base}", p2a)
    )
    print(f"[{'OK' if t2_ok else 'BAD'}] tile assignment plan")

    # 3. base agg: partial agg before the exchange (map-side combine)
    bt = base_tiles(pages, 8)
    p3 = plan_of(bt)
    partial_before_exchange = bool(
        re.search(r"HashAggregate.*[\s\S]*Exchange[\s\S]*HashAggregate", p3)
    )
    checks.append(("base agg partial-before-final", partial_before_exchange))
    sections.append(
        ("base agg partial/final", f"  {'PASS' if partial_before_exchange else 'FAIL'} "
         "two HashAggregates around one Exchange", p3)
    )
    print(f"[{'OK' if partial_before_exchange else 'BAD'}] base agg partial/final")

    # 4. PIP: broadcast join on the cell key, never a sort-merge
    pip = J.point_in_polygon(pages, J.build_admin_areas())
    audit(
        "PIP prefilter join (broadcast, no sort-merge)",
        pip,
        must=[r"BroadcastHashJoin|BroadcastExchange"],
        must_not=[r"SortMergeJoin"],
    )

    # 5. kNN brute: broadcast nested loop over the tiny query set only
    qdf = spark.createDataFrame(
        [("Q0", 35.0, 139.0)], "query_id string, q_lat double, q_lon double"
    )
    knn = J.knn_bruteforce(pages, qdf, k=5)
    audit(
        "kNN broadcast (big side never shuffles before window)",
        knn,
        must=[r"BroadcastNestedLoopJoin|BroadcastExchange"],
        must_not=[r"SortMergeJoin"],
    )

    # 6. minhash LSH band self-join: shuffle join on (band, bucket) is
    # expected; the shingle arrays must NOT appear in the band exchange
    docs_d = spark.read.parquet(f"{sf}/documents.parquet")
    lsh = DD.minhash_lsh_pairs(docs_d, 0.5, 128, 64, eager_release=False)
    p6 = plan_of(lsh)
    band_exchange_thin = "sh#" not in "".join(
        re.findall(r"Exchange hashpartitioning\(band[^\n]*", p6)
    )
    checks.append(("LSH band exchange excludes shingle arrays", band_exchange_thin))
    sections.append(
        ("LSH band exchange", f"  {'PASS' if band_exchange_thin else 'FAIL'} "
         "band-bucket exchange carries no shingle arrays", p6)
    )
    print(f"[{'OK' if band_exchange_thin else 'BAD'}] LSH band exchange thin")

    # 7. embedding near-dup: blocked-matmul candidates — the plan must be
    # equi-joins + mapInPandas, with NO BroadcastNestedLoopJoin / cartesian
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    nd = DD.embedding_neardup_pairs(emb, threshold=0.4)
    audit(
        "embedding near-dup (block matmul, no cartesian)",
        nd,
        must=[r"FlatMapGroupsInPandas|MapInPandas"],
        must_not=[r"BroadcastNestedLoopJoin", r"CartesianProduct"],
    )

    # 8. benchmark contamination: the benchmark shingle set must broadcast
    # (corpus side never shuffles before the per-doc hit aggregation)
    from rio_cogeo_spark.operators.contamination import contamination_hits

    cont = contamination_hits(
        docs_d.filter(F.col("doc_id") % 97 != 0),
        docs_d.filter(F.col("doc_id") % 97 == 0),
        n=3,
    )
    audit(
        "contamination (benchmark shingles broadcast)",
        cont,
        must=[r"BroadcastHashJoin|BroadcastExchange"],
        must_not=[r"SortMergeJoin"],
    )

    # 9. inverted-index search: df + corpus-size join in as broadcasts,
    # top-k via TakeOrderedAndProject (never an unpartitioned window
    # over every candidate)
    from rio_cogeo_spark.operators.search import search_topk

    srch = search_topk(docs_d, ["spark", "hash", "window"], k=20)
    audit(
        "search top-k (broadcast stats, distributed TakeOrdered)",
        srch,
        must=[r"BroadcastHashJoin|BroadcastNestedLoopJoin",
              r"TakeOrderedAndProject"],
        must_not=[r"SortMergeJoin"],
    )

    # 10. sequence packing: exactly ONE exchange (the shard window);
    # the explode over pack spans adds no further shuffle
    from rio_cogeo_spark.operators.packing import pack_chunks

    packed = pack_chunks(docs_d, context_tokens=64, n_shards=8)
    p10 = plan_of(packed)
    # formatted mode puts "Exchange" and its hashpartitioning arguments
    # on separate lines — count the argument lines
    n_exchanges = len(re.findall(r"hashpartitioning\(", p10))
    one_shuffle = n_exchanges == 1
    checks.append(("pack_chunks single shard-window shuffle", one_shuffle))
    sections.append(
        ("pack_chunks exchanges", f"  {'PASS' if one_shuffle else 'FAIL'} "
         f"exactly one hash Exchange (saw {n_exchanges})", p10)
    )
    print(f"[{'OK' if one_shuffle else 'BAD'}] pack_chunks single shuffle")

    # 11. temperature mix: rates broadcast back — the corpus side must
    # reach the filter without a hash exchange
    from rio_cogeo_spark.operators.sampling import temperature_mix

    mix = temperature_mix(docs_d, target_ppm=300_000)
    # simple (tree) mode: the stream (corpus) branch is printed between
    # the BroadcastHashJoin node and its BroadcastExchange build side
    p11 = mix._jdf.queryExecution().executedPlan().toString()
    mix_ok = False
    if "BroadcastHashJoin" in p11:
        stream = p11.split("BroadcastHashJoin", 1)[1].split(
            "BroadcastExchange", 1
        )[0]
        mix_ok = "Exchange hashpartitioning" not in stream
    checks.append(("temperature_mix corpus never shuffles", mix_ok))
    sections.append(
        ("temperature_mix", f"  {'PASS' if mix_ok else 'FAIL'} broadcast "
         "rates; no Exchange on the corpus side above the join", p11)
    )
    print(f"[{'OK' if mix_ok else 'BAD'}] temperature_mix broadcast rates")

    # 12. repeated passages: the hot-hash set joins back via broadcast
    from rio_cogeo_spark.operators.passages import repeated_ngram_spans

    spans = repeated_ngram_spans(docs_d, n=5, min_count=2)
    audit(
        "repeated passages (hot set broadcast)",
        spans,
        must=[r"BroadcastHashJoin|BroadcastExchange"],
        must_not=[r"SortMergeJoin"],
    )

    # 13. chunking: logically a per-row projection — the plan must have
    # ZERO exchanges (the old grouped formulation shuffled every token)
    from rio_cogeo_spark.operators.chunking import chunk_docs

    chk = chunk_docs(docs_d, chunk_tokens=64)
    p13 = plan_of(chk)
    no_exchange = "Exchange" not in p13
    checks.append(("chunk_docs zero Exchange (pure projection)", no_exchange))
    sections.append(
        ("chunk_docs projection", f"  {'PASS' if no_exchange else 'FAIL'} "
         "no Exchange anywhere in the chunking plan", p13)
    )
    print(f"[{'OK' if no_exchange else 'BAD'}] chunk_docs zero Exchange")

    # 14. pyramid fold: with FOLD_CELLS covering the base extent, the
    # whole overview tail must be ONE aggregation stage over the base
    # level — exactly one Exchange in the folded-tail subplan (the fold's
    # own groupBy), never one per level
    from rio_cogeo_spark.operators.translate import (
        FOLD_CELLS, base_tiles as _bt, default_bands, fold_levels,
    )

    base_lv = _bt(pages, 10)
    folded = fold_levels(
        base_lv, [(z, 1 << (10 - z)) for z in range(9, 3, -1)], default_bands()
    )
    # subtract the base level's own exchanges: the TAIL adds exactly one.
    # Count detail headers "(n) Exchange" — each Exchange node prints
    # twice in formatted explain (tree line + detail block)
    def n_exchanges(p):
        return len(re.findall(r"\(\d+\) Exchange", p))

    n_exch_base = n_exchanges(plan_of(base_lv))
    p14 = plan_of(folded)
    n_exch_fold = n_exchanges(p14)
    one_exchange_tail = (n_exch_fold - n_exch_base) == 1
    checks.append(
        ("pyramid fold tail = ONE Exchange for all 6 folded levels",
         one_exchange_tail)
    )
    sections.append(
        ("pyramid fold tail", f"  {'PASS' if one_exchange_tail else 'FAIL'} "
         f"fold adds exactly 1 Exchange over the base plan "
         f"({n_exch_base} -> {n_exch_fold}); FOLD_CELLS={FOLD_CELLS}", p14)
    )
    print(f"[{'OK' if one_exchange_tail else 'BAD'}] pyramid fold tail one "
          f"Exchange ({n_exch_base} -> {n_exch_fold})")

    # 15. sliding-window chunking: same zero-Exchange contract as the
    # fixed chunker (a pure slice-transform projection)
    from rio_cogeo_spark.operators.chunking import chunk_docs_sliding

    chk_s = chunk_docs_sliding(docs_d, chunk_tokens=64, stride=32)
    p15 = plan_of(chk_s)
    no_exchange_s = "Exchange" not in p15
    checks.append(
        ("chunk_docs_sliding zero Exchange (pure projection)", no_exchange_s)
    )
    sections.append(
        ("chunk_docs_sliding projection",
         f"  {'PASS' if no_exchange_s else 'FAIL'} no Exchange anywhere "
         "in the sliding-chunking plan", p15)
    )
    print(f"[{'OK' if no_exchange_s else 'BAD'}] chunk_docs_sliding zero Exchange")

    # 16. url keep-latest: map-side partial_max_by, never a window sort
    audit(
        "url_dedup_latest (partial_max_by combine, no Window)",
        DD.url_dedup_latest(pages),
        must=[r"partial_max_by"],
        must_not=[r"\) Window"],
    )

    # 17. bm25: df/stats broadcast, no corpus-wide doclen shuffle join —
    # the only SortMergeJoin-free plan shape; TakeOrdered for top-k
    from rio_cogeo_spark.operators.search import bm25_topk

    audit(
        "bm25_topk (broadcast stats, TakeOrdered top-k, no SMJ)",
        bm25_topk(docs_d, ["spark", "hash"], k=10),
        must=[r"BroadcastExchange", r"TakeOrderedAndProject"],
        must_not=[r"SortMergeJoin"],
    )

    # 18. paragraph dedup: min_by keeper partial-aggregates map-side
    # (the skew guard for hot boilerplate paragraphs)
    audit(
        "paragraph_dedup (partial_min_by keeper, skew-free)",
        DD.paragraph_dedup(docs_d),
        must=[r"partial_min_by"],
    )

    # 19. blocklist literal path: one codegen filter, zero joins/exchanges
    from rio_cogeo_spark.operators.urlfilter import blocklist_filter

    # (the pages *input* derivation carries a tiny broadcast join of the
    # city table — the filter itself must add no shuffle join/exchange)
    audit(
        "blocklist_filter literal path (zero Exchange, no shuffle join)",
        blocklist_filter(pages, ["site3.example", "site7.example"]),
        must=[r"arrays_overlap"],
        must_not=[r"\) Exchange", r"SortMergeJoin", r"ShuffledHashJoin"],
    )

    # 20. phrase search: anchor decomposition — no positional self-join
    # (no SortMergeJoin at ANY phrase length), distributed TakeOrdered
    # top-k, and at most 2 Exchanges (the (doc,anchor) count and the
    # per-doc anchor count), never one per phrase term
    from rio_cogeo_spark.operators.search import phrase_topk

    p20 = plan_of(phrase_topk(docs_d, ["the", "data", "the"], k=10))
    phrase_ok = (
        "SortMergeJoin" not in p20
        and "TakeOrderedAndProject" in p20
        and len(re.findall(r"\(\d+\) Exchange", p20)) <= 2
    )
    checks.append(
        ("phrase_topk: no positional self-join, <=2 Exchanges for a "
         "3-term phrase", phrase_ok)
    )
    sections.append(
        ("phrase_topk anchors", f"  {'PASS' if phrase_ok else 'FAIL'} "
         "no SMJ + TakeOrdered + <=2 Exchanges", p20)
    )
    print(f"[{'OK' if phrase_ok else 'BAD'}] phrase_topk anchor plan")

    # 21. token rarity: vocabulary + grand total join back as broadcasts
    # (no corpus-side shuffle join), partial aggregation before exchange
    from rio_cogeo_spark.operators.rarity import token_rarity

    audit(
        "token_rarity (broadcast vocab + total, no shuffle join)",
        token_rarity(docs_d),
        must=[r"BroadcastExchange", r"partial_sum"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin"],
    )

    # 22. path pattern filter: plan-literal exists/contains — zero
    # Exchange, zero joins (same contract as the literal blocklist)
    from rio_cogeo_spark.operators.urlfilter import path_pattern_filter

    audit(
        "path_pattern_filter literal (zero Exchange, no joins)",
        path_pattern_filter(pages, ["/login", "sessionid="]),
        must=[r"exists"],
        must_not=[r"\) Exchange", r"SortMergeJoin", r"ShuffledHashJoin",
                  r"CartesianProduct"],
    )

    # 23. keep-best keeper: map-side partial_min over the (-score, id)
    # struct — the skew guard for viral components; never a Window sort
    from rio_cogeo_spark.operators.dedup import dedup_keep_best

    kb_docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a")], "doc_id long, text string"
    )
    kb_pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    audit(
        "dedup_keep_best (partial_min struct argmax, no Window)",
        dedup_keep_best(kb_docs, kb_pairs),
        must=[r"partial_min"],
        must_not=[r"\) Window"],
    )

    # 24. snapshot paragraph diff: lag-adjacency overlap — the exploded
    # paragraph table is never self-joined (no CartesianProduct; joins in
    # the assembly are on (url, snap_idx) only) and counts partial-agg
    from rio_cogeo_spark.operators.dedup import snapshot_paragraph_diff

    audit(
        "snapshot_paragraph_diff (lag overlap, partial counts)",
        snapshot_paragraph_diff(pages.withColumn(
            "text", F.concat_ws(" ## ", F.col("url"), F.col("text"))
        ), sep=" ## "),
        must=[r"partial_count"],
        must_not=[r"CartesianProduct"],
    )

    # 25. BPE merge round: vocab-bounded pipeline — partial aggregation
    # at both stages, distributed TakeOrdered top-k, no joins at all
    from rio_cogeo_spark.operators.bpe import bpe_merge_topk

    audit(
        "bpe_merge_topk (partial aggs, TakeOrdered, zero joins)",
        bpe_merge_topk(docs_d, k=30),
        must=[r"partial_count", r"partial_sum", r"TakeOrderedAndProject"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin", r"CartesianProduct"],
    )

    # 26. mirror detection: distinct-host counts via dropDuplicates +
    # combinable count — no COUNT(DISTINCT) expand in the plan
    audit(
        "mirror_docs (no count-distinct expand, partial counts)",
        DD.mirror_docs(pages),
        must=[r"partial_count"],
        must_not=[r"\bExpand\b", r"CartesianProduct"],
    )

    # 27. containment: shares the jaccard single-sort core — the
    # exploded shingle index is never self-joined (no cartesian), pair
    # counts partial-aggregate
    audit(
        "containment_pairs (single-sort core, partial counts)",
        DD.containment_pairs(docs_d, threshold=0.8, df_cap=None),
        must=[r"partial_count"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    )

    # 28. trending terms: combinable counts, the rank runs over the
    # COUNT table (window group = window vocabulary), zero joins
    from rio_cogeo_spark.operators.search import trending_terms

    audit(
        "trending_terms (partial counts, no joins)",
        trending_terms(pages, window_sec=21_600, k=5),
        must=[r"partial_count", r"\) Window"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin", r"CartesianProduct"],
    )

    # 29. language mix: majority via combinable struct-min — never a
    # per-doc window sort
    from rio_cogeo_spark.operators.rarity import lang_mix

    audit(
        "lang_mix (struct-min majority, no Window)",
        lang_mix(docs_d, sep=" "),
        must=[r"partial_count", r"partial_min"],
        must_not=[r"\) Window", r"SortMergeJoin"],
    )

    # 30. quantile cut: per-group cutoffs broadcast back — the corpus
    # side never shuffle-joins
    from rio_cogeo_spark.operators.sampling import filter_by_group_quantile

    audit(
        "filter_by_group_quantile (broadcast cutoffs, no shuffle join)",
        filter_by_group_quantile(
            docs_d.withColumn("n_chars", F.length("text")),
            q=0.25, value_col="n_chars", group_col="lang",
        ) if "lang" in docs_d.columns else filter_by_group_quantile(
            docs_d.withColumn("n_chars", F.length("text"))
            .withColumn("lang", F.lit("en")),
            q=0.25, value_col="n_chars", group_col="lang",
        ),
        must=[r"BroadcastExchange"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin"],
    )

    # 31. host PageRank: node-bounded rank table broadcast to the edge
    # side every iteration (no edge-list SortMergeJoin); the per-node
    # contribution fold partial-aggregates before its exchange
    from rio_cogeo_spark.operators.graph import host_pagerank

    edges_df = docs_d.selectExpr(
        "doc_id % 97 AS src", "(doc_id * 31 + 7) % 97 AS dst"
    ).filter("src <> dst").distinct()
    audit(
        "host_pagerank (broadcast ranks, partial contribution sums)",
        host_pagerank(edges_df, iterations=3),
        must=[r"BroadcastExchange", r"partial_sum"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
    )

    # 32. tf-idf keywords: vocab-bounded df table broadcast back onto
    # the postings (the corpus-width side never shuffle-joins); the
    # rank window partitions per doc (bounded by doc vocabulary)
    from rio_cogeo_spark.operators.search import tfidf_keywords

    audit(
        "tfidf_keywords (broadcast df-table, partial counts)",
        tfidf_keywords(docs_d, k=5),
        must=[r"BroadcastExchange", r"partial_count"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin", r"CartesianProduct"],
    )

    # 33. URL canonicalization: a pure JVM regexp projection — zero
    # Exchange, zero joins
    from rio_cogeo_spark.operators.urlfilter import canonical_url

    urls_d = docs_d.select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 97).cast("string"),
            F.lit(".example/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    audit(
        "canonical_url (pure projection, zero Exchange)",
        urls_d.select("doc_id", canonical_url(F.col("url")).alias("curl")),
        must=[r"\* Project"],  # the * prefix = whole-stage-codegen'd
        must_not=[r"Exchange", r"Join"],
    )

    # 34. readability: exact-int Flesch columns — zero Exchange
    from rio_cogeo_spark.functions.text import readability_stats

    rs = readability_stats("text")
    audit(
        "readability_stats (pure projection, zero Exchange)",
        docs_d.select("doc_id", *(rs[k].alias(k) for k in rs)),
        must=[r"\* Project"],  # the * prefix = whole-stage-codegen'd
        must_not=[r"Exchange", r"Join"],
    )

    # 35. bigram_lm: model joins back by broadcast (default), counts
    # partial-agg'd map-side; no sort-merge join, no cartesian
    from rio_cogeo_spark.operators.rarity import bigram_lm, lexical_diversity

    audit(
        "bigram_lm (broadcast model, partial counts)",
        bigram_lm(docs_d),
        must=[r"BroadcastExchange", r"partial_count"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin", r"CartesianProduct"],
    )

    # 36. lexical_diversity: explode + two combinable aggs — no joins
    audit(
        "lexical_diversity (combinable aggs, zero joins)",
        lexical_diversity(docs_d),
        must=[r"partial_count"],
        must_not=[r"Join", r"CartesianProduct", r"Window"],
    )

    # 37. collocations: vocab-bounded marginals broadcast back onto the
    # bigram-count table; top-k is a distributed TakeOrdered, never a
    # global sort
    from rio_cogeo_spark.operators.rarity import collocations

    audit(
        "collocations (broadcast marginals, TakeOrdered top-k)",
        collocations(docs_d, min_cnt=3, topk=20),
        must=[r"BroadcastExchange", r"TakeOrderedAndProject",
              r"partial_count"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin",
                  r"CartesianProduct"],
    )

    # 38. ccnet_buckets: exactly ONE window (the per-lang NTILE); the LM
    # scoring underneath keeps bigram_lm's broadcast-model shape
    from rio_cogeo_spark.operators.rarity import ccnet_buckets

    cb_plan = plan_of(ccnet_buckets(docs_d))
    cb_ok = (
        len(re.findall(r"\(\d+\) Window", cb_plan)) == 1
        and "BroadcastExchange" in cb_plan
        and "CartesianProduct" not in cb_plan
    )
    checks.append(("ccnet_buckets single NTILE window, broadcast LM", cb_ok))
    sections.append(
        ("ccnet_buckets", f"  {'PASS' if cb_ok else 'FAIL'} "
         "exactly one Window + broadcast model + no cartesian", cb_plan)
    )
    print(f"[{'OK' if cb_ok else 'BAD'}] ccnet_buckets plan")

    # 39. pair_verify: candidate-bounded — the docs side is pruned to
    # the substring projection BEFORE any exchange (full text never
    # ships), and there is no cartesian pair expansion
    from rio_cogeo_spark.operators.dedup import pair_verify

    pv_pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "doc_a long, doc_b long"
    )
    audit(
        "pair_verify (substring-pruned shuffle, no cartesian)",
        pair_verify(docs_d, pv_pairs, prefix_len=256),
        must=[r"substring"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    )

    # 40. importance_weights (DSIR): one corpus-width bigram count
    # feeding two vocab-bounded models; the weight table joins back by
    # broadcast — the corpus side never shuffle-joins
    from rio_cogeo_spark.operators.sampling import importance_weights

    iw_docs = docs_d.withColumn("lang", F.lit("en")) \
        if "lang" not in docs_d.columns else docs_d
    audit(
        "importance_weights (broadcast weight table, partial counts)",
        importance_weights(iw_docs, "lang = 'en'"),
        must=[r"BroadcastExchange", r"partial_count"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin",
                  r"CartesianProduct"],
    )

    # 41. pool_embeddings: one (group, dim) shuffle, zero joins — the
    # sorted-fold runs inside the aggregate (ObjectHashAggregate for
    # collect_list), never as a Window or join
    from rio_cogeo_spark.operators.similarity import pool_embeddings

    emb_d = spark.read.parquet(f"{sf}/embeddings.parquet")
    pe_plan = plan_of(pool_embeddings(emb_d))
    pe_ok = (
        "ObjectHashAggregate" in pe_plan
        and len(re.findall(r"\(\d+\) Exchange", pe_plan)) <= 1
        and "Join" not in pe_plan
        and "Window" not in pe_plan
    )
    checks.append(("pool_embeddings single shuffle, no joins/windows", pe_ok))
    sections.append(
        ("pool_embeddings", f"  {'PASS' if pe_ok else 'FAIL'} "
         "ObjectHashAggregate + <=1 Exchange + no Join/Window", pe_plan)
    )
    print(f"[{'OK' if pe_ok else 'BAD'}] pool_embeddings plan")

    # 42. corpus_info: three combinable 1-row aggregates cross-joined —
    # partial aggregation everywhere, broadcast nested-loop only for
    # the 1-row joins, never a shuffled join
    from rio_cogeo_spark.operators.report import corpus_info, group_median

    audit(
        "corpus_info (combinable 1-row aggs, no shuffled joins)",
        corpus_info(docs_d.withColumn("lang", F.lit("en"))
                    if "lang" not in docs_d.columns else docs_d),
        must=[r"partial_count"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin"],
    )

    # 43. group_median: the window runs over the VALUE-frequency table
    # (post-aggregation), never the corpus — partial counts BEFORE the
    # single window sort, no joins
    audit(
        "group_median (freq-table window, partial counts, no joins)",
        group_median(docs_d.withColumn("n_chars", F.length("text"))
                     .withColumn("lang", F.lit("en"))
                     if "lang" not in docs_d.columns else
                     docs_d.withColumn("n_chars", F.length("text")),
                     value_col="n_chars", group_col="lang"),
        must=[r"partial_count", r"\) Window"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin",
                  r"CartesianProduct"],
    )

    # 44. host_distance: per round, ranks/dist broadcast to the edge
    # side (no edge-table SortMergeJoin), min-fold partial-aggregates
    from rio_cogeo_spark.operators.graph import host_distance

    hd_edges = docs_d.selectExpr(
        "doc_id % 97 AS src", "(doc_id * 31 + 7) % 97 AS dst"
    ).filter("src <> dst").distinct()
    hd_seeds = spark.range(0, 2).select(F.col("id").alias("host"))
    audit(
        "host_distance (broadcast dist, partial min-fold)",
        host_distance(hd_edges, hd_seeds, max_hops=3),
        must=[r"BroadcastExchange", r"partial_min"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
    )

    # 45. reciprocal_links: one co-partitioned left-semi self-join of
    # the distinct edge list (no cartesian, no broadcast explosion of
    # the edge table), counts partial-agg'd
    from rio_cogeo_spark.operators.graph import reciprocal_links

    audit(
        "reciprocal_links (left-semi edge self-join, partial counts)",
        reciprocal_links(hd_edges),
        must=[r"partial_count", r"LeftSemi"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    )

    # 46. blockword stats: plan-literal blocklist — a single projection
    # over the scan, zero Exchange, zero joins. (Higher-order array
    # lambdas run outside whole-stage codegen, so this is a plain
    # Project, not a `* Project` — still one JVM expression per row.)
    from rio_cogeo_spark.functions.text import blockword_stats

    bw = blockword_stats(F.col("text"), ["alpha", "delta", "the"])
    audit(
        "blockword_stats (projection-only, zero Exchange)",
        docs_d.select("doc_id", bw["block_hits"].alias("h"),
                      bw["block_ppm"].alias("p")),
        must=[r"\) Project"],
        must_not=[r"Exchange", r"Join"],
    )

    # 47. novelty_by_day: corpus-width stage carries md5 hashes only;
    # first-seen MIN fold partial-aggregates; the join back is
    # hash-co-partitioned (no cartesian, no broadcast of corpus)
    from rio_cogeo_spark.operators.dedup import novelty_by_day

    nv_pages = docs_d.select(
        (F.col("doc_id") * 13).alias("ts_sec"), "text"
    )
    audit(
        "novelty_by_day (hash-bounded first-seen, partial min/count)",
        novelty_by_day(nv_pages),
        must=[r"partial_min", r"partial_count"],
        must_not=[r"CartesianProduct", r"\) Window"],
    )

    # 48. gopher_gate: all six rules fold into one projection over the
    # scan — zero Exchange, zero joins
    from rio_cogeo_spark.functions.text import gopher_gate

    gg = gopher_gate(F.col("text"))
    audit(
        "gopher_gate (six rules, one projection, zero Exchange)",
        docs_d.select("doc_id", gg["gopher_mask"].alias("m"),
                      gg["gopher_pass"].alias("p")),
        must=[r"\) Project"],
        must_not=[r"Exchange", r"Join"],
    )

    # 49. host_trustrank: same movement contract as PageRank — the
    # node-bounded trust table broadcasts to the edge side every
    # iteration (no edge-list SortMergeJoin), the contribution fold
    # partial-aggregates before its exchange
    from rio_cogeo_spark.operators.graph import host_trustrank

    seeds_df = spark.range(0, 5).select(F.col("id").alias("host"))
    audit(
        "host_trustrank (broadcast trust, partial contribution sums)",
        host_trustrank(edges_df, seeds_df, iterations=3),
        must=[r"BroadcastExchange", r"partial_sum"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
    )

    # 50. corpus_overlap: the two corpora NEVER join — membership folds
    # into one partial-aggregated groupBy over hashes, the k-smallest
    # set is a TakeOrdered (k per partition, k at the merge)
    from rio_cogeo_spark.operators.dedup import corpus_overlap

    ov_b = docs_d.select(
        F.concat(F.col("text"), F.lit(" v2")).alias("text")
    )
    audit(
        "corpus_overlap (no corpus join, partial max fold, TakeOrdered k)",
        corpus_overlap(docs_d.select("text"), ov_b, k=128),
        must=[r"TakeOrderedAndProject", r"partial_max"],
        must_not=[r"Join", r"CartesianProduct"],
    )

    # 51. bitext_mine: the target set broadcasts (BroadcastNestedLoop
    # over the candidate cross, never a shuffled cartesian); the two
    # neighborhood folds partial-aggregate per id
    from rio_cogeo_spark.operators.similarity import bitext_mine

    emb_d = spark.read.parquet(f"{sf}/embeddings.parquet")
    bt_src = emb_d.filter(F.col("label") < 5).select(
        F.col("vec_id").alias("src_id"), "embedding"
    )
    bt_tgt = emb_d.filter(F.col("label") >= 5).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    audit(
        "bitext_mine (broadcast targets, partial neighborhood sums)",
        bitext_mine(bt_src, bt_tgt, k=4),
        # the a_src join back IS a shuffle join by design (both sides
        # src-cardinality), so SortMergeJoin is allowed; the candidate
        # cross and the a_tgt join must both broadcast
        must=[r"BroadcastNestedLoopJoin", r"BroadcastHashJoin", r"partial_sum"],
        must_not=[r"CartesianProduct"],
    )

    # 52. winnow_pairs: single-sort posting-list pair expansion — the
    # inverted fingerprint index is grouped (partial-aggregated), never
    # self-joined (no SortMergeJoin of the index against itself), and
    # nothing goes cartesian; the hot-fingerprint anti-join broadcasts
    from rio_cogeo_spark.operators.dedup import winnow_pairs

    audit(
        "winnow_pairs (grouped posting lists, broadcast hot-fp guard)",
        winnow_pairs(docs.select("doc_id", "text"), min_shared=2, df_cap=10),
        must=[r"BroadcastHashJoin LeftAnti", r"partial_count"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
    )

    # 53. bloom_prefilter: the corpus side is scan → JVM probe
    # projection → ONE Arrow-batched pandas UDF → filter; zero Exchange,
    # no join at all (the benchmark folds into a broadcast bitset)
    from rio_cogeo_spark.operators.contamination import bloom_prefilter

    bp_bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    bp_corpus = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    audit(
        "bloom_prefilter (bitset broadcast, zero-Exchange corpus path)",
        bloom_prefilter(bp_corpus, bp_bench, n=3, m_bits=1 << 16),
        must=[r"ArrowEvalPython"],
        must_not=[r"Exchange", r"Join", r"CartesianProduct"],
    )

    # 54. extract_links + anchor_stats: extraction is a pure projection
    # (decode + regexp + posexplode — no Python, no Exchange of its
    # own); the rollup's three aggregates and joins all key on dst_host
    # (partial aggregation map-side), nothing cartesian
    from rio_cogeo_spark.operators.links import anchor_stats, extract_links

    lk_pages = docs.select(
        F.concat(F.lit("https://s"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example/p")).alias("url"),
        F.encode(
            F.concat(
                F.lit('<a href="https://t'),
                (F.col("doc_id") % 31).cast("string"),
                F.lit('.example/">go</a>'),
            ),
            "utf-8",
        ).alias("html"),
    )
    audit(
        "extract_links + anchor_stats (projection extract, keyed rollup)",
        anchor_stats(extract_links(lk_pages)),
        must=[r"partial_count", r"Generate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    )

    # 55. apportion_budget: the remainder election is a distributed
    # TakeOrderedAndProject threshold + broadcast comparison — NEVER a
    # single-partition global Window (the scale trap for ranking ops)
    from rio_cogeo_spark.operators.graph import apportion_budget

    ab_w = docs.groupBy(
        F.concat(F.lit("s"), (F.col("doc_id") % 97).cast("string")).alias(
            "host"
        )
    ).agg(F.count(F.lit(1)).alias("weight"))
    audit(
        "apportion_budget (TakeOrdered threshold, no global window)",
        apportion_budget(ab_w, budget=1_000_003),
        must=[r"TakeOrderedAndProject", r"BroadcastExchange"],
        must_not=[r"Window", r"CartesianProduct"],
    )

    # 56. host_hits: per-sweep edge folds partial-aggregate map-side and
    # the node-bounded score tables broadcast (BroadcastHashJoin), the
    # normalization totals come back as broadcast 1-row cross joins —
    # no shuffled cartesian
    from rio_cogeo_spark.operators.graph import host_hits

    hits_edges = docs.selectExpr(
        "doc_id % 97 AS src", "(doc_id * 31 + 7) % 97 AS dst"
    ).filter("src <> dst").distinct()
    audit(
        "host_hits (broadcast scores, partial edge folds)",
        host_hits(hits_edges, iterations=2),
        must=[r"BroadcastHashJoin", r"partial_sum"],
        must_not=[r"CartesianProduct"],
    )

    # 57. lexical_cosine_pairs: df/N ride in as broadcasts, the pair
    # numerators come from grouped posting lists (partial-aggregated),
    # nothing cartesian (norm joins on the pair ends are legitimate
    # co-partitioned shuffle joins)
    from rio_cogeo_spark.operators.search import lexical_cosine_pairs

    audit(
        "lexical_cosine_pairs (broadcast df/N, grouped posting lists)",
        lexical_cosine_pairs(
            docs.select("doc_id", "text"), threshold=0.5, df_cap=10
        ),
        must=[r"BroadcastHashJoin", r"partial_sum"],
        must_not=[r"CartesianProduct"],
    )

    # 58. robots_filter: the host-bounded rule arrays BROADCAST onto
    # the pages (BroadcastHashJoin LeftOuter) and the block decision is
    # a per-row exists — the page corpus never shuffles (no Exchange on
    # the probe side other than the rules build's own aggregation)
    from rio_cogeo_spark.operators.urlfilter import robots_filter

    rb_robots = docs.selectExpr(
        "'site' || CAST(doc_id % 23 AS STRING) || '.example' AS host",
        "'User-agent: *' || chr(10) || 'Disallow: /p' AS body",
    ).distinct()
    rb_pages = docs.selectExpr(
        "'https://site' || CAST(doc_id % 23 AS STRING) || '.example/p/'"
        " || CAST(doc_id AS STRING) AS url"
    )
    audit(
        "robots_filter (broadcast host rules, corpus never shuffles)",
        robots_filter(rb_pages, rb_robots),
        must=[r"BroadcastHashJoin", r"Generate"],
        must_not=[r"CartesianProduct", r"SortMergeJoin"],
    )

    # 59. crawl_plan composite: the scheduling flagship stays free of
    # cartesian products and single-partition global windows even with
    # PageRank + trend + budget fused in one plan (the trend lag and
    # budget threshold windows are partitioned/TakeOrdered forms)
    import __spark_entry__ as E

    # (the budget stage's localCheckpoint pins the PageRank/trend/
    # weight subtree, so the visible tail is the TakeOrdered threshold
    # + broadcast comparison — the partial aggregations are asserted on
    # their own operators in checks 55/56)
    audit(
        "crawl_plan composite (no cartesian, TakeOrdered threshold)",
        E.q_crawl_plan(spark, sf),
        must=[r"TakeOrderedAndProject"],
        must_not=[r"CartesianProduct", r"SortMergeJoin"],
    )

    # 60. focal_stats: ONE hash-aggregate exchange on the neighbor key
    # — the (2r+1)^2 contribution explode is a Generate projection, the
    # in-bounds window size is closed-form (no second pass, no join)
    from rio_cogeo_spark.operators import focal as FC

    base_t = base_tiles(pages, 8)
    # (the input subtree's own megacity BroadcastHashJoin is allowed —
    # the focal operator itself must add no join and no window)
    foc_plan = plan_of(FC.focal_stats(base_t, 8))
    foc_ok = (
        "Generate" in foc_plan
        and "SortMergeJoin" not in foc_plan
        and "ShuffledHashJoin" not in foc_plan
        and "CartesianProduct" not in foc_plan
        and "Window" not in foc_plan
    )
    checks.append(("focal_stats explode+agg only (no join/window)", foc_ok))
    sections.append(
        ("focal_stats", f"  {'PASS' if foc_ok else 'FAIL'} "
         "Generate + no Join/Window", foc_plan)
    )
    print(f"[{'OK' if foc_ok else 'BAD'}] focal_stats plan")

    # 61. hotspots: the 1-row global-moments aggregate joins back as a
    # broadcast nested loop (one row), never a shuffled join; both
    # aggregates partial-combine before their exchange
    audit(
        "hotspots (1-row moments broadcast, partial aggs)",
        FC.hotspots(base_t, 8),
        must=[r"BroadcastNestedLoopJoin", r"partial_sum"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin"],
    )

    # 62. compact_tiles: per-level sibling counts are windows over the
    # computed parent key — no joins at any level, no cartesian, and
    # the level union adds no extra shuffle beyond the per-level window
    # sorts
    audit(
        "compact_tiles (window-only per level, no shuffled joins)",
        FC.compact_tiles(FC.dilate_tiles(base_t, 8), 8, min_zoom=5),
        must=[r"\) Window"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin", r"CartesianProduct"],
    )

    # 63. morton_range exists-filter: a pure scan+filter projection —
    # ZERO Exchange (the ~100-range membership test evaluates the
    # morton key once per row via the higher-order exists, instead of
    # inlining the spread expression into every OR term)
    # (the one allowed Exchange is base_tiles' own aggregation; the
    # range filter itself adds none)
    mr_plan = plan_of(E.q_morton_range(spark, sf))
    mr_ok = (
        len(re.findall(r"\(\d+\) Exchange", mr_plan)) <= 1
        and "SortMergeJoin" not in mr_plan
        and "ShuffledHashJoin" not in mr_plan
        and "CartesianProduct" not in mr_plan
    )
    checks.append(("morton_range filter (<=1 exchange, no joins)", mr_ok))
    sections.append(
        ("morton_range", f"  {'PASS' if mr_ok else 'FAIL'} "
         "<=1 Exchange + no Join", mr_plan)
    )
    print(f"[{'OK' if mr_ok else 'BAD'}] morton_range plan")

    # 64. pyramid_merge: ONE union + hash aggregate with map-side
    # partial agg (partial_sum) before the exchange — no joins; the
    # merge input is tile-bounded, never page-bounded
    from rio_cogeo_spark.operators.incremental import pyramid_merge
    from rio_cogeo_spark.operators.translate import cog_translate

    pm_old, _ = cog_translate(
        pages.filter(F.col("doc_id") % 10 != 9), max_zoom=8, overview_level=3
    )
    pm_new, _ = cog_translate(
        pages.filter(F.col("doc_id") % 10 == 9), max_zoom=8, overview_level=3
    )
    pm_plan = plan_of(pyramid_merge(pm_old, pm_new))
    pm_ok = (
        "partial_sum" in pm_plan
        and "Union" in pm_plan
        and "SortMergeJoin" not in pm_plan
        and "ShuffledHashJoin" not in pm_plan
        and "CartesianProduct" not in pm_plan
    )
    checks.append(("pyramid_merge union+partial-agg, no joins", pm_ok))
    sections.append(
        ("pyramid_merge", f"  {'PASS' if pm_ok else 'FAIL'} "
         "Union + partial_sum + no shuffled joins", pm_plan)
    )
    print(f"[{'OK' if pm_ok else 'BAD'}] pyramid_merge plan")

    # 65. assemble_viewport: the driver-built ancestor-key table
    # BROADCASTS onto the tile table (big side never shuffles for the
    # join); the deepest pick partial-aggregates (partial_max) before
    # its exchange
    vp_avail = FC.compact_tiles(FC.dilate_tiles(base_t, 8), 8, min_zoom=5)
    audit(
        "assemble_viewport (broadcast ancestors, partial max pick)",
        FC.assemble_viewport(vp_avail, 8, (100, 70, 139, 109), min_zoom=5),
        must=[r"BroadcastHashJoin", r"partial_max"],
        must_not=[r"SortMergeJoin", r"ShuffledHashJoin", r"CartesianProduct"],
    )

    # 66. triangle_count: the degree-ordered wedge join must be an
    # equality join (never a cartesian), no window anywhere, and the
    # per-host triangle fold partial-aggregates before its exchange
    from rio_cogeo_spark.operators.graph import k_core, triangle_count

    tri_edges = spark.range(400).select(
        (F.col("id") % 97).alias("src"),
        ((F.col("id") * 31 + 7) % 97).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    audit(
        "triangle_count (equality wedge join, partial counts, no window)",
        triangle_count(tri_edges),
        must=[r"partial_count"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window"],
    )

    # 67. k_core: the node-bounded alive set BROADCASTS for the induced
    # subgraph semi-probes (edge table never shuffles for the filter);
    # degree folds partial-aggregate; no sort-merge joins, no windows
    audit(
        "k_core (broadcast alive-set semi-probes, partial degree folds)",
        # checkpoint_every=0 so the full unrolled lineage is visible to
        # the audit (the default localCheckpoint cuts the plan text)
        k_core(tri_edges, k=4, rounds=3, checkpoint_every=0),
        must=[r"BroadcastHashJoin", r"LeftSemi", r"partial_count"],
        must_not=[r"SortMergeJoin", r"CartesianProduct", r"Window"],
    )

    # 68. hard_negatives: the dup-population-bounded component table
    # BROADCASTS twice onto the candidate pool; exactly one rank window
    # (per-query, pool-bounded); the pool never sort-merge-joins
    from rio_cogeo_spark.operators.similarity import hard_negatives

    hn_pool = spark.range(200).select(
        (F.col("id") % 10).alias("query_id"),
        (F.col("id") % 97 + 100).alias("vec_id"),
        (F.col("id") % 13).cast("double").alias("cos"),
    )
    hn_pairs = spark.range(20).select(
        F.col("id").alias("doc_a"), (F.col("id") + 100).alias("doc_b")
    )
    audit(
        "hard_negatives (broadcast components, one pool-bounded window)",
        hard_negatives(hn_pool, hn_pairs, k=5),
        must=[r"BroadcastHashJoin", r"Window"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
    )

    # 69. zonal_mode: broadcast PIP join (polygons broadcast, pages
    # never shuffle for the join); majority pick is a combinable
    # MIN(struct) with map-side partials — no per-zone window
    from rio_cogeo_spark.operators.join import build_admin_areas
    from rio_cogeo_spark.operators.zonal import zonal_mode

    audit(
        "zonal_mode (broadcast PIP, combinable majority, no window)",
        zonal_mode(pages, build_admin_areas()),
        must=[r"BroadcastHashJoin", r"partial_min|partial_count"],
        must_not=[r"Window", r"SortMergeJoin", r"CartesianProduct"],
    )

    # 70. ann_pq: the ADC lookup table (queries x m x codes dots)
    # BROADCASTS onto the code store; the per-(query, vec) score sum
    # partial-aggregates; no vector data moves at query time (the only
    # nested-loop is the 1-row amax broadcast) — no cartesian, no SMJ
    # on the scoring path
    from rio_cogeo_spark.operators.quantize import ann_pq_topk

    emb_pq = spark.read.parquet(f"{sf}/embeddings.parquet")
    audit(
        "ann_pq (broadcast ADC lookup table, partial score sums)",
        ann_pq_topk(emb_pq, m=4, k=10, n_queries=5),
        must=[r"BroadcastHashJoin", r"partial_sum"],
        must_not=[r"CartesianProduct"],
    )

    # 71. focal_mode: vote explode + TWO combinable aggregates; the
    # majority pick is MIN(struct), occupancy rides the vote rows —
    # no per-cell window, no join back to the input
    from rio_cogeo_spark.operators.focal import focal_mode

    # synthetic classified grid so the audited plan is the OPERATOR's
    # (base_tiles' own upstream broadcast would false-flag the join rule)
    fm_in = spark.range(500).selectExpr(
        "id % 29 AS tile_x", "(id * 7) % 29 AS tile_y", "id % 4 AS cls"
    )
    audit(
        "focal_mode (vote explode, combinable majority, no window/join)",
        focal_mode(fm_in, 8),
        must=[r"partial_min|partial_count"],
        must_not=[r"Window", r"SortMergeJoin", r"BroadcastHashJoin",
                  r"CartesianProduct"],
    )

    # 72. curriculum_interleave: one per-group rank window + a tiny
    # broadcast group-index join — no sort-merge join, no cartesian
    from rio_cogeo_spark.operators.sampling import curriculum_interleave

    audit(
        "curriculum_interleave (one window, broadcast group index)",
        curriculum_interleave(docs, group_col="lang", score_col="n_chars"),
        must=[r"Window", r"BroadcastHashJoin"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
    )

    # 73. jaccard_threshold_curve: the cumulative window runs over the
    # BUCKET table (post-aggregation), never the pair set — the plan
    # must show partial_count before the window, and no cartesian
    from rio_cogeo_spark.operators.dedup import jaccard_threshold_curve

    audit(
        "jaccard_threshold_curve (bucket-table window, partial counts)",
        jaccard_threshold_curve(docs.limit(200), df_cap=None),
        must=[r"partial_count", r"Window"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    )

    # 74. continuation_pairs: two zero-shuffle boundary projections +
    # ONE equi-join on the boundary; the hot-set guard is a broadcast
    # anti-join — no cartesian, no window
    from rio_cogeo_spark.operators.dedup import continuation_pairs

    audit(
        "continuation_pairs (boundary equi-join, broadcast hot guard)",
        continuation_pairs(docs.select("doc_id", "text")),
        must=[r"BroadcastHashJoin .*", r"partial_count"],
        must_not=[r"CartesianProduct", r"Window"],
    )

    # 75. class_crosstab: one co-partitioned full-outer join on the
    # grid key + combinable counts + a 1-row broadcast total — no
    # window, no cartesian (the 1-row total is a BroadcastNestedLoop
    # by necessity, which is fine: one row)
    from rio_cogeo_spark.operators.focal import (
        area_weighted_density,
        class_crosstab,
    )

    ct_a = spark.range(100).selectExpr(
        "id % 10 AS tile_x", "id div 10 AS tile_y", "id % 3 AS cls"
    )
    ct_b = spark.range(90).selectExpr(
        "id % 10 AS tile_x", "id div 10 AS tile_y", "(id + 1) % 3 AS cls"
    )
    audit(
        "class_crosstab (full-outer grid join, combinable counts)",
        class_crosstab(ct_a, ct_b),
        must=[r"FullOuter", r"partial_count"],
        must_not=[r"Window", r"CartesianProduct"],
    )

    # 76. area_weighted_density: a PURE projection — zero Exchange,
    # zero joins (closed-form row share, no lookup table)
    awd_in = spark.range(64).selectExpr(
        "id % 8 AS tile_x", "id div 8 AS tile_y", "id AS page_count"
    )
    audit(
        "area_weighted_density (pure projection, zero exchange)",
        area_weighted_density(awd_in, 8),
        must=[r"Project"],
        must_not=[r"Exchange", r"Join", r"Window"],
    )

    # 77. mirror_host_pairs: single-sort posting-list expansion (no
    # self-join of the (fp, host) table) + combinable pair counts
    from rio_cogeo_spark.operators.dedup import mirror_host_pairs

    mh_in = pages.select("doc_id", "url", "text").limit(500)
    audit(
        "mirror_host_pairs (single-sort pair expansion, no self-join)",
        mirror_host_pairs(mh_in),
        must=[r"partial_count"],
        must_not=[r"SortMergeJoin", r"CartesianProduct", r"Window"],
    )

    # 78. hillshade: one vote explode + ONE combinable aggregate (the
    # 9 Horn slots are conditional partial_sums), then a projection —
    # no window, no join
    from rio_cogeo_spark.operators.focal import hillshade

    hs_in = spark.range(200).selectExpr(
        "id % 16 AS tile_x", "id div 16 AS tile_y", "id AS page_count"
    )
    audit(
        "hillshade (slot folds partial_sum, no window/join)",
        hillshade(hs_in, 8),
        must=[r"partial_sum"],
        must_not=[r"Window", r"Join"],
    )

    # 79. classifier_eval: three combinable counts merged on the
    # class-bounded key — no window, no cartesian
    from rio_cogeo_spark.operators.report import classifier_eval

    ce_in = docs.selectExpr("lang AS truth", "source AS pred")
    audit(
        "classifier_eval (combinable counts, class-bounded merge)",
        classifier_eval(ce_in, "truth", "pred"),
        must=[r"partial_count"],
        must_not=[r"Window", r"CartesianProduct"],
    )

    # 80. ann_ivfpq: probes and the ADC lookup table both BROADCAST
    # onto the code store; score sums partial-aggregate; no cartesian
    from rio_cogeo_spark.operators.quantize import ann_ivfpq_topk

    audit(
        "ann_ivfpq (broadcast probes + LUT onto codes, partial sums)",
        ann_ivfpq_topk(emb_pq, m=4, k=10, n_queries=5, n_probe=4),
        must=[r"BroadcastHashJoin", r"partial_sum"],
        must_not=[r"CartesianProduct"],
    )

    # 81. rle_encode_tiles: per-tile windows + a combinable run fold —
    # no joins anywhere (the block bound is the scale story)
    from rio_cogeo_spark.operators.raster import rle_encode_tiles

    rle_in = spark.range(32).selectExpr(
        "id % 8 AS tile_x", "id div 8 AS tile_y",
        "array(id, id, 0, 0, 1) AS pixels",
    )
    audit(
        "rle_encode_tiles (tile-bounded windows, no joins)",
        rle_encode_tiles(rle_in),
        must=[r"Window", r"partial_count"],
        must_not=[r"Join", r"CartesianProduct"],
    )

    # 82. nearest_zone: plan-literal struct-array argmin — a pure
    # projection, zero Exchange, zero joins
    from rio_cogeo_spark.operators.zonal import nearest_zone

    # synthetic pages so the audited plan is the OPERATOR's (synth's
    # own city join would false-flag the zero-join rule)
    nz_in = spark.range(500).selectExpr(
        "id AS doc_id",
        "CAST(id % 80 AS DOUBLE) - 40.0 AS lat",
        "CAST(id % 300 AS DOUBLE) - 150.0 AS lon",
    )
    audit(
        "nearest_zone (plan-literal argmin, zero exchange)",
        nearest_zone(nz_in, build_admin_areas()),
        must=[r"Project"],
        must_not=[r"Exchange", r"Join", r"Window"],
    )

    # 83. data_checks: every rule folds in ONE aggregation pass —
    # partial aggregates present, no window, no shuffled join
    from rio_cogeo_spark.operators.report import data_checks, volume_anomaly

    audit(
        "data_checks (single combinable aggregation pass)",
        data_checks(docs, [
            {"col": "lang", "check": "not_null_ppm_ge", "threshold": 1},
            {"col": "n_chars", "check": "max_le", "threshold": 10**9},
        ]),
        must=[r"partial_"],
        must_not=[r"Window", r"SortMergeJoin", r"CartesianProduct"],
    )

    # 84. volume_anomaly: ONE map-side-combinable corpus fold
    # (partial_count before the exchange), windows strictly on the
    # post-aggregation day table
    va_in = spark.range(5000).selectExpr(
        "id AS doc_id", "id * 977 AS ts_sec"
    )
    va_plan = plan_of(volume_anomaly(va_in, window_days=7))
    # node ids in formatted explain grow bottom-up: the partial day
    # fold's node number must be LOWER (deeper) than the Window's
    va_blocks = re.findall(r"\((\d+)\) (\w+)[\s\S]*?(?=\n\(\d+\) |$)",
                           va_plan)
    va_pnum = next((int(n) for n, _ in re.findall(
        r"\((\d+)\) (HashAggregate)", va_plan)
        if f"({n}) HashAggregate" in va_plan
        and "partial_count" in va_plan.split(f"({n}) HashAggregate", 1)[1]
            .split("\n\n", 1)[0]), None)
    va_wnum = next((int(n) for n in re.findall(r"\((\d+)\) Window",
                                               va_plan)), None)
    va_ok = (
        va_pnum is not None and va_wnum is not None
        and va_pnum < va_wnum
        and "Join" not in va_plan
    )
    checks.append(("volume_anomaly day-fold before windows, no joins", va_ok))
    sections.append(
        ("volume_anomaly", f"  {'PASS' if va_ok else 'FAIL'} "
         "partial day fold precedes the day-table windows", va_plan)
    )
    print(f"[{'OK' if va_ok else 'BAD'}] volume_anomaly plan")

    # 85. host_concentration: ONE corpus fold (partial before its
    # exchange), the rank window + Gini/HHI measures strictly on the
    # key-bounded count table, ZERO joins of any kind
    from rio_cogeo_spark.operators.report import chi_square, host_concentration

    hc_in = spark.range(5000).selectExpr("cast(id % 97 as string) AS host")
    hc_plan = plan_of(host_concentration(hc_in, "host"))
    hc_pnum = next((int(n) for n in re.findall(
        r"\((\d+)\) HashAggregate", hc_plan)
        if "partial_count" in hc_plan.split(f"({n}) HashAggregate", 1)[1]
            .split("\n\n", 1)[0]), None)
    hc_wnum = next((int(n) for n in re.findall(r"\((\d+)\) Window",
                                               hc_plan)), None)
    hc_ok = (
        "Join" not in hc_plan
        and len(re.findall(r"\(\d+\) Window", hc_plan)) == 1
        and hc_pnum is not None and hc_wnum is not None
        and hc_pnum < hc_wnum
    )
    checks.append(("host_concentration corpus fold -> key-table window,"
                   " zero joins", hc_ok))
    sections.append(
        ("host_concentration", f"  {'PASS' if hc_ok else 'FAIL'} "
         "one corpus fold, rank window on the host-count table only",
         hc_plan)
    )
    print(f"[{'OK' if hc_ok else 'BAD'}] host_concentration plan")

    # 86. chi_square: every join broadcast (the marginal cross and the
    # observed-cell join are class-bounded) — no SortMergeJoin, no
    # ShuffledHashJoin; corpus folds partial-before-exchange
    x2_in = spark.range(5000).selectExpr(
        "cast(id % 7 as string) AS l", "cast(id % 3 as string) AS s"
    )
    x2_plan = plan_of(chi_square(x2_in, "l", "s"))
    x2_ok = (
        "SortMergeJoin" not in x2_plan
        and "ShuffledHashJoin" not in x2_plan
        and ("BroadcastHashJoin" in x2_plan
             or "BroadcastNestedLoopJoin" in x2_plan)
    )
    checks.append(("chi_square class-bounded joins all broadcast", x2_ok))
    sections.append(
        ("chi_square", f"  {'PASS' if x2_ok else 'FAIL'} "
         "marginal cross + observed-cell joins broadcast-only", x2_plan)
    )
    print(f"[{'OK' if x2_ok else 'BAD'}] chi_square plan")

    # 87. zipf_slope: distributed top-k (TakeOrderedAndProject — never a
    # global vocab Sort), the rank window + OLS sums on the k-row table,
    # zero joins
    from rio_cogeo_spark.operators.report import ks_statistic, zipf_slope

    zf_in = spark.range(300).selectExpr(
        "concat('w', cast(id % 37 as string), ' x y') AS text"
    )
    zf_plan = plan_of(zipf_slope(zf_in, "text", top_k=20))
    zf_ok = (
        "TakeOrderedAndProject" in zf_plan
        and "Join" not in zf_plan
        and len(re.findall(r"\(\d+\) Window", zf_plan)) == 1
    )
    checks.append(("zipf_slope distributed top-k, k-row window, zero joins",
                   zf_ok))
    sections.append(
        ("zipf_slope", f"  {'PASS' if zf_ok else 'FAIL'} "
         "TakeOrderedAndProject top-k (no global vocab sort)", zf_plan)
    )
    print(f"[{'OK' if zf_ok else 'BAD'}] zipf_slope plan")

    # 88. ks_statistic: one corpus fold to the value-frequency table,
    # totals joined by BROADCAST only, cumulative + argmax windows on
    # the value-bounded table (exactly 2 windows)
    ks_in = spark.range(1000).selectExpr(
        "id % 50 AS v", "cast(id % 3 as string) AS g"
    )
    ks_plan = plan_of(ks_statistic(ks_in, "v", "g", "1"))
    ks_ok = (
        "SortMergeJoin" not in ks_plan
        and "ShuffledHashJoin" not in ks_plan
        and "BroadcastNestedLoopJoin" in ks_plan
        and len(re.findall(r"\(\d+\) Window", ks_plan)) == 2
    )
    checks.append(("ks_statistic broadcast totals, value-table windows",
                   ks_ok))
    sections.append(
        ("ks_statistic", f"  {'PASS' if ks_ok else 'FAIL'} "
         "cumulative/argmax windows on the value table, totals broadcast",
         ks_plan)
    )
    print(f"[{'OK' if ks_ok else 'BAD'}] ks_statistic plan")

    # 89. morans_i: one contribution shuffle (focal) + ONE tile-bounded
    # join of present tiles to their focal row — no cartesian, no
    # per-row Python, closed-form W_i (no second neighbor pass)
    from rio_cogeo_spark.operators.focal import morans_i

    mi_in = spark.range(2000).selectExpr(
        "id % 64 AS tile_x", "(id * 7) % 64 AS tile_y", "1 AS page_count"
    ).groupBy("tile_x", "tile_y").agg(
        F.sum("page_count").alias("page_count")
    )
    mi_plan = plan_of(morans_i(mi_in, 6))
    mi_ok = (
        "CartesianProduct" not in mi_plan
        and "BatchEvalPython" not in mi_plan
        and "ArrowEvalPython" not in mi_plan
        and len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|"
                           r"BroadcastHashJoin)", mi_plan)) == 1
    )
    checks.append(("morans_i single tile-bounded join, no cartesian", mi_ok))
    sections.append(
        ("morans_i", f"  {'PASS' if mi_ok else 'FAIL'} "
         "focal contribution shuffle + one grid-key join", mi_plan)
    )
    print(f"[{'OK' if mi_ok else 'BAD'}] morans_i plan")

    # 90. term_shift: two corpus folds, a distributed top-k of the
    # union (TakeOrderedAndProject — no global vocab sort), totals
    # broadcast back; all arithmetic on the k-row table
    from rio_cogeo_spark.operators.report import term_shift

    tsh_a = spark.range(200).selectExpr(
        "concat('w', cast(id % 23 as string), ' x') AS text"
    )
    tsh_b = spark.range(200).selectExpr(
        "concat('w', cast(id % 29 as string), ' y') AS text"
    )
    tsh_plan = plan_of(term_shift(tsh_a, tsh_b, top_k=20))
    tsh_ok = (
        "TakeOrderedAndProject" in tsh_plan
        and "CartesianProduct" not in tsh_plan
        and "BatchEvalPython" not in tsh_plan
    )
    checks.append(("term_shift distributed top-k union, no cartesian",
                   tsh_ok))
    sections.append(
        ("term_shift", f"  {'PASS' if tsh_ok else 'FAIL'} "
         "union top-k via TakeOrderedAndProject, k-row arithmetic",
         tsh_plan)
    )
    print(f"[{'OK' if tsh_ok else 'BAD'}] term_shift plan")

    # 91. heaps_fit: the corpus is read ONCE per fold family (per-doc
    # token fold + per-term first-appearance fold) — conditional sums
    # give every ladder point, so the number of Generate (explode)
    # nodes must be exactly 1 and there is no join other than the
    # broadcast of the 1-row max / totals
    from rio_cogeo_spark.operators.report import heaps_fit, lang_entropy

    hp_in = spark.range(200).selectExpr(
        "id AS doc_id", "concat('w', cast(id % 23 as string), ' x y') AS text"
    )
    hp_plan = plan_of(heaps_fit(hp_in, n_points=5))
    # exactly 2 Generates: the corpus-side term explode + the 1-row
    # ladder-array explode (n_points structs, not a corpus rescan)
    hp_ok = (
        len(re.findall(r"\(\d+\) Generate", hp_plan)) == 2
        and "SortMergeJoin" not in hp_plan
        and "CartesianProduct" not in hp_plan
    )
    checks.append(("heaps_fit one corpus explode, ladder via conditional"
                   " sums", hp_ok))
    sections.append(
        ("heaps_fit", f"  {'PASS' if hp_ok else 'FAIL'} "
         "corpus explode + 1-row ladder explode; points are conditional"
         " sums, not rescans", hp_plan)
    )
    print(f"[{'OK' if hp_ok else 'BAD'}] heaps_fit plan")

    # 92. lang_entropy: ONE corpus explode fold; per-lang totals via a
    # window over the vocab table (no join, no second corpus scan)
    le_in = spark.range(500).selectExpr(
        "cast(id % 3 as string) AS lang",
        "concat('w', cast(id % 31 as string), ' x') AS text",
    )
    le_plan = plan_of(lang_entropy(le_in))
    le_ok = (
        "Join" not in le_plan
        and len(re.findall(r"\(\d+\) Generate", le_plan)) == 1
        and len(re.findall(r"\(\d+\) Window", le_plan)) == 1
    )
    checks.append(("lang_entropy single corpus explode, vocab-table window,"
                   " zero joins", le_ok))
    sections.append(
        ("lang_entropy", f"  {'PASS' if le_ok else 'FAIL'} "
         "per-lang totals via a window on the vocab fold (one corpus"
         " scan, no join)", le_plan)
    )
    print(f"[{'OK' if le_ok else 'BAD'}] lang_entropy plan")

    # 93/94. aspect8 and contour_cells: hillshade-pattern vote explode
    # + ONE combinable aggregate — no join, no window, no trig UDF
    from rio_cogeo_spark.operators.focal import aspect8, contour_cells

    a8_in = spark.range(300).selectExpr(
        "id % 32 AS tile_x", "(id * 11) % 32 AS tile_y", "1 AS page_count"
    ).groupBy("tile_x", "tile_y").agg(F.sum("page_count").alias("page_count"))
    for nm, df93 in (
        ("aspect8", aspect8(a8_in, 5)),
        ("contour_cells", contour_cells(a8_in, 5, threshold=1)),
    ):
        p93 = plan_of(df93)
        ok93 = (
            "Join" not in p93
            and "Window" not in p93
            and len(re.findall(r"\(\d+\) Generate", p93)) == 1
            and "BatchEvalPython" not in p93
        )
        checks.append((f"{nm} vote explode + one aggregate, no join/window",
                       ok93))
        sections.append(
            (nm, f"  {'PASS' if ok93 else 'FAIL'} "
             "single Generate + combinable slot aggregate", p93)
        )
        print(f"[{'OK' if ok93 else 'BAD'}] {nm} plan")

    # 95. d8_flow: the aspect8 pattern — one vote explode + one
    # combinable 9-slot aggregate, argmax as GREATEST over literal
    # codes; no join, no window, no Python
    from rio_cogeo_spark.operators.focal import d8_flow

    d8_plan = plan_of(d8_flow(a8_in, 5))
    d8_ok = (
        "Join" not in d8_plan
        and "Window" not in d8_plan
        and len(re.findall(r"\(\d+\) Generate", d8_plan)) == 1
        and "BatchEvalPython" not in d8_plan
    )
    checks.append(("d8_flow vote explode + greatest argmax, no join",
                   d8_ok))
    sections.append(
        ("d8_flow", f"  {'PASS' if d8_ok else 'FAIL'} "
         "single Generate + slot aggregate + GREATEST code argmax",
         d8_plan)
    )
    print(f"[{'OK' if d8_ok else 'BAD'}] d8_flow plan")

    # 96. geohash rollup: encode is pure codegen expressions — no UDF,
    # no Generate, no join; exactly the one (gh) fold exchange
    from rio_cogeo_spark.functions.geohash import geohash as gh_fn

    gh_in = spark.range(500).selectExpr(
        "cast(id % 90 as double) - 45.0 AS lat",
        "cast(id % 360 as double) - 180.0 AS lon",
    )
    gh_plan = plan_of(
        gh_in.select(gh_fn(F.col("lat"), F.col("lon"), 5).alias("gh"))
        .groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    )
    gh_ok = (
        "BatchEvalPython" not in gh_plan
        and "ArrowEvalPython" not in gh_plan
        and "Generate" not in gh_plan
        and "Join" not in gh_plan
        and len(re.findall(r"\(\d+\) Exchange", gh_plan)) == 1
    )
    checks.append(("geohash rollup pure codegen, single fold exchange",
                   gh_ok))
    sections.append(
        ("geohash", f"  {'PASS' if gh_ok else 'FAIL'} "
         "bit/concat encode in whole-stage codegen, one (gh) fold",
         gh_plan)
    )
    print(f"[{'OK' if gh_ok else 'BAD'}] geohash plan")

    # 97. terrain_rugged: the aspect8 shape — one vote explode + one
    # combinable 9-slot aggregate, then a pure projection; no join,
    # no window, no Python
    from rio_cogeo_spark.operators.focal import terrain_rugged

    tr_plan = plan_of(terrain_rugged(a8_in, 5))
    tr_ok = (
        "Join" not in tr_plan
        and "Window" not in tr_plan
        and "BatchEvalPython" not in tr_plan
        and "ArrowEvalPython" not in tr_plan
        and "HashAggregate" in tr_plan
        and "Generate" in tr_plan
    )
    checks.append(("terrain_rugged vote explode + single 9-slot "
                   "aggregate, no join/window", tr_ok))
    sections.append(
        ("terrain_rugged", f"  {'PASS' if tr_ok else 'FAIL'} "
         "one explode + one combinable aggregate, pure projection",
         tr_plan)
    )
    print(f"[{'OK' if tr_ok else 'BAD'}] terrain_rugged plan")

    # 98. viewshed_rows: exactly ONE window (running max on the
    # bounded row key), no join, no Python
    from rio_cogeo_spark.operators.focal import viewshed_rows

    vs_plan = plan_of(viewshed_rows(a8_in))
    vs_ok = (
        "Join" not in vs_plan
        and "BatchEvalPython" not in vs_plan
        and "ArrowEvalPython" not in vs_plan
        and len(re.findall(r"\(\d+\) Window", vs_plan)) == 1
    )
    checks.append(("viewshed_rows single row-key window, no join",
                   vs_ok))
    sections.append(
        ("viewshed_rows", f"  {'PASS' if vs_ok else 'FAIL'} "
         "one running-max window on tile_y, zero joins",
         vs_plan)
    )
    print(f"[{'OK' if vs_ok else 'BAD'}] viewshed_rows plan")

    # 99. proximity: k BFS dilation rounds — Generate + aggregate per
    # round, zero joins, zero windows, zero Python
    from rio_cogeo_spark.operators.focal import proximity

    px_plan = plan_of(proximity(a8_in, 5, rounds=3))
    px_ok = (
        "Join" not in px_plan
        and "Window" not in px_plan
        and "BatchEvalPython" not in px_plan
        and "ArrowEvalPython" not in px_plan
        and "Generate" in px_plan
    )
    checks.append(("proximity BFS rounds: explode+fold only, "
                   "no join/window", px_ok))
    sections.append(
        ("proximity", f"  {'PASS' if px_ok else 'FAIL'} "
         "3 dilation rounds, each a Generate + min fold",
         px_plan)
    )
    print(f"[{'OK' if px_ok else 'BAD'}] proximity plan")

    # 100. sieve_components: min-label rounds are joins-free (the
    # self-vote trick), component stats exactly ONE window on label
    from rio_cogeo_spark.operators.focal import sieve_components

    sv_plan = plan_of(sieve_components(a8_in, 5, rounds=3, min_size=2))
    sv_ok = (
        "Join" not in sv_plan
        and "BatchEvalPython" not in sv_plan
        and "ArrowEvalPython" not in sv_plan
        and len(re.findall(r"\(\d+\) Window", sv_plan)) == 1
        and "Generate" in sv_plan
    )
    checks.append(("sieve_components label rounds join-free, one "
                   "label window", sv_ok))
    sections.append(
        ("sieve_components", f"  {'PASS' if sv_ok else 'FAIL'} "
         "self-vote label propagation, single component-stats window",
         sv_plan)
    )
    print(f"[{'OK' if sv_ok else 'BAD'}] sieve_components plan")

    # 101. benford: one corpus fold to host counts; the digit join and
    # the total join are BOTH broadcast (9-row / 1-row sides)
    from rio_cogeo_spark.operators.report import benford as bf_op

    bf_in = spark.range(2000).selectExpr(
        "concat('h', cast(id % 97 as string)) AS host"
    )
    bf_plan = plan_of(bf_op(bf_in, "host"))
    bf_ok = (
        "BatchEvalPython" not in bf_plan
        and "ArrowEvalPython" not in bf_plan
        and "SortMergeJoin" not in bf_plan
        and "ShuffledHashJoin" not in bf_plan
        and "Broadcast" in bf_plan
    )
    checks.append(("benford broadcast-only joins over the host-count "
                   "fold", bf_ok))
    sections.append(
        ("benford", f"  {'PASS' if bf_ok else 'FAIL'} "
         "digit/total joins broadcast, corpus folds once",
         bf_plan)
    )
    print(f"[{'OK' if bf_ok else 'BAD'}] benford plan")

    # 102. mann_whitney: value-frequency fold + ONE cumulative window
    # on the value table, no joins
    from rio_cogeo_spark.operators.report import mann_whitney as mw_op

    mw_in = spark.range(2000).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang",
        "(id * 7) % 200 AS n",
    )
    mw_plan = plan_of(mw_op(mw_in, "lang", "en", "n"))
    mw_ok = (
        "Join" not in mw_plan
        and "BatchEvalPython" not in mw_plan
        and "ArrowEvalPython" not in mw_plan
        and len(re.findall(r"\(\d+\) Window", mw_plan)) == 1
    )
    checks.append(("mann_whitney value-table window only, no joins",
                   mw_ok))
    sections.append(
        ("mann_whitney", f"  {'PASS' if mw_ok else 'FAIL'} "
         "one cumulative window on the value-frequency table",
         mw_plan)
    )
    print(f"[{'OK' if mw_ok else 'BAD'}] mann_whitney plan")

    # 103. geary_c: same contract as morans_i — one focal pass, one
    # tile-bounded grid-key join, no Window, no Python
    from rio_cogeo_spark.operators.focal import geary_c

    gc_plan = plan_of(geary_c(a8_in, 5))
    gc_ok = (
        "Window" not in gc_plan
        and "BatchEvalPython" not in gc_plan
        and "ArrowEvalPython" not in gc_plan
        and "CartesianProduct" not in gc_plan
        and "Generate" in gc_plan
    )
    checks.append(("geary_c one focal pass + grid-key join, no window",
                   gc_ok))
    sections.append(
        ("geary_c", f"  {'PASS' if gc_ok else 'FAIL'} "
         "morans_i staging with the E term riding the same fold",
         gc_plan)
    )
    print(f"[{'OK' if gc_ok else 'BAD'}] geary_c plan")

    # 104. local_moran: focal pass + broadcast 1-row totals, no window
    from rio_cogeo_spark.operators.focal import local_moran

    lm2_plan = plan_of(local_moran(a8_in, 5))
    lm2_ok = (
        "Window" not in lm2_plan
        and "BatchEvalPython" not in lm2_plan
        and "ArrowEvalPython" not in lm2_plan
        and "BroadcastNestedLoopJoin" in lm2_plan
        and "SortMergeJoin" not in lm2_plan.split("BroadcastNestedLoopJoin")[0]
    )
    checks.append(("local_moran broadcast totals + focal join, no window",
                   lm2_ok))
    sections.append(
        ("local_moran", f"  {'PASS' if lm2_ok else 'FAIL'} "
         "1-row (S,Q) broadcast onto the tile-bounded focal join",
         lm2_plan)
    )
    print(f"[{'OK' if lm2_ok else 'BAD'}] local_moran plan")

    # 105. fillnodata: k BFS rounds, zero joins (min_by rides the same
    # aggregate as the pack fold), zero windows
    from rio_cogeo_spark.operators.focal import fillnodata

    fn_plan = plan_of(fillnodata(a8_in, 5, rounds=3))
    fn_ok = (
        "Join" not in fn_plan
        and "Window" not in fn_plan
        and "BatchEvalPython" not in fn_plan
        and "ArrowEvalPython" not in fn_plan
        and "Generate" in fn_plan
    )
    checks.append(("fillnodata packed min fold per round, no join/window",
                   fn_ok))
    sections.append(
        ("fillnodata", f"  {'PASS' if fn_ok else 'FAIL'} "
         "value rides min_by in the SAME aggregate as the pack fold",
         fn_plan)
    )
    print(f"[{'OK' if fn_ok else 'BAD'}] fillnodata plan")

    # 106. polygonize: value-equality rides the GROUP KEY — zero joins;
    # region stats exactly one label window
    from rio_cogeo_spark.operators.focal import polygonize

    pg_plan = plan_of(polygonize(a8_in, 5, rounds=3))
    pg_ok = (
        "Join" not in pg_plan
        and "BatchEvalPython" not in pg_plan
        and "ArrowEvalPython" not in pg_plan
        and len(re.findall(r"\(\d+\) Window", pg_plan)) == 1
    )
    checks.append(("polygonize equal-value group-key rounds join-free, "
                   "one label window", pg_ok))
    sections.append(
        ("polygonize", f"  {'PASS' if pg_ok else 'FAIL'} "
         "(x, y, v) vote groups, single region-stats window",
         pg_plan)
    )
    print(f"[{'OK' if pg_ok else 'BAD'}] polygonize plan")

    # 107. spearman: ONE corpus fold (joint table localCheckpoint-pinned
    # so the marginal rank tables read it, not the corpus), rank joins
    # broadcast-only, windows on the marginal tables only
    from rio_cogeo_spark.operators.report import spearman as sp_op

    sp_in = spark.range(5000).selectExpr(
        "id % 37 AS a", "(id * 13) % 23 AS b"
    )
    sp_plan = plan_of(sp_op(sp_in, "a", "b"))
    sp_ok = (
        "BatchEvalPython" not in sp_plan
        and "ArrowEvalPython" not in sp_plan
        and "SortMergeJoin" not in sp_plan
        and "ShuffledHashJoin" not in sp_plan
        and "BroadcastHashJoin" in sp_plan
        and "Scan ExistingRDD" in sp_plan
    )
    checks.append(("spearman pinned joint fold + broadcast rank joins",
                   sp_ok))
    sections.append(
        ("spearman", f"  {'PASS' if sp_ok else 'FAIL'} "
         "corpus folds once; rank windows on the marginal tables",
         sp_plan)
    )
    print(f"[{'OK' if sp_ok else 'BAD'}] spearman plan")

    # 108. volume_acf: day fold pinned; lag window + per-lag folds run
    # on the day table; totals broadcast
    from rio_cogeo_spark.operators.report import volume_acf as acf_op

    acf_in = spark.range(50000).selectExpr("id * 37 AS ts_sec")
    acf_plan = plan_of(acf_op(acf_in, max_lag=3))
    acf_ok = (
        "BatchEvalPython" not in acf_plan
        and "ArrowEvalPython" not in acf_plan
        and "SortMergeJoin" not in acf_plan
        and "BroadcastNestedLoopJoin" in acf_plan
        and "Scan ExistingRDD" in acf_plan
        and len(re.findall(r"\(\d+\) Window", acf_plan)) == 1
    )
    checks.append(("volume_acf pinned day fold, one lag window, "
                   "broadcast totals", acf_ok))
    sections.append(
        ("volume_acf", f"  {'PASS' if acf_ok else 'FAIL'} "
         "windows and folds on the day table only",
         acf_plan)
    )
    print(f"[{'OK' if acf_ok else 'BAD'}] volume_acf plan")

    # 109. raster_hist: pinned tile fold (bounds + bucket fold share
    # it), broadcast-only joins
    from rio_cogeo_spark.operators.gdalutil import (
        color_relief,
        locationinfo,
        mosaic,
        raster_hist,
        scale_bytes,
    )

    rh_plan = plan_of(raster_hist(a8_in, n_buckets=8))
    rh_ok = (
        "SortMergeJoin" not in rh_plan
        and "ShuffledHashJoin" not in rh_plan
        and "BatchEvalPython" not in rh_plan
        and "ArrowEvalPython" not in rh_plan
        and "Scan ExistingRDD" in rh_plan
        and "Broadcast" in rh_plan
    )
    checks.append(("raster_hist pinned fold + broadcast bounds/spine",
                   rh_ok))
    sections.append(
        ("raster_hist", f"  {'PASS' if rh_ok else 'FAIL'} "
         "bounds and bucket fold share one pinned tile fold",
         rh_plan)
    )
    print(f"[{'OK' if rh_ok else 'BAD'}] raster_hist plan")

    # 110. scale_bytes: pinned fold + 1-row broadcast, no shuffle join
    sb2_plan = plan_of(scale_bytes(a8_in))
    sb2_ok = (
        "SortMergeJoin" not in sb2_plan
        and "ShuffledHashJoin" not in sb2_plan
        and "BatchEvalPython" not in sb2_plan
        and "ArrowEvalPython" not in sb2_plan
        and "Scan ExistingRDD" in sb2_plan
        and "BroadcastNestedLoopJoin" in sb2_plan
    )
    checks.append(("scale_bytes 1-row broadcast bounds onto pinned fold",
                   sb2_ok))
    sections.append(
        ("scale_bytes", f"  {'PASS' if sb2_ok else 'FAIL'} "
         "min/max broadcast back, rescale is one projection",
         sb2_plan)
    )
    print(f"[{'OK' if sb2_ok else 'BAD'}] scale_bytes plan")

    # 111. locationinfo: the point set is the BROADCAST build side of
    # the scan join — the tile table never shuffles
    li_pts = spark.createDataFrame(
        [("p1", 10.0, 50.0), ("p2", -150.0, -40.0)],
        "name string, lon double, lat double",
    )
    li_plan = plan_of(locationinfo(a8_in, li_pts, 5))
    li_ok = (
        "SortMergeJoin" not in li_plan
        and "ShuffledHashJoin" not in li_plan
        and "CartesianProduct" not in li_plan
        and "BroadcastHashJoin" in li_plan
    )
    checks.append(("locationinfo broadcast point set, tiles never "
                   "shuffle", li_ok))
    sections.append(
        ("locationinfo", f"  {'PASS' if li_ok else 'FAIL'} "
         "points build-side broadcast; outer join on the point spine only",
         li_plan)
    )
    print(f"[{'OK' if li_ok else 'BAD'}] locationinfo plan")

    # 112. mosaic: ONE co-partitioned full-outer tile-key join, no
    # cartesian / nested-loop
    mo_b = a8_in.selectExpr(
        "tile_x + 1 AS tile_x", "tile_y", "page_count * 2 AS page_count"
    )
    mo_plan = plan_of(mosaic(a8_in, mo_b))
    mo_ok = (
        "FullOuter" in mo_plan
        and "CartesianProduct" not in mo_plan
        and "BroadcastNestedLoopJoin" not in mo_plan
        and "BatchEvalPython" not in mo_plan
        and "ArrowEvalPython" not in mo_plan
    )
    checks.append(("mosaic single co-partitioned full-outer tile join",
                   mo_ok))
    sections.append(
        ("mosaic", f"  {'PASS' if mo_ok else 'FAIL'} "
         "tile-bounded full outer, coalesce is a projection",
         mo_plan)
    )
    print(f"[{'OK' if mo_ok else 'BAD'}] mosaic plan")

    # 113. color_relief: plan-literal ramp — zero Exchange BEYOND the
    # input's own fold (use a flat tile table so the assert is strict),
    # zero joins
    cr_in = spark.range(300).selectExpr(
        "id % 32 AS tile_x", "(id * 11) % 32 AS tile_y",
        "id % 500 AS page_count"
    )
    cr_plan = plan_of(
        color_relief(cr_in, [(1, "lo"), (10, "mid"), (100, "hi")])
    )
    cr_ok = (
        "Exchange" not in cr_plan
        and "Join" not in cr_plan
        and "BatchEvalPython" not in cr_plan
        and "ArrowEvalPython" not in cr_plan
    )
    checks.append(("color_relief zero-Exchange literal-ramp projection",
                   cr_ok))
    sections.append(
        ("color_relief", f"  {'PASS' if cr_ok else 'FAIL'} "
         "CASE chain over the scan, nothing else",
         cr_plan)
    )
    print(f"[{'OK' if cr_ok else 'BAD'}] color_relief plan")

    # 114. group_boxplot: pinned value-frequency fold (quantile probe +
    # outlier count share it), group-bounded fence table broadcast back
    from rio_cogeo_spark.operators.report import group_boxplot

    bx_in = spark.range(5000).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang",
        "(id * 7) % 400 AS n_chars",
    )
    bx_plan = plan_of(group_boxplot(bx_in, "n_chars", "lang"))
    bx_ok = (
        "SortMergeJoin" not in bx_plan
        and "ShuffledHashJoin" not in bx_plan
        and "BatchEvalPython" not in bx_plan
        and "ArrowEvalPython" not in bx_plan
        and "Scan ExistingRDD" in bx_plan
        and "BroadcastHashJoin" in bx_plan
    )
    checks.append(("group_boxplot pinned freq fold + broadcast fences",
                   bx_ok))
    sections.append(
        ("group_boxplot", f"  {'PASS' if bx_ok else 'FAIL'} "
         "quantile probe and outlier count share one corpus fold",
         bx_plan)
    )
    print(f"[{'OK' if bx_ok else 'BAD'}] group_boxplot plan")

    # 115. equalize: pinned corpus fold (frequency fold + remap join
    # share it), CDF window on the VALUE table only, remap broadcasts
    from rio_cogeo_spark.operators.gdalutil import (
        clip,
        equalize,
        raster_calc,
        raster_compare,
        slope_pct,
        upsample,
    )

    eq_plan = plan_of(equalize(a8_in, levels=64))
    eq_ok = (
        "SortMergeJoin" not in eq_plan
        and "ShuffledHashJoin" not in eq_plan
        and "BatchEvalPython" not in eq_plan
        and "ArrowEvalPython" not in eq_plan
        and "Scan ExistingRDD" in eq_plan
        and "BroadcastHashJoin" in eq_plan
    )
    checks.append(("equalize pinned fold + value-table CDF + broadcast remap",
                   eq_ok))
    sections.append(
        ("equalize", f"  {'PASS' if eq_ok else 'FAIL'} "
         "frequency fold and remap join share one corpus pass",
         eq_plan)
    )
    print(f"[{'OK' if eq_ok else 'BAD'}] equalize plan")

    # 116. clip: plan-literal range filter + projection — zero
    # Exchange, zero joins (flat input so the assert is strict)
    cl_plan = plan_of(clip(cr_in, 5, (-10.0, 35.0, 30.0, 60.0)))
    cl_ok = (
        "Exchange" not in cl_plan
        and "Join" not in cl_plan
        and "BatchEvalPython" not in cl_plan
        and "ArrowEvalPython" not in cl_plan
        and "Filter" in cl_plan
    )
    checks.append(("clip zero-Exchange literal range filter", cl_ok))
    sections.append(
        ("clip", f"  {'PASS' if cl_ok else 'FAIL'} "
         "driver-resolved tile window, min/max-pruneable predicate",
         cl_plan)
    )
    print(f"[{'OK' if cl_ok else 'BAD'}] clip plan")

    # 117. upsample: literal child-offset explode — zero Exchange,
    # zero joins
    up_plan = plan_of(upsample(cr_in, factor=2))
    up_ok = (
        "Exchange" not in up_plan
        and "Join" not in up_plan
        and "BatchEvalPython" not in up_plan
        and "ArrowEvalPython" not in up_plan
        and len(re.findall(r"\(\d+\) Generate", up_plan)) == 1
    )
    checks.append(("upsample zero-Exchange literal child explode", up_ok))
    sections.append(
        ("upsample", f"  {'PASS' if up_ok else 'FAIL'} "
         "4-child explode over the scan, nothing else",
         up_plan)
    )
    print(f"[{'OK' if up_ok else 'BAD'}] upsample plan")

    # 118. raster_calc: ONE co-partitioned full-outer tile join, no
    # cartesian/nested-loop (the mosaic contract)
    rc_b = a8_in.selectExpr(
        "tile_x + 1 AS tile_x", "tile_y", "page_count"
    )
    rc_plan = plan_of(raster_calc(a8_in, rc_b, op="sub"))
    rc_ok = (
        "FullOuter" in rc_plan
        and "CartesianProduct" not in rc_plan
        and "BroadcastNestedLoopJoin" not in rc_plan
        and "BatchEvalPython" not in rc_plan
        and "ArrowEvalPython" not in rc_plan
    )
    checks.append(("raster_calc single co-partitioned full-outer join",
                   rc_ok))
    sections.append(
        ("raster_calc", f"  {'PASS' if rc_ok else 'FAIL'} "
         "tile-bounded full outer, algebra is a projection",
         rc_plan)
    )
    print(f"[{'OK' if rc_ok else 'BAD'}] raster_calc plan")

    # 119. raster_compare: full-outer join folded straight into ONE
    # 1-row combinable aggregate — partial HashAggregate present
    cp_plan = plan_of(raster_compare(a8_in, rc_b))
    cp_ok = (
        "FullOuter" in cp_plan
        and "CartesianProduct" not in cp_plan
        and "HashAggregate" in cp_plan
        and "BatchEvalPython" not in cp_plan
        and "ArrowEvalPython" not in cp_plan
        and "Window" not in cp_plan
    )
    checks.append(("raster_compare join folded into one summary aggregate",
                   cp_ok))
    sections.append(
        ("raster_compare", f"  {'PASS' if cp_ok else 'FAIL'} "
         "nothing corpus-sized survives the join",
         cp_plan)
    )
    print(f"[{'OK' if cp_ok else 'BAD'}] raster_compare plan")

    # 120. slope_pct: inherits aspect8's vote-explode shape — no join,
    # no window, the one sqrt is a JVM expression (no Python)
    sp_plan = plan_of(slope_pct(a8_in, 5))
    sp_ok = (
        "Join" not in sp_plan
        and "Window" not in sp_plan
        and "BatchEvalPython" not in sp_plan
        and "ArrowEvalPython" not in sp_plan
        and len(re.findall(r"\(\d+\) Generate", sp_plan)) == 1
        and "HashAggregate" in sp_plan
    )
    checks.append(("slope_pct aspect8-fold shape, JVM-side pinned sqrt",
                   sp_ok))
    sections.append(
        ("slope_pct", f"  {'PASS' if sp_ok else 'FAIL'} "
         "vote explode + ONE combinable aggregate + sqrt projection",
         sp_plan)
    )
    print(f"[{'OK' if sp_ok else 'BAD'}] slope_pct plan")

    # 121. idw: the aspect8 vote-explode shape — one Generate, one
    # combinable aggregate, no join/window/Python
    from rio_cogeo_spark.operators.gdalutil import footprint, idw, tindex

    iw_plan = plan_of(idw(a8_in, 5, radius=2))
    iw_ok = (
        "Join" not in iw_plan
        and "Window" not in iw_plan
        and "BatchEvalPython" not in iw_plan
        and "ArrowEvalPython" not in iw_plan
        and len(re.findall(r"\(\d+\) Generate", iw_plan)) == 1
        and "HashAggregate" in iw_plan
    )
    checks.append(("idw single vote explode + combinable aggregate", iw_ok))
    sections.append(
        ("idw", f"  {'PASS' if iw_ok else 'FAIL'} "
         "lcm-scaled integer weights ride the offset literals",
         iw_plan)
    )
    print(f"[{'OK' if iw_ok else 'BAD'}] idw plan")

    # 122. tindex: pinned-double bounds — pure projection, zero
    # Exchange, zero joins (flat input so the assert is strict)
    ti_plan = plan_of(tindex(cr_in, 5))
    ti_ok = (
        "Exchange" not in ti_plan
        and "Join" not in ti_plan
        and "BatchEvalPython" not in ti_plan
        and "ArrowEvalPython" not in ti_plan
    )
    checks.append(("tindex zero-Exchange pinned-double projection", ti_ok))
    sections.append(
        ("tindex", f"  {'PASS' if ti_ok else 'FAIL'} "
         "driver literals, FLOOR x4, nothing else",
         ti_plan)
    )
    print(f"[{'OK' if ti_ok else 'BAD'}] tindex plan")

    # 123. footprint: polygonize's bounded vote rounds + ONE label-key
    # aggregate — no window beyond polygonize's own, no Python
    fpr_plan = plan_of(footprint(a8_in, 5, rounds=2))
    fpr_ok = (
        "BatchEvalPython" not in fpr_plan
        and "ArrowEvalPython" not in fpr_plan
        and "CartesianProduct" not in fpr_plan
        and "SortMergeJoin" not in fpr_plan
        and "HashAggregate" in fpr_plan
    )
    checks.append(("footprint polygonize rounds + one label aggregate",
                   fpr_ok))
    sections.append(
        ("footprint", f"  {'PASS' if fpr_ok else 'FAIL'} "
         "region bbox folds on the label key, join-free",
         fpr_plan)
    )
    print(f"[{'OK' if fpr_ok else 'BAD'}] footprint plan")

    # 124. mojibake: pure codegen regexp projection — zero Exchange,
    # zero Python
    from rio_cogeo_spark.functions.text import mojibake_cols

    mj_in = spark.range(100).selectExpr(
        "id AS doc_id", "concat('text Ã© ', id) AS text"
    )
    mj_cols = mojibake_cols(F.col("text"))
    mj_plan = plan_of(
        mj_in.select(
            "doc_id",
            mj_cols["n_moji"].alias("n_moji"),
            mj_cols["n_repl"].alias("n_repl"),
            mj_cols["clean"].alias("clean"),
        )
    )
    mj_ok = (
        "Exchange" not in mj_plan
        and "Join" not in mj_plan
        and "BatchEvalPython" not in mj_plan
        and "ArrowEvalPython" not in mj_plan
    )
    checks.append(("mojibake zero-Exchange codegen regexp projection",
                   mj_ok))
    sections.append(
        ("mojibake", f"  {'PASS' if mj_ok else 'FAIL'} "
         "regexp_count over the scan, nothing else",
         mj_plan)
    )
    print(f"[{'OK' if mj_ok else 'BAD'}] mojibake plan")

    # 125. kruskal_wallis: ONE corpus fold (pinned gv feeds value fold
    # + group fold), rank join broadcast-only, no corpus window
    from rio_cogeo_spark.operators.report import cusum_days, kruskal_wallis

    kw_plan = plan_of(kruskal_wallis(bx_in, "n_chars", "lang"))
    kw_ok = (
        "SortMergeJoin" not in kw_plan
        and "ShuffledHashJoin" not in kw_plan
        and "BatchEvalPython" not in kw_plan
        and "ArrowEvalPython" not in kw_plan
        and "Scan ExistingRDD" in kw_plan
        and "BroadcastHashJoin" in kw_plan
    )
    checks.append(("kruskal pinned gv fold + broadcast rank join", kw_ok))
    sections.append(
        ("kruskal_wallis", f"  {'PASS' if kw_ok else 'FAIL'} "
         "rank window on the value table only",
         kw_plan)
    )
    print(f"[{'OK' if kw_ok else 'BAD'}] kruskal_wallis plan")

    # 126. cusum_days: ONE corpus day fold (pinned), 1-row totals
    # broadcast, windows on the day table only
    cu_in = spark.range(5000).selectExpr("id * 1728 AS ts_sec")
    cu_plan = plan_of(cusum_days(cu_in))
    cu_ok = (
        "SortMergeJoin" not in cu_plan
        and "ShuffledHashJoin" not in cu_plan
        and "BatchEvalPython" not in cu_plan
        and "ArrowEvalPython" not in cu_plan
        and "Scan ExistingRDD" in cu_plan
        and "BroadcastNestedLoopJoin" in cu_plan
    )
    checks.append(("cusum pinned day fold + 1-row totals broadcast", cu_ok))
    sections.append(
        ("cusum_days", f"  {'PASS' if cu_ok else 'FAIL'} "
         "prefix/extremum windows run on the day table",
         cu_plan)
    )
    print(f"[{'OK' if cu_ok else 'BAD'}] cusum_days plan")

    # 127. curvature: the aspect8 shape — one vote explode + ONE
    # combinable weighted-sum aggregate; no join, no window
    from rio_cogeo_spark.operators.focal import curvature

    cv_plan = plan_of(curvature(a8_in, 5))
    cv_ok = (
        "Join" not in cv_plan
        and "Window" not in cv_plan
        and "BatchEvalPython" not in cv_plan
        and "ArrowEvalPython" not in cv_plan
        and len(re.findall(r"\(\d+\) Generate", cv_plan)) == 1
        and "HashAggregate" in cv_plan
    )
    checks.append(("curvature single vote explode + weighted-sum aggregate",
                   cv_ok))
    sections.append(
        ("curvature", f"  {'PASS' if cv_ok else 'FAIL'} "
         "rook Laplacian rides the offset literals",
         cv_plan)
    )
    print(f"[{'OK' if cv_ok else 'BAD'}] curvature plan")

    # 128. with_hilbert: zoom staged projections collapse into ONE
    # codegen stage — zero Exchange, zero joins, no Python
    from rio_cogeo_spark.functions.hilbert import with_hilbert

    hb_plan = plan_of(with_hilbert(cr_in, 8))
    hb_ok = (
        "Exchange" not in hb_plan
        and "Join" not in hb_plan
        and "BatchEvalPython" not in hb_plan
        and "ArrowEvalPython" not in hb_plan
        and "codegen id" in hb_plan
    )
    checks.append(("hilbert zero-Exchange staged-projection chain", hb_ok))
    sections.append(
        ("with_hilbert", f"  {'PASS' if hb_ok else 'FAIL'} "
         "8 rotation rounds fused into one codegen stage",
         hb_plan)
    )
    print(f"[{'OK' if hb_ok else 'BAD'}] with_hilbert plan")

    # 129. semivariogram: the curvature vote shape over 4*max_lag literal
    # offsets — one Generate, hash aggregates only, no join/window/Python
    from rio_cogeo_spark.operators.focal import semivariogram

    sv2_plan = plan_of(semivariogram(a8_in, 5, max_lag=4))
    sv2_ok = (
        "Join" not in sv2_plan
        and "Window" not in sv2_plan
        and "BatchEvalPython" not in sv2_plan
        and "ArrowEvalPython" not in sv2_plan
        and len(re.findall(r"\(\d+\) Generate", sv2_plan)) == 1
        and "HashAggregate" in sv2_plan
    )
    checks.append(("semivariogram single vote explode + pair aggregate",
                   sv2_ok))
    sections.append(
        ("semivariogram", f"  {'PASS' if sv2_ok else 'FAIL'} "
         "pair formation rides the offset literals, no self-join",
         sv2_plan)
    )
    print(f"[{'OK' if sv2_ok else 'BAD'}] semivariogram plan")

    # 130. join_counts: one Generate + pair aggregate, the only join is
    # the trivial 1x1 cross of the two single-row folds (BroadcastNested
    # over one row) — no window, no Python, no shuffle join
    from rio_cogeo_spark.operators.focal import join_counts

    jc_plan = plan_of(join_counts(a8_in, 5, threshold=2))
    jc_ok = (
        "Window" not in jc_plan
        and "BatchEvalPython" not in jc_plan
        and "ArrowEvalPython" not in jc_plan
        and len(re.findall(r"\(\d+\) Generate", jc_plan)) == 1
        and "SortMergeJoin" not in jc_plan
        and len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", jc_plan)) == 1
        and "HashAggregate" in jc_plan
    )
    checks.append(("join_counts pair aggregate + 1x1 cross only", jc_ok))
    sections.append(
        ("join_counts", f"  {'PASS' if jc_ok else 'FAIL'} "
         "pair classification aggregates; single-row folds cross 1x1",
         jc_plan)
    )
    print(f"[{'OK' if jc_ok else 'BAD'}] join_counts plan")

    # 131. kendall_tau: pair classification is a BroadcastNestedLoop
    # self-join on the checkpointed value-frequency table (plus the two
    # 1x1 closing crosses) — no SortMergeJoin, no Window, no Python
    from rio_cogeo_spark.operators.report import kendall_tau

    kt_in = spark.range(500).selectExpr(
        "id % 37 AS xv", "(id * 7) % 23 AS yv"
    )
    kt_plan = plan_of(kendall_tau(kt_in, "xv", "yv"))
    kt_ok = (
        "SortMergeJoin" not in kt_plan
        and "Window" not in kt_plan
        and "BatchEvalPython" not in kt_plan
        and "ArrowEvalPython" not in kt_plan
        and len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", kt_plan)) >= 1
        and "Scan ExistingRDD" in kt_plan  # the checkpointed vf, not a re-fold
    )
    checks.append(("kendall_tau broadcast pair join on checkpointed vf",
                   kt_ok))
    sections.append(
        ("kendall_tau", f"  {'PASS' if kt_ok else 'FAIL'} "
         "O(V²) on distinct cells; corpus folded once",
         kt_plan)
    )
    print(f"[{'OK' if kt_ok else 'BAD'}] kendall_tau plan")

    # 132. theil_sen_days: pair formation broadcast-NL on the
    # checkpointed DAY table; the only Window ranks the bounded pair
    # table — never corpus rows
    from rio_cogeo_spark.operators.report import theil_sen_days

    ts_in = spark.range(2000).selectExpr("(id % 40) * 86400 + id AS ts_sec")
    ts_plan = plan_of(theil_sen_days(ts_in))
    ts_ok = (
        "SortMergeJoin" not in ts_plan
        and "BatchEvalPython" not in ts_plan
        and "ArrowEvalPython" not in ts_plan
        and len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", ts_plan)) >= 1
        and "Scan ExistingRDD" in ts_plan
        and len(re.findall(r"\(\d+\) Window", ts_plan)) <= 2
    )
    checks.append(("theil_sen pair join + window on day table only", ts_ok))
    sections.append(
        ("theil_sen_days", f"  {'PASS' if ts_ok else 'FAIL'} "
         "P = D(D−1)/2 pairs bounded by the calendar",
         ts_plan)
    )
    print(f"[{'OK' if ts_ok else 'BAD'}] theil_sen_days plan")

    # 133. mann_kendall_days: pair classification broadcast-NL on the
    # checkpointed DAY table; no SortMergeJoin, no Window, no Python
    from rio_cogeo_spark.operators.report import mann_kendall_days

    mk_in = spark.range(3000).selectExpr("(id % 50) * 86400 + id AS ts_sec")
    mk_plan = plan_of(mann_kendall_days(mk_in))
    mk_ok = (
        "SortMergeJoin" not in mk_plan
        and "Window" not in mk_plan
        and "BatchEvalPython" not in mk_plan
        and "ArrowEvalPython" not in mk_plan
        and len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", mk_plan)) >= 1
        and "Scan ExistingRDD" in mk_plan  # the checkpointed day table
    )
    checks.append(("mann_kendall broadcast pair join on checkpointed days",
                   mk_ok))
    sections.append(
        ("mann_kendall_days", f"  {'PASS' if mk_ok else 'FAIL'} "
         "S over calendar-bounded day pairs; corpus folded once",
         mk_plan)
    )
    print(f"[{'OK' if mk_ok else 'BAD'}] mann_kendall_days plan")

    # 134. event_transitions: exactly two Windows — the lag on the
    # user-partitioned log (the irreducible exchange) and the
    # row-normalizer on the TYPE×TYPE table; no joins, no Python
    from rio_cogeo_spark.streaming.events import event_transitions

    tr_in = spark.range(5000).selectExpr(
        "CAST(id % 97 AS STRING) AS user_id",
        "CAST(id % 7 AS STRING) AS event_type",
        "id * 13 % 10000 AS ts",
        "id AS event_id",
    )
    tr_plan = plan_of(event_transitions(tr_in))
    tr_ok = (
        "BatchEvalPython" not in tr_plan
        and "ArrowEvalPython" not in tr_plan
        and "Join" not in tr_plan
        and len(re.findall(r"\(\d+\) Window", tr_plan)) == 2
        and len(re.findall(r"\(\d+\) Exchange", tr_plan)) <= 3
    )
    checks.append(("event_transitions two windows, <=3 exchanges, no join",
                   tr_ok))
    sections.append(
        ("event_transitions", f"  {'PASS' if tr_ok else 'FAIL'} "
         "one user-keyed exchange; normalizer window on vocab² table",
         tr_plan)
    )
    print(f"[{'OK' if tr_ok else 'BAD'}] event_transitions plan")

    # 135. degree_assortativity: both degree tables broadcast onto the
    # edge list (two BroadcastHashJoins), single-row moment fold — no
    # SortMergeJoin, no Window, no Python
    from rio_cogeo_spark.operators.graph import degree_assortativity

    da_in = spark.range(4000).selectExpr(
        "id % 211 AS src", "(id * 31 + 7) % 211 AS dst"
    ).filter("src <> dst").distinct()
    da_plan = plan_of(degree_assortativity(da_in))
    da_ok = (
        "SortMergeJoin" not in da_plan
        and "Window" not in da_plan
        and "BatchEvalPython" not in da_plan
        and "ArrowEvalPython" not in da_plan
        and len(re.findall(r"\(\d+\) BroadcastHashJoin", da_plan)) >= 2
    )
    checks.append(("assortativity degrees broadcast onto edges", da_ok))
    sections.append(
        ("degree_assortativity", f"  {'PASS' if da_ok else 'FAIL'} "
         "edge list never shuffles; two node-bounded degree folds",
         da_plan)
    )
    print(f"[{'OK' if da_ok else 'BAD'}] degree_assortativity plan")

    # 136. terrain_indices: same shape as terrain_rugged — one vote
    # explode + ONE combinable 9-slot aggregate, then two pure
    # projections; no join, no window, no Python, exactly one Exchange
    # (the neighbor-key partial->final agg)
    from rio_cogeo_spark.operators.focal import terrain_indices

    ti_in = spark.range(3000).selectExpr(
        "id % 32 AS tile_x", "(id * 7) % 32 AS tile_y",
        "id % 17 + 1 AS page_count",
    )
    ti_plan = plan_of(terrain_indices(ti_in, 5))
    ti_ok = (
        "Join" not in ti_plan
        and "Window" not in ti_plan
        and "BatchEvalPython" not in ti_plan
        and "ArrowEvalPython" not in ti_plan
        and "HashAggregate" in ti_plan
        and "Generate" in ti_plan
        and len(re.findall(r"\(\d+\) Exchange", ti_plan)) == 1
    )
    checks.append(("terrain_indices vote explode + single 9-slot "
                   "aggregate, one exchange, no join/window", ti_ok))
    sections.append(
        ("terrain_indices", f"  {'PASS' if ti_ok else 'FAIL'} "
         "one explode + one combinable aggregate, two pure projections",
         ti_plan)
    )
    print(f"[{'OK' if ti_ok else 'BAD'}] terrain_indices plan")

    # 137. knox_stat: three dual-role vote explodes + ONE pair-key hash
    # aggregate each, single-row folds combined by trivial 1x1 crosses
    # (BroadcastNestedLoop on one-row sides) — no SortMergeJoin, no
    # Window, no Python
    from rio_cogeo_spark.operators.focal import knox_stat

    kx_in = spark.range(5000).selectExpr(
        "id % 64 AS tile_x", "(id * 11) % 64 AS tile_y",
        "(id * 3) % 96 AS t_bucket",
    )
    kx_plan = plan_of(knox_stat(kx_in))
    kx_ok = (
        "SortMergeJoin" not in kx_plan
        and "Window" not in kx_plan
        and "BatchEvalPython" not in kx_plan
        and "ArrowEvalPython" not in kx_plan
        and len(re.findall(r"\(\d+\) Generate", kx_plan)) == 3
        and "CartesianProduct" not in kx_plan
    )
    checks.append(("knox three vote explodes, 1-row folds, "
                   "no SMJ/window/cartesian", kx_ok))
    sections.append(
        ("knox_stat", f"  {'PASS' if kx_ok else 'FAIL'} "
         "27/9/3-offset dual-role explodes; pair-key aggregates; "
         "single-row crosses", kx_plan)
    )
    print(f"[{'OK' if kx_ok else 'BAD'}] knox_stat plan")

    # 138. centrography: ONE corpus fold (partial->final aggregate),
    # single-row projection — no join, no window, no explode, no Python
    from rio_cogeo_spark.operators.focal import centrography

    cg_plan = plan_of(centrography(kx_in.select("tile_x", "tile_y")
                                   .withColumn("page_count", F.lit(3))))
    cg_ok = (
        "Join" not in cg_plan
        and "Window" not in cg_plan
        and "Generate" not in cg_plan
        and "BatchEvalPython" not in cg_plan
        and "ArrowEvalPython" not in cg_plan
        and len(re.findall(r"\(\d+\) HashAggregate", cg_plan)) == 2
    )
    checks.append(("centrography one partial+final fold, nothing else",
                   cg_ok))
    sections.append(
        ("centrography", f"  {'PASS' if cg_ok else 'FAIL'} "
         "six combinable sums, single-row projection", cg_plan)
    )
    print(f"[{'OK' if cg_ok else 'BAD'}] centrography plan")

    # 139. nn_index: one 49-entry ring-vote explode + ONE pair-key
    # aggregate + one single-row fold — no join, no window, no Python
    from rio_cogeo_spark.operators.focal import nn_index

    nn_plan = plan_of(nn_index(kx_in.select("tile_x", "tile_y"), 6))
    nn_ok = (
        "Join" not in nn_plan
        and "Window" not in nn_plan
        and "BatchEvalPython" not in nn_plan
        and "ArrowEvalPython" not in nn_plan
        and len(re.findall(r"\(\d+\) Generate", nn_plan)) == 1
    )
    checks.append(("nn_index one ring explode + min-ring aggregate",
                   nn_ok))
    sections.append(
        ("nn_index", f"  {'PASS' if nn_ok else 'FAIL'} "
         "48 ring offsets + anchor; grid-bounded", nn_plan)
    )
    print(f"[{'OK' if nn_ok else 'BAD'}] nn_index plan")

    # 140. term_burstiness: one corpus explode-fold, vocab-bounded
    # per-term re-aggregate, broadcast 1-row calendar, ONE top-K window
    # on the vocab table — no SortMergeJoin, no Python
    from rio_cogeo_spark.operators.report import term_burstiness

    tb_in = spark.range(2000).selectExpr(
        "id % 40 AS t_bucket",
        "concat('w', id % 97, ' w', id % 31, ' w', id % 7) AS text",
    )
    tbp = plan_of(term_burstiness(tb_in))
    tb_ok = (
        "SortMergeJoin" not in tbp
        and "BatchEvalPython" not in tbp
        and "ArrowEvalPython" not in tbp
        and len(re.findall(r"\(\d+\) Window\b", tbp)) == 1
        and "BroadcastNestedLoopJoin" in tbp
    )
    checks.append(("term_burstiness corpus fold + vocab-bounded "
                   "window, broadcast calendar", tb_ok))
    sections.append(
        ("term_burstiness", f"  {'PASS' if tb_ok else 'FAIL'} "
         "exact integer VMR; single top-K window", tbp)
    )
    print(f"[{'OK' if tb_ok else 'BAD'}] term_burstiness plan")

    # 141. lang_vocab_overlap: corpus folds to distinct (term, lang)
    # then bitmasks; lang table and mask table broadcast — no
    # SortMergeJoin on the corpus, no Python
    from rio_cogeo_spark.operators.report import lang_vocab_overlap

    lv_in = spark.range(2000).selectExpr(
        "concat('w', id % 97, ' w', id % 31) AS text",
        "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'fr' "
        "ELSE 'de' END AS lang",
    )
    lvp = plan_of(lang_vocab_overlap(lv_in))
    lv_ok = (
        "BatchEvalPython" not in lvp
        and "ArrowEvalPython" not in lvp
        and "CartesianProduct" not in lvp
        and len(re.findall(r"\(\d+\) Broadcast(Hash|NestedLoop)Join",
                           lvp)) >= 2
    )
    checks.append(("lang_vocab_overlap bitmask folds, broadcast-only "
                   "joins", lv_ok))
    sections.append(
        ("lang_vocab_overlap", f"  {'PASS' if lv_ok else 'FAIL'} "
         "pair counting on langs² × masks, never the corpus", lvp)
    )
    print(f"[{'OK' if lv_ok else 'BAD'}] lang_vocab_overlap plan")

    # 142. ripley_k: cell fold -> ONE disc-vote explode + ONE pair-key
    # aggregate with per-ring conditional sums -> single-row fold ->
    # bounded stack — no join except the trivial plan, no window
    from rio_cogeo_spark.operators.focal import ripley_k

    rk_plan = plan_of(ripley_k(kx_in.select("tile_x", "tile_y"), 6))
    rk_ok = (
        "Join" not in rk_plan
        and "Window" not in rk_plan
        and "BatchEvalPython" not in rk_plan
        and "ArrowEvalPython" not in rk_plan
        and len(re.findall(r"\(\d+\) Generate", rk_plan)) >= 1
    )
    checks.append(("ripley_k disc-vote explode, ring sums, no join",
                   rk_ok))
    sections.append(
        ("ripley_k", f"  {'PASS' if rk_ok else 'FAIL'} "
         "81 disc offsets + anchor; cumulative ring sums", rk_plan)
    )
    print(f"[{'OK' if rk_ok else 'BAD'}] ripley_k plan")

    # 143. cocitation: ONE co-partitioned self-join on the pivot (no
    # broadcast needed, no cartesian), pair-key aggregate — no window,
    # no Python
    from rio_cogeo_spark.operators.graph import cocitation as _cocit

    cc_in = spark.range(4000).selectExpr(
        "id % 211 AS src", "(id * 31 + 7) % 211 AS dst"
    ).filter("src <> dst")
    cc_plan = plan_of(_cocit(cc_in))
    cc_ok = (
        "Window" not in cc_plan
        and "BatchEvalPython" not in cc_plan
        and "ArrowEvalPython" not in cc_plan
        and "CartesianProduct" not in cc_plan
        and len(re.findall(r"\(\d+\) \w*Join", cc_plan)) == 1
    )
    checks.append(("cocitation single pivot self-join, no cartesian",
                   cc_ok))
    sections.append(
        ("cocitation", f"  {'PASS' if cc_ok else 'FAIL'} "
         "one shuffle on the pivot endpoint; degree-capped fan-out",
         cc_plan)
    )
    print(f"[{'OK' if cc_ok else 'BAD'}] cocitation plan")

    # 144. term_localization: one corpus explode-fold (six sums per
    # term) + ONE vocab-bounded top-K window — no join, no Python
    from rio_cogeo_spark.operators.report import term_localization

    tg_in = spark.range(2000).selectExpr(
        "id % 32 AS tile_x", "(id * 7) % 32 AS tile_y",
        "concat('w', id % 97, ' w', id % 31) AS text",
    )
    tg_plan = plan_of(term_localization(tg_in))
    tg_ok = (
        "Join" not in tg_plan
        and "BatchEvalPython" not in tg_plan
        and "ArrowEvalPython" not in tg_plan
        and len(re.findall(r"\(\d+\) Window\b", tg_plan)) == 1
    )
    checks.append(("term_localization corpus fold + one vocab window",
                   tg_ok))
    sections.append(
        ("term_localization", f"  {'PASS' if tg_ok else 'FAIL'} "
         "per-term moments map-side combinable", tg_plan)
    )
    print(f"[{'OK' if tg_ok else 'BAD'}] term_localization plan")

    # 145. quadrat_test: ONE partial+final corpus fold, single-row
    # projection — nothing else at all
    from rio_cogeo_spark.operators.focal import quadrat_test

    qt_plan = plan_of(quadrat_test(kx_in.select("tile_x", "tile_y")
                                   .withColumn("page_count", F.lit(2)), 6))
    qt_ok = (
        "Join" not in qt_plan
        and "Window" not in qt_plan
        and "Generate" not in qt_plan
        and "BatchEvalPython" not in qt_plan
        and "ArrowEvalPython" not in qt_plan
        and len(re.findall(r"\(\d+\) HashAggregate", qt_plan)) == 2
    )
    checks.append(("quadrat_test one fold, nothing else", qt_ok))
    sections.append(
        ("quadrat_test", f"  {'PASS' if qt_ok else 'FAIL'} "
         "fully-exact integer VMR", qt_plan)
    )
    print(f"[{'OK' if qt_ok else 'BAD'}] quadrat_test plan")

    # 146. general_g: dual-role vote explode + pair-key aggregate +
    # two single-row folds crossed — no join on the cell table beyond
    # the 1x1 cross, no window, no Python
    from rio_cogeo_spark.operators.focal import general_g

    gg_plan = plan_of(general_g(kx_in.select("tile_x", "tile_y")
                                .withColumn("page_count", F.lit(2)), 6))
    gg_ok = (
        "SortMergeJoin" not in gg_plan
        and "Window" not in gg_plan
        and "BatchEvalPython" not in gg_plan
        and "ArrowEvalPython" not in gg_plan
        and len(re.findall(r"\(\d+\) Generate", gg_plan)) == 1
        and "CartesianProduct" not in gg_plan
    )
    checks.append(("general_g dual-role explode, 1x1 folds only",
                   gg_ok))
    sections.append(
        ("general_g", f"  {'PASS' if gg_ok else 'FAIL'} "
         "exact-integer global Getis-Ord G", gg_plan)
    )
    print(f"[{'OK' if gg_ok else 'BAD'}] general_g plan")

    # 147. gini_concentration: one rank window on the unit-bounded
    # table + one fold — no join, no explode, no Python
    from rio_cogeo_spark.operators.focal import gini_concentration

    gi_plan = plan_of(gini_concentration(
        kx_in.select("tile_x", "tile_y").withColumn("page_count", F.lit(2))))
    gi_ok = (
        "Join" not in gi_plan
        and "Generate" not in gi_plan
        and "BatchEvalPython" not in gi_plan
        and "ArrowEvalPython" not in gi_plan
        and len(re.findall(r"\(\d+\) Window", gi_plan)) == 1
    )
    checks.append(("gini one rank window + fold", gi_ok))
    sections.append(
        ("gini_concentration", f"  {'PASS' if gi_ok else 'FAIL'} "
         "exact integer Lorenz arithmetic", gi_plan)
    )
    print(f"[{'OK' if gi_ok else 'BAD'}] gini_concentration plan")

    # 148. cell_diversity: ONE (cell, lang) corpus fold + a window
    # reusing its cell partitioning + one final fold — no join, no
    # Python, at most 2 Exchanges (fold + window may share)
    from rio_cogeo_spark.operators.report import cell_diversity

    cd_in = spark.range(3000).selectExpr(
        "id % 32 AS tile_x", "(id * 7) % 32 AS tile_y",
        "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'fr' "
        "ELSE 'de' END AS lang",
    )
    cd_plan = plan_of(cell_diversity(cd_in))
    cd_ok = (
        "Join" not in cd_plan
        and "BatchEvalPython" not in cd_plan
        and "ArrowEvalPython" not in cd_plan
        and len(re.findall(r"\(\d+\) Window\b", cd_plan)) == 1
        and len(re.findall(r"\(\d+\) Exchange", cd_plan)) <= 2
    )
    checks.append(("cell_diversity one fold + partition-reusing window",
                   cd_ok))
    sections.append(
        ("cell_diversity", f"  {'PASS' if cd_ok else 'FAIL'} "
         "corpus scanned once; entropy on the (cell,lang) table",
         cd_plan)
    )
    print(f"[{'OK' if cd_ok else 'BAD'}] cell_diversity plan")

    # 149. hapax_ratio: explode -> (lang, term) fold -> per-lang
    # re-aggregate — no window, no join, no Python
    from rio_cogeo_spark.operators.report import hapax_ratio

    hx_plan = plan_of(hapax_ratio(lv_in))
    hx_ok = (
        "Join" not in hx_plan
        and "Window" not in hx_plan
        and "BatchEvalPython" not in hx_plan
        and "ArrowEvalPython" not in hx_plan
        and len(re.findall(r"\(\d+\) Generate", hx_plan)) == 1
    )
    checks.append(("hapax_ratio explode fold + per-lang re-aggregate",
                   hx_ok))
    sections.append(
        ("hapax_ratio", f"  {'PASS' if hx_ok else 'FAIL'} "
         "vocab-bounded frequency-spectrum fold", hx_plan)
    )
    print(f"[{'OK' if hx_ok else 'BAD'}] hapax_ratio plan")

    # 150. scan_stat: focal vote fold + broadcast 1-row total + ONE
    # integer-ranked top-K window — no SortMergeJoin, no Python
    from rio_cogeo_spark.operators.focal import scan_stat

    sc_plan = plan_of(scan_stat(kx_in.select("tile_x", "tile_y")
                                .withColumn("page_count", F.lit(2)), 6))
    sc_ok = (
        "SortMergeJoin" not in sc_plan
        and "BatchEvalPython" not in sc_plan
        and "ArrowEvalPython" not in sc_plan
        and "BroadcastNestedLoopJoin" in sc_plan
        and len(re.findall(r"\(\d+\) Window\b", sc_plan)) == 1
    )
    checks.append(("scan_stat focal fold + broadcast total + one "
                   "window", sc_ok))
    sections.append(
        ("scan_stat", f"  {'PASS' if sc_ok else 'FAIL'} "
         "exact-integer relative-risk shortlist", sc_plan)
    )
    print(f"[{'OK' if sc_ok else 'BAD'}] scan_stat plan")

    # 151. lang_mixing: host-lang table broadcast onto the edge list
    # twice, mixing fold on the lang-bounded key — no SortMergeJoin on
    # edges, no Python
    from rio_cogeo_spark.operators.graph import (
        host_majority_lang, lang_mixing)

    lm_hl = host_majority_lang(spark.range(2000).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'fr' END AS lang"))
    lm_plan = plan_of(lang_mixing(cc_in, lm_hl))
    lm_ok = (
        "BatchEvalPython" not in lm_plan
        and "ArrowEvalPython" not in lm_plan
        and len(re.findall(r"\(\d+\) BroadcastHashJoin", lm_plan)) >= 2
        and "CartesianProduct" not in lm_plan
    )
    checks.append(("lang_mixing broadcast lang joins, lang-bounded "
                   "folds", lm_ok))
    sections.append(
        ("lang_mixing", f"  {'PASS' if lm_ok else 'FAIL'} "
         "edge list never shuffles on a lang key", lm_plan)
    )
    print(f"[{'OK' if lm_ok else 'BAD'}] lang_mixing plan")

    # 152. regional_terms: city table broadcast range-tagged onto
    # pages (BroadcastNestedLoop, 20 rows), term folds map-side, ONE
    # city-partitioned top-K window — no cartesian, no Python
    from rio_cogeo_spark.operators.report import regional_terms

    rt_in = spark.range(2000).selectExpr(
        "concat('w', id % 97, ' w', id % 31) AS text",
        "CAST(id % 60 - 30 AS DOUBLE) AS lat",
        "CAST((id * 7) % 300 - 150 AS DOUBLE) AS lon",
    )
    rt_c = spark.createDataFrame(
        [("a", 10.0, 10.0), ("b", -20.0, -100.0)],
        "city string, c_lat double, c_lon double",
    )
    rt_plan = plan_of(regional_terms(rt_in, rt_c))
    rt_ok = (
        "BatchEvalPython" not in rt_plan
        and "ArrowEvalPython" not in rt_plan
        and "CartesianProduct" not in rt_plan
        and "BroadcastNestedLoopJoin" in rt_plan
        and len(re.findall(r"\(\d+\) Window\b", rt_plan)) == 1
    )
    checks.append(("regional_terms broadcast range tag + city-bounded "
                   "window", rt_ok))
    sections.append(
        ("regional_terms", f"  {'PASS' if rt_ok else 'FAIL'} "
         "exact odds ratios; exclusive terms rank first", rt_plan)
    )
    print(f"[{'OK' if rt_ok else 'BAD'}] regional_terms plan")

    # 153. g_function: ring-vote explode + min-ring aggregate + bounded
    # histogram + running sum over the <= max_ring-row table — no
    # SortMergeJoin, no Python
    from rio_cogeo_spark.operators.focal import g_function

    gf_plan = plan_of(g_function(kx_in.select("tile_x", "tile_y"), 6))
    gf_ok = (
        "SortMergeJoin" not in gf_plan
        and "BatchEvalPython" not in gf_plan
        and "ArrowEvalPython" not in gf_plan
        and len(re.findall(r"\(\d+\) Generate", gf_plan)) == 1
        and len(re.findall(r"\(\d+\) Window\b", gf_plan)) == 1
    )
    checks.append(("g_function ring explode + bounded CDF window",
                   gf_ok))
    sections.append(
        ("g_function", f"  {'PASS' if gf_ok else 'FAIL'} "
         "NN-distance CDF, bounded-ring contract", gf_plan)
    )
    print(f"[{'OK' if gf_ok else 'BAD'}] g_function plan")

    # 154. lang_adjacency: canonical-direction pair votes, ONE pair-key
    # aggregate, label-bounded fold — no join, no Python
    from rio_cogeo_spark.operators.focal import lang_adjacency

    la_in = cd_in
    la_plan = plan_of(lang_adjacency(la_in))
    la_ok = (
        "Join" not in la_plan
        and "Window" not in la_plan
        and "BatchEvalPython" not in la_plan
        and "ArrowEvalPython" not in la_plan
        and len(re.findall(r"\(\d+\) Generate", la_plan)) == 1
    )
    checks.append(("lang_adjacency canonical pair votes, no self-join",
                   la_ok))
    sections.append(
        ("lang_adjacency", f"  {'PASS' if la_ok else 'FAIL'} "
         "queen adjacency without double counting", la_plan)
    )
    print(f"[{'OK' if la_ok else 'BAD'}] lang_adjacency plan")

    # 155. sd_ellipse: ONE map-side-combinable corpus fold to a single
    # row — no window, no join, no Generate, no Python
    from rio_cogeo_spark.operators.focal import sd_ellipse

    se_in = kx_in.selectExpr("tile_x", "tile_y", "t_bucket AS page_count")
    se_plan = plan_of(sd_ellipse(se_in))
    se_ok = (
        "Join" not in se_plan
        and "Window" not in se_plan
        and "Generate" not in se_plan
        and "BatchEvalPython" not in se_plan
        and "ArrowEvalPython" not in se_plan
        and "partial" in se_plan.lower()
    )
    checks.append(("sd_ellipse single partial-agg corpus fold", se_ok))
    sections.append(
        ("sd_ellipse", f"  {'PASS' if se_ok else 'FAIL'} "
         "deviational ellipse from one seven-sum fold", se_plan)
    )
    print(f"[{'OK' if se_ok else 'BAD'}] sd_ellipse plan")

    # 156. f_function: same bounded ring explode + min-ring agg as G,
    # n_empty from a broadcast 1-row count of the INPUT (never the grid)
    from rio_cogeo_spark.operators.focal import f_function

    ff_plan = plan_of(f_function(kx_in.select("tile_x", "tile_y"), 6))
    ff_ok = (
        "SortMergeJoin" not in ff_plan
        and "BatchEvalPython" not in ff_plan
        and "ArrowEvalPython" not in ff_plan
        and len(re.findall(r"\(\d+\) Generate", ff_plan)) == 1
        and len(re.findall(r"\(\d+\) Window\b", ff_plan)) == 1
        and "BroadcastNestedLoopJoin" in ff_plan
    )
    checks.append(("f_function empty-space CDF, grid never materialized",
                   ff_ok))
    sections.append(
        ("f_function", f"  {'PASS' if ff_ok else 'FAIL'} "
         "empty-space function, closed-form denominator", ff_plan)
    )
    print(f"[{'OK' if ff_ok else 'BAD'}] f_function plan")

    # 157. dissimilarity: corpus folds ONCE to (cell,lang); totals and
    # pair expansion are broadcast-only; no sort-merge, no Python
    from rio_cogeo_spark.operators.report import dissimilarity_index

    di_plan = plan_of(dissimilarity_index(cd_in))
    di_ok = (
        "SortMergeJoin" not in di_plan
        and "Window" not in di_plan
        and "BatchEvalPython" not in di_plan
        and "ArrowEvalPython" not in di_plan
        and "BroadcastHashJoin" in di_plan
    )
    checks.append(("dissimilarity broadcast pair expansion, one corpus fold",
                   di_ok))
    sections.append(
        ("dissimilarity", f"  {'PASS' if di_ok else 'FAIL'} "
         "Duncan D via common-denominator exact integers", di_plan)
    )
    print(f"[{'OK' if di_ok else 'BAD'}] dissimilarity plan")

    # 158. j_function: ONE shared ring explode feeds both CDFs; spine
    # joins are broadcast; no sort-merge, no Python
    from rio_cogeo_spark.operators.focal import j_function

    jf_plan = plan_of(j_function(kx_in.select("tile_x", "tile_y"), 6))
    jf_ok = (
        "SortMergeJoin" not in jf_plan
        and "BatchEvalPython" not in jf_plan
        and "ArrowEvalPython" not in jf_plan
        and len(re.findall(r"\(\d+\) Generate", jf_plan)) == 1
        and "BroadcastHashJoin" in jf_plan
    )
    checks.append(("j_function one shared explode for both CDFs", jf_ok))
    sections.append(
        ("j_function", f"  {'PASS' if jf_ok else 'FAIL'} "
         "(1-G)/(1-F) CSR diagnostic, spine broadcast", jf_plan)
    )
    print(f"[{'OK' if jf_ok else 'BAD'}] j_function plan")

    # 159. location_quotient: one corpus fold, window reuses the fold's
    # partitioning (no extra Exchange between them), broadcast totals
    from rio_cogeo_spark.operators.report import location_quotient

    lq_plan = plan_of(location_quotient(cd_in))
    lq_ok = (
        "SortMergeJoin" not in lq_plan
        and "BatchEvalPython" not in lq_plan
        and "ArrowEvalPython" not in lq_plan
        and "BroadcastHashJoin" in lq_plan
        and len(re.findall(r"\(\d+\) Window\b", lq_plan)) == 1
    )
    checks.append(("location_quotient partition-reusing window +"
                   " broadcast totals", lq_ok))
    sections.append(
        ("location_quotient", f"  {'PASS' if lq_ok else 'FAIL'} "
         "exact per-cell concentration", lq_plan)
    )
    print(f"[{'OK' if lq_ok else 'BAD'}] location_quotient plan")

    # 160. exposure: pair expansion via collect_list double-explode —
    # NEVER a self-join of the cell-label table; totals broadcast
    from rio_cogeo_spark.operators.report import exposure_index

    ex_plan = plan_of(exposure_index(cd_in))
    ex_ok = (
        "SortMergeJoin" not in ex_plan
        and "BatchEvalPython" not in ex_plan
        and "ArrowEvalPython" not in ex_plan
        and "BroadcastHashJoin" in ex_plan
        and len(re.findall(r"\(\d+\) Generate", ex_plan)) == 2
    )
    checks.append(("exposure double-explode pair expansion, no self-join",
                   ex_ok))
    sections.append(
        ("exposure", f"  {'PASS' if ex_ok else 'FAIL'} "
         "P* isolation/exposure matrix", ex_plan)
    )
    print(f"[{'OK' if ex_ok else 'BAD'}] exposure plan")

    # 161. host_spread: two-level combinable fold; top-k is a
    # distributed TakeOrdered, never a single-partition window
    from rio_cogeo_spark.operators.report import host_spread

    hs_in = cd_in.selectExpr(
        "CONCAT('h', CAST(tile_x % 7 AS STRING), '.com') AS host",
        "tile_x", "tile_y",
    )
    hs_plan = plan_of(host_spread(hs_in))
    hs_ok = (
        "Join" not in hs_plan
        and "Window" not in hs_plan
        and "BatchEvalPython" not in hs_plan
        and "ArrowEvalPython" not in hs_plan
        and "TakeOrderedAndProject" in hs_plan
        and "partial" in hs_plan.lower()
    )
    checks.append(("host_spread two-level fold + distributed TakeOrdered",
                   hs_ok))
    sections.append(
        ("host_spread", f"  {'PASS' if hs_ok else 'FAIL'} "
         "host geographic footprint", hs_plan)
    )
    print(f"[{'OK' if hs_ok else 'BAD'}] host_spread plan")

    # 162. morisita: collect_list double-explode pair expansion (no
    # self-join), moments broadcast twice; no sort-merge, no Python
    from rio_cogeo_spark.operators.report import morisita_horn

    mh_plan = plan_of(morisita_horn(cd_in))
    mh_ok = (
        "SortMergeJoin" not in mh_plan
        and "BatchEvalPython" not in mh_plan
        and "ArrowEvalPython" not in mh_plan
        and "BroadcastHashJoin" in mh_plan
        and len(re.findall(r"\(\d+\) Generate", mh_plan)) == 2
    )
    checks.append(("morisita double-explode pairs + broadcast moments",
                   mh_ok))
    sections.append(
        ("morisita", f"  {'PASS' if mh_ok else 'FAIL'} "
         "Morisita-Horn distribution overlap", mh_plan)
    )
    print(f"[{'OK' if mh_ok else 'BAD'}] morisita plan")

    # 163. lang_range: pure two-level combinable fold — no join, no
    # window, no explode, no Python
    from rio_cogeo_spark.operators.report import lang_range

    lr_plan = plan_of(lang_range(cd_in))
    lr_ok = (
        "Join" not in lr_plan
        and "Window" not in lr_plan
        and "Generate" not in lr_plan
        and "BatchEvalPython" not in lr_plan
        and "ArrowEvalPython" not in lr_plan
        and "partial" in lr_plan.lower()
    )
    checks.append(("lang_range pure two-level fold", lr_ok))
    sections.append(
        ("lang_range", f"  {'PASS' if lr_ok else 'FAIL'} "
         "per-language bbox/occupancy profile", lr_plan)
    )
    print(f"[{'OK' if lr_ok else 'BAD'}] lang_range plan")

    # 164. cell_novelty: one per-cell min(ts) fold + days-bounded
    # running sum — no join, exactly one Window
    from rio_cogeo_spark.operators.report import cell_novelty

    cn_in = cd_in.selectExpr(
        "tile_x", "tile_y", "CAST(tile_x * 100000 AS LONG) AS ts_sec"
    )
    cn_plan = plan_of(cell_novelty(cn_in))
    cn_ok = (
        "Join" not in cn_plan
        and "BatchEvalPython" not in cn_plan
        and "ArrowEvalPython" not in cn_plan
        and len(re.findall(r"\(\d+\) Window\b", cn_plan)) == 1
        and "partial" in cn_plan.lower()
    )
    checks.append(("cell_novelty per-cell min fold + bounded cumsum",
                   cn_ok))
    sections.append(
        ("cell_novelty", f"  {'PASS' if cn_ok else 'FAIL'} "
         "spatial crawl-frontier expansion", cn_plan)
    )
    print(f"[{'OK' if cn_ok else 'BAD'}] cell_novelty plan")

    # 165. correlogram: ONE ring-vote explode serves every lag; the
    # cell↔vote join is grid-bounded; spine/moments broadcast; no Python
    from rio_cogeo_spark.operators.focal import correlogram

    cg_in = kx_in.selectExpr(
        "tile_x", "tile_y", "t_bucket AS page_count"
    )
    cg_plan = plan_of(correlogram(cg_in, 6))
    cg_ok = (
        "BatchEvalPython" not in cg_plan
        and "ArrowEvalPython" not in cg_plan
        and len(re.findall(r"\(\d+\) Generate", cg_plan)) == 1
        and "BroadcastHashJoin" in cg_plan
        and "CartesianProduct" not in cg_plan
    )
    checks.append(("correlogram one explode for all lags, no cartesian",
                   cg_ok))
    sections.append(
        ("correlogram", f"  {'PASS' if cg_ok else 'FAIL'} "
         "multi-lag Moran's I, exact per lag", cg_plan)
    )
    print(f"[{'OK' if cg_ok else 'BAD'}] correlogram plan")

    # 166. emerging_hotspots: collect_list pair expansion (bounded by
    # series length), distributed TakeOrdered — no self-join, no window
    from rio_cogeo_spark.operators.focal import emerging_hotspots

    eh_in = kx_in.selectExpr(
        "tile_x", "tile_y", "CAST(t_bucket * 4000 AS LONG) AS ts_sec"
    )
    eh_plan = plan_of(emerging_hotspots(eh_in))
    eh_ok = (
        "Join" not in eh_plan
        and "Window" not in eh_plan
        and "BatchEvalPython" not in eh_plan
        and "ArrowEvalPython" not in eh_plan
        and "TakeOrderedAndProject" in eh_plan
        and len(re.findall(r"\(\d+\) Generate", eh_plan)) == 2
    )
    checks.append(("emerging_hotspots bounded pair explode + TakeOrdered",
                   eh_ok))
    sections.append(
        ("emerging_hotspots", f"  {'PASS' if eh_ok else 'FAIL'} "
         "per-cell Mann-Kendall trend scan", eh_plan)
    )
    print(f"[{'OK' if eh_ok else 'BAD'}] emerging_hotspots plan")

    # 167. rank_size: distributed TakeOrdered feeds a bounded window —
    # the global sort never materializes beyond top_k rows
    from rio_cogeo_spark.operators.focal import rank_size

    rs_plan = plan_of(rank_size(cg_in))
    rs_ok = (
        "Join" not in rs_plan
        and "BatchEvalPython" not in rs_plan
        and "ArrowEvalPython" not in rs_plan
        and "TakeOrderedAndProject" in rs_plan
        and len(re.findall(r"\(\d+\) Window\b", rs_plan)) >= 1
    )
    checks.append(("rank_size TakeOrdered + bounded window", rs_ok))
    sections.append(
        ("rank_size", f"  {'PASS' if rs_ok else 'FAIL'} "
         "Zipf rank-size over the density surface", rs_plan)
    )
    print(f"[{'OK' if rs_ok else 'BAD'}] rank_size plan")

    # 168. theil_h: one corpus fold; cell-entropy window reuses the
    # fold partitioning; global E broadcast — no sort-merge, no Python
    from rio_cogeo_spark.operators.report import theil_h

    th_plan = plan_of(theil_h(cd_in))
    th_ok = (
        "SortMergeJoin" not in th_plan
        and "BatchEvalPython" not in th_plan
        and "ArrowEvalPython" not in th_plan
        and "BroadcastNestedLoopJoin" in th_plan
        and len(re.findall(r"\(\d+\) Window\b", th_plan)) == 1
    )
    checks.append(("theil_h single corpus fold + broadcast global E",
                   th_ok))
    sections.append(
        ("theil_h", f"  {'PASS' if th_ok else 'FAIL'} "
         "multigroup entropy segregation", th_plan)
    )
    print(f"[{'OK' if th_ok else 'BAD'}] theil_h plan")

    # 169. colocation_quotient: one ring explode, grid-bounded vote
    # join, min-ring window reusing cell partitioning, totals broadcast
    from rio_cogeo_spark.operators.focal import colocation_quotient

    cq_plan = plan_of(colocation_quotient(cd_in, 6))
    cq_ok = (
        "BatchEvalPython" not in cq_plan
        and "ArrowEvalPython" not in cq_plan
        and "CartesianProduct" not in cq_plan
        and len(re.findall(r"\(\d+\) Generate", cq_plan)) == 1
        and "BroadcastHashJoin" in cq_plan
        and len(re.findall(r"\(\d+\) Window\b", cq_plan)) == 2
    )
    checks.append(("colocation_quotient ring explode + bounded NN sets",
                   cq_ok))
    sections.append(
        ("colocation_quotient", f"  {'PASS' if cq_ok else 'FAIL'} "
         "cross-type CLQ matrix", cq_plan)
    )
    print(f"[{'OK' if cq_ok else 'BAD'}] colocation_quotient plan")

    # 170. syndication: pure two-level fold + TakeOrdered — bbox span
    # instead of pairwise distances; no join, no explode, no Python
    from rio_cogeo_spark.operators.report import syndication

    sy_in = cd_in.selectExpr(
        "CONCAT('f', CAST(tile_x % 9 AS STRING)) AS fp",
        "tile_x", "tile_y",
    )
    sy_plan = plan_of(syndication(sy_in))
    sy_ok = (
        "Join" not in sy_plan
        and "Generate" not in sy_plan
        and "BatchEvalPython" not in sy_plan
        and "ArrowEvalPython" not in sy_plan
        and "TakeOrderedAndProject" in sy_plan
        and "partial" in sy_plan.lower()
    )
    checks.append(("syndication bbox-span fold, no pairwise distances",
                   sy_ok))
    sections.append(
        ("syndication", f"  {'PASS' if sy_ok else 'FAIL'} "
         "spatially replicated content geography", sy_plan)
    )
    print(f"[{'OK' if sy_ok else 'BAD'}] syndication plan")

    # 171. city_langs: 20-row city dim broadcast onto the corpus; both
    # windows on the cities×langs-bounded table; no sort-merge
    from rio_cogeo_spark.operators.report import city_langs

    cl_cities = spark.createDataFrame(
        [("a", 10.0, 10.0), ("b", 50.0, 50.0)],
        "city string, c_lat double, c_lon double",
    )
    cl_in = cd_in.selectExpr(
        "lang", "CAST(tile_x AS DOUBLE) AS lat",
        "CAST(tile_y AS DOUBLE) AS lon",
    )
    clg_plan = plan_of(city_langs(cl_in, cl_cities))
    clg_ok = (
        "SortMergeJoin" not in clg_plan
        and "BatchEvalPython" not in clg_plan
        and "ArrowEvalPython" not in clg_plan
        and "BroadcastNestedLoopJoin" in clg_plan
        and len(re.findall(r"\(\d+\) Window\b", clg_plan)) >= 1
    )
    checks.append(("city_langs broadcast city tag + bounded windows",
                   clg_ok))
    sections.append(
        ("city_langs", f"  {'PASS' if clg_ok else 'FAIL'} "
         "per-city language profile", clg_plan)
    )
    print(f"[{'OK' if clg_ok else 'BAD'}] city_langs plan")

    # 172. cross_moran: one ring-1 vote explode of the Y surface, one
    # grid-bounded left join, one 1-row combine — no Python
    from rio_cogeo_spark.operators.focal import cross_moran

    xm_in = kx_in.selectExpr(
        "tile_x", "tile_y", "t_bucket AS x_count",
        "CAST(tile_x % 5 AS LONG) AS y_count",
    )
    xm_plan = plan_of(cross_moran(xm_in, 6))
    xm_ok = (
        "BatchEvalPython" not in xm_plan
        and "ArrowEvalPython" not in xm_plan
        and "CartesianProduct" not in xm_plan
        and len(re.findall(r"\(\d+\) Generate", xm_plan)) == 1
        and "partial" in xm_plan.lower()
    )
    checks.append(("cross_moran single Y-vote explode + 1-row combine",
                   xm_ok))
    sections.append(
        ("cross_moran", f"  {'PASS' if xm_ok else 'FAIL'} "
         "bivariate spatial cross-correlation", xm_plan)
    )
    print(f"[{'OK' if xm_ok else 'BAD'}] cross_moran plan")

    # 173. cell_transitions: vote-pair explode (2 rows per observed
    # bucket), never a cells×buckets spine; matrix fold classes²-bounded
    from rio_cogeo_spark.operators.focal import cell_transitions

    ctr_in = kx_in.selectExpr(
        "tile_x", "tile_y", "CAST(t_bucket * 4000 AS LONG) AS ts_sec"
    )
    ctr_plan = plan_of(cell_transitions(ctr_in))
    ctr_ok = (
        "SortMergeJoin" not in ctr_plan
        and "BatchEvalPython" not in ctr_plan
        and "ArrowEvalPython" not in ctr_plan
        and "CartesianProduct" not in ctr_plan
        # the checkpointed classes²-bounded matrix feeds BOTH union
        # branches (r06: localCheckpoint replaced the leaking persist —
        # ADVICE item), so the plan reads the materialized RDD twice
        # and the corpus vote fold's Generate appears in NEITHER branch
        and len(re.findall(r"Scan ExistingRDD", ctr_plan)) >= 2
        and len(re.findall(r"\(\d+\) Generate", ctr_plan)) == 0
    )
    checks.append(("cell_transitions vote pairs, no cells-by-buckets spine",
                   ctr_ok))
    sections.append(
        ("cell_transitions", f"  {'PASS' if ctr_ok else 'FAIL'} "
         "space-time density Markov matrix", ctr_plan)
    )
    print(f"[{'OK' if ctr_ok else 'BAD'}] cell_transitions plan")

    # 174. moran_quadrants: one vote explode + grid-bounded join, 1-row
    # moment broadcast, 4-row spine — exact integer comparisons only
    from rio_cogeo_spark.operators.focal import moran_quadrants

    mq_plan = plan_of(moran_quadrants(cg_in, 6))
    mq_ok = (
        "BatchEvalPython" not in mq_plan
        and "ArrowEvalPython" not in mq_plan
        and "CartesianProduct" not in mq_plan
        and len(re.findall(r"\(\d+\) Generate", mq_plan)) == 1
        and "BroadcastNestedLoopJoin" in mq_plan
    )
    checks.append(("moran_quadrants vote explode + integer census",
                   mq_ok))
    sections.append(
        ("moran_quadrants", f"  {'PASS' if mq_ok else 'FAIL'} "
         "Moran scatter quadrant census", mq_plan)
    )
    print(f"[{'OK' if mq_ok else 'BAD'}] moran_quadrants plan")

    # 175. zoom_entropy: per-zoom windows reuse one hash partitioning;
    # no join, no explode, no Python — pure pyramid-table op
    from rio_cogeo_spark.operators.report import zoom_entropy

    ze_in = cg_in.selectExpr(
        "CAST(tile_x % 3 + 6 AS INT) AS zoom", "tile_x", "tile_y",
        "page_count",
    )
    ze_plan = plan_of(zoom_entropy(ze_in))
    ze_ok = (
        "Join" not in ze_plan
        and "Generate" not in ze_plan
        and "BatchEvalPython" not in ze_plan
        and "ArrowEvalPython" not in ze_plan
        and len(re.findall(r"\(\d+\) Window\b", ze_plan)) == 1
    )
    checks.append(("zoom_entropy single window pass over the pyramid",
                   ze_ok))
    sections.append(
        ("zoom_entropy", f"  {'PASS' if ze_ok else 'FAIL'} "
         "cross-scale concentration profile", ze_plan)
    )
    print(f"[{'OK' if ze_ok else 'BAD'}] zoom_entropy plan")

    # 176. compactness: canonical-direction rook votes (each pair
    # generated once), grid-bounded join, two 1-row folds — no Python
    from rio_cogeo_spark.operators.focal import compactness

    cp_plan = plan_of(compactness(kx_in.select("tile_x", "tile_y")))
    cp_ok = (
        "BatchEvalPython" not in cp_plan
        and "ArrowEvalPython" not in cp_plan
        and "CartesianProduct" not in cp_plan
        and len(re.findall(r"\(\d+\) Generate", cp_plan)) == 1
        and "BroadcastNestedLoopJoin" in cp_plan
    )
    checks.append(("compactness canonical rook votes + 1-row combine",
                   cp_ok))
    sections.append(
        ("compactness", f"  {'PASS' if cp_ok else 'FAIL'} "
         "isoperimetric footprint quotient", cp_plan)
    )
    print(f"[{'OK' if cp_ok else 'BAD'}] compactness plan")

    # 177. diurnal: one (cell,hour) fold, per-cell window reusing its
    # partitioning, TakeOrdered — no join, no spine, no Python
    from rio_cogeo_spark.operators.focal import diurnal

    di_in = kx_in.selectExpr(
        "tile_x", "tile_y", "CAST(t_bucket * 3700 AS LONG) AS ts_sec"
    )
    di_plan = plan_of(diurnal(di_in, min_pages=1))
    di_ok = (
        "Join" not in di_plan
        and "Generate" not in di_plan
        and "BatchEvalPython" not in di_plan
        and "ArrowEvalPython" not in di_plan
        and "TakeOrderedAndProject" in di_plan
        and len(re.findall(r"\(\d+\) Window\b", di_plan)) == 1
    )
    checks.append(("diurnal closed-form chi-square, no 24-row spine",
                   di_ok))
    sections.append(
        ("diurnal", f"  {'PASS' if di_ok else 'FAIL'} "
         "hour-of-day periodicity scan", di_plan)
    )
    print(f"[{'OK' if di_ok else 'BAD'}] diurnal plan")

    # 178. urban_gradient: centers-bounded literal spine broadcast onto
    # DISTINCT cells (never per page); one distance fold — no Python
    from rio_cogeo_spark.operators.report import urban_gradient

    ug_plan = plan_of(urban_gradient(
        kx_in.select("tile_x", "tile_y"),
        [("a", 0, 0), ("b", 40, 40)],
    ))
    ug_ok = (
        "SortMergeJoin" not in ug_plan
        and "BatchEvalPython" not in ug_plan
        and "ArrowEvalPython" not in ug_plan
        and "BroadcastNestedLoopJoin" in ug_plan
        and "partial" in ug_plan.lower()
    )
    checks.append(("urban_gradient centers spine on distinct cells",
                   ug_ok))
    sections.append(
        ("urban_gradient", f"  {'PASS' if ug_ok else 'FAIL'} "
         "core-periphery density curve", ug_plan)
    )
    print(f"[{'OK' if ug_ok else 'BAD'}] urban_gradient plan")

    # 179. geo_corpus flagship: dedup window -> codegen gate ->
    # two-phase cap -> hash split -> one fold, all in ONE fused plan —
    # no Python, no sort-merge join, no cartesian
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "entry_for_plans", str(Path("__spark_entry__.py").resolve())
    )
    _entry = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_entry)
    gc_plan = plan_of(_entry.q_geo_corpus(spark, "/root/testdata/sf0.001"))
    gc_ok = (
        "SortMergeJoin" not in gc_plan
        and "CartesianProduct" not in gc_plan
        and "BatchEvalPython" not in gc_plan
        and len(re.findall(r"\(\d+\) Window\b", gc_plan)) == 3
    )
    checks.append(("geo_corpus fused dedup->gate->cap->split plan",
                   gc_ok))
    sections.append(
        ("geo_corpus", f"  {'PASS' if gc_ok else 'FAIL'} "
         "geographically balanced corpus flagship", gc_plan)
    )
    print(f"[{'OK' if gc_ok else 'BAD'}] geo_corpus plan")

    out = ["# Physical plan audit (scripts/explain_plans.py)\n"]
    out.append("Checks asserted on `.explain('formatted')` output:\n")
    for name, ok in checks:
        out.append(f"- [{'x' if ok else ' '}] {name}")
    out.append("\n---\n")
    for name, notes, plan in sections:
        out.append(f"## {name}\n\n```\n{notes}\n```\n")
        out.append(f"<details><summary>plan</summary>\n\n```\n{plan[:4000]}\n```\n</details>\n")
    Path("docs").mkdir(exist_ok=True)
    Path("docs/PLANS.md").write_text("\n".join(out))

    spark.stop()
    bad = [n for n, ok in checks if not ok]
    if bad:
        print(f"\nPLAN AUDIT FAILURES: {bad}")
        raise SystemExit(1)
    print("\nALL PLAN CHECKS PASS (docs/PLANS.md written)")


if __name__ == "__main__":
    main()
