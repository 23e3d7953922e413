"""Plan shapes: one row per audited DataFrame, pinned against its plan.

Each row names a check, pins the expected count of every *shape node* in
the row's ``explain("formatted")`` output, and builds the DataFrame.
Shape nodes are exchanges, joins (keyed with their join type),
``CartesianProduct``, windows, ``Generate``, ``Expand``, aggregates,
``TakeOrderedAndProject``, ``Union`` and the Python eval/map nodes;
``Project``, ``Filter`` and codegen wrappers are not counted. A node
missing from a row must not appear in the plan. A key that names no
shape node is a regex, and the row pins how often it matches the plan
text (``partial_*`` functions, pushed filters, the columns an exchange
carries, checkpoint scans).

The test only plans, it runs no action (a few rows checkpoint an input
while building their DataFrame). When a plan changes on purpose, the
failure message prints the row's first line(s) as they should now read:
paste them over the old ones, and the diff shows the shape change. A new
row starts with only its regex keys (any count) and takes its counts the
same way.
"""

from __future__ import annotations

import io
import re
from collections import Counter
from contextlib import redirect_stdout
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from rio_cogeo_spark.functions import geohash, hilbert
from rio_cogeo_spark.functions import text as TX
from rio_cogeo_spark.operators import (
    bpe, chunking, contamination, incremental, links, packing, passages, quantize,
    rarity, raster, sampling, zonal,
)
from rio_cogeo_spark.operators import dedup as DD
from rio_cogeo_spark.operators import focal as FC
from rio_cogeo_spark.operators import gdalutil as GU
from rio_cogeo_spark.operators import graph as G
from rio_cogeo_spark.operators import join as J
from rio_cogeo_spark.operators import report as RP
from rio_cogeo_spark.operators import search as S
from rio_cogeo_spark.operators import similarity as SIM
from rio_cogeo_spark.operators import translate as T
from rio_cogeo_spark.operators import urlfilter as U
from rio_cogeo_spark.streaming import events


def plan_of(df) -> str:
    """The ``explain("formatted")`` text of ``df``."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SHAPE = re.compile(
    r"(Broadcast|Reused)?Exchange|\w*Join|CartesianProduct|Window\w*|Generate"
    r"|Expand|\w*Aggregate|TakeOrderedAndProject|Union|\w*(Python|Pandas|Arrow)\w*"
)
_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)


def _is_node(key: str) -> bool:
    return SHAPE.fullmatch(key.split(" ")[0]) is not None


def shape_of(plan: str, keys) -> dict:
    """Shape-node counts of ``plan`` plus the match count of each regex
    in ``keys``. Nodes are counted once per detail block ``(n) Name``,
    so a cached subplan drawn three times in the tree counts once."""
    heads = list(_NODE.finditer(plan))
    nodes = Counter()
    for head, nxt in zip(heads, heads[1:] + [None]):
        name = head.group(1)
        if not SHAPE.fullmatch(name):
            continue
        block = plan[head.end():nxt.start() if nxt else len(plan)]
        join = re.search(r"^Join type: (\w+)", block, re.M)
        nodes[f"{name} {join.group(1)}" if join else name] += 1
    out = dict(sorted(nodes.items()))
    out.update((k, len(re.findall(k, plan))) for k in keys if not _is_node(k))
    return out


def row_head(name: str, want: dict) -> str:
    """The first line(s) of a row pinning ``want``, wrapped at 88 columns."""
    lines, line = [], f'    Row("{name}", {{'
    for i, (k, v) in enumerate(want.items()):
        item = (f'r"{k}"' if "\\" in k else f'"{k}"') + f": {v}"
        item += "}," if i == len(want) - 1 else ","
        if len(line) + 1 + len(item) > 88 and not line.endswith("{"):
            lines.append(line)
            line = " " * 8 + item
        else:
            line += ("" if line.endswith("{") else " ") + item
    if not want:
        line += "},"
    return "\n".join(lines + [line])


class Row(NamedTuple):
    name: str
    want: dict
    build: Callable


class Inputs:
    """The DataFrames several rows read."""

    def __init__(self, spark, sf, sf_small):
        from rio_cogeo_spark.synth import synth_pages

        self.spark, self.sf, self.sf_small = spark, sf, sf_small
        self.pages = synth_pages(spark, sf)
        self.docs = spark.read.parquet(f"{sf}/documents.parquet")
        self.emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        self.admin = J.build_admin_areas()
        self.base_t = T.base_tiles(self.pages, 8)
        self.edges = self.docs.selectExpr(
            "doc_id % 97 AS src", "(doc_id * 31 + 7) % 97 AS dst"
        ).filter("src <> dst").distinct()
        self.a8_in = spark.range(300).selectExpr(
            "id % 32 AS tile_x", "(id * 11) % 32 AS tile_y", "1 AS page_count"
        ).groupBy("tile_x", "tile_y").agg(F.sum("page_count").alias("page_count"))
        self.a8_shift = self.a8_in.selectExpr("tile_x + 1 AS tile_x", "tile_y", "page_count")
        self.cr_in = spark.range(300).selectExpr(
            "id % 32 AS tile_x", "(id * 11) % 32 AS tile_y", "id % 500 AS page_count"
        )
        self.kx_in = spark.range(5000).selectExpr(
            "id % 64 AS tile_x", "(id * 11) % 64 AS tile_y", "(id * 3) % 96 AS t_bucket"
        )
        self.kx_xy = self.kx_in.select("tile_x", "tile_y")
        self.kx_pc2 = self.kx_xy.withColumn("page_count", F.lit(2))
        self.cg_in = self.kx_in.selectExpr("tile_x", "tile_y", "t_bucket AS page_count")
        self.cd_in = spark.range(3000).selectExpr(
            "id % 32 AS tile_x", "(id * 7) % 32 AS tile_y",
            "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'fr' "
            "ELSE 'de' END AS lang",
        )
        self.cc_in = spark.range(4000).selectExpr(
            "id % 211 AS src", "(id * 31 + 7) % 211 AS dst"
        ).filter("src <> dst")
        self.bx_in = spark.range(5000).selectExpr(
            "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang",
            "(id * 7) % 400 AS n_chars",
        )
        self.lv_in = spark.range(2000).selectExpr(
            "concat('w', id % 97, ' w', id % 31) AS text",
            "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'fr' "
            "ELSE 'de' END AS lang",
        )
        self.tri_edges = spark.range(400).select(
            (F.col("id") % 97).alias("src"),
            ((F.col("id") * 31 + 7) % 97).alias("dst"),
        ).filter(F.col("src") != F.col("dst"))

    def df(self, rows, schema):
        return self.spark.createDataFrame(rows, schema)

    def rng(self, n, *exprs):
        return self.spark.range(n).selectExpr(*exprs)


ROWS = [
    # scan pushdown: the lang filter and the pruned columns reach parquet
    Row("scan_pushdown", {r"PushedFilters: \[.*IsNotNull\(lang\).*EqualTo\(lang,en\)": 1,
        "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>": 1},
        lambda c: c.docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")),
    # tile assignment is a JVM projection: no Python node, no exchange of its own
    Row("assign_tiles", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1},
        lambda c: T.assign_tiles(c.pages, 8)),
    Row("base_tiles", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 1, "HashAggregate": 2,
        r"HashAggregate.*[\s\S]*Exchange[\s\S]*HashAggregate": 1},
        lambda c: T.base_tiles(c.pages, 8)),
    # the pyramid caches no level: exchange reuse shares each one between
    # its union branch and the next level
    Row("cog_translate", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 3, "Generate": 1, "HashAggregate": 6, "Union": 1,
        "InMemoryTableScan": 0},
        lambda c: T.cog_translate(c.pages, max_zoom=10, overview_level=6)[0]),
    # PIP prefilter: broadcast join on the cell key, never a sort-merge;
    # the exact refine is a built-in filter (no Python node), and the cells
    # table is a local relation beside synth's city table (no Python scan)
    Row("point_in_polygon", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "LocalTableScan": 4, "Scan ExistingRDD": 0},
        lambda c: J.point_in_polygon(c.pages, c.admin)),
    Row("knn_bruteforce", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 1, "Window": 1,
        "WindowGroupLimit": 2},
        lambda c: J.knn_bruteforce(
            c.pages, c.df([("Q0", 35.0, 139.0)], "query_id string, q_lat double, q_lon double"),
            k=5)),
    # LSH band exchange carries (band, bucket, doc_id), never the shingle arrays
    Row("minhash_lsh_pairs", {"ArrowEvalPython": 1, "BroadcastExchange": 2,
        "BroadcastHashJoin Inner": 2, "Exchange": 3, "Generate": 3, "HashAggregate": 2,
        "ObjectHashAggregate": 2,
        r"Input \[3\]: \[band#\d+, bucket#\d+L, buf#\d+\]\nArguments: hashpartitioning\(band": 1},
        lambda c: DD.minhash_lsh_pairs(c.docs, 0.5, 128, 64, eager_release=False)),
    # blocked-matmul candidates: equi-joins + pandas map, no cartesian
    Row("embedding_neardup_pairs", {"BroadcastExchange": 4,
        "BroadcastHashJoin Inner": 4, "Exchange": 3, "MapInPandas": 1,
        "ObjectHashAggregate": 4, "Scan ExistingRDD": 0},
        lambda c: DD.embedding_neardup_pairs(c.emb, threshold=0.4)),
    Row("contamination_hits", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 2, "Generate": 2, "HashAggregate": 4},
        lambda c: contamination.contamination_hits(
            c.docs.filter(F.col("doc_id") % 97 != 0),
            c.docs.filter(F.col("doc_id") % 97 == 0), n=3)),
    Row("search_topk", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 5, "Generate": 2,
        "HashAggregate": 10, "TakeOrderedAndProject": 1, "Window": 1},
        lambda c: S.search_topk(c.docs, ["spark", "hash", "window"], k=20)),
    # one shard-window shuffle; the pack-span explode adds none
    Row("pack_chunks", {"Exchange": 1, "Generate": 1, "Window": 1,
        r"hashpartitioning\(": 1},
        lambda c: packing.pack_chunks(c.docs, context_tokens=64, n_shards=8)),
    # rates broadcast back: the corpus side reaches the filter unshuffled
    Row("temperature_mix", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 3, "HashAggregate": 6},
        lambda c: sampling.temperature_mix(c.docs, target_ppm=300_000)),
    Row("repeated_ngram_spans", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 3, "Generate": 3, "HashAggregate": 6, "Window": 2},
        lambda c: passages.repeated_ngram_spans(c.docs, n=5, min_count=2)),
    # chunking is a per-row projection: zero exchanges
    Row("chunk_docs", {"Generate": 1},
        lambda c: chunking.chunk_docs(c.docs, chunk_tokens=64)),
    # the whole overview tail is one fold exchange over the base level
    Row("fold_levels", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: T.fold_levels(
            T.base_tiles(c.pages, 10), [(z, 1 << (10 - z)) for z in range(9, 3, -1)],
            T.default_bands())),
    Row("chunk_docs_sliding", {"Generate": 1},
        lambda c: chunking.chunk_docs_sliding(c.docs, chunk_tokens=64, stride=32)),
    Row("url_dedup_latest", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 1, "SortAggregate": 2, "partial_max_by": 1},
        lambda c: DD.url_dedup_latest(c.pages)),
    Row("bm25_topk", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 5, "Generate": 2,
        "HashAggregate": 10, "TakeOrderedAndProject": 1, "Window": 1},
        lambda c: S.bm25_topk(c.docs, ["spark", "hash"], k=10)),
    Row("paragraph_dedup", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 3, "Generate": 3, "HashAggregate": 2, "ObjectHashAggregate": 2,
        "SortAggregate": 2, "partial_min_by": 1},
        lambda c: DD.paragraph_dedup(c.docs)),
    Row("blocklist_filter", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "arrays_overlap": 1},
        lambda c: U.blocklist_filter(c.pages, ["site3.example", "site7.example"])),
    # anchor decomposition: no positional self-join at any phrase length
    Row("phrase_topk", {"Exchange": 2, "Generate": 2, "HashAggregate": 4,
        "TakeOrderedAndProject": 1, "Window": 1},
        lambda c: S.phrase_topk(c.docs, ["the", "data", "the"], k=10)),
    Row("token_rarity", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 4, "Generate": 2,
        "HashAggregate": 8, "partial_sum": 4},
        lambda c: rarity.token_rarity(c.docs)),
    Row("path_pattern_filter", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "exists": 1},
        lambda c: U.path_pattern_filter(c.pages, ["/login", "sessionid="])),
    Row("dedup_keep_best", {"Exchange": 6, "SortAggregate": 2, "SortMergeJoin Inner": 3,
        "partial_min": 1},
        lambda c: DD.dedup_keep_best(
            c.df([(1, "a b"), (2, "a b c"), (3, "a")], "doc_id long, text string"),
            c.df([(1, 2), (2, 3)], "doc_a long, doc_b long"))),
    Row("snapshot_paragraph_diff", {"BroadcastExchange": 7,
        "BroadcastHashJoin Inner": 4, "BroadcastHashJoin LeftOuter": 3, "Exchange": 4,
        "Generate": 3, "HashAggregate": 12, "Window": 5, "partial_count": 3},
        lambda c: DD.snapshot_paragraph_diff(c.pages.withColumn(
            "text", F.concat_ws(" ## ", F.col("url"), F.col("text"))), sep=" ## ")),
    Row("bpe_merge_topk", {"Exchange": 2, "Generate": 2, "HashAggregate": 4,
        "TakeOrderedAndProject": 1, "Window": 1, "partial_count": 1, "partial_sum": 1},
        lambda c: bpe.bpe_merge_topk(c.docs, k=30)),
    # distinct-host counts via dropDuplicates: no count-distinct Expand
    Row("mirror_docs", {"BroadcastExchange": 5, "BroadcastHashJoin Inner": 5,
        "Exchange": 3, "HashAggregate": 6, "partial_count": 2},
        lambda c: DD.mirror_docs(c.pages)),
    Row("containment_pairs", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 5, "Generate": 4, "HashAggregate": 2, "ObjectHashAggregate": 2,
        "partial_count": 1},
        lambda c: DD.containment_pairs(c.docs, threshold=0.8, df_cap=None)),
    Row("trending_terms", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 2, "Generate": 1, "HashAggregate": 2, "Window": 1,
        "WindowGroupLimit": 2, "partial_count": 1},
        lambda c: S.trending_terms(c.pages, window_sec=21_600, k=5)),
    Row("lang_mix", {"Exchange": 2, "Generate": 1, "HashAggregate": 2,
        "SortAggregate": 2, "partial_count": 2, "partial_min": 1},
        lambda c: rarity.lang_mix(c.docs, sep=" ")),
    Row("filter_by_group_quantile", {"BroadcastExchange": 1,
        "BroadcastHashJoin Inner": 1, "Exchange": 1, "ObjectHashAggregate": 2},
        lambda c: sampling.filter_by_group_quantile(
            c.docs.withColumn("n_chars", F.length("text")),
            q=0.25)),
    Row("host_pagerank", {"BroadcastExchange": 9, "BroadcastHashJoin Inner": 6,
        "BroadcastHashJoin LeftOuter": 3, "Exchange": 24, "HashAggregate": 48,
        "Union": 4, "partial_sum": 3},
        lambda c: G.host_pagerank(c.edges, iterations=3)),
    Row("tfidf_keywords", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 5, "Generate": 2,
        "HashAggregate": 8, "Window": 1, "WindowGroupLimit": 2, "partial_count": 3},
        lambda c: S.tfidf_keywords(c.docs, k=5)),
    Row("canonical_url", {r"\* Project": 2},
        lambda c: c.docs.select("doc_id", F.concat(
            F.lit("https://site"), (F.col("doc_id") % 97).cast("string"),
            F.lit(".example/p/"), F.col("doc_id").cast("string")).alias("url"),
        ).select("doc_id", U.canonical_url(F.col("url")).alias("curl"))),
    Row("readability_stats", {r"\* Project": 1},
        lambda c: c.docs.select("doc_id", *(
            v.alias(k) for k, v in TX.readability_stats().items()))),
    Row("bigram_lm", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 7, "Generate": 3, "HashAggregate": 14, "partial_count": 3},
        lambda c: rarity.bigram_lm(c.docs)),
    Row("lexical_diversity", {"Exchange": 2, "Generate": 1, "HashAggregate": 4,
        "partial_count": 2},
        lambda c: rarity.lexical_diversity(c.docs)),
    Row("collocations", {"BroadcastExchange": 3, "BroadcastHashJoin Inner": 2,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 7, "Generate": 4,
        "HashAggregate": 14, "TakeOrderedAndProject": 1, "partial_count": 4},
        lambda c: rarity.collocations(c.docs, min_cnt=3, topk=20)),
    Row("ccnet_buckets", {"BroadcastExchange": 3, "BroadcastHashJoin Inner": 3,
        "Exchange": 8, "Generate": 3, "HashAggregate": 14, "Window": 1},
        lambda c: rarity.ccnet_buckets(c.docs)),
    # the docs side ships its substring projection, never the full text
    Row("pair_verify", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "substring": 2},
        lambda c: DD.pair_verify(
            c.docs, c.df([(1, 2), (3, 4)], "doc_a long, doc_b long"), prefix_len=256)),
    Row("importance_weights", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 7, "Generate": 3,
        "HashAggregate": 14, "partial_count": 4},
        lambda c: sampling.importance_weights(c.docs, "lang = 'en'")),
    Row("pool_embeddings", {"Exchange": 1, "Generate": 1, "ObjectHashAggregate": 2},
        lambda c: SIM.pool_embeddings(c.emb)),
    Row("corpus_info", {"BroadcastExchange": 2, "BroadcastNestedLoopJoin Cross": 2,
        "Exchange": 6, "Generate": 1, "HashAggregate": 12, "partial_count": 5},
        lambda c: RP.corpus_info(c.docs)),
    # the window runs over the value-frequency table, never the corpus
    Row("group_median", {"Exchange": 2, "HashAggregate": 2, "SortAggregate": 2,
        "Window": 1, "partial_count": 1},
        lambda c: RP.group_median(
            c.docs.withColumn("n_chars", F.length("text")),
            group_col="lang")),
    Row("host_distance", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 2, "HashAggregate": 4, "Union": 1, "partial_min": 1},
        lambda c: G.host_distance(
            c.edges, c.spark.range(0, 2).select(F.col("id").alias("host")), max_hops=3)),
    Row("reciprocal_links", {"BroadcastExchange": 2, "BroadcastHashJoin LeftOuter": 1,
        "BroadcastHashJoin LeftSemi": 1, "Exchange": 5, "HashAggregate": 10,
        "partial_count": 2},
        lambda c: G.reciprocal_links(c.edges)),
    # higher-order lambdas run outside codegen: a plain Project
    Row("blockword_stats", {r"\) Project": 1},
        lambda c: c.docs.select("doc_id", *(
            TX.blockword_stats(F.col("text"), ["alpha", "delta", "the"])[k].alias(a)
            for k, a in (("block_hits", "h"), ("block_ppm", "p"))))),
    Row("novelty_by_day", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 2, "HashAggregate": 4, "partial_min": 1, "partial_count": 1},
        lambda c: DD.novelty_by_day(
            c.docs.select((F.col("doc_id") * 13).alias("ts_sec"), "text"))),
    Row("gopher_gate", {r"\) Project": 1},
        lambda c: c.docs.select("doc_id", *(
            TX.gopher_gate(F.col("text"))[k].alias(a)
            for k, a in (("gopher_mask", "m"), ("gopher_pass", "p"))))),
    Row("host_trustrank", {"BroadcastExchange": 25, "BroadcastHashJoin Inner": 6,
        "BroadcastHashJoin LeftOuter": 7, "BroadcastHashJoin LeftSemi": 12,
        "Exchange": 36, "HashAggregate": 112, "Union": 8, "partial_sum": 3},
        lambda c: G.host_trustrank(
            c.edges, c.spark.range(0, 5).select(F.col("id").alias("host")), iterations=3)),
    # the two corpora never join: one membership fold + TakeOrdered k
    Row("corpus_overlap", {"Exchange": 1, "HashAggregate": 4,
        "TakeOrderedAndProject": 1, "Union": 1, "partial_max": 2},
        lambda c: DD.corpus_overlap(
            c.docs.select("text"),
            c.docs.select(F.concat(F.col("text"), F.lit(" v2")).alias("text")), k=128)),
    Row("bitext_mine", {"BroadcastExchange": 4, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 3, "Exchange": 3, "HashAggregate": 4,
        "SortMergeJoin Inner": 1, "Window": 3, "WindowGroupLimit": 5, "partial_sum": 2},
        lambda c: SIM.bitext_mine(
            c.emb.filter(F.col("label") < 5).select(F.col("vec_id").alias("src_id"), "embedding"),
            c.emb.filter(F.col("label") >= 5).select(F.col("vec_id").alias("tgt_id"), "embedding"),
            k=4)),
    Row("winnow_pairs", {"BroadcastExchange": 1, "BroadcastHashJoin LeftAnti": 1,
        "Exchange": 5, "Generate": 4, "HashAggregate": 4, "ObjectHashAggregate": 2,
        "partial_count": 2},
        lambda c: DD.winnow_pairs(c.docs.select("doc_id", "text"), min_shared=2, df_cap=10)),
    # corpus path: scan, one Arrow UDF, filter; no exchange, no join
    Row("bloom_prefilter", {"ArrowEvalPython": 2},
        lambda c: contamination.bloom_prefilter(
            c.docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text"),
            c.docs.filter(F.col("doc_id") % 97 == 0).select("text"), m_bits=1 << 16)),
    Row("anchor_stats", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 5, "Generate": 3, "HashAggregate": 8, "Window": 1,
        "WindowGroupLimit": 2, "partial_count": 3},
        lambda c: links.anchor_stats(links.extract_links(c.docs.select(
            F.concat(F.lit("https://s"), (F.col("doc_id") % 97).cast("string"),
                     F.lit(".example/p")).alias("url"),
            F.encode(F.concat(F.lit('<a href="https://t'), (F.col("doc_id") % 31).cast("string"),
                              F.lit('.example/">go</a>')), "utf-8").alias("html"))))),
    # remainder election: TakeOrdered threshold, never a global window
    Row("apportion_budget", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "SortAggregate": 2, "TakeOrderedAndProject": 1},
        lambda c: G.apportion_budget(c.docs.groupBy(
            F.concat(F.lit("s"), (F.col("doc_id") % 97).cast("string")).alias("host")
        ).agg(F.count(F.lit(1)).alias("weight")), budget=1_000_003)),
    Row("host_hits", {"BroadcastExchange": 3, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 2, "Exchange": 2, "HashAggregate": 4,
        "partial_sum": 2},
        lambda c: G.host_hits(c.edges, iterations=2)),
    Row("lexical_cosine_pairs", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 4, "Generate": 2, "HashAggregate": 6, "ObjectHashAggregate": 2,
        "partial_sum": 3},
        lambda c: S.lexical_cosine_pairs(
            c.docs.select("doc_id", "text"), threshold=0.5, df_cap=10)),
    # host rules broadcast onto the pages; the page corpus never shuffles
    Row("robots_filter", {"BroadcastExchange": 1, "BroadcastHashJoin LeftOuter": 1,
        "Exchange": 2, "Generate": 1, "HashAggregate": 4, "ObjectHashAggregate": 2,
        "Window": 3},
        lambda c: U.robots_filter(
            c.docs.selectExpr("'https://site' || CAST(doc_id % 23 AS STRING) || '.example/p/'"
                              " || CAST(doc_id AS STRING) AS url"),
            c.docs.selectExpr(
                "'site' || CAST(doc_id % 23 AS STRING) || '.example' AS host",
                "'User-agent: *' || chr(10) || 'Disallow: /p' AS body").distinct())),
    Row("crawl_plan", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "SortAggregate": 2, "TakeOrderedAndProject": 1},
        lambda c: E.q_crawl_plan(c.spark, c.sf)),
    # one neighbour-key exchange; the (2r+1)^2 contributions are a Generate
    Row("focal_stats", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: FC.focal_stats(c.base_t, 8)),
    Row("hotspots", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 2, "Generate": 1, "HashAggregate": 4, "partial_sum": 3},
        lambda c: FC.hotspots(c.base_t, 8)),
    Row("compact_tiles", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 4, "Generate": 2, "HashAggregate": 6, "Window": 1},
        lambda c: FC.compact_tiles(FC.dilate_tiles(c.base_t, 8), 8, min_zoom=5)),
    Row("morton_range", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 1, "HashAggregate": 2},
        lambda c: E.q_morton_range(c.spark, c.sf)),
    Row("pyramid_merge", {"BroadcastExchange": 4, "BroadcastHashJoin Inner": 4,
        "Exchange": 7, "Generate": 2, "HashAggregate": 14, "Union": 1,
        "partial_sum": 10},
        lambda c: incremental.pyramid_merge(*(
            T.cog_translate(c.pages.filter(keep), max_zoom=8, overview_level=3)[0]
            for keep in (F.col("doc_id") % 10 != 9, F.col("doc_id") % 10 == 9)))),
    Row("assemble_viewport", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 5, "Generate": 2, "HashAggregate": 6, "SortAggregate": 2,
        "Window": 1, "partial_max": 1, "Scan ExistingRDD": 0},
        lambda c: FC.assemble_viewport(
            FC.compact_tiles(FC.dilate_tiles(c.base_t, 8), 8, min_zoom=5),
            8, (100, 70, 139, 109), min_zoom=5)),
    Row("triangle_count", {"BroadcastExchange": 24, "BroadcastHashJoin Inner": 21,
        "BroadcastHashJoin LeftSemi": 3, "Exchange": 67, "HashAggregate": 134,
        "SortMergeJoin LeftOuter": 1, "Union": 20, "partial_count": 20},
        lambda c: G.triangle_count(c.tri_edges)),
    # checkpoint_every=0 keeps the unrolled lineage visible
    Row("k_core", {"BroadcastExchange": 20, "BroadcastHashJoin LeftSemi": 20,
        "Exchange": 63, "HashAggregate": 126, "Union": 21, "partial_count": 21},
        lambda c: G.k_core(c.tri_edges, k=4, rounds=3, checkpoint_every=0)),
    Row("hard_negatives", {"BroadcastExchange": 2, "BroadcastHashJoin LeftOuter": 2,
        "Exchange": 1, "Window": 1, "WindowGroupLimit": 2},
        lambda c: SIM.hard_negatives(
            c.rng(200, "id % 10 AS query_id", "id % 97 + 100 AS vec_id",
                  "CAST(id % 13 AS DOUBLE) AS cos"),
            c.rng(20, "id AS doc_a", "id + 100 AS doc_b"), k=5)),
    Row("zonal_mode", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 2, "HashAggregate": 2, "SortAggregate": 2,
        "partial_min|partial_count": 2},
        lambda c: zonal.zonal_mode(c.pages, c.admin)),
    Row("ann_pq_topk", {"BroadcastExchange": 7, "BroadcastHashJoin Inner": 3,
        "BroadcastNestedLoopJoin Cross": 4, "Exchange": 11, "Generate": 6,
        "HashAggregate": 14, "ObjectHashAggregate": 4, "SortAggregate": 2, "Window": 1,
        "WindowGroupLimit": 2, "partial_sum": 3},
        lambda c: quantize.ann_pq_topk(c.emb, m=4)),
    Row("focal_mode", {"Exchange": 2, "Generate": 1, "HashAggregate": 2,
        "SortAggregate": 2, "partial_min|partial_count": 2},
        lambda c: FC.focal_mode(
            c.rng(500, "id % 29 AS tile_x", "(id * 7) % 29 AS tile_y", "id % 4 AS cls"), 8)),
    Row("curriculum_interleave", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 3, "HashAggregate": 2, "Window": 2},
        lambda c: sampling.curriculum_interleave(c.docs, score_col="n_chars")),
    Row("jaccard_threshold_curve", {"BroadcastExchange": 2,
        "BroadcastHashJoin Inner": 2, "Exchange": 10, "Generate": 3, "HashAggregate": 4,
        "ObjectHashAggregate": 2, "Window": 1, "partial_count": 2},
        lambda c: DD.jaccard_threshold_curve(c.docs.limit(200), df_cap=None)),
    Row("continuation_pairs", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastHashJoin LeftAnti": 1, "Exchange": 1, "HashAggregate": 2,
        "partial_count": 1},
        lambda c: DD.continuation_pairs(c.docs.select("doc_id", "text"))),
    Row("class_crosstab", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 7, "HashAggregate": 6, "SortMergeJoin FullOuter": 2,
        "partial_count": 2},
        lambda c: FC.class_crosstab(
            c.rng(100, "id % 10 AS tile_x", "id div 10 AS tile_y", "id % 3 AS cls"),
            c.rng(90, "id % 10 AS tile_x", "id div 10 AS tile_y", "(id + 1) % 3 AS cls"))),
    Row("area_weighted_density", {"Project": 4},
        lambda c: FC.area_weighted_density(
            c.rng(64, "id % 8 AS tile_x", "id div 8 AS tile_y", "id AS page_count"), 8)),
    Row("mirror_host_pairs", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 1, "Generate": 2, "HashAggregate": 4, "ObjectHashAggregate": 2,
        "partial_count": 1},
        lambda c: DD.mirror_host_pairs(c.pages.select("doc_id", "url", "text").limit(500))),
    Row("hillshade", {"Exchange": 1, "Generate": 1, "HashAggregate": 2,
        "partial_sum": 8},
        lambda c: FC.hillshade(
            c.rng(200, "id % 16 AS tile_x", "id div 16 AS tile_y", "id AS page_count"), 8)),
    Row("classifier_eval", {"BroadcastExchange": 1, "BroadcastHashJoin LeftOuter": 1,
        "Exchange": 3, "HashAggregate": 6, "SortMergeJoin FullOuter": 1,
        "partial_count": 3},
        lambda c: RP.classifier_eval(
            c.docs.selectExpr("lang AS truth", "source AS pred"), "truth", "pred")),
    Row("ann_ivfpq_topk", {"ArrowEvalPython": 3, "BroadcastExchange": 9,
        "BroadcastHashJoin Inner": 5, "BroadcastNestedLoopJoin Cross": 4,
        "Exchange": 11, "Generate": 7, "HashAggregate": 14, "ObjectHashAggregate": 4,
        "SortAggregate": 2, "Window": 1, "WindowGroupLimit": 2, "partial_sum": 3},
        lambda c: quantize.ann_ivfpq_topk(c.emb, n_probe=4)),
    Row("rle_encode_tiles", {"Exchange": 1, "Generate": 1, "HashAggregate": 2,
        "Window": 2, "partial_count": 1},
        lambda c: raster.rle_encode_tiles(c.rng(
            32, "id % 8 AS tile_x", "id div 8 AS tile_y", "array(id, id, 0, 0, 1) AS pixels"))),
    Row("nearest_zone", {"Project": 4},
        lambda c: zonal.nearest_zone(c.rng(
            500, "id AS doc_id", "CAST(id % 80 AS DOUBLE) - 40.0 AS lat",
            "CAST(id % 300 AS DOUBLE) - 150.0 AS lon"), c.admin)),
    Row("data_checks", {"Exchange": 2, "HashAggregate": 4, "Union": 1, "partial_": 3},
        lambda c: RP.data_checks(c.docs, [
            {"col": "lang", "check": "not_null_ppm_ge", "threshold": 1},
            {"col": "n_chars", "check": "max_le", "threshold": 10**9}])),
    # detail blocks print in node-id order: the partial day fold precedes the Window
    Row("volume_anomaly", {"Exchange": 2, "HashAggregate": 2, "Window": 1,
        r"partial_count[\s\S]*\n\(\d+\) Window": 1},
        lambda c: RP.volume_anomaly(
            c.rng(5000, "id AS doc_id", "id * 977 AS ts_sec"), window_days=7)),
    Row("host_concentration", {"Exchange": 2, "HashAggregate": 4, "Window": 1,
        r"partial_count[\s\S]*\n\(\d+\) Window": 1},
        lambda c: RP.host_concentration(
            c.rng(5000, "cast(id % 97 as string) AS host"))),
    Row("chi_square", {"BroadcastExchange": 4, "BroadcastHashJoin LeftOuter": 1,
        "BroadcastNestedLoopJoin Cross": 3, "Exchange": 7, "Expand": 1,
        "HashAggregate": 14},
        lambda c: RP.chi_square(c.rng(
            5000, "cast(id % 7 as string) AS l", "cast(id % 3 as string) AS s"), "l", "s")),
    Row("zipf_slope", {"Exchange": 1, "Generate": 1, "HashAggregate": 4,
        "TakeOrderedAndProject": 1, "Window": 1},
        lambda c: RP.zipf_slope(c.rng(
            300, "concat('w', cast(id % 37 as string), ' x y') AS text"), top_k=20)),
    Row("ks_statistic", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 4, "HashAggregate": 8, "Window": 2},
        lambda c: RP.ks_statistic(
            c.rng(1000, "id % 50 AS v", "cast(id % 3 as string) AS g"), "v", "g", "1")),
    Row("morans_i", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 4, "Generate": 1, "HashAggregate": 8},
        lambda c: FC.morans_i(c.rng(
            2000, "id % 64 AS tile_x", "(id * 7) % 64 AS tile_y", "1 AS page_count"
        ).groupBy("tile_x", "tile_y").agg(F.sum("page_count").alias("page_count")), 6)),
    Row("term_shift", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 4, "Generate": 4, "HashAggregate": 12, "SortMergeJoin FullOuter": 2,
        "TakeOrderedAndProject": 2},
        lambda c: RP.term_shift(
            c.rng(200, "concat('w', cast(id % 23 as string), ' x') AS text"),
            c.rng(200, "concat('w', cast(id % 29 as string), ' y') AS text"), top_k=20)),
    # one corpus explode + the 1-row ladder explode
    Row("heaps_fit", {"BroadcastExchange": 3, "BroadcastNestedLoopJoin Cross": 3,
        "Exchange": 5, "Generate": 2, "HashAggregate": 12},
        lambda c: RP.heaps_fit(c.rng(
            200, "id AS doc_id", "concat('w', cast(id % 23 as string), ' x y') AS text"),
            n_points=5)),
    Row("lang_entropy", {"Exchange": 2, "Generate": 1, "HashAggregate": 4, "Window": 1},
        lambda c: RP.lang_entropy(c.rng(
            500, "cast(id % 3 as string) AS lang",
            "concat('w', cast(id % 31 as string), ' x') AS text"))),
    Row("aspect8", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: FC.aspect8(c.a8_in, 5)),
    Row("contour_cells", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: FC.contour_cells(c.a8_in, 5, threshold=1)),
    Row("d8_flow", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: FC.d8_flow(c.a8_in, 5)),
    # geohash encode is codegen expressions: one (gh) fold exchange
    Row("geohash_rollup", {"Exchange": 1, "HashAggregate": 2},
        lambda c: c.rng(
            500, "cast(id % 90 as double) - 45.0 AS lat", "cast(id % 360 as double) - 180.0 AS lon"
        ).select(geohash.geohash(F.col("lat"), F.col("lon"), 5).alias("gh"))
        .groupBy("gh").agg(F.count(F.lit(1)).alias("n"))),
    Row("terrain_rugged", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: FC.terrain_rugged(c.a8_in, 5)),
    Row("viewshed_rows", {"Exchange": 2, "HashAggregate": 2, "Window": 1},
        lambda c: FC.viewshed_rows(c.a8_in)),
    Row("proximity", {"Exchange": 4, "Generate": 3, "HashAggregate": 8},
        lambda c: FC.proximity(c.a8_in, 5, rounds=3)),
    Row("sieve_components", {"Exchange": 5, "Generate": 3, "HashAggregate": 8,
        "Window": 1},
        lambda c: FC.sieve_components(c.a8_in, 5, rounds=3, min_size=2)),
    Row("benford", {"BroadcastExchange": 2, "BroadcastHashJoin LeftOuter": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 2, "HashAggregate": 4},
        lambda c: RP.benford(c.rng(2000, "concat('h', cast(id % 97 as string)) AS host"))),
    Row("mann_whitney", {"Exchange": 2, "HashAggregate": 4, "Window": 1},
        lambda c: RP.mann_whitney(c.rng(
            2000, "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang", "(id * 7) % 200 AS n"),
            "lang", "en", "n")),
    Row("geary_c", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1, "Exchange": 4,
        "Generate": 1, "HashAggregate": 8},
        lambda c: FC.geary_c(c.a8_in, 5)),
    Row("local_moran", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 5, "Generate": 1,
        "HashAggregate": 10},
        lambda c: FC.local_moran(c.a8_in, 5)),
    Row("fillnodata", {"Exchange": 4, "Generate": 3, "HashAggregate": 8},
        lambda c: FC.fillnodata(c.a8_in, 5, rounds=3)),
    Row("polygonize", {"Exchange": 5, "Generate": 3, "HashAggregate": 8, "Window": 1},
        lambda c: FC.polygonize(c.a8_in, 5, rounds=3)),
    # "Scan ExistingRDD": the pinned (localCheckpointed) fold is read, not re-folded
    Row("spearman", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 5, "HashAggregate": 6, "Window": 2, "Scan ExistingRDD": 6},
        lambda c: RP.spearman(c.rng(5000, "id % 37 AS a", "(id * 13) % 23 AS b"), "a", "b")),
    Row("volume_acf", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 2, "Generate": 1, "HashAggregate": 4, "Window": 1,
        "Scan ExistingRDD": 4},
        lambda c: RP.volume_acf(c.rng(50000, "id * 37 AS ts_sec"), max_lag=3)),
    Row("raster_hist", {"BroadcastExchange": 3, "BroadcastHashJoin LeftOuter": 1,
        "BroadcastNestedLoopJoin Cross": 2, "Exchange": 3, "HashAggregate": 6,
        "Scan ExistingRDD": 6},
        lambda c: GU.raster_hist(c.a8_in, n_buckets=8)),
    Row("scale_bytes", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 1, "HashAggregate": 2, "Scan ExistingRDD": 4},
        lambda c: GU.scale_bytes(c.a8_in)),
    Row("locationinfo", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastHashJoin LeftOuter": 1, "Exchange": 1, "HashAggregate": 2},
        lambda c: GU.locationinfo(c.a8_in, c.df(
            [("p1", 10.0, 50.0), ("p2", -150.0, -40.0)], "name string, lon double, lat double"),
            5)),
    Row("mosaic", {"Exchange": 3, "HashAggregate": 4, "SortMergeJoin FullOuter": 1},
        lambda c: GU.mosaic(c.a8_in, c.a8_in.selectExpr(
            "tile_x + 1 AS tile_x", "tile_y", "page_count * 2 AS page_count"))),
    Row("color_relief", {},
        lambda c: GU.color_relief(c.cr_in, [(1, "lo"), (10, "mid"), (100, "hi")])),
    Row("group_boxplot", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 3, "HashAggregate": 6, "Window": 4, "Scan ExistingRDD": 6},
        lambda c: RP.group_boxplot(c.bx_in)),
    Row("equalize", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 4, "HashAggregate": 6,
        "Window": 2, "Scan ExistingRDD": 6},
        lambda c: GU.equalize(c.a8_in, levels=64)),
    Row("clip", {"Filter": 2},
        lambda c: GU.clip(c.cr_in, 5, (-10.0, 35.0, 30.0, 60.0))),
    Row("upsample", {"Generate": 1},
        lambda c: GU.upsample(c.cr_in)),
    Row("raster_calc", {"Exchange": 3, "HashAggregate": 4,
        "SortMergeJoin FullOuter": 1},
        lambda c: GU.raster_calc(c.a8_in, c.a8_shift, op="sub")),
    Row("raster_compare", {"Exchange": 4, "HashAggregate": 6,
        "SortMergeJoin FullOuter": 1},
        lambda c: GU.raster_compare(c.a8_in, c.a8_shift)),
    Row("slope_pct", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: GU.slope_pct(c.a8_in, 5)),
    Row("idw", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: GU.idw(c.a8_in, 5)),
    Row("tindex", {},
        lambda c: GU.tindex(c.cr_in, 5)),
    Row("footprint", {"Exchange": 4, "Generate": 2, "HashAggregate": 8},
        lambda c: GU.footprint(c.a8_in, 5, rounds=2)),
    Row("mojibake", {},
        lambda c: c.rng(100, "id AS doc_id", "concat('text Ã© ', id) AS text").select(
            "doc_id",
            *(TX.mojibake_cols(F.col("text"))[k].alias(k) for k in ("n_moji", "n_repl", "clean")))),
    Row("kruskal_wallis", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 6, "HashAggregate": 10,
        "Window": 1, "Scan ExistingRDD": 6},
        lambda c: RP.kruskal_wallis(c.bx_in)),
    Row("cusum_days", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 2, "HashAggregate": 2, "Window": 2, "Scan ExistingRDD": 4},
        lambda c: RP.cusum_days(c.rng(5000, "id * 1728 AS ts_sec"))),
    Row("curvature", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: FC.curvature(c.a8_in, 5)),
    # eight rotation rounds fuse into one codegen stage
    Row("with_hilbert", {"codegen id": 17},
        lambda c: hilbert.with_hilbert(c.cr_in, 8)),
    Row("semivariogram", {"Exchange": 3, "Generate": 1, "HashAggregate": 6},
        lambda c: FC.semivariogram(c.a8_in, 5, max_lag=4)),
    Row("join_counts", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 5, "Generate": 1, "HashAggregate": 10},
        lambda c: FC.join_counts(c.a8_in, 5)),
    Row("kendall_tau", {"BroadcastExchange": 2, "BroadcastNestedLoopJoin Cross": 1,
        "BroadcastNestedLoopJoin Inner": 1, "Exchange": 2, "HashAggregate": 4,
        "Scan ExistingRDD": 6},
        lambda c: RP.kendall_tau(c.rng(500, "id % 37 AS xv", "(id * 7) % 23 AS yv"), "xv", "yv")),
    Row("theil_sen_days", {"BroadcastExchange": 2, "BroadcastNestedLoopJoin Cross": 1,
        "BroadcastNestedLoopJoin Inner": 1, "Exchange": 2, "HashAggregate": 4,
        "Window": 2, "Scan ExistingRDD": 6},
        lambda c: RP.theil_sen_days(c.rng(2000, "(id % 40) * 86400 + id AS ts_sec"))),
    Row("mann_kendall_days", {"BroadcastExchange": 3,
        "BroadcastNestedLoopJoin Cross": 2, "BroadcastNestedLoopJoin Inner": 1,
        "Exchange": 4, "HashAggregate": 8, "Scan ExistingRDD": 8},
        lambda c: RP.mann_kendall_days(c.rng(3000, "(id % 50) * 86400 + id AS ts_sec"))),
    Row("event_transitions", {"Exchange": 3, "HashAggregate": 2, "Window": 2},
        lambda c: events.event_transitions(c.rng(
            5000, "CAST(id % 97 AS STRING) AS user_id", "CAST(id % 7 AS STRING) AS event_type",
            "id * 13 % 10000 AS ts", "id AS event_id"))),
    Row("degree_assortativity", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 6, "HashAggregate": 12},
        lambda c: G.degree_assortativity(c.rng(
            4000, "id % 211 AS src", "(id * 31 + 7) % 211 AS dst"
        ).filter("src <> dst").distinct())),
    Row("terrain_indices", {"Exchange": 1, "Generate": 1, "HashAggregate": 2},
        lambda c: FC.terrain_indices(c.rng(
            3000, "id % 32 AS tile_x", "(id * 7) % 32 AS tile_y", "id % 17 + 1 AS page_count"),
            5)),
    Row("knox_stat", {"BroadcastExchange": 3, "BroadcastNestedLoopJoin Cross": 3,
        "Exchange": 13, "Generate": 3, "HashAggregate": 26},
        lambda c: FC.knox_stat(c.kx_in)),
    Row("centrography", {"Exchange": 1, "HashAggregate": 2},
        lambda c: FC.centrography(c.kx_xy.withColumn("page_count", F.lit(3)))),
    Row("nn_index", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: FC.nn_index(c.kx_xy, 6)),
    Row("term_burstiness", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 3, "Generate": 1, "HashAggregate": 6, "TakeOrderedAndProject": 1,
        "Window": 1},
        lambda c: RP.term_burstiness(c.rng(
            2000, "id % 40 AS t_bucket",
            "concat('w', id % 97, ' w', id % 31, ' w', id % 7) AS text"))),
    Row("lang_vocab_overlap", {"BroadcastExchange": 3, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "BroadcastNestedLoopJoin Inner": 1,
        "Exchange": 9, "Generate": 4, "HashAggregate": 14, "Window": 3},
        lambda c: RP.lang_vocab_overlap(c.lv_in)),
    Row("ripley_k", {"Exchange": 3, "Generate": 2, "HashAggregate": 6},
        lambda c: FC.ripley_k(c.kx_xy, 6)),
    Row("cocitation", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 3, "HashAggregate": 6},
        lambda c: G.cocitation(c.cc_in)),
    Row("term_localization", {"Exchange": 1, "Generate": 1, "HashAggregate": 2,
        "TakeOrderedAndProject": 1, "Window": 1},
        lambda c: RP.term_localization(c.rng(
            2000, "id % 32 AS tile_x", "(id * 7) % 32 AS tile_y",
            "concat('w', id % 97, ' w', id % 31) AS text"))),
    Row("quadrat_test", {"Exchange": 1, "HashAggregate": 2},
        lambda c: FC.quadrat_test(c.kx_pc2, 6)),
    Row("general_g", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 3, "Generate": 1, "HashAggregate": 6},
        lambda c: FC.general_g(c.kx_pc2, 6)),
    Row("gini_concentration", {"Exchange": 1, "HashAggregate": 2, "Window": 1},
        lambda c: FC.gini_concentration(c.kx_pc2)),
    Row("cell_diversity", {"Exchange": 2, "HashAggregate": 4, "Window": 1},
        lambda c: RP.cell_diversity(c.cd_in)),
    Row("hapax_ratio", {"Exchange": 2, "Generate": 1, "HashAggregate": 4},
        lambda c: RP.hapax_ratio(c.lv_in)),
    Row("scan_stat", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 2, "Generate": 1, "HashAggregate": 4, "TakeOrderedAndProject": 1,
        "Window": 1},
        lambda c: FC.scan_stat(c.kx_pc2, 6)),
    Row("lang_mixing", {"BroadcastExchange": 7, "BroadcastHashJoin Inner": 6,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 19, "HashAggregate": 26,
        "SortMergeJoin Inner": 1, "Window": 6, "WindowGroupLimit": 12},
        lambda c: G.lang_mixing(c.cc_in, G.host_majority_lang(c.rng(
            2000, "id AS doc_id", "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'fr' END AS lang")))),
    Row("regional_terms", {"BroadcastExchange": 5, "BroadcastHashJoin Inner": 2,
        "BroadcastNestedLoopJoin Cross": 1, "BroadcastNestedLoopJoin Inner": 2,
        "Exchange": 5, "Generate": 4, "HashAggregate": 8, "Window": 1,
        "WindowGroupLimit": 2},
        lambda c: RP.regional_terms(
            c.rng(2000, "concat('w', id % 97, ' w', id % 31) AS text",
                  "CAST(id % 60 - 30 AS DOUBLE) AS lat",
                  "CAST((id * 7) % 300 - 150 AS DOUBLE) AS lon"),
            c.df([("a", 10.0, 10.0), ("b", -20.0, -100.0)],
                 "city string, c_lat double, c_lon double"))),
    Row("g_function", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 4, "Generate": 1, "HashAggregate": 6, "Window": 1},
        lambda c: FC.g_function(c.kx_xy, 6)),
    Row("lang_adjacency", {"Exchange": 2, "Generate": 1, "HashAggregate": 2,
        "SortAggregate": 2},
        lambda c: FC.lang_adjacency(c.cd_in)),
    Row("sd_ellipse", {"Exchange": 1, "HashAggregate": 2, "(?i)partial": 7},
        lambda c: FC.sd_ellipse(c.cg_in)),
    Row("f_function", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 4, "Generate": 1, "HashAggregate": 6, "Window": 1},
        lambda c: FC.f_function(c.kx_xy, 6)),
    Row("dissimilarity_index", {"BroadcastExchange": 3, "BroadcastHashJoin Inner": 2,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 8, "HashAggregate": 16},
        lambda c: RP.dissimilarity_index(c.cd_in)),
    Row("j_function", {"BroadcastExchange": 2, "BroadcastHashJoin LeftOuter": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 5, "Generate": 1,
        "HashAggregate": 8, "Window": 2},
        lambda c: FC.j_function(c.kx_xy, 6)),
    Row("location_quotient", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 5, "HashAggregate": 8,
        "Window": 1},
        lambda c: RP.location_quotient(c.cd_in)),
    # pairs via a collect_list double explode, never a self-join
    Row("exposure_index", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 5, "Generate": 2, "HashAggregate": 8, "ObjectHashAggregate": 2},
        lambda c: RP.exposure_index(c.cd_in)),
    Row("host_spread", {"Exchange": 2, "HashAggregate": 4, "TakeOrderedAndProject": 1,
        "(?i)partial": 7},
        lambda c: RP.host_spread(c.cd_in.selectExpr(
            "CONCAT('h', CAST(tile_x % 7 AS STRING), '.com') AS host", "tile_x", "tile_y"))),
    Row("morisita_horn", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 2,
        "Exchange": 7, "Generate": 2, "HashAggregate": 12, "ObjectHashAggregate": 2},
        lambda c: RP.morisita_horn(c.cd_in)),
    Row("lang_range", {"Exchange": 2, "HashAggregate": 4, "(?i)partial": 7},
        lambda c: RP.lang_range(c.cd_in)),
    Row("cell_novelty", {"Exchange": 3, "HashAggregate": 4, "Window": 1,
        "(?i)partial": 2},
        lambda c: RP.cell_novelty(c.cd_in.selectExpr(
            "tile_x", "tile_y", "CAST(tile_x * 100000 AS LONG) AS ts_sec"))),
    Row("correlogram", {"BroadcastExchange": 3, "BroadcastHashJoin Inner": 1,
        "BroadcastHashJoin LeftOuter": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 3, "Generate": 1, "HashAggregate": 6},
        lambda c: FC.correlogram(c.cg_in, 6)),
    Row("emerging_hotspots", {"Exchange": 2, "Generate": 2, "HashAggregate": 4,
        "ObjectHashAggregate": 2, "TakeOrderedAndProject": 1},
        lambda c: FC.emerging_hotspots(c.kx_in.selectExpr(
            "tile_x", "tile_y", "CAST(t_bucket * 4000 AS LONG) AS ts_sec"))),
    Row("rank_size", {"TakeOrderedAndProject": 1, "Window": 2},
        lambda c: FC.rank_size(c.cg_in)),
    Row("theil_h", {"BroadcastExchange": 2, "BroadcastNestedLoopJoin Cross": 2,
        "Exchange": 9, "HashAggregate": 18, "Window": 1},
        lambda c: RP.theil_h(c.cd_in)),
    Row("colocation_quotient", {"BroadcastExchange": 4, "BroadcastHashJoin Inner": 3,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 6, "Generate": 1,
        "HashAggregate": 10, "Window": 2},
        lambda c: FC.colocation_quotient(c.cd_in, 6)),
    Row("syndication", {"Exchange": 2, "HashAggregate": 4, "TakeOrderedAndProject": 1,
        "(?i)partial": 7},
        lambda c: RP.syndication(c.cd_in.selectExpr(
            "CONCAT('f', CAST(tile_x % 9 AS STRING)) AS fp", "tile_x", "tile_y"))),
    Row("city_langs", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Inner": 1,
        "Exchange": 2, "HashAggregate": 2, "Window": 2, "WindowGroupLimit": 1},
        lambda c: RP.city_langs(
            c.cd_in.selectExpr(
                "lang", "CAST(tile_x AS DOUBLE) AS lat", "CAST(tile_y AS DOUBLE) AS lon"),
            c.df([("a", 10.0, 10.0), ("b", 50.0, 50.0)],
                 "city string, c_lat double, c_lon double"))),
    Row("cross_moran", {"BroadcastExchange": 1, "BroadcastHashJoin LeftOuter": 1,
        "Exchange": 2, "Generate": 1, "HashAggregate": 4, "(?i)partial": 8},
        lambda c: FC.cross_moran(c.kx_in.selectExpr(
            "tile_x", "tile_y", "t_bucket AS x_count", "CAST(tile_x % 5 AS LONG) AS y_count"), 6)),
    # the checkpointed matrix feeds both union branches; no corpus vote explode
    Row("cell_transitions", {"BroadcastExchange": 1, "BroadcastNestedLoopJoin Cross": 1,
        "Exchange": 3, "HashAggregate": 6, "Union": 1, "Scan ExistingRDD": 4},
        lambda c: FC.cell_transitions(c.kx_in.selectExpr(
            "tile_x", "tile_y", "CAST(t_bucket * 4000 AS LONG) AS ts_sec"))),
    Row("moran_quadrants", {"BroadcastExchange": 3, "BroadcastHashJoin LeftOuter": 2,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 3, "Generate": 1,
        "HashAggregate": 6, "Scan ExistingRDD": 0},
        lambda c: FC.moran_quadrants(c.cg_in, 6)),
    Row("zoom_entropy", {"Exchange": 1, "HashAggregate": 2, "Window": 1},
        lambda c: RP.zoom_entropy(c.cg_in.selectExpr(
            "CAST(tile_x % 3 + 6 AS INT) AS zoom", "tile_x", "tile_y", "page_count"))),
    Row("compactness", {"BroadcastExchange": 2, "BroadcastHashJoin Inner": 1,
        "BroadcastNestedLoopJoin Cross": 1, "Exchange": 2, "Generate": 1,
        "HashAggregate": 4},
        lambda c: FC.compactness(c.kx_xy)),
    Row("diurnal", {"Exchange": 2, "HashAggregate": 4, "TakeOrderedAndProject": 1,
        "Window": 1},
        lambda c: FC.diurnal(c.kx_in.selectExpr(
            "tile_x", "tile_y", "CAST(t_bucket * 3700 AS LONG) AS ts_sec"), min_pages=1)),
    Row("urban_gradient", {"BroadcastExchange": 2, "BroadcastNestedLoopJoin Cross": 2,
        "Exchange": 3, "HashAggregate": 8, "(?i)partial": 5, "Scan ExistingRDD": 0},
        lambda c: RP.urban_gradient(c.kx_xy, [("a", 0, 0), ("b", 40, 40)])),
    # the flagship registry query, one fused plan at sf0.001
    Row("geo_corpus", {"BroadcastExchange": 1, "BroadcastHashJoin Inner": 1,
        "Exchange": 4, "HashAggregate": 4, "Window": 3, "WindowGroupLimit": 6},
        lambda c: E.q_geo_corpus(c.spark, c.sf_small)),
]


@pytest.fixture(scope="module")
def inputs(spark, sf_mid, sf_small):
    # earlier modules cache DataFrames whose plans equal these inputs'
    spark.catalog.clearCache()
    yield Inputs(spark, sf_mid, sf_small)
    spark.catalog.clearCache()


@pytest.mark.parametrize("row", ROWS, ids=[r.name for r in ROWS])
def test_plan_shape(inputs, row):
    got = shape_of(plan_of(row.build(inputs)), row.want)
    want = {k: v for k, v in row.want.items() if v or not _is_node(k)}
    if got != want:
        pytest.fail("plan shape changed; the row now reads:\n" + row_head(row.name, got),
                    pytrace=False)
