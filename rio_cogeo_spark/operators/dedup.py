"""Deduplication operators over the ``documents`` table — the
training-data-pipeline suite: exact, n-gram Jaccard (inverted index),
MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale notes (100 TB): exact dedup is a hash groupBy with map-side partial
agg. The Jaccard path never materializes the O(N²) pair space: it builds
an inverted shingle index (explode → self-join on shingle → pair counts),
which at web scale is bounded by shingle document-frequency — pair it
with a DF-cap filter (drop shingles appearing in > df_cap docs, the
standard stopword-shingle guard). MinHash/LSH reduces candidate pairs to
band-bucket collisions; signatures are computed from JVM-side xxhash64
shingle hashes so Python only does vectorized numpy min-reductions.

Column names are fixed: ``doc_id``, ``text``, ``url`` and ``ts_sec``.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import fingerprint, token_count, tokens_col
from rio_cogeo_spark.functions.vector import cosine_rounded

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Duplicate groups by content fingerprint: (fp, n_dups, keeper).
    Keep-first policy: keeper = min(doc_id). One hash groupBy."""
    return (
        docs.withColumn("fp", fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Documents with exact duplicates removed (keep min doc_id).

    Kept as the fingerprint window on purpose (r06): Spark 3.5+'s
    WindowGroupLimit already pre-limits each map partition to one row
    per fingerprint before the exchange, so the text shuffle is
    bounded by distinct-fp-per-partition. The groupBy(min)+semi-join
    form was prototyped and REVERTED: standalone it measured ~equal,
    but composed into clean_corpus it re-derives the (unioned) corpus
    lineage for both join sides and shuffles text by doc_id — measured
    2.3x slower end-to-end (OPTIMIZATION_r06.md)."""
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def url_dedup_latest(pages: DataFrame) -> DataFrame:
    """Re-crawl snapshot resolution: one row per CANONICAL url (see
    functions/text.canonical_url — scheme/www/fragment/trailing-slash
    normalization), keeping the NEWEST snapshot, ties by highest doc_id
    (deterministic). The crawl-pipeline counterpart to content dedup:
    successive crawls of the same page are resolved by recency before
    any text comparison runs.

    One map-side-combinable aggregation — ``max_by`` over a (ts, doc_id)
    ordering struct partial-aggregates per input partition, so shuffle
    bytes are bounded by distinct-URL count, not snapshot count (a
    window row_number would sort every partition's full snapshot list
    instead). Returns (canon_url, doc_id, ts_sec, n_snapshots)."""
    from rio_cogeo_spark.functions.text import canonical_url

    ordk = F.struct(F.col("ts_sec"), F.col("doc_id"))
    return (
        pages.select(
            canonical_url(F.col("url")).alias("canon_url"),
            "doc_id",
            F.col("ts_sec"),
        )
        .groupBy("canon_url")
        .agg(
            F.max_by(F.struct(F.col("doc_id"), F.col("ts_sec")), ordk).alias("kept"),
            F.count(F.lit(1)).alias("n_snapshots"),
        )
        .select(
            "canon_url",
            F.col("kept.doc_id").alias("doc_id"),
            F.col("kept.ts_sec").alias("ts_sec"),
            "n_snapshots",
        )
    )


_DAY_SEC = 86_400


def novelty_by_day(pages: DataFrame) -> DataFrame:
    """Per-day crawl novelty — the cross-time dedup-rate dashboard a
    crawl operator watches: of the pages fetched on day D, how many
    carry exact text already seen on an EARLIER day? A rising stale
    share means the frontier is re-fetching old content; a sudden
    novelty spike means a new seed list (or a spam flood) landed.

    ``day = ts div 86400``; a page is *stale* when its text hash
    first appeared on a strictly earlier day (same-day duplicates
    count as novel — the first day owns its text). Returns
    ``(day, n_docs, stale_docs, stale_ppm)`` in exact ints.

    Scale design (100 TB): corpus-width stage carries 32-char md5
    hashes, not texts; the first-seen table is one map-side-combinable
    MIN fold per distinct hash (hash-bounded, not snapshot-bounded);
    the join back is hash-co-partitioned with one row per hash on the
    build side (no hot keys); the final per-day fold is day-bounded.
    No windows, nothing collects.
    """
    h = pages.select(
        F.expr(f"ts_sec div {_DAY_SEC}").alias("day"),
        F.md5(F.col("text")).alias("h"),
    )
    first = h.groupBy("h").agg(F.min("day").alias("first_day"))
    return (
        h.join(first, "h")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("stale_docs"),
        )
        .select(
            "day", "n_docs", "stale_docs",
            F.expr("(stale_docs * 1000000) div n_docs").alias("stale_ppm"),
        )
    )


def novelty_by_day_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`novelty_by_day` (``pages_cte`` exposes
    ``(ts_sec, text)``)."""
    return rf"""
WITH p AS ({pages_cte}),
h AS (SELECT ts_sec // {_DAY_SEC} AS day, md5(text) AS h FROM p),
first AS (SELECT h, MIN(day) AS first_day FROM h GROUP BY 1)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS stale_docs,
       CAST((SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS stale_ppm
FROM h JOIN first USING (h)
GROUP BY 1"""


def snapshot_change_stats(pages: DataFrame) -> DataFrame:
    """Per-canonical-URL change history over crawl snapshots: order each
    URL's snapshots by (ts, doc_id), compare consecutive content
    fingerprints (functions/text.fingerprint — the cross-engine md5, so
    whitespace-only edits don't count as changes), and roll up to one
    row per URL: ``(canon_url, n_snapshots, n_changes, first_ts,
    last_ts, last_change_ts)``. The first observation of a URL counts
    as a change (version 1), so ``n_changes >= 1`` and
    ``n_changes == 1`` means the page never changed across re-crawls.

    The crawl-scheduling input at 100 TB: change frequency drives
    re-crawl priority. One shuffle on canon_url; the per-group window
    sort is bounded by snapshots-per-URL (crawl cadence), never corpus
    size, and the rollup is map-side-free (same key, same stage as the
    window — zero extra exchange)."""
    from rio_cogeo_spark.functions.text import canonical_url

    w = Window.partitionBy("canon_url").orderBy("ts_sec", "doc_id")
    versioned = (
        pages.select(
            canonical_url(F.col("url")).alias("canon_url"),
            "doc_id",
            F.col("ts_sec"),
            fingerprint(F.col("text")).alias("fp"),
        )
        .withColumn(
            "changed",
            F.coalesce(F.col("fp") != F.lag("fp").over(w), F.lit(True)),
        )
    )
    return versioned.groupBy("canon_url").agg(
        F.count(F.lit(1)).alias("n_snapshots"),
        F.sum(F.col("changed").cast("long")).alias("n_changes"),
        F.min("ts_sec").alias("first_ts"),
        F.max("ts_sec").alias("last_ts"),
        F.max(F.when(F.col("changed"), F.col("ts_sec"))).alias("last_change_ts"),
    )


def mirror_docs(pages: DataFrame) -> DataFrame:
    """Cross-host mirror/template detection: documents whose content
    fingerprint appears on at least 2 DISTINCT hosts —
    mirrors, scraped re-posts, and templated boilerplate sites, the
    duplication class same-URL dedup can't see and per-host boilerplate
    removal can't either (each host has only one copy). Returns one row
    per affected document: ``(doc_id, host, fp, n_hosts, n_copies)``.

    Scale design (100 TB): the distinct-host count per fingerprint is
    dropDuplicates(fp, host) + a map-side-combinable count — never a
    COUNT(DISTINCT) expand (the :func:`boilerplate_lines` rule); the
    qualifying-fingerprint set joins back co-partitioned on fp, and a
    hot template fingerprint (one page mirrored on 10^5 hosts) costs
    its posting list exactly once."""
    from rio_cogeo_spark.functions.text import host_col

    tagged = pages.select(
        F.col("doc_id"),
        host_col(F.col("url")).alias("host"),
        fingerprint(F.col("text")).alias("fp"),
    )
    by_host = (
        tagged.select("fp", "host")
        .dropDuplicates(["fp", "host"])
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_hosts"))
        .filter(F.col("n_hosts") >= 2)
    )
    copies = tagged.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        tagged.join(by_host, "fp")
        .join(copies, "fp")
        .select("doc_id", "host", "fp", "n_hosts", "n_copies")
    )


def snapshot_paragraph_diff(pages: DataFrame, sep: str = "\n\n") -> DataFrame:
    """Paragraph-granularity diff between consecutive snapshots of each
    canonical URL — :func:`snapshot_change_stats` says *whether* a page
    changed; this says *how much*: per snapshot (from the 2nd on), how
    many DISTINCT paragraphs were added, removed, and kept versus the
    previous snapshot (set semantics on md5(paragraph); blank
    paragraphs ignored). The incremental-extraction / crawl-delta
    primitive: re-crawls that shuffle ads but keep content score
    near-zero added/removed.

    Returns ``(canon_url, snap_idx, doc_id, ts, n_paras, n_added,
    n_removed, n_common)`` where ``snap_idx`` ≥ 2 is the snapshot's
    (ts, doc_id)-rank within its URL.

    Scale design (100 TB): consecutive-snapshot paragraph overlap is
    NOT a paragraph-table self-join (which would sort the exploded
    corpus twice — the round-5 single-sort rule, ROUND5.md §9): a
    paragraph present in ranks r−1 and r is found by ONE lag window
    over (canon_url, paragraph-hash) — group size bounded by
    snapshots-per-URL. The snapshot ranking window, the per-snapshot
    totals, and the final assembly all key on canon_url / (canon_url,
    rank); the paragraph explode is the only corpus-width stage and it
    carries 16-byte hashes, not text."""
    from rio_cogeo_spark.functions.text import canonical_url

    pat = "\\Q" + sep + "\\E"
    w = Window.partitionBy("canon_url").orderBy("ts_sec", "doc_id")
    snaps = (
        pages.select(
            canonical_url(F.col("url")).alias("canon_url"),
            F.col("doc_id"), F.col("ts_sec"), F.col("text").alias("__text"),
        )
        .withColumn("snap_idx", F.row_number().over(w))
    )
    paras = (
        snaps.select(
            "canon_url", "snap_idx",
            F.explode(F.split(F.col("__text"), pat)).alias("para"),
        )
        .filter(F.length(F.trim(F.col("para"))) > 0)
        .select("canon_url", "snap_idx", F.md5(F.col("para")).alias("ph"))
        .distinct()
    )
    totals = paras.groupBy("canon_url", "snap_idx").agg(
        F.count(F.lit(1)).alias("n_paras")
    )
    w2 = Window.partitionBy("canon_url", "ph").orderBy("snap_idx")
    common = (
        paras.withColumn("prev_idx", F.lag("snap_idx").over(w2))
        .filter(F.col("snap_idx") == F.col("prev_idx") + 1)
        .groupBy("canon_url", "snap_idx")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    prev_totals = totals.select(
        "canon_url",
        (F.col("snap_idx") + 1).alias("snap_idx"),
        F.col("n_paras").alias("n_prev"),
    )
    cur = snaps.filter(F.col("snap_idx") >= 2).select(
        "canon_url", "snap_idx", "doc_id", F.col("ts_sec").alias("ts")
    )
    keys = ["canon_url", "snap_idx"]
    return (
        cur.join(totals, keys, "left")
        .join(prev_totals, keys, "left")
        .join(common, keys, "left")
        .select(
            "canon_url", "snap_idx", "doc_id", "ts",
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            (F.coalesce("n_paras", F.lit(0))
             - F.coalesce("n_common", F.lit(0))).alias("n_added"),
            (F.coalesce("n_prev", F.lit(0))
             - F.coalesce("n_common", F.lit(0))).alias("n_removed"),
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
        )
    )


def snapshot_paragraph_diff_sql(base_cte: str, sep: str = "\n\n") -> str:
    """DuckDB twin of :func:`snapshot_paragraph_diff`. ``base_cte`` must
    define a relation ``snapfix(doc_id, url, ts_sec, text)``; the twin
    uses the same lag-adjacency overlap formula."""
    from rio_cogeo_spark.functions.text import CANONICAL_URL_SQL

    canon = CANONICAL_URL_SQL
    sep_lit = sep.replace("'", "''")
    return rf"""{base_cte}
, snaps AS (SELECT {canon} AS canon_url, doc_id, ts_sec, text,
                   CAST(row_number() OVER (PARTITION BY {canon}
                        ORDER BY ts_sec, doc_id) AS INT) AS snap_idx
            FROM snapfix),
exploded AS (SELECT canon_url, snap_idx,
                    unnest(string_split(text, '{sep_lit}')) AS para
             FROM snaps),
paras AS (SELECT DISTINCT canon_url, snap_idx, md5(para) AS ph
          FROM exploded WHERE length(trim(para)) > 0),
totals AS (SELECT canon_url, snap_idx, COUNT(*) AS n_paras
           FROM paras GROUP BY 1, 2),
adj AS (SELECT canon_url, snap_idx FROM (
          SELECT canon_url, snap_idx,
                 lag(snap_idx) OVER (PARTITION BY canon_url, ph
                                     ORDER BY snap_idx) AS prev_idx
          FROM paras)
        WHERE snap_idx = prev_idx + 1),
common AS (SELECT canon_url, snap_idx, COUNT(*) AS n_common
           FROM adj GROUP BY 1, 2),
cur AS (SELECT canon_url, snap_idx, doc_id, ts_sec AS ts
        FROM snaps WHERE snap_idx >= 2)
SELECT c.canon_url, c.snap_idx, c.doc_id, c.ts,
       CAST(COALESCE(t.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(COALESCE(t.n_paras, 0) - COALESCE(m.n_common, 0) AS BIGINT)
           AS n_added,
       CAST(COALESCE(p.n_prev, 0) - COALESCE(m.n_common, 0) AS BIGINT)
           AS n_removed,
       CAST(COALESCE(m.n_common, 0) AS BIGINT) AS n_common
FROM cur c
LEFT JOIN totals t USING (canon_url, snap_idx)
LEFT JOIN (SELECT canon_url, snap_idx + 1 AS snap_idx, n_paras AS n_prev
           FROM totals) p ON c.canon_url = p.canon_url
                          AND c.snap_idx = p.snap_idx
LEFT JOIN common m ON c.canon_url = m.canon_url
                   AND c.snap_idx = m.snap_idx"""


# ---------------------------------------------------------------------------
# Word n-gram shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle array from an ALREADY-TOKENIZED
    column. ``toks`` should be a plain column reference materialized by
    a prior Project: the expression references it n + 1 times (n slices
    + the size guard), so passing the tokenizer expression itself
    re-runs the regex split n + 1 times per row — hot paths tokenize
    once and call this (r06: contamination's corpus shingle explode
    dropped ~2x at sf1.0).

    Built by zipping n shifted slices, NOT transform-over-sequence: an
    index lambda re-evaluates its input per element (O(L²) per row).
    The `when` guard also covers Spark's descending ``sequence(1, 0)``
    / negative-slice-length edge for docs shorter than n tokens."""
    m = F.size(toks) - (n - 1)  # n-gram count when >= 0
    gram = F.slice(toks, F.lit(1), m)
    for j in range(1, n):
        gram = F.zip_with(
            gram,
            F.slice(toks, F.lit(1 + j), m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle array. Mirrors the DuckDB oracle
    formula in :data:`SHINGLES_SQL` token-for-token. Evaluates the
    tokenizer n + 1 times per row — hot paths should materialize
    ``tokens_col`` in a Project and use :func:`shingles_from_tokens`."""
    return shingles_from_tokens(tokens_col(text), n)


SHINGLES_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len({toks}) - 2, 0)), "
    "i -> array_to_string({toks}[i:i+2], ' ')))"
)


def _shingle_pair_counts(docs, n, df_cap):
    """Shared inverted-index core for :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`: returns ``(common, sizes)`` where
    ``common`` is (doc_a < doc_b, n_common shared distinct shingles)
    and ``sizes`` is (doc_id, n_sh). Single-sort posting-list pair
    expansion; ``df_cap`` as documented on the public callers."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    with_sh = (
        docs.select("doc_id", shingles_col(F.col("text"), n).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    sizes = with_sh.select("doc_id", F.size("sh").alias("n_sh"))

    inv = with_sh.select("doc_id", F.explode("sh").alias("shingle"))
    if df_cap is not None:
        # ONE shingle-count aggregation serves both the auto-cap
        # derivation and the hot-set filter: localCheckpoint pins the
        # shuffled counts so the mean (driver round-trip to pick the
        # cap) and the hot-set scan reuse the same materialized data
        # instead of re-running the full inverted-index shuffle twice.
        counts = inv.groupBy("shingle").count()
        if df_cap == "auto":
            counts = counts.localCheckpoint(eager=False)
            mean_df = counts.agg(F.mean("count").alias("m")).first()
            df_cap = max(int(mean_df["m"] * 100), 10)
        hot = counts.filter(F.col("count") > df_cap).select("shingle")
        inv = inv.join(F.broadcast(hot), "shingle", "left_anti")

    # Shared-shingle counts via ONE aggregation instead of an
    # inverted-index self-join: the join form sorts the exploded index
    # twice (both sort-merge sides are this same table); grouping each
    # shingle's posting list sorts it once and expands the pairs in
    # place. Identical output. Posting-list length is bounded by df_cap
    # (the web-scale guard above), so per-group memory is capped; with
    # df_cap=None (oracle-exact mode only) a hot shingle's list is as
    # quadratic as the join's pair rows would have been.
    #
    # r06: posexplode + tail-slice emits each unordered pair exactly
    # once (positions i<j: s(s-1)/2 rows) instead of the full s² cross
    # expansion filtered to a<b afterwards — half the generated rows in
    # the pair stage, the suite's dominant constant (r5 verdict nit #3;
    # measured 7.0s -> 3.3s on the containment core at sf0.1). The
    # (least, greatest) normalization reproduces the a<b orientation
    # regardless of collect_list order; counts exceptAll-identical.
    common = (
        inv.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("_p", "_x"), "ids")
        .select(
            "_x",
            F.explode(
                F.slice(F.col("ids"), F.col("_p") + F.lit(2), F.size("ids"))
            ).alias("_y"),
        )
        .select(
            F.least("_x", "_y").alias("doc_a"),
            F.greatest("_x", "_y").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return common, sizes


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    df_cap: "Optional[int | str]" = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index —
    no O(N²) cross join. Output: (doc_a, doc_b, jaccard) with doc_a < doc_b
    and jaccard >= threshold (rounded to 6dp).

    ``df_cap`` drops ultra-common shingles (document frequency cap) — the
    web-scale guard: a shingle in D docs contributes O(D^2) candidate
    pairs, so at corpus scale this MUST be on, hence the ``'auto'``
    DEFAULT (caps at ~100x the mean shingle document-frequency; boilerplate
    n-grams shared by millions of pages never reach the pair join). An int
    caps explicitly; pass ``df_cap=None`` explicitly for the oracle-exact
    comparison ONLY — pairs reachable solely through capped shingles are
    dropped by design (like stopword shingles), and an uncapped hot
    shingle is quadratic at corpus scale.
    """
    common, sizes = _shingle_pair_counts(docs, 3, df_cap)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("size_b"))
    jac = (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return jac


def pair_verify(
    docs: DataFrame,
    pairs: DataFrame,
    prefix_len: int = 512,
) -> DataFrame:
    """Exact edit-distance VERIFICATION of near-dup candidate pairs —
    the confirm stage of the dedup cascade (LSH/shingle candidates are
    set-similarity estimates that ignore token ORDER; two pages built
    from the same vocabulary in different arrangements can pass a
    Jaccard gate yet not be copies). Per candidate pair, the Levenshtein
    distance between the two texts' first ``prefix_len`` characters and
    a similarity ratio in exact ppm ints::

        sim_ppm = ((maxlen - dist) * 10^6) div greatest(maxlen, 1)

    Output ``(doc_a, doc_b, edit_dist, sim_ppm)`` — one row per input
    pair. Both engines implement standard character Levenshtein, so the
    column hashes exactly.

    Scale design (100 TB): the work is CANDIDATE-bounded, never
    corpus-bounded — two co-partitioned id joins ship only the
    ``prefix_len``-char prefixes of docs that appear in a pair (Spark
    prunes ``text`` to the truncated projection before the exchange);
    the O(prefix_len²) DP per pair is a constant (512² ≈ 260k cell
    ops), which is the standard production trade — verify a bounded
    prefix exactly, not unbounded documents. Candidate volume is
    whatever the LSH/banding stage emits, already linear-ish by its
    own df_cap/banding guards.
    """
    ta = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.substring(F.col("text"), 1, int(prefix_len)).alias("ta"),
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.substring(F.col("text"), 1, int(prefix_len)).alias("tb"),
    )
    return (
        pairs.select("doc_a", "doc_b")
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("edit_dist", F.levenshtein("ta", "tb"))
        .withColumn(
            "sim_ppm",
            F.expr(
                "((CAST(greatest(length(ta), length(tb)) AS BIGINT)"
                " - edit_dist) * 1000000)"
                " div greatest(greatest(length(ta), length(tb)), 1)"
            ),
        )
        .select("doc_a", "doc_b", "edit_dist", "sim_ppm")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    df_cap: "Optional[int | str]" = "auto",
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder's other resemblance
    measure): ``containment(A in B) = |A∩B| / |A|`` — the quote/excerpt
    detector. A 50-token excerpt pasted into a 5000-token page scores
    containment ≈ 1.0 while its Jaccard is ≈ 0.01, so a Jaccard
    threshold can never find it without flooding on long-vs-long
    near-dups; containment is the right metric for "doc A's content is
    INSIDE doc B".

    Output: one row per DIRECTED inclusion ``(doc_src, doc_dst,
    containment)`` with 6-dp-rounded ``containment(src in dst) >=
    threshold`` (both directions emitted when both qualify — exact dups
    appear twice, by definition of the directed measure). Same inverted
    shingle index, single-sort pair expansion, and ``df_cap`` hot-
    shingle guard as :func:`ngram_jaccard_pairs` (shared core)."""
    common, sizes = _shingle_pair_counts(docs, 3, df_cap)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("size_b"))
    joined = common.join(sa, "doc_a").join(sb, "doc_b")
    # both directions from ONE pass over the undirected pairs — a
    # union of two selects over `joined` would re-run the whole
    # candidate pipeline (index shuffle + both size joins) per branch
    cont_a = F.round(
        F.col("n_common").cast("double") / F.col("size_a").cast("double"), 6
    )
    cont_b = F.round(
        F.col("n_common").cast("double") / F.col("size_b").cast("double"), 6
    )
    return (
        joined.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_src"),
                        F.col("doc_b").alias("doc_dst"),
                        cont_a.alias("containment"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_src"),
                        F.col("doc_a").alias("doc_dst"),
                        cont_b.alias("containment"),
                    ),
                )
            ).alias("r")
        )
        .select("r.doc_src", "r.doc_dst", "r.containment")
        .filter(F.col("containment") >= float(threshold))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(num_hashes: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


# positional-mix odd multipliers shared by every minhash path
# (wraparound multiply is a bijection for odd constants → good
# dispersion, no overflow errors)
_MIX_U64 = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9],
    dtype=np.uint64,
)
_M_U64 = np.uint64(_MERSENNE)


def _mod_mersenne(x: np.ndarray) -> np.ndarray:
    """``x % (2^61 - 1)`` for uint64 ``x`` via the Mersenne fold —
    2^61 ≡ 1 (mod M), so x = q·2^61 + r ≡ q + r, and q ≤ 7 for any
    uint64 means one conditional subtract normalizes. Exactly equal to
    numpy's ``%`` (property-tested in tests/test_dedup.py) at ~5x the
    throughput — the u64 divide was the dominant cost of the signature
    kernel (guide §1.2 per-task work)."""
    y = (x & _M_U64) + (x >> np.uint64(61))
    return np.where(y >= _M_U64, y - _M_U64, y)


def _tok_hash_table(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, tok_h array<long>) — tokens hashed JVM-side (one
    ``xxhash64`` per token), rows shorter than ``n`` tokens dropped."""
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.transform(toks, lambda t: F.xxhash64(t)).alias("tok_h"),
    ).filter(F.size("tok_h") >= n)


def minhash_signatures(docs: DataFrame, num_hashes: int = 128, n: int = 3,
                       seed: int = 42) -> DataFrame:
    """(doc_id, sh array<long>, sig array<long>): ``sh`` = distinct hashed
    word-n-gram shingles, ``sig`` = the MinHash signature.

    Hot-path design: *tokens* are hashed JVM-side (one ``xxhash64`` per
    token); n-gram shingle hashes are combined NUMERICALLY inside the
    Arrow UDF (uint64 wraparound mix of n consecutive token hashes —
    building 1M+ shingle *strings* through Catalyst higher-order
    functions measured ~4x slower). Jaccard over hashed shingles equals
    Jaccard over string shingles up to 64-bit collisions (≈1e-14 per
    pair). Python does only whole-batch numpy: mix, per-row unique,
    affine min-reduction via the fold-based Mersenne modulo
    (:func:`_mod_mersenne`, r06 — the u64 divide dominated the
    kernel)."""
    a_par, b_par = _minhash_params(num_hashes, seed)

    # Small-file inputs arrive as one partition; spread the (CPU-heavy)
    # hashing across the cluster first.
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)

    with_h = _tok_hash_table(docs, n)

    @F.pandas_udf("struct<sh: array<long>, sig: array<long>>")
    def _sig(tok_hashes: pd.Series) -> pd.DataFrame:
        sh_out, sig_out = [], []
        a_u = a_par.astype(np.uint64)[:, None]
        b_u = b_par.astype(np.uint64)[:, None]
        for arr in tok_hashes:
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            m = h.shape[0] - (n - 1)
            combined = np.zeros(m, dtype=np.uint64)
            for j in range(n):
                combined += h[j:j + m] * _MIX_U64[j]
            sh = np.unique(combined)
            hu = _mod_mersenne(sh)
            prod = _mod_mersenne(hu[None, :] * a_u + b_u)
            sh_out.append(sh.astype(np.int64))
            sig_out.append(prod.min(axis=1).astype(np.int64))
        return pd.DataFrame({"sh": sh_out, "sig": sig_out})

    out = with_h.withColumn("s", _sig(F.col("tok_h")))
    return out.select("doc_id", F.col("s.sh").alias("sh"), F.col("s.sig").alias("sig"))


def _band_table(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bucket) — band WITHOUT the shingle arrays: the
    banding shuffle moves only three thin columns; shingles re-join per
    *surviving candidate*, so the heavy arrays never amplify
    ``bands``-fold.

    r06: the bucket is ``xxhash64`` over the band's NUMERIC signature
    values (static per-band ``element_at`` args) — the previous form
    built a comma-joined STRING per band per row (64 slice+cast+concat
    string allocations/row; ~35% of the banding projection, measured).
    A bucket hash only ever separates or accidentally merges buckets:
    identical band slices collide under ANY deterministic hash, so LSH
    recall over true pairs is unchanged, false collisions are removed
    by the exact-Jaccard verify, and the final pair set is identical
    (checked exceptAll==0 at sf1.0; every minhash-family oracle twin is
    brute-force Jaccard, not a banding replica)."""
    band_cols = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).cast("int").alias("band"),
                F.xxhash64(
                    *[F.element_at(F.col("sig"), i * rows + r + 1)
                      for r in range(rows)]
                ).alias("bucket"),
            )
            for i in range(bands)
        ])
    )
    return sigs.select("doc_id", band_cols.alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    seed: int = 42,
    eager_release: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exactly verified: LSH banding generates
    candidates; surviving pairs are re-checked with the *exact* shingle
    Jaccard, so output equals the brute-force result whenever LSH recall
    is 1.0 at the threshold (tests + oracle enforce this at test scale;
    128 hashes / 32 bands → P(miss | j=0.5) < 1e-6 per pair).

    r06 note: a split flow (sig-only signatures + shingle re-derivation
    for banding survivors, guide §8 "decide with small rows") was
    prototyped and REJECTED: on this corpus most docs survive banding
    (746k candidate pairs over 50k docs at sf1.0), so the re-derivation
    degenerates into a second full corpus pass and measured ~2x slower
    than shipping (sh, sig) once. What stayed from the prototype: the
    fold-based Mersenne modulo in the signature kernel
    (:func:`_mod_mersenne`, ~25%% off the UDF stage)."""
    rows = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, n, seed).persist()
    banded = _band_table(sigs, bands, rows)

    # Candidate pairs via ONE aggregation instead of a (band, bucket)
    # self-join: the join form sorts the 32M-row banded table twice (a
    # sort-merge join's both sides are this same table); grouping bucket
    # members into a list sorts it once and expands pairs in place.
    # Identical output — singleton buckets produce no pairs either way,
    # and cross-band duplicates still collapse in dropDuplicates. The
    # per-bucket list is bucket-member count only (bytes, not shingles);
    # a pathological mega-bucket yields the same size² pair count the
    # self-join would have produced, so no new memory class.
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # posexplode + tail-slice: each unordered bucket pair exactly once
    # (s(s-1)/2 rows, not the s² cross filtered to a<b — r06, same
    # rewrite as _shingle_pair_counts)
    cands = (
        grouped.select(F.posexplode("ids").alias("_p", "_x"), "ids")
        .select(
            "_x",
            F.explode(
                F.slice(F.col("ids"), F.col("_p") + F.lit(2), F.size("ids"))
            ).alias("_y"),
        )
        .select(
            F.least("_x", "_y").alias("doc_a"),
            F.greatest("_x", "_y").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_tbl = sigs.select("doc_id", "sh")
    pairs = (
        cands.join(sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    )
    # |A ∪ B| = |A| + |B| − |A ∩ B| for the (already-distinct) shingle
    # sets — one array op per pair instead of two (r06; same integers,
    # so the rounded Jaccard double is bit-identical)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    out = (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    # materialize the (small) pair set eagerly so the signature cache can
    # be released here instead of leaking for the session's lifetime;
    # eager_release=False keeps the full lazy plan, which the
    # minhash_lsh_pairs row of tests/test_plan_shapes.py pins
    if eager_release:
        out = out.localCheckpoint(eager=True)
        sigs.unpersist()
    return out


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted LSH index
# ---------------------------------------------------------------------------
#
# The production crawl pattern at 100 TB: the accumulated corpus is
# fingerprinted ONCE into an on-disk index (thin band table + shingle
# sets); each new crawl snapshot dedups against the index without
# re-reading — let alone re-pairing — the old corpus. Old-corpus cost
# per snapshot: a scan of the (3-column) band table plus a shingle
# lookup for surviving candidates only.


def _index_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_index_meta.json")


def minhash_save_index(
    docs: DataFrame,
    path: str,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    seed: int = 42,
    mode: str = "overwrite",
) -> dict:
    """Persist a corpus's MinHash-LSH index at ``path``:

    * ``bands/``    — (doc_id, band, bucket), the thin candidate table;
    * ``shingles/`` — (doc_id, sh array<long>), for exact verification;
    * ``_index_meta.json`` — the LSH parameters, validated on query
      (querying with mismatched num_hashes/bands/n/seed would silently
      find nothing — fail loudly instead).

    ``mode='append'`` adds a snapshot to an existing index (parameters
    must match); :func:`minhash_update_index` is the convenience wrapper.
    The band table writes partitioned by ``band`` (per-band rebuilds and
    band-subset scans stay pruned); shingles are unpartitioned — they
    are only ever read through the per-candidate doc_id join. On a real
    cluster, write both through ``sources.pages.write_bucketed`` on the
    join key to make the candidate join shuffle-free."""
    import json
    import os

    rows = num_hashes // bands
    meta = {"num_hashes": num_hashes, "bands": bands, "n": n, "seed": seed}
    mp = _index_meta_path(path)
    if mode == "append" and os.path.exists(mp):
        with open(mp) as f:
            existing = json.load(f)
        if existing != meta:
            raise ValueError(
                f"index at {path} was built with {existing}, got {meta}"
            )
    sigs = minhash_signatures(docs, num_hashes, n, seed).persist()
    _band_table(sigs, bands, rows).write.mode(mode).partitionBy("band").parquet(
        os.path.join(path, "bands")
    )
    sigs.select("doc_id", "sh").write.mode(mode).parquet(
        os.path.join(path, "shingles")
    )
    sigs.unpersist()
    os.makedirs(path, exist_ok=True)
    with open(mp, "w") as f:
        json.dump(meta, f)
    return meta


def minhash_update_index(docs: DataFrame, path: str) -> dict:
    """Append a new snapshot's fingerprints to an existing index (the
    post-dedup half of the incremental loop: query, keep the novel docs,
    add THEM to the index for the next snapshot)."""
    import json

    with open(_index_meta_path(path)) as f:
        meta = json.load(f)
    return minhash_save_index(docs, path, mode="append", **meta)


def minhash_dedup_against_index(
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between ``new_docs`` and a corpus indexed by
    :func:`minhash_save_index`: ``(doc_a, doc_b, jaccard)`` with doc_a
    the INDEXED doc and doc_b the new doc, jaccard the exact shingle
    Jaccard (same verification as :func:`minhash_lsh_pairs`, so output
    equals brute-force cross Jaccard whenever LSH recall is 1.0 at the
    threshold).

    Plan shape: the new snapshot's thin band table joins the index's on
    (band, bucket) — only 3-column tables shuffle; the index's shingle
    arrays are read for SURVIVING candidates only (join on doc_id). The
    old corpus itself is never touched. The result is materialized
    (localCheckpoint) before return, so the caller may drop the on-disk
    index before consuming it."""
    import json
    import os

    spark = new_docs.sparkSession
    with open(_index_meta_path(path)) as f:
        meta = json.load(f)
    rows = meta["num_hashes"] // meta["bands"]
    sigs_new = minhash_signatures(
        new_docs, meta["num_hashes"], meta["n"], meta["seed"]
    ).persist()
    banded_new = _band_table(sigs_new, meta["bands"], rows)
    idx_bands = spark.read.parquet(os.path.join(path, "bands")).select(
        F.col("doc_id").alias("doc_a"), "band", "bucket"
    )
    cands = (
        idx_bands.join(
            banded_new.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    idx_sh = spark.read.parquet(os.path.join(path, "shingles")).select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    new_sh = sigs_new.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    pairs = cands.join(idx_sh, "doc_a").join(new_sh, "doc_b")
    # |A ∪ B| = |A| + |B| − |A ∩ B| for the (already-distinct) shingle
    # sets — one array op per pair instead of two (r06; same integers,
    # so the rounded Jaccard double is bit-identical)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    out = (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    out = out.localCheckpoint(eager=True)
    sigs_new.unpersist()
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# re-exported from the single definition in functions/text.py (simhash's
# oracle-pairable hasher; xxhash64 is Spark-only)
from rio_cogeo_spark.functions.text import MD5_60_SQL, md5_60  # noqa: E402,F401


def simhash(docs: DataFrame, bits: int = 64, hasher: str = "xxhash64",
            extra_cols: tuple = ()) -> DataFrame:
    """SimHash over JVM-hashed tokens: (doc_id, [extra_cols...], simhash
    long). Sign aggregation is one vectorized numpy pass per Arrow batch.

    ``hasher='xxhash64'`` (default, fastest JVM hash, 64 bits) or
    ``'md5_60'`` (60-bit md5 prefix — bit-identical in DuckDB, used by
    the oracle-paired contract query). ``extra_cols`` carries columns
    through (e.g. the event-time column for the streaming near-dup
    operator); streaming inputs skip the small-input repartition probe
    (``.rdd`` is undefined on a stream — partitioning is the source's)."""
    if hasher == "md5_60":
        bits = min(bits, 60)
        tok_hash = md5_60
    else:
        tok_hash = F.xxhash64
    if not docs.isStreaming:
        par = docs.sparkSession.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par)
    with_h = docs.select(
        "doc_id",
        *extra_cols,
        F.transform(tokens_col(F.col("text")), lambda t: tok_hash(t)).alias("th"),
    ).filter(F.size("th") > 0)

    @F.pandas_udf("long")
    def _sim(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        bitw = (np.uint64(1) << np.arange(bits, dtype=np.uint64))
        for i, arr in enumerate(hashes):
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bitmat = ((h[:, None] >> np.arange(bits, dtype=np.uint64)[None, :])
                      & np.uint64(1)).astype(np.int64)
            votes = (2 * bitmat - 1).sum(axis=0)
            out[i] = (bitw[votes > 0]).sum().astype(np.int64)
        return pd.Series(out)

    return with_h.select(
        "doc_id", *extra_cols, _sim(F.col("th")).alias("simhash")
    )


def simhash_pairs(docs: DataFrame, hasher: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= 3, candidate-
    generated by 4-band equality (16-bit bands for the 64-bit xxhash64
    variant, 15-bit for the 60-bit md5_60 oracle variant): any pair
    within hamming 3 shares at least one exact band — pigeonhole."""
    bits = 60 if hasher == "md5_60" else 64
    band_bits = bits // 4
    mask = (1 << band_bits) - 1
    sh = simhash(docs, bits=bits, hasher=hasher)
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), band_bits * i)
                    .bitwiseAND(F.lit(mask)).alias("bucket"),
                )
                for i in range(4)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")

    # single-sort bucket aggregation instead of a (band, bucket)
    # self-join — same rewrite as minhash_lsh_pairs/ngram_jaccard_pairs:
    # the self-join sorts the banded table twice, the grouped form once
    cands = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .filter(F.size("ms") >= 2)
        .select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


def _hamming_ball(n_planes: int, radius: int) -> list[int]:
    """All xor-masks of popcount <= radius over n_planes bits (the bucket
    ring a vector probes)."""
    masks = [0]
    frontier = [0]
    for _ in range(radius):
        nxt = []
        for m in frontier:
            low = (m & -m).bit_length() - 1 if m else n_planes
            for b in range(low):
                nxt.append(m | (1 << b))
        masks.extend(nxt)
        frontier = nxt
    return masks


def _block_matmul_candidates(
    e: DataFrame, threshold: float, n_chunks: int, eps: float = 1e-4
) -> DataFrame:
    """Exact candidate pairs (vec_a < vec_b, cos >= threshold - eps) via
    blocked matrix multiplication: vectors packed into ``n_chunks`` chunk
    rows, chunk *pairs* equi-joined, one vectorized matmul per chunk pair.

    This is the scalable organization of the exact O(N^2) cosine
    computation — shuffle volume is N * n_chunks vector copies and every
    task is a BLAS matmul over Arrow batches, vs. the row-at-a-time
    BroadcastNestedLoopJoin a naive non-equi self-join plans. Choose
    n_chunks so each chunk (~N/n_chunks * dim doubles) fits comfortably
    in an executor's memory; candidates are re-verified with the shared
    JVM cosine expression so float semantics stay oracle-exact.
    """
    spark = e.sparkSession
    packed = (
        e.withColumn("chunk", F.pmod(F.col("vec_id"), F.lit(n_chunks)).cast("int"))
        .groupBy("chunk")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("rows"))
    )
    # from pandas: a JVM local relation, so no Python worker scans it
    pair_idx = spark.createDataFrame(
        pd.DataFrame([(i, j) for i in range(n_chunks) for j in range(i, n_chunks)],
                     columns=["ca", "cb"]),
        "ca int, cb int",
    )
    pa = packed.select(F.col("chunk").alias("ca"), F.col("rows").alias("rows_a"))
    pb = packed.select(F.col("chunk").alias("cb"), F.col("rows").alias("rows_b"))
    joined = (
        pair_idx.join(pa, "ca")
        .join(pb, "cb")
        .repartition(spark.sparkContext.defaultParallelism, "ca", "cb")
    )
    raw_cut = threshold - eps

    def _unpack(rows) -> tuple[np.ndarray, np.ndarray]:
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        mat = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        return ids, mat / np.linalg.norm(mat, axis=1, keepdims=True)

    def _mm(batches):
        for pdf in batches:
            va, vb = [], []
            for ca, cb, rows_a, rows_b in zip(
                pdf["ca"], pdf["cb"], pdf["rows_a"], pdf["rows_b"]
            ):
                ids_a, na = _unpack(rows_a)
                ids_b, nb = _unpack(rows_b)
                cos = na @ nb.T
                # diagonal chunk: '<' dedups the symmetric matrix; cross
                # chunks see each unordered pair once, but the smaller id
                # may sit on either side — emit normalized (min, max)
                if ca == cb:
                    mask = (cos >= raw_cut) & (ids_a[:, None] < ids_b[None, :])
                else:
                    mask = (cos >= raw_cut) & (ids_a[:, None] != ids_b[None, :])
                ia, ib = np.nonzero(mask)
                lo = np.minimum(ids_a[ia], ids_b[ib])
                hi = np.maximum(ids_a[ia], ids_b[ib])
                va.extend(lo)
                vb.extend(hi)
            yield pd.DataFrame({"vec_a": pd.Series(va, dtype="int64"),
                                "vec_b": pd.Series(vb, dtype="int64")})

    return joined.mapInPandas(_mm, "vec_a long, vec_b long")


def _lsh_candidates(e: DataFrame) -> DataFrame:
    """Approximate candidates: 8-plane LSH sign-bucket equi-join, one side
    exploded to its hamming<=2 bucket ball. Sub-quadratic, but recall at loose
    thresholds (e.g. cos 0.4 ~ 66deg) is NOT guaranteed — use for tight
    thresholds (cos >= 0.9) where the collision probability is high."""
    from rio_cogeo_spark.operators.similarity import lsh_bucket

    dim = len(e.select("embedding").head()["embedding"])
    bucketed = lsh_bucket(e, "embedding", dim)
    ball = _hamming_ball(8, 2)
    probe = bucketed.withColumn(
        "bucket",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)).cast("int") for m in ball])
        ),
    )
    a = bucketed.select(F.col("vec_id").alias("vec_a"), "bucket")
    b = probe.select(F.col("vec_id").alias("vec_b"), "bucket")
    return (
        a.join(b, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )


def _auto_n_chunks(e: DataFrame, target_chunk_bytes: int = 64 * 1024 * 1024) -> int:
    """Derive the block-matmul chunk count from the corpus: a chunk is
    ~N/n_chunks * dim float64s, about ``target_chunk_bytes`` (64 MiB),
    and MUST fit comfortably in one executor task (two chunks are
    resident per matmul), so n_chunks grows linearly
    with total corpus bytes — a fixed constant overflows executor memory
    the moment the corpus outgrows it. Floor: enough chunk PAIRS
    (n*(n+1)/2) to occupy every core."""
    import math

    first = e.select(F.size("embedding").alias("d")).first()
    if first is None:
        return 1
    n = e.count()
    dim = int(first["d"])
    by_size = math.ceil(n * dim * 8 / target_chunk_bytes)
    par = e.sparkSession.sparkContext.defaultParallelism
    by_par = math.ceil(math.sqrt(2 * par))
    return max(by_size, by_par, 1)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    candidates: str = "block",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (vec_a < vec_b, cos >= threshold).

    Candidate generation then exact verify (the :func:`minhash_lsh_pairs`
    pattern). ``candidates``:

    - ``'block'`` (default): blocked-matmul candidates — **exact** at any
      threshold, no BroadcastNestedLoopJoin in the plan (see
      :func:`_block_matmul_candidates` for the 100 TB organization).
      Chunks are sized so each holds ~64 MiB of vectors regardless of
      corpus size (:func:`_auto_n_chunks`).
    - ``'lsh'``: sign-LSH bucket ring — sub-quadratic but approximate;
      measured recall at threshold 0.4 on the sandbox embeddings is ~0.4
      (the qualifying pairs sit just above the threshold in otherwise
      random 64-dim data), so this path is only for tight thresholds.
    - ``'all'``: naive quadratic fallback (recall tests only).

    Every variant re-verifies candidates with the shared JVM-side
    ``cosine_rounded`` expression, so output values are bit-identical to
    the DuckDB oracle regardless of how candidates were found.
    """
    e = embeddings.select("vec_id", "embedding")
    if candidates == "block":
        cand = _block_matmul_candidates(e, threshold, _auto_n_chunks(e))
    elif candidates == "lsh":
        cand = _lsh_candidates(e)
    elif candidates == "all":
        a, b = e.alias("a"), e.alias("b")
        cand = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
    else:
        raise ValueError(f"unknown candidates mode: {candidates}")
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos", cosine_rounded(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: for every node in
    the pair graph, ``(doc_id, component)`` where component = min node id
    reachable — the canonical keeper, making "keep one per group" a
    single filter. The missing last step of every pair-mining dedup op
    (minhash_lsh_pairs / ngram_jaccard_pairs / simhash_pairs /
    embedding_neardup_pairs all feed this).

    Algorithm: distributed min-label propagation. Each round joins the
    current labels across the symmetric edge list and takes
    min(own, min(neighbor labels)); converged when no label changed.
    Rounds = graph diameter, and near-dup components are overwhelmingly
    small cliques (diameter ~1-2), so 2-3 rounds dominate in practice;
    a localCheckpoint per round truncates lineage so plans stay flat.
    The per-round convergence check moves ONE scalar (an any-change
    probe) to the driver. Raises ``RuntimeError`` if the graph's
    diameter exceeds ``max_iter`` (partial labels would silently keep
    duplicates); for such long-chain graphs use
    :func:`connected_components_star` — O(log n) rounds regardless of
    diameter.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .distinct()
    )
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.withColumnRenamed("doc_id", "b"), "b"
            )
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("component").alias("neigh_min"))
        )
        new_labels = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neigh_min"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter > max_iter); use connected_components_star for "
        "long-chain graphs"
    )


def dedup_components(pairs: DataFrame) -> DataFrame:
    """Per-document duplicate-group assignment over a mined pair set:
    ``(doc_id, component, is_keeper)`` for every doc that appears in a
    pair (singletons are trivially their own keeper and are omitted,
    keeping output bounded by the duplicate population)."""
    comp = connected_components(pairs)
    return comp.withColumn(
        "is_keeper", (F.col("doc_id") == F.col("component"))
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score: Optional[Column] = None,
) -> DataFrame:
    """Canonical-document selection per duplicate group: resolve the
    mined pair set into components, then keep the member with the
    HIGHEST ``score`` (default: exact whitespace token count — longer
    page wins, the usual crawl heuristic that the fuller mirror beats
    the truncated one), ties to the lowest doc id. This replaces
    :func:`dedup_components`' keep-min-id rule when members differ
    (truncated mirrors, print views, AMP pages).

    Returns ``(doc_id, component, score, is_keeper)`` for every doc in
    a pair — singletons are trivially keepers and stay omitted, so the
    output is bounded by the duplicate population.

    Scale design (100 TB): scores join the component table (duplicate
    population only, not the corpus) on the doc id; the per-component
    argmax is a map-side-combinable ``min_by``-style struct-min — NOT a
    row_number window, because a viral boilerplate component with
    millions of members would put its whole posting list through one
    task's sort (the same skew rule as :func:`paragraph_dedup`). Score
    must be exact-integer for cross-engine hashing; floats rank but
    won't hash-compare.
    """
    score_col = score if score is not None else token_count(F.col("text"))
    comp = connected_components(pairs)
    scored = comp.join(
        docs.select(F.col("doc_id"), score_col.alias("score")), "doc_id"
    )
    # struct-min over (-score, doc_id): highest score, then lowest id —
    # partial-aggregates per input partition (skew-safe argmax)
    keepers = (
        scored.groupBy("component")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("ns"), F.col("doc_id").alias("kid"))
            ).alias("best")
        )
        .select("component", F.col("best.kid").alias("__keeper"))
    )
    return (
        scored.join(keepers, "component")
        .select(
            "doc_id", "component", "score",
            (F.col("doc_id") == F.col("__keeper")).alias("is_keeper"),
        )
    )


def connected_components_star(pairs: DataFrame, max_iter: int = 40) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SOCC'14) —
    the adversarial-graph-shape variant of :func:`connected_components`:
    O(log n) rounds regardless of diameter, where min-label propagation
    needs O(diameter) rounds (a 10^6-node chain would be 10^6 rounds).

    Each round is two joins + a distinct per star phase (no driver-side
    data beyond a one-scalar convergence probe); the edge set only
    shrinks toward the star forest, so shuffle volume decays round over
    round. Prefer this for pair graphs of unknown shape; the default
    label propagation wins on the small-clique graphs near-dup mining
    actually produces (fewer shuffles per round, 2-3 rounds).
    """
    # undirected edge set, normalized to a != b
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )

    def _mins(e_sym: DataFrame) -> DataFrame:
        # m(u) = min(N(u) ∪ {u})
        return e_sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )

    for _ in range(max_iter):
        e_sym = _sym(edges)
        mins = _mins(e_sym)
        # large-star: strictly-larger neighbors attach to u's min
        large = (
            e_sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
        )
        # small-star: u and its ≤ neighbors attach to u's min
        small_nbrs = (
            e_sym.filter(F.col("b") <= F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
        )
        self_edge = mins.select(F.col("a").alias("x"), F.col("m").alias("y"))
        new_edges = (
            large.unionByName(small_nbrs)
            .unionByName(self_edge)
            .filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = (
            new_edges.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new_edges).limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            break
    # converged star forest: every edge is (root=a, node=b) with a = min
    roots = edges.select(F.col("b").alias("doc_id"), F.col("a").alias("component"))
    singles = edges.select(F.col("a").alias("doc_id")).distinct().join(
        roots.select("doc_id"), "doc_id", "left_anti"
    ).withColumn("component", F.col("doc_id"))
    return roots.unionByName(singles)


def paragraph_dedup(docs: DataFrame, sep: str = "\n\n") -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the C4 preprocessing
    primitive: boilerplate headers/footers/navigation repeat across a
    site's pages and must be dropped corpus-wide, keeping ONE copy).
    Splits each document on the LITERAL ``sep``, keeps only the
    globally first occurrence of each distinct paragraph — lowest
    (doc_id, position) — and reassembles documents in original
    paragraph order. Documents left with zero paragraphs (pure
    boilerplate / exact whole-text dups) drop from the output.

    Returns ``(doc_id, text, n_kept, n_total)``.

    Scale design: the keeper per paragraph hash is a map-side-combinable
    ``min_by`` — NOT a row_number window, because hot boilerplate
    paragraphs repeat millions of times and a per-key window sort puts
    each hot key's entire posting list through one task (skew); min_by
    partial-aggregates per input partition so the hot keys arrive
    pre-collapsed. The keeper join is key-partitioned on both sides
    (no broadcast needed at any corpus size), and the reassembly
    groupBy ships only surviving paragraphs. Empty paragraphs (runs of
    ``sep``) are dropped before hashing so they never dedup across
    documents."""
    # \Q...\E quotes the separator so regex metacharacters in `sep`
    # (e.g. '. ') are literal; sep must not contain \E itself
    pat = "\\Q" + sep + "\\E"
    paras = (
        docs.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col("text"), pat)).alias("idx", "para"),
        )
        .filter(F.length(F.trim(F.col("para"))) > 0)
        .withColumn("ph", F.md5(F.col("para")))
    )
    keepers = paras.groupBy("ph").agg(
        F.min_by(
            F.struct(F.col("doc_id"), F.col("idx")),
            F.struct(F.col("doc_id"), F.col("idx")),
        ).alias("keep")
    )
    kept = paras.join(keepers, "ph").filter(
        (F.col("doc_id") == F.col("keep.doc_id"))
        & (F.col("idx") == F.col("keep.idx"))
    )
    totals = paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("idx"), F.col("para")))
                    ),
                    lambda x: x["para"],
                ),
            ).alias("text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(totals, "doc_id")
        .select("doc_id", "text", "n_kept", "n_total")
    )


def crawl_priority(stats: DataFrame, now_ts: int) -> DataFrame:
    """Re-crawl priority from :func:`snapshot_change_stats` output — the
    scheduling read of the change history: pages that change often and
    haven't been fetched recently come first.

    All-BIGINT fixed-point (cross-engine exact): change_rate_ppb =
    (n_changes − 1)·10^9 div observed-span, capped at 10^9 (one change
    per second = max urgency; the cap also keeps age·rate inside int64
    for ages to ~10^9 s). Re-observations only — the version-1 'change'
    is discovery, not volatility; single-snapshot URLs get the PRIOR
    rate = 10^9 div horizon (assume one change per horizon until
    observed; ppb, not ppm, so a monthly rate is 385, not 0). priority
    = age since last fetch × rate. A pure projection — no shuffle, no
    state; ranking is the consumer's choice (TakeOrdered for a fetch
    budget).

    Returns stats + (change_rate_ppb, age_sec, priority)."""
    span = F.col("last_ts") - F.col("first_ts")
    rate = F.when(
        (F.col("n_snapshots") > 1) & (span > 0),
        F.least(
            F.expr("(n_changes - 1) * 1000000000 div (last_ts - first_ts)"),
            F.lit(1_000_000_000),
        ),
    ).otherwise(F.lit(1_000_000_000 // (30 * 86400)))
    return (
        stats.withColumn("change_rate_ppb", rate)
        .withColumn("age_sec", F.lit(int(now_ts)) - F.col("last_ts"))
        .withColumn("priority", F.col("age_sec") * F.col("change_rate_ppb"))
    )


def corpus_overlap(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """KMV (k-minimum-values) corpus-overlap sketch — estimated exact-text
    Jaccard between two crawl snapshots WITHOUT joining the corpora
    (Bar-Yossef et al. "Counting distinct elements in a data stream",
    RANDOM 2002; Beyer et al. SIGMOD 2007 for the union/intersection
    estimator): the k smallest 60-bit text hashes of A∪B form a uniform
    sample of the union, so the share of them present in BOTH sides
    estimates |A∩B| / |A∪B|. The crawl dashboard asks this daily
    ("how much of today's fetch is yesterday's corpus?") and the exact
    answer needs a corpus-x-corpus join this sketch avoids.

    Deterministic and engine-exact: the hash is the cross-engine md5-60
    prefix (functions/text.md5_60), the k-smallest set is an order
    statistic of those BIGINTs (no RNG, no floats), and the estimate is
    integer ppm — the same input hashes identically on any
    engine/partitioning. Returns ONE row
    ``(k, kmv_size, shared, jaccard_est_ppm)``; ``kmv_size < k`` iff
    the union has fewer than k distinct texts (the estimate is then
    exact).

    Scale design (100 TB): the corpus-width stage carries (hash, two
    int flags) only; membership folds into ONE map-side-combinable
    groupBy over hashes; the k-smallest is a TakeOrdered (k per
    partition, then k at the driver-side merge — k is hundreds); the
    final fold is k rows. Neither corpus shuffles its text, and the two
    corpora never join.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from rio_cogeo_spark.functions.text import md5_60

    ha = a.select(
        md5_60(F.col("text")).alias("h"),
        F.lit(1).alias("ia"),
        F.lit(0).alias("ib"),
    )
    hb = b.select(
        md5_60(F.col("text")).alias("h"),
        F.lit(0).alias("ia"),
        F.lit(1).alias("ib"),
    )
    u = (
        ha.unionByName(hb)
        .groupBy("h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    kmv = u.orderBy("h").limit(k)
    return kmv.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("kmv_size"),
        F.sum(F.col("ia") * F.col("ib")).alias("shared"),
        F.expr(
            "(sum(ia * ib) * 1000000) div count(1)"
        ).alias("jaccard_est_ppm"),
    )


def corpus_overlap_sql(a_cte: str, b_cte: str, k: int = 256) -> str:
    """DuckDB twin of :func:`corpus_overlap` (each CTE exposes
    ``text``)."""
    from rio_cogeo_spark.functions.text import MD5_60_SQL

    h = MD5_60_SQL.format(c="text")
    return rf"""
WITH a AS ({a_cte}), b AS ({b_cte}),
hh AS (SELECT {h} AS h, 1 AS ia, 0 AS ib FROM a
       UNION ALL
       SELECT {h} AS h, 0 AS ia, 1 AS ib FROM b),
u AS (SELECT h, MAX(ia) AS ia, MAX(ib) AS ib FROM hh GROUP BY 1),
kmv AS (SELECT * FROM u ORDER BY h LIMIT {int(k)})
SELECT CAST({int(k)} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS kmv_size,
       CAST(SUM(ia * ib) AS BIGINT) AS shared,
       CAST((SUM(ia * ib) * 1000000) // COUNT(*) AS BIGINT)
           AS jaccard_est_ppm
FROM kmv"""


# ---------------------------------------------------------------------------
# Winnowing (MOSS) fingerprints
# ---------------------------------------------------------------------------


def _gram_hash_col(text: Column, k: int) -> Column:
    """ORDERED (positional, non-distinct) k-gram 60-bit hashes — the
    winnowing input stream. Same zip-of-shifted-slices construction as
    :func:`shingles_col` (an index lambda would re-split per element)
    but keeps duplicates and positions, then hashes each gram with the
    cross-engine md5-60."""
    from rio_cogeo_spark.functions.text import md5_60

    toks = tokens_col(text)
    m = F.size(toks) - (k - 1)
    gram = F.slice(toks, F.lit(1), m)
    for j in range(1, k):
        gram = F.zip_with(
            gram,
            F.slice(toks, F.lit(1 + j), m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(toks) >= k, F.transform(gram, md5_60)).otherwise(
        F.array().cast("array<bigint>")
    )


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "Local
    algorithms for document fingerprinting", SIGMOD 2003 — the MOSS
    algorithm): hash every ORDERED token k-gram, then keep the minimum
    hash of each sliding window of ``w`` consecutive gram hashes. The
    selling point over MinHash is a positional GUARANTEE: any token run
    of at least ``w + k - 1`` tokens shared by two documents contains a
    full common window, so the two documents share at least one
    fingerprint — partial-copy detection (quotes, syndicated passages,
    stitched spam) that whole-document sketches dilute away. Returns
    ``(doc_id, fp)`` with the per-document fingerprint set deduplicated
    (overlapping windows usually elect the same minimum).

    Deterministic and engine-exact: gram hash is the cross-engine md5-60
    (functions/text.md5_60), window election is an integer MIN — no RNG,
    no floats, no tie-break ambiguity (min of a set).

    Scale design (100 TB): fingerprinting is two chained narrow
    projections — grams from zipped shifted slices, window minima from a
    ``least``-fold of w shifted slices of the MATERIALIZED gram column
    (two projections on purpose: CollapseProject keeps non-cheap
    expressions referenced w times un-inlined, so the md5 work runs once
    per gram, not once per window) — zero Exchange until the caller
    aggregates. Output carries (id, 8-byte hash), never text.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    g_df = docs.select(
        F.col("doc_id"),
        _gram_hash_col(F.col("text"), k).alias("g"),
    )
    g = F.col("g")
    mw = F.size(g) - (w - 1)
    mins = F.slice(g, F.lit(1), mw)
    for j in range(1, w):
        mins = F.zip_with(
            mins, F.slice(g, F.lit(1 + j), mw), lambda a, b: F.least(a, b)
        )
    fps = F.when(F.size(g) >= w, F.array_distinct(mins)).otherwise(
        F.array().cast("array<bigint>")
    )
    return g_df.select("doc_id", F.explode(fps).alias("fp"))


def winnow_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    k: int = 3,
    w: int = 4,
    df_cap: "Optional[int | str]" = "auto",
) -> DataFrame:
    """Candidate near-dup / partial-copy pairs by shared winnowing
    fingerprints: ``(doc_a, doc_b, n_shared)`` with ``doc_a < doc_b``
    and ``n_shared >= min_shared`` shared distinct fingerprints. The
    MOSS front-end of the dedup cascade — feed survivors to
    :func:`pair_verify` for the exact edit-distance confirm.

    ``df_cap`` is the same hot-fingerprint document-frequency guard as
    :func:`ngram_jaccard_pairs` (a fingerprint in D docs contributes
    O(D²) pairs; boilerplate navigation minima hit millions of pages),
    with the same ``'auto'`` default (~100x the mean fingerprint
    document-frequency, floor 10) and ``None`` reserved for the
    oracle-exact comparison.

    Scale design (100 TB): single-sort posting-list pair expansion (the
    :func:`_shingle_pair_counts` rule — grouping each fingerprint's
    posting list sorts the inverted index ONCE; a self-join would sort
    it twice), per-group memory bounded by ``df_cap``.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    inv = winnow_fingerprints(docs, k=k, w=w)
    if df_cap is not None:
        counts = inv.groupBy("fp").count()
        if df_cap == "auto":
            counts = counts.localCheckpoint(eager=False)
            mean_df = counts.agg(F.mean("count").alias("m")).first()
            df_cap = max(int(mean_df["m"] * 100), 10)
        hot = counts.filter(F.col("count") > df_cap).select("fp")
        inv = inv.join(F.broadcast(hot), "fp", "left_anti")
    return (
        inv.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        # posexplode + tail-slice: s(s-1)/2 rows, not the filtered s²
        # cross (r06, same rewrite as _shingle_pair_counts)
        .select(F.posexplode("ids").alias("_p", "_x"), "ids")
        .select(
            "_x",
            F.explode(
                F.slice(F.col("ids"), F.col("_p") + F.lit(2), F.size("ids"))
            ).alias("_y"),
        )
        .select(
            F.least("_x", "_y").alias("doc_a"),
            F.greatest("_x", "_y").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_pairs_sql(docs_cte: str, min_shared: int = 2) -> str:
    """DuckDB twin of :func:`winnow_pairs` with ``df_cap=None``
    (``docs_cte`` exposes ``(doc_id, text)``)."""
    kk, ww = 3, 4  # shingle length k and winnow window w
    return rf"""
WITH docs AS ({docs_cte}),
t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM docs),
g AS (SELECT doc_id, list_transform(
        generate_series(1, greatest(len(toks) - {kk - 1}, 0)),
        i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+{kk - 1}], ' ')),
                   1, 15)) AS BIGINT)) AS g FROM t),
fps AS (SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(g) - {ww - 1}, 0)),
          i -> list_aggregate(g[i:i+{ww - 1}], 'min')))) AS fp FROM g)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {int(min_shared)}"""


def winnow_save_index(
    docs: DataFrame,
    path: str,
    k: int = 3,
    w: int = 4,
    mode: str = "overwrite",
) -> dict:
    """Persist a corpus's winnowing fingerprints at ``path`` — the MOSS
    counterpart of :func:`minhash_save_index` for the incremental crawl
    loop (each snapshot checks for partial copies of the INDEXED corpus
    without re-reading it):

    * ``fps/`` — (doc_id, fp), the inverted fingerprint table, written
      partitioned by ``pmod(fp, 64)`` buckets so the query-time join
      prunes;
    * ``_index_meta.json`` — (k, w), validated on query (mismatched
      window parameters would silently find nothing — fail loudly).

    ``mode='append'`` adds a snapshot (parameters must match);
    :func:`winnow_update_index` is the convenience wrapper. On a real
    cluster, write through ``sources.pages.write_bucketed`` on ``fp``
    to make the candidate join shuffle-free."""
    import json
    import os

    meta = {"k": int(k), "w": int(w)}
    mp = os.path.join(path, "_winnow_meta.json")
    if mode == "append" and os.path.exists(mp):
        with open(mp) as f:
            existing = json.load(f)
        if existing != meta:
            raise ValueError(
                f"index at {path} was built with {existing}, got {meta}"
            )
    fps = winnow_fingerprints(docs, k=k, w=w).withColumn(
        "fp_bucket", F.pmod(F.col("fp"), F.lit(64))
    )
    fps.write.mode(mode).partitionBy("fp_bucket").parquet(
        os.path.join(path, "fps")
    )
    os.makedirs(path, exist_ok=True)
    with open(mp, "w") as f:
        json.dump(meta, f)
    return meta


def winnow_update_index(docs: DataFrame, path: str) -> dict:
    """Append a new snapshot's fingerprints to an existing winnow index
    (the post-dedup half of the incremental loop)."""
    import json
    import os

    with open(os.path.join(path, "_winnow_meta.json")) as f:
        meta = json.load(f)
    return winnow_save_index(
        docs, path, k=meta["k"], w=meta["w"], mode="append"
    )


def winnow_match_index(
    new_docs: DataFrame,
    path: str,
    min_shared: int = 2,
    df_cap: "Optional[int]" = 1000,
    eager_release: bool = False,
) -> DataFrame:
    """Partial-copy pairs between ``new_docs`` and a corpus indexed by
    :func:`winnow_save_index`: ``(doc_a, doc_b, n_shared)`` with doc_a
    the INDEXED doc, doc_b the new doc — the incremental form of
    :func:`winnow_pairs` (same fingerprints, same guarantee: a shared
    token run of >= w+k-1 tokens forces a shared fingerprint, so
    syndicated passages of the indexed corpus inside the new snapshot
    cannot hide). The old corpus's TEXT is never read — only its thin
    (doc_id, fp) table.

    ``df_cap`` caps the per-fingerprint posting list on BOTH sides
    (hot boilerplate minima are quadratic; None disables for
    oracle-exact comparisons).

    Plan shape: new-snapshot fingerprints join the index on ``fp``
    (two thin 2-column tables), pair counts fold map-side-combinably
    on (doc_a, doc_b)."""
    import json
    import os

    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    spark = new_docs.sparkSession
    with open(os.path.join(path, "_winnow_meta.json")) as f:
        meta = json.load(f)
    new_fps = winnow_fingerprints(new_docs, k=meta["k"], w=meta["w"]).select(
        F.col("doc_id").alias("doc_b"), "fp"
    )
    idx = spark.read.parquet(os.path.join(path, "fps")).select(
        F.col("doc_id").alias("doc_a"), "fp"
    )
    if df_cap is not None:
        hot = (
            idx.groupBy("fp").count()
            .filter(F.col("count") > int(df_cap))
            .select("fp")
        )
        idx = idx.join(F.broadcast(hot), "fp", "left_anti")
        new_fps = new_fps.join(F.broadcast(hot), "fp", "left_anti")
    out = (
        idx.join(new_fps, "fp")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
    if eager_release:
        # materialize the (pair-sized) result so the caller may drop
        # the on-disk index before consuming it
        out = out.localCheckpoint(eager=True)
    return out


def jaccard_threshold_curve(
    docs: DataFrame,
    step_ppm: int = 100_000,
    df_cap: "Optional[int | str]" = "auto",
) -> DataFrame:
    """Dedup-threshold tuning curve: the exact-ppm Jaccard HISTOGRAM of
    every candidate pair (pairs sharing >= 1 surviving shingle), plus
    the cumulative pair count at or above each bucket — "how many pairs
    would a threshold of t collapse" read directly off one table, the
    sweep behind choosing ngram_jaccard_pairs / minhash thresholds
    without re-mining per candidate value (Lee et al. ACL'22 tune
    exactly this curve).

    Output ``(bucket_ppm, n_pairs, n_pairs_ge)`` where ``bucket_ppm`` =
    ``(jaccard_ppm div step_ppm) * step_ppm`` (exact ints; a pair at
    exactly 1.0 lands in the 1_000_000 bucket) and ``n_pairs_ge`` is
    the count of pairs with jaccard_ppm >= bucket_ppm.

    Scale design (100 TB): the pair mining is the shared single-sort
    inverted-index core (df_cap guard as documented on
    :func:`ngram_jaccard_pairs`); the histogram fold is map-side
    combinable; the cumulative window runs over the BUCKET table
    (<= 1e6/step_ppm rows), never the pair set.
    """
    if step_ppm < 1 or step_ppm > 1_000_000:
        raise ValueError(f"step_ppm must be in [1, 1e6], got {step_ppm}")
    common, sizes = _shingle_pair_counts(docs, 3, df_cap)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("size_b"))
    jac_ppm = F.expr(
        "(n_common * 1000000) div (size_a + size_b - n_common)"
    )
    hist = (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            ((jac_ppm / F.lit(step_ppm)).cast("long") * F.lit(step_ppm))
            .alias("bucket_ppm")
        )
        .groupBy("bucket_ppm")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.col("bucket_ppm").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return hist.select(
        "bucket_ppm", "n_pairs",
        F.sum("n_pairs").over(w).alias("n_pairs_ge"),
    )


def jaccard_threshold_curve_sql(
    table: str = "documents",
    step_ppm: int = 100_000,
) -> str:
    """DuckDB twin of :func:`jaccard_threshold_curve` at n=3 shingles
    (df_cap=None — the oracle-exact configuration, as for
    ngram_jaccard), tokenized by functions.text.TOKENS_SQL."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    sh = SHINGLES_SQL.format(toks=TOKENS_SQL)
    return f"""
WITH jt_s AS (SELECT doc_id, {sh} AS sh FROM {table}),
jt_s2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM jt_s WHERE len(sh) > 0),
jt_j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.n_sh AS size_a, b.n_sh AS size_b,
                len(list_intersect(a.sh, b.sh)) AS n_common
         FROM jt_s2 a JOIN jt_s2 b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh)) > 0),
jt_h AS (SELECT ((n_common * 1000000) // (size_a + size_b - n_common))
                // {step_ppm} * {step_ppm} AS bucket_ppm,
                COUNT(*) AS n_pairs
         FROM jt_j GROUP BY 1)
SELECT CAST(bucket_ppm AS BIGINT) AS bucket_ppm,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY bucket_ppm DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS n_pairs_ge
FROM jt_h"""


def continuation_pairs(docs: DataFrame, k: int = 8) -> DataFrame:
    """Pagination / article-continuation detection: pairs where doc A's
    LAST ``k`` tokens equal doc B's FIRST ``k`` tokens — the crawl
    reassembly problem (one article served as /page-1, /page-2: whole-
    doc dedup sees distinct texts, shingle Jaccard is low for long
    pages, yet the texts CHAIN). Emits ``(doc_a, doc_b, boundary)``
    where doc_a's tail == doc_b's head == ``boundary`` (the shared
    k-token string), a != b, and BOTH docs have >= k+1 tokens (a doc
    shorter than the boundary cannot be a page of a split article —
    and k tokens of identical text would pair every short boilerplate
    page with itself).

    Directed by construction: A→B means "B continues A". An exact
    whole-doc duplicate pair appears in BOTH directions iff the doc's
    own head equals its tail (cyclic text), which the self-pair filter
    does not hide — callers feed the usual dedup first.

    Scale design (100 TB): two zero-shuffle projections (head-hash,
    tail-hash over the token array slice) + ONE equi-join on the
    16-byte boundary hash; hot boilerplate boundaries are bounded by
    the same df-cap discipline as shingles — here a ``max_fanout``
    guard drops boundary hashes whose head-side posting list exceeds
    the cap (default 64: a boundary shared by more docs than that is
    site furniture, not a split article).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        F.col("doc_id"),
        toks.alias("_t"),
    ).filter(F.size("_t") >= k + 1)
    heads = base.select(
        F.col("doc_id").alias("doc_b"),
        F.array_join(F.slice("_t", 1, k), " ").alias("boundary"),
    )
    tails = base.select(
        F.col("doc_id").alias("doc_a"),
        F.array_join(F.slice("_t", -k, k), " ").alias("boundary"),
    )
    max_fanout = 64
    hot = (
        heads.groupBy("boundary").count()
        .filter(F.col("count") > max_fanout)
        .select("boundary")
    )
    heads = heads.join(F.broadcast(hot), "boundary", "left_anti")
    return (
        tails.join(heads, "boundary")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "boundary")
    )


def continuation_pairs_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`continuation_pairs` (max_fanout guard
    included — the contract covers the guard, not just the join)."""
    toks = r"string_split_regex(trim(text), '\s+')"
    return f"""
WITH cp_t AS (SELECT doc_id, {toks} AS t FROM {table}),
cp_b AS (SELECT doc_id, t, len(t) AS n FROM cp_t WHERE len(t) >= 8 + 1),
cp_h AS (SELECT doc_id AS doc_b,
                array_to_string(t[1:8], ' ') AS boundary FROM cp_b),
cp_hot AS (SELECT boundary FROM cp_h GROUP BY 1 HAVING COUNT(*) > 64),
cp_h2 AS (SELECT * FROM cp_h
          WHERE boundary NOT IN (SELECT boundary FROM cp_hot)),
cp_ta AS (SELECT doc_id AS doc_a,
                 array_to_string(t[n - 8 + 1 : n], ' ') AS boundary
          FROM cp_b)
SELECT a.doc_a, h.doc_b, a.boundary
FROM cp_ta a JOIN cp_h2 h USING (boundary)
WHERE a.doc_a <> h.doc_b"""


def mirror_host_pairs(
    pages: DataFrame,
    min_shared: int = 2,
    max_hosts_per_fp: int = 32,
) -> DataFrame:
    """Mirror-SITE discovery — the host-pair rollup of
    :func:`mirror_docs` (which flags mirrored DOCUMENTS): for every
    pair of hosts sharing >= ``min_shared`` content fingerprints, the
    shared-fingerprint count. This is the table a crawl operator reads
    to blocklist whole mirror farms instead of deduping them page by
    page.

    Output ``(host_a, host_b, shared_fps)`` with host_a < host_b.
    ``max_hosts_per_fp`` drops fingerprints on more hosts than that
    (template farms: a blank-page fp on 10^5 hosts would contribute
    O(10^10) pairs — same discipline as the shingle df_cap; a real
    mirror pair shares many fps, each on few hosts).

    Scale design (100 TB): one (fp, host) dropDuplicates, the cap
    filter, then the single-sort posting-list pair expansion (sorted
    host list per fp, pairs expanded in place — no self-join, no second
    sort) and a combinable pair count.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    from rio_cogeo_spark.functions.text import host_col

    fh = pages.select(
        host_col(F.col("url")).alias("host"),
        fingerprint(F.col("text")).alias("fp"),
    ).dropDuplicates(["fp", "host"])
    grouped = (
        fh.groupBy("fp")
        .agg(F.sort_array(F.collect_list("host")).alias("hosts"))
        .filter(
            (F.size("hosts") >= 2) & (F.size("hosts") <= max_hosts_per_fp)
        )
    )
    pairs = (
        grouped.select(F.explode("hosts").alias("host_a"), "hosts")
        .select("host_a", F.explode("hosts").alias("host_b"))
        .filter(F.col("host_a") < F.col("host_b"))
    )
    return (
        pairs.groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def mirror_host_pairs_sql(pages_cte: str, min_shared: int = 2) -> str:
    """DuckDB twin of :func:`mirror_host_pairs` (``pages_cte`` exposes
    ``(url, text)``; host/fp expressions are the shared HOST_SQL /
    FINGERPRINT_SQL contracts)."""
    from rio_cogeo_spark.functions.text import FINGERPRINT_SQL, HOST_SQL

    return f"""
WITH mh_p AS ({pages_cte}),
mh_f AS (SELECT DISTINCT {HOST_SQL} AS host, {FINGERPRINT_SQL} AS fp FROM mh_p),
mh_g AS (SELECT fp, COUNT(*) AS nh FROM mh_f GROUP BY 1
         HAVING COUNT(*) >= 2 AND COUNT(*) <= 32),
mh_pairs AS (SELECT a.host AS host_a, b.host AS host_b
             FROM mh_f a JOIN mh_f b
               ON a.fp = b.fp AND a.host < b.host
             WHERE a.fp IN (SELECT fp FROM mh_g))
SELECT host_a, host_b, CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM mh_pairs GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}"""
