"""Inverted-index keyword search over the ``documents`` table.

The retrieval side of a corpus pipeline: build a postings table
(term → doc, tf), score a bag-of-terms query with tf-idf, return the
top-k. Scale design (100 TB):

* the postings build is explode → groupBy — map-side combinable, key
  cardinality = |vocab| × |docs containing each term|; at scale this is
  the table you bucket by term so query-time lookups are partition
  pruned joins;
* a query touches only its terms' postings (`isin` prunes at the scan
  when postings are stored term-partitioned);
* document frequencies for the query terms are a tiny aggregate, joined
  back by term; the corpus size joins in as a broadcast 1-row aggregate
  (never a driver `.count()` — the plan stays fully declarative/lazy);
* the final top-k is a window over candidates only (docs sharing ≥1
  query term), not the corpus.

Scoring is tf × idf with an INTEGER-SCALED idf:
``idf_scaled = floor(N · 10^6 / df)`` — every intermediate is exact
BIGINT arithmetic in both Spark and DuckDB, so scores are bit-identical
regardless of summation order (a float tf-idf sum is associativity-
dependent and cannot be hash-compared across engines).

Column names are fixed: ``doc_id``, ``text`` and ``ts_sec``.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import tokens_col

_IDF_SCALE = 1_000_000


def build_postings(docs: DataFrame) -> DataFrame:
    """Postings table ``(term, doc_id, tf)`` — one explode + one
    map-side-combinable groupBy."""
    return (
        docs.select(
            F.col("doc_id"), F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def search_topk(docs: DataFrame, terms: List[str], k: int = 10) -> DataFrame:
    """Top-k documents for a bag-of-terms query, scored by
    ``sum(tf · floor(N·10^6 / df))`` (exact-integer tf-idf; higher =
    better). Ties break on ascending doc id. Returns
    ``(doc_id, score, n_terms_hit, rank)``.
    """
    # r06: drop non-query tokens INSIDE the token array (higher-order
    # filter) before the explode — the explode+filter form generated one
    # row per corpus token and filtered after (guide §2.3 project before
    # the work). Identical surviving rows: explode(filter(toks, p)) ==
    # filter(explode(toks), p).
    from rio_cogeo_spark.functions.text import tokens_col

    toks = tokens_col(F.col("text"))
    matched = F.filter(toks, lambda t: t.isin(*list(terms)))
    postings = (
        docs.select(F.col("doc_id"), F.explode(matched).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # (no materialization: the df branch and the scoring branch share
    # the postings aggregate's exchange via ReusedExchange — verified
    # in the plan; an eager checkpoint here measured neutral-to-worse)
    df_by_term = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        postings.join(F.broadcast(df_by_term), "term")
        .crossJoin(F.broadcast(n_total))
        # `div` is exact 64-bit integer division; floor(a / b) would go
        # through doubles and diverge from the oracle's `//` once
        # N*10^6 exceeds 2^53 (~9e9 docs — inside the design envelope)
        .withColumn(
            "w", F.col("tf") * F.expr(f"(n_total * {_IDF_SCALE}) div df")
        )
        .groupBy("doc_id")
        .agg(
            F.sum("w").alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    # distributed top-k (TakeOrderedAndProject), then rank over the k
    # survivors only — an unpartitioned row_number window would funnel
    # EVERY candidate row through one partition
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def topk_per_group(
    df: DataFrame,
    group_cols: List[str],
    order_col: str,
    k: int,
) -> DataFrame:
    """Generic per-group top-k (window + row_number ≤ k): 'best k pages
    per domain', 'longest k docs per language'. One shuffle on the group
    key; rank is emitted as ``rank``."""
    w = Window.partitionBy(*group_cols).orderBy(F.desc(order_col), F.asc("doc_id"))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bm25_topk(docs: DataFrame, terms: List[str], k: int = 10) -> DataFrame:
    """Top-k documents under BM25 with k1=1.2, b=0.75 and the
    exact-integer ``N/df`` idf (same scaled-idf family as
    :func:`search_topk` — the Robertson log-idf is float-only and its
    cross-engine sum is associativity-dependent).

    All arithmetic is BIGINT so scores hash identically on Spark and
    DuckDB. With k1 = 6/5 and b = 3/4 the per-term contribution

        idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    multiplies out (numerator and denominator by ``10·avgdl_s``, where
    ``avgdl_s = (Σdl·1000) div N`` is the fixed-point average doc
    length) to

        (idf_s · tf · 22 · avgdl_s) div (tf·10·avgdl_s + 3·avgdl_s + 9·dl·1000)

    with ``idf_s = (N·1000) div df``. Exact-integer envelope:
    idf_s·tf·22·avgdl_s must fit in int64 — holds to ~10^8 docs at
    web-page token counts; beyond that, drop to float scoring and
    rank-only comparison.

    Scale design mirrors :func:`search_topk`: the doc length rides
    along the postings build (tokens computed ONCE per doc — no second
    corpus scan or corpus-wide doc-length join), postings are pruned to
    the query terms before any shuffle, df/N/avgdl are tiny broadcast
    aggregates, and top-k is a distributed TakeOrdered, never a global
    window. Returns ``(doc_id, score, n_terms_hit, rank)``.
    """
    toks = docs.select(
        F.col("doc_id"), tokens_col(F.col("text")).alias("toks")
    ).withColumn("dl", F.size("toks"))
    postings = (
        toks.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(list(terms)))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_by_term = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("dl").cast("long").alias("sum_dl"),
    ).withColumn("avgdl_s", F.expr("(sum_dl * 1000) div n_total"))
    scored = (
        postings.join(F.broadcast(df_by_term), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.expr(
                "(((n_total * 1000) div df) * tf * 22 * avgdl_s) div "
                "(tf * 10 * avgdl_s + 3 * avgdl_s + 9 * dl * 1000)"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("w").alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def phrase_topk(docs: DataFrame, phrase: List[str], k: int = 10) -> DataFrame:
    """Top-k documents by EXACT-PHRASE frequency — the positional-index
    query ("table table" matches only adjacent occurrences, in order).

    Anchor decomposition instead of an m-way self-join: an occurrence of
    ``phrase[i]`` at token position ``p`` votes for a phrase START at
    ``a = p - i``; a start is real iff all ``m`` slots voted. Because
    token positions are unique within a doc, the ``(doc, a, i)`` vote
    rows are distinct, so "all slots voted" is a plain ``COUNT(*) = m``
    — no COUNT(DISTINCT) expand, and a term repeated in the phrase
    (slots carried per-term in a plan-literal map) is handled by the
    same rule. Scale design (100 TB):

    * positions are pruned to the phrase's term SET right after the
      explode — only the query terms' occurrences ever shuffle
      (`isin` reaches the scan when postings are stored
      term-partitioned, same as :func:`search_topk`);
    * one groupBy on ``(doc, anchor)`` with a map-side-combinable
      count, then a per-doc count of surviving anchors — both keys are
      bounded by occurrences of the phrase's RAREST term, never corpus
      size, and an m-term phrase costs one shuffle, not m-1 self-joins;
    * all arithmetic is BIGINT — ``tf`` hashes identically on Spark and
      DuckDB; top-k is a distributed TakeOrdered, rank over the k
      survivors only.

    Returns ``(doc_id, tf, rank)``; ties break on ascending doc id.
    """
    if not phrase:
        raise ValueError("phrase must have at least one term")
    m = len(phrase)
    slots: dict[str, list[int]] = {}
    for i, t in enumerate(phrase):
        slots.setdefault(t, []).append(i)
    slot_map = F.create_map(
        *[
            c
            for term, idxs in slots.items()
            for c in (F.lit(term), F.array(*[F.lit(i) for i in idxs]))
        ]
    )
    pos = (
        docs.select(
            F.col("doc_id"),
            F.posexplode(tokens_col(F.col("text"))).alias("p", "term"),
        )
        .filter(F.col("term").isin(list(slots)))
    )
    votes = (
        pos.select(F.col("doc_id"), "p", F.explode(slot_map[F.col("term")]).alias("i"))
        .withColumn("a", F.col("p") - F.col("i"))
        .filter(F.col("a") >= 0)
    )
    hits = (
        votes.groupBy("doc_id", "a")
        .agg(F.count(F.lit(1)).alias("n_slots"))
        .filter(F.col("n_slots") == m)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    topk = hits.orderBy(F.desc("tf"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("tf"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def phrase_topk_sql(table: str, phrase: List[str], k: int = 10) -> str:
    """DuckDB twin of :func:`phrase_topk` (same anchor decomposition)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    m = len(phrase)
    terms = sorted(set(phrase))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    slot_rows = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {i})"
        for i, t in enumerate(phrase)
    )
    return rf"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM {table}),
e AS (SELECT doc_id,
             unnest(list_transform(toks, (x, i) -> {{'p': i - 1, 'term': x}})) AS pt
      FROM t),
f AS (SELECT doc_id, pt.p AS p, pt.term AS term FROM e
      WHERE pt.term IN ({in_list})),
s(term, i) AS (VALUES {slot_rows}),
votes AS (SELECT f.doc_id, f.p - s.i AS a FROM f JOIN s ON f.term = s.term
          WHERE f.p - s.i >= 0),
hit AS (SELECT doc_id, a FROM votes GROUP BY 1, 2 HAVING COUNT(*) = {m}),
tfq AS (SELECT doc_id, COUNT(*) AS tf FROM hit GROUP BY 1),
topk AS (SELECT doc_id, tf FROM tfq ORDER BY tf DESC, doc_id LIMIT {k})
SELECT doc_id, tf,
       CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS INT) AS rank
FROM topk"""


def trending_terms(
    docs: DataFrame,
    window_sec: int = 3600,
    k: int = 5,
) -> DataFrame:
    """Per-time-window trending terms: bucket documents into
    ``window_sec`` event-time windows, count token occurrences, keep
    each window's top-k (ties on term ascending) — the crawl-monitoring
    rollup ("what surged this hour"). Returns ``(window_start, term,
    n, rank)``.

    Scale design: the explode is projection-only; counts are map-side
    combinable on (window, term); the per-window top-k is a window
    rank over (window-key-partitioned) COUNTS — group size is the
    window's vocabulary, never its token stream. All counts exact
    BIGINT."""
    # `div` is exact 64-bit integer division (float-divide-then-cast
    # would round through doubles)
    win = F.expr(
        f"(ts_sec div {int(window_sec)}) * {int(window_sec)}"
    ).alias("window_start")
    counts = (
        docs.select(win, F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("window_start", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def trending_terms_sql(table: str, window_sec: int = 3600) -> str:
    """DuckDB twin of :func:`trending_terms`."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH tok AS (SELECT (CAST(ts_sec AS BIGINT) // {int(window_sec)})
                        * {int(window_sec)} AS window_start,
                    unnest({TOKENS_SQL}) AS term
             FROM {table}),
cnt AS (SELECT window_start, term, COUNT(*) AS n FROM tok GROUP BY 1, 2),
rnk AS (SELECT window_start, term, n,
               CAST(row_number() OVER (PARTITION BY window_start
                    ORDER BY n DESC, term) AS INT) AS rank
        FROM cnt)
SELECT window_start, term, n, rank FROM rnk WHERE rank <= 5"""


def tfidf_keywords(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k keyword extraction by exact-integer tf-idf —
    the pipeline primitive behind topic tagging, corpus browsing, and
    weak-label generation (extract each page's most distinctive terms).

    Score = ``tf * ((N * 10^6) div df)`` — the same scaled inverse-
    document-frequency family as :func:`search_topk` (exact BIGINT, so
    results hash identically across engines; envelope ``N ≤ ~9e12``
    docs before ``N * 10^6`` overflows int64). Ties break on ascending
    term. Returns ``(doc_id, term, tf, score, rank)`` with ``rank ≤ k``.

    Scale design (100 TB): the postings build is the one corpus-width
    explode (map-side-combinable groupBy); document frequencies are a
    vocab-bounded second aggregate broadcast back by term; N joins as a broadcast
    1-row aggregate; the per-doc rank window's partition is one
    document's DISTINCT terms (bounded by doc vocabulary, never the
    corpus), so no partition outgrows memory at any corpus size.
    """
    postings = build_postings(docs)
    df_by_term = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        postings.join(F.broadcast(df_by_term), "term")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "score", F.col("tf") * F.expr(f"(n_total * {_IDF_SCALE}) div df")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def tfidf_keywords_sql() -> str:
    """DuckDB twin of :func:`tfidf_keywords` (same exact-BIGINT score)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH tok AS (SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_total FROM documents),
sc AS (SELECT tf.doc_id, tf.term, tf.tf,
              CAST(tf.tf * ((tot.n_total * {_IDF_SCALE}) // dfx.df)
                   AS BIGINT) AS score
       FROM tf JOIN dfx USING (term) CROSS JOIN tot),
rnk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS INT) AS rank FROM sc)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, rank
FROM rnk WHERE rank <= 5"""


def lexical_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    df_cap: "Optional[int | str]" = "auto",
) -> DataFrame:
    """Related-document pairs by SPARSE tf-idf cosine over the inverted
    index — the lexical complement to the embedding near-dup suite
    (Salton's vector-space model): two pages are related when they
    share distinctive VOCABULARY, no embeddings needed, and the
    inverted index makes it pair-sparse (only docs sharing at least
    one surviving term ever meet). Returns ``(doc_a, doc_b, cosine)``
    with ``doc_a < doc_b`` and ``cosine >= threshold`` (rounded 6dp).

    Determinism contract: weights are exact ints
    (``w = tf * ((N*1000) div df)`` — the BM25 scaled-idf family),
    dot products and norms are DECIMAL(38,0)/HUGEINT SUMS (exact and
    order-independent, so no float-associativity divergence across
    partitionings); doubles appear only in the FINAL per-pair scalar
    ``num / (sqrt(na2)*sqrt(nb2))`` (IEEE sqrt/div on exact ints,
    rounded 6dp). Integer envelope: per-term product ≤ (tf·N·10³)²
    and pair sums stay under 10^38 for corpora to ~10^9 docs with
    tf ≤ 10³ on shared terms.

    ``df_cap`` drops ultra-common terms (document-frequency cap) —
    the same web-scale guard as :func:`~rio_cogeo_spark.operators.
    dedup.ngram_jaccard_pairs` and the classic stopword prune: a term
    in D docs contributes O(D²) pairs. ``'auto'`` caps at ~100x the
    mean term document frequency (floor 10); ``None`` is the
    oracle-exact mode. Norms are computed over the SURVIVING terms so
    the cosine stays a true cosine of the pruned vectors.

    Scale design (100 TB): one postings build (explode + combinable
    count), df/N as vocab-bounded aggregates, single-sort posting-list
    pair expansion (the :func:`_shingle_pair_counts` rule), per-group
    memory bounded by df_cap, norms join back co-partitioned on the
    pair ends. DuckDB twin :func:`lexical_cosine_pairs_sql`.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    postings = build_postings(docs)
    n_docs = docs.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    dfs = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if df_cap is not None:
        if df_cap == "auto":
            dfs = dfs.localCheckpoint(eager=False)
            mean_df = dfs.agg(F.mean("df").alias("m")).first()
            df_cap = max(int(mean_df["m"] * 100), 10)
        dfs = dfs.filter(F.col("df") <= df_cap)
    weighted = (
        postings.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.col("doc_id").alias("doc"),
            F.expr("tf * ((n_docs * 1000) div df)").alias("w"),
        )
    )
    weighted = weighted.localCheckpoint(eager=False)
    norms = weighted.groupBy("doc").agg(
        F.sum(
            F.expr("CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))")
        ).alias("n2")
    )
    num = (
        weighted.groupBy("term")
        .agg(F.collect_list(F.struct("doc", "w")).alias("ps"))
        .filter(F.size("ps") >= 2)
        .select(F.explode("ps").alias("a"), "ps")
        .select("a", F.explode("ps").alias("b"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(a.w AS DECIMAL(38,0)) * CAST(b.w AS DECIMAL(38,0))"
                )
            ).alias("num")
        )
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("n2").alias("nb2"))
    return (
        num.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.expr(
                    "CAST(num AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE))"
                    " * sqrt(CAST(nb2 AS DOUBLE)))"
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def lexical_cosine_pairs_sql(docs_cte: str, threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`lexical_cosine_pairs` with ``df_cap=None``
    (``docs_cte`` exposes ``(doc_id, text)``)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH lc_docs AS ({docs_cte}),
lc_p AS (SELECT doc_id AS doc, unnest({TOKENS_SQL}) AS term
         FROM lc_docs),
lc_tf AS (SELECT term, doc, COUNT(*) AS tf FROM lc_p GROUP BY 1, 2),
lc_df AS (SELECT term, COUNT(*) AS df FROM lc_tf GROUP BY 1),
lc_n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM lc_docs),
lc_w AS (SELECT t.term, t.doc,
                t.tf * ((n.n_docs * 1000) // d.df) AS w
         FROM lc_tf t JOIN lc_df d USING (term) CROSS JOIN lc_n n),
lc_norm AS (SELECT doc, SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT))
                AS n2 FROM lc_w GROUP BY 1),
lc_num AS (SELECT a.doc AS doc_a, b.doc AS doc_b,
                  SUM(CAST(a.w AS HUGEINT) * CAST(b.w AS HUGEINT)) AS num
           FROM lc_w a JOIN lc_w b
             ON a.term = b.term AND a.doc < b.doc
           GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(CAST(num AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
             6) AS cosine
FROM lc_num
JOIN lc_norm na ON na.doc = doc_a
JOIN lc_norm nb ON nb.doc = doc_b
WHERE round(CAST(num AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
            6) >= CAST({float(threshold)} AS DOUBLE)"""
