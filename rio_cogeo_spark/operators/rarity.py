"""Corpus token-rarity quality scoring (the CCNet-family signal that an
LM-perplexity filter approximates: pages made of very common tokens are
boilerplate/word-salad; pages dominated by corpus-rare tokens are noise,
OCR garbage, or other-language leakage).

Per document, over the WHOLE corpus's unigram distribution:

* ``mean_tok_freq_ppb`` — the token-occurrence-weighted mean of each
  token's corpus frequency, in parts-per-billion;
* ``rare_frac_ppm`` — the fraction of the doc's token occurrences whose
  token appears ≤ 2 times corpus-wide, in parts-per-million.

All arithmetic is exact BIGINT (``div``, never float division), so both
columns hash identically on Spark and DuckDB regardless of partitioning
or summation order. Exact-integer envelope: ``cnt · 10^9`` must fit in
int64, i.e. the hottest token may occur ≤ ~9.2e9 times in the scored
corpus; score per shard (or drop the scale to ppm) beyond that — same
documented-envelope policy as :func:`search.bm25_topk`.

Scale design (100 TB):

* the per-(doc, term) ``tf`` table IS :func:`search.build_postings`'s
  output — a production pipeline materializes postings once (bucketed
  by term) and this operator, the tf-idf search, and BM25 all read it;
  computed inline here it is one explode + one map-side-combinable
  groupBy;
* the vocabulary table (term → corpus count) is a second combinable
  aggregate OVER THE POSTINGS (vocab-bounded, never corpus-bounded) and
  joins back by term — broadcast when the vocabulary fits
  (``broadcast_vocab=True``), else a co-partitioned shuffle join whose
  hot keys are harmless (the build side has exactly one row per term);
* the grand total is a 1-row broadcast aggregate — never a driver
  ``.count()``;
* the final per-doc fold shuffles the (doc, term, tf) postings, whose
  volume is already tf-collapsed — bounded by distinct terms per doc,
  not doc length.

Column names are fixed: ``doc_id``, ``text``, ``lang`` and ``url``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.search import build_postings

_PPB = 1_000_000_000
_PPM = 1_000_000
_TOKEN_RARITY_RARE_CNT = 2


def token_rarity(docs: DataFrame, broadcast_vocab: bool = True) -> DataFrame:
    """Score every document against the corpus unigram distribution.

    Returns ``(doc_id, n_tokens, mean_tok_freq_ppb, rare_frac_ppm)``;
    zero-token documents are absent (they have no distribution to
    score). Lower ``mean_tok_freq_ppb`` = rarer vocabulary; high
    ``rare_frac_ppm`` = noise/OCR-garbage candidate.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    toks = tokens_col(F.col("text"))
    tf = build_postings(docs)
    # r06 (guide §1.2): the vocab and grand-total branches each re-ran
    # the postings lineage (3 corpus explodes per query). The vocab now
    # aggregates the exploded tokens directly (one agg instead of the
    # two-level tf rollup — SUM(tf) over (term) == COUNT(*) over the
    # occurrences), and the total is the scan-only per-doc token-count
    # sum (SUM(size(tokens)) == SUM(tf): explode emits every element,
    # null-token docs contribute nothing to either side).
    vocab = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = docs.select(toks.alias("_t")).agg(
        F.sum(F.size("_t")).alias("total")
    )
    joined = (
        tf.join(F.broadcast(vocab) if broadcast_vocab else vocab, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("freq_ppb", F.expr(f"(cnt * {_PPB}) div total"))
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.expr("sum(tf * freq_ppb) div sum(tf)").alias("mean_tok_freq_ppb"),
            F.expr(
                f"(sum(CASE WHEN cnt <= {_TOKEN_RARITY_RARE_CNT} THEN tf ELSE 0 END)"
                f" * {_PPM}) div sum(tf)"
            ).alias("rare_frac_ppm"),
        )
        .select("doc_id", "n_tokens", "mean_tok_freq_ppb", "rare_frac_ppm")
    )


def token_rarity_sql() -> str:
    """DuckDB twin of :func:`token_rarity` (same exact-BIGINT formulas)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH tok AS (SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
vocab AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM vocab)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf * ((cnt * {_PPB}) // total)) // SUM(tf) AS BIGINT)
           AS mean_tok_freq_ppb,
       CAST((SUM(CASE WHEN cnt <= {_TOKEN_RARITY_RARE_CNT} THEN tf ELSE 0 END)
        * {_PPM}) // SUM(tf) AS BIGINT) AS rare_frac_ppm
FROM tf JOIN vocab USING (term) CROSS JOIN tot
GROUP BY 1"""


def lang_mix(docs: DataFrame, sep: str = "\n\n") -> DataFrame:
    """Per-document language-mix report over paragraphs — the
    mC4/CCNet mixed-language page filter: pages whose paragraphs
    disagree on language (embedded widgets, comment sections, scraped
    mashups) are low-quality for monolingual training mixes. Each
    paragraph gets the shared marker-based :func:`functions.text.lang_id`;
    the report is ``(doc_id, n_paras, n_langs, major_lang,
    major_frac_ppm)`` with the majority fraction in exact ppm ints
    (ties on the paragraph-language count break to the
    lexicographically smallest language, so results hash cross-engine).
    Blank paragraphs are ignored; docs with zero non-blank paragraphs
    are absent.

    Scale design: one explode (corpus-width but projection-only — the
    language ID is a pure JVM expression), one map-side-combinable
    count per (doc, lang), one per-doc fold whose group size is
    bounded by the language-tag cardinality; the majority pick is a
    combinable struct-min, never a per-doc window sort.
    """
    from rio_cogeo_spark.functions.text import lang_id

    pat = "\\Q" + sep + "\\E"
    paras = (
        docs.select(
            F.col("doc_id"),
            F.explode(F.split(F.col("text"), pat)).alias("para"),
        )
        .filter(F.length(F.trim(F.col("para"))) > 0)
    )
    counts = (
        paras.select(
            "doc_id", lang_id(F.col("para").alias("text")).alias("plang")
        )
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_paras"),
            F.count(F.lit(1)).alias("n_langs"),
            F.min(
                F.struct((-F.col("n")).alias("nn"), F.col("plang"))
            ).alias("best"),
        )
        .select(
            "doc_id", "n_paras", "n_langs",
            F.col("best.plang").alias("major_lang"),
            F.expr("(-best.nn * 1000000) div n_paras").alias("major_frac_ppm"),
        )
    )


def lang_mix_sql(table: str = "documents", sep: str = "\n\n") -> str:
    """DuckDB twin of :func:`lang_mix` (LANG_ID_SQL reads a column
    literally named ``text``, so the paragraph aliases to it)."""
    from rio_cogeo_spark.functions.text import LANG_ID_SQL

    sep_lit = sep.replace("'", "''")
    return rf"""
WITH paras AS (SELECT doc_id,
                      unnest(string_split(text, '{sep_lit}')) AS para
               FROM {table}),
pl AS (SELECT doc_id, {LANG_ID_SQL.replace('text', 'para')} AS plang
       FROM (SELECT doc_id, para FROM paras
             WHERE length(trim(para)) > 0)),
cnt AS (SELECT doc_id, plang, COUNT(*) AS n FROM pl GROUP BY 1, 2),
agg AS (SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_paras,
               CAST(COUNT(*) AS BIGINT) AS n_langs,
               MIN(STRUCT_PACK(nn := -n, plang := plang)) AS best
        FROM cnt GROUP BY 1)
SELECT doc_id, n_paras, n_langs,
       best.plang AS major_lang,
       CAST((-best.nn * 1000000) // n_paras AS BIGINT) AS major_frac_ppm
FROM agg"""


_BIGRAM_LM_NOVEL_CNT = 1


def bigram_lm(docs: DataFrame, broadcast_model: bool = True) -> DataFrame:
    """Bigram-LM predictability score — the conditional-probability form
    of the CCNet/Gopher LM-quality filter (:func:`token_rarity` is the
    unconditional unigram form). KenLM-style pipelines score each page
    by the perplexity of an external n-gram LM; the self-contained
    distributed analog trains the bigram model ON the corpus itself and
    scores each page against it:

    * ``pred_ppm(w1 w2) = count(w1 w2) * 10^6 div count(w1 ·)`` — the
      corpus-wide conditional frequency of the bigram given its prefix
      (an exact-integer stand-in for ``P(w2 | w1)``);
    * ``mean_pred_ppm`` — the doc's occurrence-weighted mean
      predictability (low = word-salad / OCR noise / other-language
      leakage; implausibly high = boilerplate made of frozen phrases);
    * ``novel_frac_ppm`` — the fraction of the doc's bigram occurrences
      whose bigram appears ≤ 1 times corpus-wide.

    Returns ``(doc_id, n_bigrams, mean_pred_ppm, novel_frac_ppm)``;
    docs with fewer than 2 tokens emit no row (no bigram to score).
    All arithmetic is exact BIGINT (``div`` only), so results hash
    identically across engines and partitionings. Envelope: with the
    ppm scale the hottest bigram may occur ≤ ~9.2e12 times corpus-wide
    before ``cnt * 10^6`` overflows int64 — same documented-envelope
    policy as :func:`token_rarity`.

    Scale design (100 TB): the per-(doc, bigram) tf table is one
    positional-ngram projection (zip-of-shifted-slices, O(L) per doc,
    :func:`passages.ngrams_col`) plus one map-side-combinable groupBy;
    the bigram model is TWO further aggregates over that table — both
    vocabulary-bounded, never corpus-bounded (the prefix table derives
    from the bigram-count table, not from a second corpus pass). The
    model joins back by bigram: broadcast when it fits
    (``broadcast_model=True``); with ``broadcast_model=False`` the same
    integer formulas are evaluated as TWO window aggregations over the
    exploded occurrence rows instead of materializing a model table and
    joining it back — one corpus pass (the join formulation re-derives
    the explode lineage once per model aggregate: 3 Generate nodes and
    5+ Exchanges; measured ~5x slower at sf1.0, OPTIMIZATION_r06.md).
    Window-group size is bounded by the hottest bigram's corpus count —
    flat for word bigrams; a corpus with a pathological frozen phrase
    would swap back to the join plan or salt the window key.
    """
    from rio_cogeo_spark.functions.text import tokens_col
    from rio_cogeo_spark.operators.passages import ngrams_from_tokens

    # Tokenize ONCE per row: the separate Project keeps the regex split
    # from being re-evaluated by every slice inside the n-gram zip
    # (CollapseProject leaves multi-referenced non-cheap aliases alone).
    base = docs.select(
        F.col("doc_id"), tokens_col(F.col("text")).alias("_toks")
    )
    bg = base.select(
        "doc_id", F.explode(ngrams_from_tokens(F.col("_toks"), 2)).alias("bigram")
    )

    if not broadcast_model:
        # Single-pass window plan: every bigram OCCURRENCE row picks up
        # its corpus count (cnt2, window over bigram) and its prefix
        # count (cnt1, window over w1); per-doc folds over occurrence
        # rows equal the tf-weighted folds exactly:
        #   sum_occ(pred_ppm) == sum_bigrams(tf * pred_ppm),
        #   count_occ == sum(tf).
        wb = Window.partitionBy("bigram")
        ww = Window.partitionBy("w1")
        s1 = bg.withColumn("cnt2", F.count(F.lit(1)).over(wb)).select(
            "doc_id",
            F.substring_index("bigram", " ", 1).alias("w1"),
            "cnt2",
        )
        s2 = s1.withColumn("cnt1", F.count(F.lit(1)).over(ww)).select(
            "doc_id", "cnt2",
            F.expr(f"(cnt2 * {_PPM}) div cnt1").alias("pred_ppm"),
        )
        return (
            s2.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.expr("sum(pred_ppm) div count(1)").alias("mean_pred_ppm"),
                F.expr(
                    f"(sum(CASE WHEN cnt2 <= {_BIGRAM_LM_NOVEL_CNT} THEN 1 ELSE 0 END)"
                    f" * {_PPM}) div count(1)"
                ).alias("novel_frac_ppm"),
            )
            .select("doc_id", "n_bigrams", "mean_pred_ppm", "novel_frac_ppm")
        )

    tf = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("tf"))
    bgc = tf.groupBy("bigram").agg(F.sum("tf").alias("cnt2"))
    pfx = (
        bgc.groupBy(F.substring_index("bigram", " ", 1).alias("w1"))
        .agg(F.sum("cnt2").alias("cnt1"))
    )
    model = (
        bgc.withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(pfx, "w1")
        .select(
            "bigram",
            "cnt2",
            F.expr(f"(cnt2 * {_PPM}) div cnt1").alias("pred_ppm"),
        )
    )
    joined = tf.join(F.broadcast(model), "bigram")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.expr("sum(tf * pred_ppm) div sum(tf)").alias("mean_pred_ppm"),
            F.expr(
                f"(sum(CASE WHEN cnt2 <= {_BIGRAM_LM_NOVEL_CNT} THEN tf ELSE 0 END)"
                f" * {_PPM}) div sum(tf)"
            ).alias("novel_frac_ppm"),
        )
        .select("doc_id", "n_bigrams", "mean_pred_ppm", "novel_frac_ppm")
    )


def bigram_lm_sql() -> str:
    """DuckDB twin of :func:`bigram_lm` (same positional bigram build —
    inclusive 1-based list slice, as in passages._spans_parts — and the
    same exact-BIGINT formulas)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
bg AS (SELECT doc_id,
              unnest(list_transform(
                  generate_series(1, greatest(len(toks) - 1, 0)),
                  i -> array_to_string(toks[i:i+1], ' '))) AS bigram
       FROM t),
tf AS (SELECT doc_id, bigram, COUNT(*) AS tf FROM bg GROUP BY 1, 2),
bgc AS (SELECT bigram, SUM(tf) AS cnt2 FROM tf GROUP BY 1),
pfx AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(cnt2) AS cnt1
        FROM bgc GROUP BY 1),
model AS (SELECT bigram, cnt2, (cnt2 * {_PPM}) // cnt1 AS pred_ppm
          FROM bgc JOIN pfx ON split_part(bgc.bigram, ' ', 1) = pfx.w1)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       CAST(SUM(tf * pred_ppm) // SUM(tf) AS BIGINT) AS mean_pred_ppm,
       CAST((SUM(CASE WHEN cnt2 <= {_BIGRAM_LM_NOVEL_CNT} THEN tf ELSE 0 END)
        * {_PPM}) // SUM(tf) AS BIGINT) AS novel_frac_ppm
FROM tf JOIN model USING (bigram)
GROUP BY 1"""


def collocations(
    docs: DataFrame,
    min_cnt: int = 5,
    topk: int = 100,
) -> DataFrame:
    """Corpus collocation mining — the top-``topk`` bigrams by lift
    (the exact-integer PMI analog), the signal a curation pipeline uses
    to surface boilerplate phrases, navigation chrome, and frozen
    template text ("all rights reserved", "click here to") for the
    stop-phrase list that :mod:`passages` / boilerplate filters consume.

    ``lift = P(w1 w2) / (P(w1·) · P(·w2))`` over bigram positions; in
    exact fixed point: ``lift_ppm = ((cnt2 · 10^6) div c1) · total div
    c2`` where ``c1``/``c2`` are the left/right positional marginals and
    ``total`` the corpus bigram count. The staged div order is part of
    the contract (both engines evaluate the identical expression, so
    results hash exactly; associativity is NOT assumed). Envelope:
    ``cnt2 · 10^6`` and the staged product each fit int64 up to ~9.2e12
    corpus bigrams — the documented-envelope policy of
    :func:`token_rarity`.

    Returns ``(bigram, cnt2, lift_ppm)``, ordered by ``lift_ppm`` DESC,
    ``cnt2`` DESC, ``bigram`` ASC — a total order (bigram is unique), so
    the LIMIT is deterministic. ``min_cnt`` drops hapax bigrams, whose
    lift is pure noise.

    Scale design (100 TB): everything after the first (doc-free!)
    bigram count is vocabulary-bounded — the marginals derive from the
    bigram-count table, never from a second corpus pass; the two
    marginal joins broadcast (a vocabulary table after ``min_cnt``
    pruning fits; else they are one-row-per-key shuffle joins); the
    top-k is a distributed TakeOrdered, never a full sort.
    """
    from rio_cogeo_spark.operators.passages import ngrams_col

    bgc = (
        docs.select(F.explode(ngrams_col(F.col("text"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt2"))
    )
    left = (
        bgc.groupBy(F.substring_index("bigram", " ", 1).alias("w1"))
        .agg(F.sum("cnt2").alias("c1"))
    )
    right = (
        bgc.groupBy(F.substring_index("bigram", " ", -1).alias("w2"))
        .agg(F.sum("cnt2").alias("c2"))
    )
    total = bgc.agg(F.sum("cnt2").alias("total"))
    return (
        bgc.filter(F.col("cnt2") >= int(min_cnt))
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .withColumn("w2", F.substring_index("bigram", " ", -1))
        .join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "cnt2",
            F.expr(
                f"(((cnt2 * {_PPM}) div c1) * total) div c2"
            ).alias("lift_ppm"),
        )
        .orderBy(
            F.col("lift_ppm").desc(), F.col("cnt2").desc(), F.col("bigram")
        )
        .limit(int(topk))
    )


def collocations_sql(min_cnt: int = 5, topk: int = 100) -> str:
    """DuckDB twin of :func:`collocations` (same positional bigram
    build and the same staged exact-BIGINT lift expression)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH t AS (SELECT {TOKENS_SQL} AS toks FROM documents),
bg AS (SELECT unnest(list_transform(
           generate_series(1, greatest(len(toks) - 1, 0)),
           i -> array_to_string(toks[i:i+1], ' '))) AS bigram
       FROM t),
bgc AS (SELECT bigram, COUNT(*) AS cnt2 FROM bg GROUP BY 1),
lft AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(cnt2) AS c1
        FROM bgc GROUP BY 1),
rgt AS (SELECT split_part(bigram, ' ', -1) AS w2, SUM(cnt2) AS c2
        FROM bgc GROUP BY 1),
tot AS (SELECT SUM(cnt2) AS total FROM bgc)
SELECT bigram, CAST(cnt2 AS BIGINT) AS cnt2,
       CAST((((cnt2 * {_PPM}) // c1) * total) // c2 AS BIGINT) AS lift_ppm
FROM bgc
JOIN lft ON split_part(bgc.bigram, ' ', 1) = lft.w1
JOIN rgt ON split_part(bgc.bigram, ' ', -1) = rgt.w2
CROSS JOIN tot
WHERE cnt2 >= {int(min_cnt)}
ORDER BY lift_ppm DESC, cnt2 DESC, bigram ASC
LIMIT {int(topk)}"""


_CCNET_N_BUCKETS = 3


def ccnet_buckets(docs: DataFrame, broadcast_model: bool = True) -> DataFrame:
    """CCNet-style per-language perplexity bucketing: score every page
    with the corpus bigram LM (:func:`bigram_lm`) and split each
    language into 3 equal-count bands — CCNet's
    head/middle/tail split, which downstream mixes sample from at
    different rates. NTILE over (``mean_pred_ppm`` DESC, ``doc_id``)
    gives an exact, total order, so bucket assignment is deterministic
    and hash-identical cross-engine. Returns ``(doc_id, lang,
    mean_pred_ppm, bucket, bucket_name)``; bucket 1 = most predictable
    ("head"), bucket ``n`` = least ("tail"). Docs with <2 tokens are
    absent (unscorable by a bigram LM).

    Scale design (100 TB): the LM scoring inherits
    :func:`bigram_lm`'s shape; the bucketing itself is ONE sort-based
    window partitioned by language. A hot language (half the web is
    English) makes that partition large — a production run swaps this
    exact NTILE for sampled score thresholds (the
    :func:`sampling.filter_by_group_quantile` machinery) and keeps the
    window form, used here, as the deterministic contract that
    validates the sampled path.
    """
    from pyspark.sql import Window

    scores = bigram_lm(
        docs, broadcast_model=broadcast_model,
    ).select("doc_id", "mean_pred_ppm")
    w = Window.partitionBy("lang").orderBy(
        F.col("mean_pred_ppm").desc(), F.col("doc_id")
    )
    n = _CCNET_N_BUCKETS
    return (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id")
        .withColumn("bucket", F.ntile(n).over(w))
        .withColumn(
            "bucket_name",
            F.expr(
                f"CASE WHEN bucket = 1 THEN 'head' WHEN bucket = {n} "
                f"THEN 'tail' ELSE 'middle' END"
            ),
        )
        .select("doc_id", "lang", "mean_pred_ppm", "bucket", "bucket_name")
    )


def ccnet_buckets_sql() -> str:
    """DuckDB twin of :func:`ccnet_buckets` (bigram-LM CTEs +
    the same NTILE window)."""
    lm = bigram_lm_sql().strip()
    n = _CCNET_N_BUCKETS
    return rf"""
WITH lm AS ({lm})
SELECT d.doc_id, d.lang, lm.mean_pred_ppm,
       CAST(NTILE({n}) OVER (PARTITION BY d.lang
            ORDER BY lm.mean_pred_ppm DESC, d.doc_id) AS INT) AS bucket,
       CASE WHEN NTILE({n}) OVER (PARTITION BY d.lang
            ORDER BY lm.mean_pred_ppm DESC, d.doc_id) = 1 THEN 'head'
            WHEN NTILE({n}) OVER (PARTITION BY d.lang
            ORDER BY lm.mean_pred_ppm DESC, d.doc_id) = {n} THEN 'tail'
            ELSE 'middle' END AS bucket_name
FROM documents d JOIN lm ON d.doc_id = lm.doc_id"""


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Per-document lexical diversity — the type-token-ratio family of
    quality signals (a low TTR marks keyword-stuffing / template spam;
    an implausibly high hapax share marks OCR noise and word-salad):

    * ``n_tokens`` / ``n_types`` — token occurrences and distinct
      tokens in the doc;
    * ``ttr_ppm = n_types * 10^6 div n_tokens``;
    * ``hapax_frac_ppm`` — share of the doc's TYPES that occur exactly
      once in the doc, in ppm.

    Zero-token docs are absent. Exact BIGINT throughout.

    Scale design: one explode + one map-side-combinable (doc, term)
    count + one per-doc fold — no joins, no windows; group sizes are
    bounded by per-doc vocabulary. Reuses the postings shape
    (:func:`search.build_postings`) so a pipeline that materialized
    postings pays only the final fold.
    """
    from rio_cogeo_spark.operators.search import build_postings

    tf = build_postings(docs)
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.expr(f"(count(1) * {_PPM}) div sum(tf)").alias("ttr_ppm"),
            F.expr(
                f"(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) * {_PPM})"
                f" div count(1)"
            ).alias("hapax_frac_ppm"),
        )
        .select("doc_id", "n_tokens", "n_types", "ttr_ppm", "hapax_frac_ppm")
    )


def lexical_diversity_sql() -> str:
    """DuckDB twin of :func:`lexical_diversity`."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH tok AS (SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST((COUNT(*) * {_PPM}) // SUM(tf) AS BIGINT) AS ttr_ppm,
       CAST((SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) * {_PPM})
        // COUNT(*) AS BIGINT) AS hapax_frac_ppm
FROM tf GROUP BY 1"""


def vocab_stats(docs: DataFrame) -> DataFrame:
    """Per-group corpus vocabulary report — the Heaps-law diagnostic a
    curation pipeline tracks per language/source slice (vocabulary size
    vs corpus size, singleton share): a slice whose hapax share climbs
    across snapshots is accumulating noise; one whose TTR collapses is
    accumulating boilerplate.

    Returns ``(lang, n_tokens, n_types, hapax_types, ttr_ppm,
    hapax_frac_ppm)`` in exact BIGINT.

    Scale design: one explode + one map-side-combinable (group, term)
    count + one per-group fold whose input is vocabulary-bounded
    (distinct terms per group), never corpus-bounded. No joins.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    cnt = (
        docs.select(
            F.col("lang"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cnt.groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.expr("sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)").alias(
                "hapax_types"
            ),
            F.expr(f"(count(1) * {_PPM}) div sum(cnt)").alias("ttr_ppm"),
            F.expr(
                f"(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * {_PPM})"
                f" div count(1)"
            ).alias("hapax_frac_ppm"),
        )
        .select(
            "lang", "n_tokens", "n_types", "hapax_types",
            "ttr_ppm", "hapax_frac_ppm",
        )
    )


def vocab_stats_sql() -> str:
    """DuckDB twin of :func:`vocab_stats`."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH tok AS (SELECT lang, unnest({TOKENS_SQL}) AS term FROM documents),
cnt AS (SELECT lang, term, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
SELECT lang,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS hapax_types,
       CAST((COUNT(*) * {_PPM}) // SUM(cnt) AS BIGINT) AS ttr_ppm,
       CAST((SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * {_PPM})
        // COUNT(*) AS BIGINT) AS hapax_frac_ppm
FROM cnt GROUP BY 1"""


_HOST_LANG_PURITY_MIN_DOCS = 5
_HOST_LANG_PURITY_PPM = 600_000


def host_lang_purity(pages: DataFrame) -> DataFrame:
    """Per-HOST language consistency — the CCNet-published domain
    statistic and a standard spam/farm signal: a legitimate site serves
    one dominant language; a host spraying many languages across its
    pages (machine-translated content farms, parked-domain spam,
    scraped mashups) earns a flag. The doc-level sibling is
    :func:`lang_mix` (paragraph disagreement WITHIN a page); this is
    the host rollup over the already-assigned page language.

    Returns ``(host, n_docs, n_langs, major_lang, major_frac_ppm,
    suspect)`` — majority fraction in exact ppm ints, ties to the
    lexicographically smallest language, ``suspect`` true when the
    host has at least 5 pages and the majority share falls below
    600,000 ppm (hosts under 60% dominant).

    Scale design (100 TB): one map-side-combinable count per
    (host, lang) — group cardinality is hosts x language tags, never
    pages; the majority pick is the combinable struct-min election
    (never a per-host window); no joins. DuckDB twin
    :func:`host_lang_purity_sql`.
    """
    from rio_cogeo_spark.functions.text import host_col

    counts = (
        pages.select(
            host_col(F.col("url")).alias("host"),
            F.col("lang"),
        )
        .groupBy("host", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.groupBy("host")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.min(
                F.struct((-F.col("n")).alias("nn"), F.col("lang"))
            ).alias("best"),
        )
        .select(
            "host", "n_docs", "n_langs",
            F.col("best.lang").alias("major_lang"),
            F.expr("(-best.nn * 1000000) div n_docs").alias(
                "major_frac_ppm"
            ),
            (
                (F.col("n_docs") >= F.lit(_HOST_LANG_PURITY_MIN_DOCS))
                & (
                    F.expr("(-best.nn * 1000000) div n_docs")
                    < F.lit(_HOST_LANG_PURITY_PPM)
                )
            ).alias("suspect"),
        )
    )


def host_lang_purity_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`host_lang_purity` (``pages_cte`` exposes
    ``(url, lang)``)."""
    from rio_cogeo_spark.functions.text import HOST_SQL

    return rf"""
WITH hp_in AS ({pages_cte}),
hp_cnt AS (SELECT {HOST_SQL} AS host, lang, COUNT(*) AS n
           FROM hp_in GROUP BY 1, 2),
hp_agg AS (SELECT host,
                  CAST(SUM(n) AS BIGINT) AS n_docs,
                  CAST(COUNT(*) AS BIGINT) AS n_langs,
                  MIN(STRUCT_PACK(nn := -n, lang := lang)) AS best
           FROM hp_cnt GROUP BY 1)
SELECT host, n_docs, n_langs,
       best.lang AS major_lang,
       CAST((-best.nn * 1000000) // n_docs AS BIGINT) AS major_frac_ppm,
       (n_docs >= {_HOST_LANG_PURITY_MIN_DOCS}
        AND CAST((-best.nn * 1000000) // n_docs AS BIGINT)
            < {_HOST_LANG_PURITY_PPM}) AS suspect
FROM hp_agg"""


_TREND_DAY_SEC = 86_400
_TREND_DROP_PPM = 100_000


def host_quality_trend(pages: DataFrame) -> DataFrame:
    """Per-host quality TREND across crawl days — the takeover/decay
    monitor: a host whose Gopher-gate pass rate drops sharply between
    crawl days just got parked, compromised, or template-spammed, and
    the frontier should demote it before the next fetch wave. Returns
    one row per (host, day) with ``(host, day, n_docs, pass_docs,
    pass_ppm, prev_pass_ppm, delta_ppm, degrading)`` — all exact ints;
    ``prev_pass_ppm`` is NULL on a host's first observed day, and
    ``degrading`` flags ``delta_ppm <= -100000`` (a 10-point
    pass-rate drop).

    Scale design (100 TB): the per-doc Gopher mask is a zero-Exchange
    projection (functions/text.gopher_gate); the (host, day) fold is
    ONE map-side-combinable aggregation whose key cardinality is
    hosts x crawl days, never pages; the trend lag is a window over
    host partitions ORDERED BY DAY — group size = observed crawl days
    per host (crawl cadence), never page count. DuckDB twin
    :func:`host_quality_trend_sql`.
    """
    from rio_cogeo_spark.functions.text import gopher_gate, host_col

    gg = gopher_gate(F.col("text"))
    per_day = (
        pages.select(
            host_col(F.col("url")).alias("host"),
            F.expr(f"ts_sec div {_TREND_DAY_SEC}").alias("day"),
            gg["gopher_pass"].cast("long").alias("p"),
        )
        .groupBy("host", "day")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("p").alias("pass_docs"),
        )
        .select(
            "host", "day", "n_docs", "pass_docs",
            F.expr("(pass_docs * 1000000) div n_docs").alias("pass_ppm"),
        )
    )
    w = Window.partitionBy("host").orderBy("day")
    return (
        per_day.withColumn("prev_pass_ppm", F.lag("pass_ppm").over(w))
        .withColumn(
            "delta_ppm", F.col("pass_ppm") - F.col("prev_pass_ppm")
        )
        .withColumn(
            "degrading",
            F.coalesce(
                F.col("delta_ppm") <= F.lit(-_TREND_DROP_PPM), F.lit(False)
            ),
        )
    )


def host_quality_trend_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`host_quality_trend` (``pages_cte`` exposes
    ``(url, ts_sec, text)``)."""
    from rio_cogeo_spark.functions.text import HOST_SQL, gopher_gate_sql

    gp = gopher_gate_sql()["gopher_pass"]
    return rf"""
WITH hq_in AS ({pages_cte}),
hq_doc AS (SELECT {HOST_SQL} AS host,
                  ts_sec // {_TREND_DAY_SEC} AS day,
                  CASE WHEN {gp} THEN 1 ELSE 0 END AS p
           FROM hq_in),
hq_day AS (SELECT host, day,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(p) AS BIGINT) AS pass_docs
           FROM hq_doc GROUP BY 1, 2),
hq_ppm AS (SELECT host, day, n_docs, pass_docs,
                  CAST((pass_docs * 1000000) // n_docs AS BIGINT)
                      AS pass_ppm
           FROM hq_day),
hq_lag AS (SELECT *,
                  lag(pass_ppm) OVER (PARTITION BY host ORDER BY day)
                      AS prev_pass_ppm
           FROM hq_ppm)
SELECT host, day, n_docs, pass_docs, pass_ppm, prev_pass_ppm,
       pass_ppm - prev_pass_ppm AS delta_ppm,
       COALESCE(pass_ppm - prev_pass_ppm <= -{_TREND_DROP_PPM}, FALSE)
           AS degrading
FROM hq_lag"""
