"""Repeated-passage detection — corpus-level exact substring dedup.

"Deduplicating Training Data Makes Language Models Better" (Lee et al.,
ACL 2022) shows that removing *passages* repeated across a corpus (not
just whole-document dups) measurably improves models. Their tool builds
a monolithic suffix array — inherently single-machine. The
Spark-native equivalent used here: a passage repeated verbatim
somewhere else in the corpus is a run of token n-grams whose hashes
each occur >= min_count times corpus-wide. Finding those is pure
DataFrame algebra:

  1. one O(L) pass builds each doc's positional n-gram array
     (zip-of-shifted-slices — no per-element re-tokenize), posexplode
     to (doc, pos, md5(gram));
  2. groupBy(hash) count — the ONLY corpus-wide shuffle, map-side
     combinable, key space = distinct n-grams;
  3. hot hashes (count >= min_count) join back to (doc, pos, hash) —
     the hot set is tiny relative to the corpus (Zipf), so Spark
     broadcasts it and the corpus side never shuffles for the join;
  4. per-doc window merges hit positions closer than ``n`` tokens into
     maximal spans (gaps under one n-gram length are the same passage).

Every step is integer/md5 arithmetic, so the spans are bit-identical on
any engine — the DuckDB twin (:func:`repeated_ngram_spans_sql`) is
exact. A span row ``(doc_id, span_start, span_end, n_hits)`` is the cut
list a cleaning pipeline applies before packing.

Scale: step 2's cardinality is the corpus's distinct-n-gram count —
the same class as the inverted-index postings build (search.py), the
standard web-scale shape. min_count thresholding is the df_cap analog:
raising it shrinks the hot set linearly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rio_cogeo_spark.functions.text import tokens_col


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Positional n-gram array from an ALREADY-TOKENIZED column.

    ``toks`` should be a plain column reference (a token array
    materialized by a prior Project): the expression references it
    n + 1 times (n slices + the size guard), so passing the tokenizer
    expression itself re-runs the regex split n + 1 times per row —
    the dominant cost of every n-gram pipeline stage (measured r06:
    the corpus shingle explode dropped ~2x at sf1.0 when the split
    became a materialized column). :func:`ngrams_col` keeps the
    text-input signature for call sites where the extra evaluations
    don't matter (hot paths tokenize first and call this)."""
    m = F.size(toks) - (n - 1)
    gram = F.slice(toks, F.lit(1), m)
    for j in range(1, n):
        gram = F.zip_with(
            gram,
            F.slice(toks, F.lit(1 + j), m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(toks) >= n, gram).otherwise(
        F.array().cast("array<string>")
    )


def ngrams_col(text: Column, n: int) -> Column:
    """Positional (non-distinct) word n-gram array: element i is the
    n-gram starting at token i. Zip-of-shifted-slices — O(L) total.
    Docs shorter than n tokens yield an empty array. NOTE: evaluates
    the tokenizer n + 1 times per row — hot paths should materialize
    ``tokens_col`` in a Project and use :func:`ngrams_from_tokens`."""
    return ngrams_from_tokens(tokens_col(text), n)


def repeated_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    broadcast_hot: "bool | str" = "auto",
) -> DataFrame:
    """Maximal per-document spans of corpus-repeated n-grams.

    Output: ``(doc_id, span_start, span_end, n_hits)`` — token
    positions, end exclusive (``span_end = last hit pos + n``),
    ``n_hits`` = repeated n-grams merged into the span. A doc with no
    repeated passage emits no rows.

    ``broadcast_hot``: at min_count=2 on a Zipf web corpus the
    hot-n-gram set is NOT broadcast-sized (billions of distinct
    repeated n-grams at 100 TB), so the DEFAULT is ``'auto'``: count
    the hot set (one aggregate over counts the plan computes anyway)
    and broadcast only when it is at or under
    5,000,000 rows; a too-big hot set falls back to the
    shuffle join instead of a broadcast OOM. Pass ``True``/``False``
    to force a strategy; results are identical either way
    (pytest-asserted) — only the join plan changes.

    Cost note: ``'auto'`` runs one extra eager job (the hot-set count)
    and pins the hot set with ``persist(MEMORY_AND_DISK)`` so the count
    and the join share one computation. An explicit ``True``/``False``
    skips both the extra job and the pin entirely — use that on jobs
    where the caller already knows the hot-set size class.
    """
    if n < 1 or min_count < 2:
        raise ValueError("need n >= 1 and min_count >= 2")
    grams = docs.select(
        F.col("doc_id"),
        F.posexplode(ngrams_col(F.col("text"), n)).alias("pos", "gram"),
    ).select("doc_id", "pos", F.md5(F.encode(F.col("gram"), "utf-8")).alias("h"))

    hot = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    if broadcast_hot == "auto":
        # persist (spillable, recomputable on executor loss) rather than
        # localCheckpoint: the pin only exists so the size probe and the
        # join share one computation, and a lost block must be
        # recomputable on a long-running cluster job (ADVICE r4)
        from pyspark.storagelevel import StorageLevel

        hot = hot.persist(StorageLevel.MEMORY_AND_DISK)
        broadcast_hot = hot.count() <= 5_000_000
    hot = F.broadcast(hot) if broadcast_hot else hot
    hits = grams.join(hot, "h").select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "new_span",
        F.when(
            F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("doc_id", "span_id").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + n).cast("long").alias("span_end"),
        F.count(F.lit(1)).alias("n_hits"),
    ).drop("span_id")


def cut_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Apply a :func:`repeated_ngram_spans` cut list: drop every token
    covered by a span, rebuild whitespace-normalized text. Output:
    ``(doc_id, clean_text, n_tokens_removed)``.

    Plan: spans aggregate to one small per-doc cut array (collect_list
    is order-nondeterministic, but span membership is a set predicate —
    order never matters), equi-join back, then one higher-order
    ``filter``/``exists`` projection — JVM expressions, no UDF. Applies
    the given list verbatim; a keep-one-copy policy is a selection on
    the spans table before calling this (the cut list is data, not
    policy).
    """
    cuts = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("cuts")
    )
    joined = docs.join(cuts, "doc_id", "left").withColumn(
        "cuts",
        F.coalesce(F.col("cuts"), F.array().cast("array<struct<s:long,e:long>>")),
    )
    toks = tokens_col(F.col("text"))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("cuts"), lambda c: (i >= c["s"]) & (i < c["e"])
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


def _spans_parts(table: str, n: int, min_count: int) -> tuple[str, str]:
    """(CTE chain, final SELECT) of the DuckDB spans pipeline — split so
    :func:`cut_spans_sql` can keep composing CTEs after the chain."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    ctes = rf"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM {table}),
g AS (SELECT doc_id,
             unnest(list_transform(
                 generate_series(1, greatest(len(toks) - {n - 1}, 0)),
                 i -> {{'pos': i - 1,
                        'h': md5(array_to_string(toks[i:i+{n - 1}], ' '))}}))
               AS pg
      FROM t),
e AS (SELECT doc_id, pg.pos AS pos, pg.h AS h FROM g),
hot AS (SELECT h FROM e GROUP BY h HAVING COUNT(*) >= {min_count}),
hits AS (SELECT doc_id, pos FROM e JOIN hot USING (h)),
f AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER w <= {n} THEN 0 ELSE 1 END
               AS new_span
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
s AS (SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_id
      FROM f)"""
    final = rf"""SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {n} AS BIGINT) AS span_end,
       COUNT(*) AS n_hits
FROM s GROUP BY doc_id, span_id"""
    return ctes, final


def repeated_ngram_spans_sql(table: str = "documents", n: int = 8) -> str:
    """DuckDB twin of :func:`repeated_ngram_spans` (same hash, same
    merge rule — bit-identical spans)."""
    ctes, final = _spans_parts(table, n, 2)
    return f"{ctes}\n{final}"


def cut_spans_sql(table: str = "documents", n: int = 8) -> str:
    """DuckDB twin of the spans → :func:`cut_spans` composition (same
    tokenizer, same 0-based span predicate — bit-identical text)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    ctes, final = _spans_parts(table, n, 2)
    return rf"""{ctes},
spans AS ({final}),
cuts AS (SELECT doc_id, list({{'s': span_start, 'e': span_end}}) AS cuts
         FROM spans GROUP BY doc_id),
src AS (SELECT d.doc_id, {TOKENS_SQL} AS toks,
               coalesce(c.cuts, []) AS cuts
        FROM {table} d LEFT JOIN cuts c USING (doc_id)),
k AS (SELECT doc_id, toks,
             list_filter(toks, (x, i) ->
               NOT len(list_filter(cuts,
                     c -> (i - 1) >= c.s AND (i - 1) < c.e)) > 0) AS kept
      FROM src)
SELECT doc_id,
       -- DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
       coalesce(array_to_string(kept, ' '), '') AS clean_text,
       CAST(len(toks) - len(kept) AS BIGINT) AS n_tokens_removed
FROM k"""
