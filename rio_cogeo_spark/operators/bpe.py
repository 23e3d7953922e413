"""One BPE merge round over the corpus — the tokenizer-induction
primitive (Sennrich et al., "Neural Machine Translation of Rare Words
with Subword Units"): count adjacent CHARACTER pairs and return the
top-k merge candidates. A full BPE trainer iterates this; the single
round is the distributed building block (re-run after applying each
merge to the vocab).

Scale design (100 TB) — the classic BPE trick, distributed:

* pair counts are computed over the WORD-FREQUENCY table, never the
  corpus: one corpus-wide explode → map-side-combinable groupBy gives
  ``(word, n_w)`` (vocab-bounded — a 100 TB web corpus has a vocabulary
  orders of magnitude smaller than its token stream);
* each vocab word then expands to its ``len-1`` character bigrams
  weighted by ``n_w`` — a projection over the tiny vocab table, so the
  expensive explode touches |vocab| rows, not |corpus| tokens;
* the final count is again map-side combinable and the top-k is a
  distributed TakeOrdered, never a global sort.

All counts are exact BIGINT; ties break on the pair string ascending,
so results hash identically on Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import tokens_col


def bpe_merge_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Top-k adjacent character pairs by corpus occurrence count (the
    next BPE merges). Words shorter than 2 characters contribute no
    pairs. Returns ``(pair, n, rank)`` with ``n`` = total occurrences
    across the corpus (weighted by word frequency, as BPE counts)."""
    vocab = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .filter(F.length("word") >= 2)
    )
    pairs = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "n_w",
    )
    counts = pairs.groupBy("pair").agg(F.sum("n_w").alias("n"))
    topk = counts.orderBy(F.desc("n"), F.asc("pair")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return topk.withColumn("rank", F.row_number().over(w))


def bpe_merge_topk_sql(k: int = 50) -> str:
    """DuckDB twin of :func:`bpe_merge_topk` (same vocab-first shape)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH tok AS (SELECT unnest({TOKENS_SQL}) AS word FROM documents),
vocab AS (SELECT word, COUNT(*) AS n_w FROM tok
          GROUP BY 1 HAVING length(word) >= 2),
pairs AS (SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                       i -> substr(word, i, 2))) AS pair,
                 n_w
          FROM vocab),
counts AS (SELECT pair, CAST(SUM(n_w) AS BIGINT) AS n
           FROM pairs GROUP BY 1),
topk AS (SELECT pair, n FROM counts ORDER BY n DESC, pair LIMIT {k})
SELECT pair, n,
       CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank
FROM topk"""
