"""Streaming benchmark-contamination over a document/page stream.

The batch operator (operators/contamination.py) checks a closed corpus
against an evaluation benchmark; a crawl is open-ended, and the
benchmark is exactly the shape streaming handles best as STATIC state:
a small, fixed table broadcast to every micro-batch (a stream-static
inner join is stateless on the stream side — no streaming state at
all). Per-document hit counts then fold in a watermarked tumbling
window, so the only stateful operator is a bounded windowed aggregation
whose key cardinality is |contaminated docs per window|, never corpus
size.

Spark-first: `stream.join(static)` + `withWatermark` + windowed groupBy
are all built-ins; there is no custom state code. The shingle formula is
shared with the batch operator, so a batch backfill and the stream agree
on what counts as a contaminated document (streaming==batch is
pytest-asserted at two micro-batch sizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.dedup import shingles_col

# shingle length and tumbling window, shared by the stream and its batch twin
SHINGLE_N = 3
WINDOW = "1 hour"


def contamination_stream(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Per-window, per-document count of distinct word n-grams shared
    with any benchmark document, over a streaming corpus. Output:
    ``(window_sec, doc_id, n_hits)`` with ``n_hits >= 1`` — the
    streaming twin of ``contamination_hits`` with a window column.

    ``benchmark`` is a BATCH DataFrame (the static side); its distinct
    shingle set is broadcast, so each micro-batch is one stateless
    projection + broadcast join before the windowed fold.
    """
    bench_sh = (
        benchmark.select(
            F.explode(shingles_col(F.col("text"), SHINGLE_N)).alias("shingle")
        )
        .distinct()
    )
    corpus_sh = (
        corpus.withWatermark("ts", "2 hours")
        .select(
            F.col("doc_id"),
            F.col("ts"),
            F.explode(shingles_col(F.col("text"), SHINGLE_N)).alias("shingle"),
        )
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle", "inner")
        .groupBy(F.window("ts", WINDOW).alias("w"), "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_sec"),
            "doc_id",
            "n_hits",
        )
    )


def contamination_batch_windowed(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Batch twin of :func:`contamination_stream` (same plan minus the
    watermark) — the streaming==batch assertion target."""
    bench_sh = (
        benchmark.select(
            F.explode(shingles_col(F.col("text"), SHINGLE_N)).alias("shingle")
        )
        .distinct()
    )
    corpus_sh = corpus.select(
        F.col("doc_id"),
        F.col("ts"),
        F.explode(shingles_col(F.col("text"), SHINGLE_N)).alias("shingle"),
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle", "inner")
        .groupBy(F.window("ts", WINDOW).alias("w"), "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_sec"),
            "doc_id",
            "n_hits",
        )
    )
