"""Streaming trending-term counts over a crawl/document stream.

The streaming form of ``operators/search.trending_terms``: watermarked
event-time windows over the token stream, one count row per
(window, term). Spark-first: explode + windowed groupBy-count — the
standard watermarked streaming aggregation; state per (window, term)
is dropped once the watermark passes the window end, so state size is
(windows in flight) × (window vocabulary), never stream length.

The streaming product is the COUNT table — the per-window top-k rank is
the consumer's final (and cheap) step over each CLOSED window, exactly
as the batch operator computes it over the count table; a rank inside
the streaming aggregation is not expressible in append mode (Spark
forbids windows over un-finalized aggregates, for the right reason:
ranks over open windows would be retracted). streaming==batch counts
are asserted at two micro-batch sizes in tests/test_round5.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import tokens_col


def trending_counts_stream(
    docs: DataFrame,
    window_sec: int = 3600,
    watermark_sec: int = 3600,
) -> DataFrame:
    """Watermarked per-window term counts ``(window_start, term, n)``.
    ``window_start`` matches the batch operator's exact integer
    bucketing (epoch seconds floor-divided by ``window_sec``)."""
    with_ts = docs.withColumn(
        "__evt", F.col("ts_sec").cast("timestamp")
    ).withWatermark("__evt", f"{int(watermark_sec)} seconds")
    tok = with_ts.select(
        "__evt", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    win = F.window("__evt", f"{int(window_sec)} seconds")
    return (
        tok.groupBy(win.alias("w"), "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"), "term", "n"
        )
    )
