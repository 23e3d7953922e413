"""Streaming tile ingestion: the pyramid's base level as a continuous
query (north_star adjacency — the reference's one-shot `cog_translate`
run as a watermarked Structured Streaming rollup over arriving pages).

The tile-assignment expression is stateless, so it runs unchanged inside
a streaming plan; the per-tile aggregation becomes a watermarked
tumbling-window groupBy. Late pages beyond the watermark are dropped
exactly as a batch re-run would re-place them — the batch twin
(:func:`tile_rollup_batch`) is the correctness oracle in tests.

At cluster scale this is the ingest path: stream → windowed base tiles →
periodic overview rebuild from the base level (the overview chain is a
batch job over the committed base table; overviews need *merged* windows,
not per-trigger increments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.translate import assign_tiles
from rio_cogeo_spark.synth import pages_select

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
WINDOW = "1 hour"  # shared by tile_rollup and its batch twin


def read_pages_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming pages source: stream the documents parquet and apply the
    SAME deterministic pages derivation as the batch path (streaming temp
    view + the shared SQL text), with ``warc_ts`` as event time."""
    docs = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    docs.createOrReplaceTempView("documents")
    pages = spark.sql(pages_select("STRING"))
    return pages.withColumn("warc_ts", F.timestamp_seconds(F.col("ts_sec")))


def tile_rollup(pages: DataFrame, zoom: int) -> DataFrame:
    """Watermarked per-window base-tile aggregation over a streaming (or
    batch) pages frame carrying ``warc_ts`` event time."""
    assigned = assign_tiles(pages, zoom)
    return (
        assigned.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", WINDOW).alias("w"), "tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_sec"),
            "tile_x",
            "tile_y",
            "page_count",
            "sum_chars",
        )
    )


def tile_rollup_batch(pages: DataFrame, zoom: int) -> DataFrame:
    """Batch twin of :func:`tile_rollup` (same plan minus watermark)."""
    assigned = assign_tiles(pages, zoom)
    return (
        assigned.groupBy(F.window("warc_ts", WINDOW).alias("w"), "tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_sec"),
            "tile_x",
            "tile_y",
            "page_count",
            "sum_chars",
        )
    )
