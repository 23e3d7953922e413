"""Streaming spatial crawl frontier — the incremental form of
``operators/report.cell_novelty``: which grid cells has the crawl EVER
touched, and when was each first seen.

Spark-first: a keyed ``min(event_time)`` aggregation in UPDATE output
mode is the whole operator — min is commutative and associative, so the
result is INDEPENDENT of micro-batch arrival order (unlike a
``dropDuplicates`` first-processed contract), and the last emission per
cell is the final first-seen time.  State is one timestamp per
ever-occupied cell — the same cardinality the batch operator's
``(cell, min_ts)`` fold materializes, RocksDB-backed on a cluster; a
production deployment bounds it with a state-TTL config the same way
the dedup horizon is bounded (streaming/dedup.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.translate import assign_tiles


def frontier_stream(pages: DataFrame, zoom: int) -> DataFrame:
    """First-seen time per grid cell over a streaming pages frame:
    ``(tile_x, tile_y, first_ts)``, update output mode (each micro-batch
    emits only cells whose min improved; the last emission per cell is
    final).  Drive with ``run_stream_to_memory(..., "update")`` and
    reduce by min per cell, or sink to an upsert table keyed on the
    cell."""
    assigned = assign_tiles(pages, zoom)
    return assigned.groupBy("tile_x", "tile_y").agg(
        F.min(F.col("ts_sec").cast("long")).alias("first_ts")
    )


def frontier_batch(pages: DataFrame, zoom: int) -> DataFrame:
    """Batch twin of :func:`frontier_stream` — identical plan on a
    static frame."""
    assigned = assign_tiles(pages, zoom)
    return assigned.groupBy("tile_x", "tile_y").agg(
        F.min(F.col("ts_sec").cast("long")).alias("first_ts")
    )
