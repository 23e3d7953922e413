"""Streaming exact-dedup over a document/page stream.

The batch dedup suite (operators/dedup.py) assumes a closed corpus; a
crawl is open-ended, so the streaming form keeps the *first-seen* copy
of each content fingerprint and drops later arrivals. State is bounded
by the watermark: a fingerprint older than the delay is evicted, which
is the right trade for crawl streams (true dups arrive close together —
mirror fetches, retry storms), and re-crawls beyond the horizon are
usually *wanted* as fresh snapshots.

Spark-first: ``dropDuplicatesWithinWatermark`` is the built-in stateful
operator for exactly this (RocksDB-backed state at cluster scale, state
eviction by event time). No custom state code needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import fingerprint


def dedup_stream(docs: DataFrame) -> DataFrame:
    """First-seen exact dedup of a streaming DataFrame by content
    fingerprint (md5 of the normalized text — the same fingerprint the
    batch ``exact_dedup`` uses, so a batch backfill and the stream agree
    on what counts as a duplicate).

    State per key is dropped once the watermark passes 1 hour beyond
    its event time, so memory is bounded by (dup-arrival horizon ×
    ingest rate), not stream length.
    """
    return (
        docs.withColumn("fp", fingerprint(F.col("text")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fp"])
    )
