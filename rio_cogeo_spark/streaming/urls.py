"""Streaming keep-latest per canonical URL over a crawl stream.

The streaming form of ``operators/dedup.url_dedup_latest``: as crawl
snapshots arrive, maintain one row per canonical URL holding the newest
snapshot seen so far. Spark-first: this is a plain streaming
aggregation — ``groupBy(canon_url).agg(max_by(...))`` — not custom
state code; the state store row per key IS the output row, so state
size equals the live-URL-set size (exactly the product being
maintained, the same bound a batch dedup table has). RocksDB-backed
state at cluster scale.

Output mode is the caller's choice: ``update`` emits only re-crawled
URLs each micro-batch (the upsert-sink production shape — sink volume
is re-crawl rate, not URL-set size); ``complete`` re-emits the whole
table (test/debug only). Both are asserted equal to the batch operator
in tests/test_round5.py at two micro-batch sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import canonical_url


def url_latest_stream(pages: DataFrame) -> DataFrame:
    """Continuously-maintained keep-latest per canonical URL.

    Same canonicalization and (ts, doc_id) ordering as the batch
    ``url_dedup_latest``, so a batch backfill and the stream converge to
    the identical table. Returns ``(canon_url, doc_id, ts, n_snapshots)``
    with ``n_snapshots`` counting every snapshot observed for the URL
    (monotonically increasing across updates)."""
    ordk = F.struct(F.col("ts_sec"), F.col("doc_id"))
    return (
        pages.select(
            canonical_url(F.col("url")).alias("canon_url"),
            "doc_id",
            F.col("ts_sec"),
        )
        .groupBy("canon_url")
        .agg(
            F.max_by(F.struct(F.col("doc_id"), F.col("ts_sec")), ordk).alias(
                "kept"
            ),
            F.count(F.lit(1)).alias("n_snapshots"),
        )
        .select(
            "canon_url",
            F.col("kept.doc_id").alias("doc_id"),
            F.col("kept.ts_sec").alias("ts_sec"),
            "n_snapshots",
        )
    )
