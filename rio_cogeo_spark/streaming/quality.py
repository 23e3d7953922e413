"""Streaming quality-gate monitoring: the live dashboard a crawl ingest
runs beside the batch pipeline — per tumbling window, how much of the
incoming page stream passes the Gopher gate, and which rules are doing
the killing.

Stateless per-row scoring (:func:`functions.text.gopher_gate` is a pure
projection, so it lifts onto a stream unchanged) + a watermarked
windowed fold. Per-rule kill counts come from the fail BITMASK — six
conditional sums, all map-side combinable, so the state store holds one
row per (window) with seven counters, never pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import gopher_gate

PAGES_SCHEMA = (
    "doc_id long, url string, text string, lang string, n_chars long, "
    "ts_sec long"
)
# tumbling window and late-data watermark, shared by each stream/batch twin
WINDOW = "6 hours"
WATERMARK = "12 hours"


def _gate_rates_agg(scored: DataFrame, windowed_key) -> DataFrame:
    aggs = [
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.when(F.col("gopher_mask") == 0, 1).otherwise(0)).alias(
            "n_pass"
        ),
    ]
    for bit in range(6):
        aggs.append(
            F.sum(
                F.when(F.col("gopher_mask").bitwiseAND(1 << bit) != 0, 1)
                .otherwise(0)
            ).alias(f"kill_bit{bit}")
        )
    return (
        scored.groupBy(windowed_key)
        .agg(*aggs)
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_sec"),
            "n_pages", "n_pass",
            F.expr("(n_pass * 1000000) div n_pages").alias("pass_ppm"),
            *[f"kill_bit{b}" for b in range(6)],
        )
    )


def _score(pages: DataFrame) -> DataFrame:
    gg = gopher_gate(F.col("text"))
    return pages.select(
        F.col("ts_sec").cast("timestamp").alias("ts"),
        gg["gopher_mask"].alias("gopher_mask"),
    )


def gate_rates(pages_stream: DataFrame) -> DataFrame:
    """Watermarked streaming form: ``(win_sec, n_pages, n_pass,
    pass_ppm, kill_bit0..kill_bit5)`` per tumbling window."""
    scored = _score(pages_stream).withWatermark("ts", WATERMARK)
    return _gate_rates_agg(scored, F.window("ts", WINDOW).alias("w"))


def gate_rates_batch(pages: DataFrame) -> DataFrame:
    """Batch twin of :func:`gate_rates` (same plan minus watermark) —
    the equality target for the streaming test."""
    return _gate_rates_agg(
        _score(pages), F.window("ts", WINDOW).alias("w")
    )


# ---------------------------------------------------------------------------
# Host-keyed variant — the per-domain live monitor
# ---------------------------------------------------------------------------


def _host_score(pages: DataFrame) -> DataFrame:
    from rio_cogeo_spark.functions.text import host_col

    gg = gopher_gate(F.col("text"))
    return pages.select(
        F.col("ts_sec").cast("timestamp").alias("ts"),
        host_col(F.col("url")).alias("host"),
        gg["gopher_mask"].alias("gopher_mask"),
    )


def _host_gate_agg(scored: DataFrame, windowed_key) -> DataFrame:
    return (
        scored.groupBy(windowed_key, "host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(
                F.when(F.col("gopher_mask") == 0, 1).otherwise(0)
            ).alias("n_pass"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_sec"),
            "host", "n_pages", "n_pass",
            F.expr("(n_pass * 1000000) div n_pages").alias("pass_ppm"),
        )
    )


def host_gate_rates(pages_stream: DataFrame) -> DataFrame:
    """Per-(window, HOST) streaming Gopher pass rate — the live form of
    :func:`~rio_cogeo_spark.operators.rarity.host_quality_trend`: the
    ingest dashboard that pages a crawl operator when a specific
    domain's quality collapses mid-crawl, hours before the next batch
    trend job would see it. State = one 2-counter row per (window,
    host) — bounded by active hosts per window, never pages; the fold
    is map-side combinable and the watermark expires closed windows so
    state does not grow with crawl age."""
    scored = _host_score(pages_stream).withWatermark("ts", WATERMARK)
    return _host_gate_agg(scored, F.window("ts", WINDOW).alias("w"))


def host_gate_rates_batch(pages: DataFrame) -> DataFrame:
    """Batch twin of :func:`host_gate_rates` — the equality target for
    the streaming==batch test."""
    return _host_gate_agg(_host_score(pages), F.window("ts", WINDOW).alias("w"))
