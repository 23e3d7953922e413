"""Zonal majority (mode) statistics — the categorical companion to
``join.zonal_stats`` (SURVEY.md §2.3 J4; GDAL's zonal-majority /
``rasterstats`` ``majority`` semantics over the reference's per-window
read loop, cogeo.py:371-379): per polygon zone, the most frequent class
value with exact counts and an exact-ppm share.

Determinism contract: ties break to the LEXICOGRAPHICALLY SMALLEST
class, so the pick is total-ordered and hash-identical cross-engine;
the share is exact integer ppm (``mode_count*1e6 div zone_count``).

Scale design (100 TB): the PIP join is the existing broadcast
interior-cell shortcut (operators/join.py — the polygon table
broadcasts, pages never shuffle for the join); the per-(zone, class)
count is map-side combinable, and the majority pick is a combinable
``MIN(struct(-n, class))`` over the zone-bounded count table — never a
per-zone row_number window, so a continent-sized zone costs one partial
aggregate, not a sort of its class list (the paragraph_dedup /
dedup_keep_best skew rule).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.join import (
    PREFILTER_ZOOM,
    AdminArea,
    point_in_polygon,
)


def zonal_mode(pages: DataFrame, areas: List[AdminArea]) -> DataFrame:
    """Per-zone majority class: ``(admin_id, mode_class, mode_count,
    zone_count, mode_ppm)`` for every zone containing at least one
    page."""
    hits = point_in_polygon(pages, areas, PREFILTER_ZOOM, how="inner")
    counts = hits.groupBy("admin_id", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    picked = counts.groupBy("admin_id").agg(
        F.min(
            F.struct(
                (-F.col("n")).alias("neg_n"), F.col("lang").alias("cls")
            )
        ).alias("m"),
        F.sum("n").alias("zone_count"),
    )
    return picked.select(
        "admin_id",
        F.col("m.cls").alias("mode_class"),
        (-F.col("m.neg_n")).cast("long").alias("mode_count"),
        F.col("zone_count").cast("long").alias("zone_count"),
        F.expr("((-m.neg_n) * 1000000) div zone_count").alias("mode_ppm"),
    )


def nearest_zone(pages: DataFrame, areas: List[AdminArea]) -> DataFrame:
    """Nearest-facility assignment — every page labeled with its nearest
    zone CENTER by squared lon/lat euclid (the kNN distance contract,
    pure arithmetic — oracle-exact), ties to the smallest admin_id: the
    reverse of the kNN join (there, few queries find near pages; here,
    every page finds its zone), the classification step behind
    "attribute each crawl page to its metro".

    Scale design (100 TB): the zone centers ship as a PLAN LITERAL
    struct array and the argmin is ``array_min`` over a per-row
    ``transform`` — a zero-shuffle, zero-join projection over the
    corpus scan (the domain-blocklist literal-path discipline).

    Output ``(doc_id, admin_id, dist2)`` with dist2 rounded at 9dp.
    """
    if not areas:
        raise ValueError("areas must be non-empty")
    cands = F.array(*[
        F.struct(
            (
                (F.col("lat") - F.lit(sum(a.ring_lat[:4]) / 4.0))
                * (F.col("lat") - F.lit(sum(a.ring_lat[:4]) / 4.0))
                + (F.col("lon") - F.lit(sum(a.ring_lon[:4]) / 4.0))
                * (F.col("lon") - F.lit(sum(a.ring_lon[:4]) / 4.0))
            ).alias("d2"),
            F.lit(a.admin_id).alias("admin_id"),
        )
        for a in areas
    ])
    best = F.array_min(cands)
    return pages.select(
        F.col("doc_id"),
        best["admin_id"].alias("admin_id"),
        F.round(best["d2"], 9).alias("dist2"),
    )
