"""Incremental pyramid maintenance — update a stored tile pyramid with a
page delta WITHOUT re-reading the corpus.

The reference rebuilds a COG whole (cogeo.py cog_translate is a
one-shot file translation). At 10^12 pages the daily reality is a small
crawl delta against a huge stored pyramid, and the pyramid's band
algebra already makes the incremental path EXACT: every fold-safe merge
(sum / min / max / HLL-union) is associative and commutative, so

    pyramid(all pages) == merge(pyramid(old pages), pyramid(delta))

holds bit-for-bit, per level, per tile — asserted by the
``pyramid_update`` contract query whose DuckDB oracle recomputes the
FULL pyramid from scratch.

Scale design (100 TB): :func:`pyramid_delta` touches only the delta
pages (one base agg + the usual per-level/folded shuffles over the
DELTA's tile counts); :func:`pyramid_merge` is ONE union + hash
aggregate whose input is bounded by |stored tiles| + |delta tiles| —
grid-bounded (<= 4^zoom per level), never page-bounded. The stored side
streams from its table (an Iceberg snapshot per level is the checkpoint
— SURVEY.md §7 step 4); the corpus is never re-scanned. A join-based
variant touching only the parents of changed tiles would move even
fewer rows, but the union+re-agg is a single exchange with map-side
combine and handles brand-new tiles with no special case.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame

from rio_cogeo_spark import grid
from rio_cogeo_spark.errors import IncompatibleOptions
from rio_cogeo_spark.operators.translate import (
    FOLD_SAFE_MERGES,
    BandSpec,
    _merge_aggs,
    cog_translate,
    default_bands,
)


def _assert_mergeable(bands: List[BandSpec]) -> None:
    """Merging two pyramids is exact only for the fold-safe merges; an
    avg/rms merge would weight both sides equally whatever their counts."""
    bad = [s.name for s in bands if s.merge not in FOLD_SAFE_MERGES]
    if bad:
        raise IncompatibleOptions(
            f"bands {bad} are not incrementally mergeable (merge must be "
            f"one of {sorted(FOLD_SAFE_MERGES)}); carry sum+count and derive the "
            "ratio at read time instead"
        )


def pyramid_delta(
    new_pages: DataFrame,
    max_zoom: int,
    overview_level: int,
    bands: Optional[List[BandSpec]] = None,
) -> DataFrame:
    """Full per-level pyramid of ONLY the delta pages.

    Same schema as the stored pyramid (``zoom, tile_x, tile_y,
    <bands>``), same levels — merge-ready. Guards that every band is
    mergeable up front, so a non-mergeable band fails here rather than
    silently corrupting the merge.

    An EMPTY delta raises the same ``ValueError`` as ``cog_translate``
    ("cannot plan a tile job over an empty pages table") — an
    incremental pipeline skips the merge for an empty day (and
    :func:`pyramid_merge` itself is an exact identity under an empty
    delta-tiles frame, pytest-asserted).
    """
    bands = bands or default_bands()
    _assert_mergeable(bands)
    tiles, _plan = cog_translate(
        new_pages,
        max_zoom=max_zoom,
        overview_level=overview_level,
        bands=bands,
    )
    return tiles


def pyramid_merge(
    existing: DataFrame,
    delta: DataFrame,
    bands: Optional[List[BandSpec]] = None,
) -> DataFrame:
    """Merge a delta pyramid into the stored pyramid — one exchange.

    Union + hash aggregate on ``(zoom, tile_x, tile_y)`` with the same
    merge functions the overview chain uses: tiles present on one side
    only pass through, shared tiles combine exactly. Map-side partial
    aggregation runs before the shuffle, so bytes moved are bounded by
    the output tile count.
    """
    bands = bands or default_bands()
    _assert_mergeable(bands)
    cols = ["zoom", "tile_x", "tile_y"] + [s.name for s in bands]
    return (
        existing.select(*cols)
        .unionByName(delta.select(*cols))
        .groupBy("zoom", "tile_x", "tile_y")
        .agg(*_merge_aggs(bands))
    )


def pyramid_subtract(
    current: DataFrame,
    previous: DataFrame,
    bands: Optional[List[BandSpec]] = None,
) -> DataFrame:
    """Map algebra between two pyramids: per-level per-tile signed
    difference ``current - previous`` — crawl-coverage change detection
    ("where did density move since the last snapshot").

    Only SUM-merge bands subtract meaningfully (a max band has no
    inverse), so anything else is rejected loudly. Implementation is
    the merge's algebraic dual: union the previous side NEGATED and sum
    — one exchange, tile-bounded, tiles present on one side only come
    out as +/- their value, and tiles with identical values on both
    sides cancel to an explicit 0 row (kept: "present but unchanged" is
    signal for retention policies; filter it out downstream if not).
    """
    bands = bands or [s for s in default_bands() if s.merge == "sum"]
    bad = [s.name for s in bands if s.merge != "sum"]
    if bad:
        raise IncompatibleOptions(
            f"bands {bad} cannot be subtracted (merge must be 'sum'; "
            "max/min/hll have no inverse — diff those by recomputing)"
        )
    from pyspark.sql import functions as F

    cols = ["zoom", "tile_x", "tile_y"]
    names = [s.name for s in bands]
    cur = current.select(*cols, *[F.col(n).cast("long").alias(n) for n in names])
    prev = previous.select(
        *cols, *[(-F.col(n).cast("long")).alias(n) for n in names]
    )
    return (
        cur.unionByName(prev)
        .groupBy(*cols)
        .agg(*[F.sum(n).alias(f"d_{n}") for n in names])
    )
