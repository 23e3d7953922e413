"""Hilbert space-filling-curve index (functions/hilbert.py).

The locality-superior alternative to the Z-order/Morton key in
functions/tile.py for range-partitioned tile layout: consecutive
Hilbert keys are ALWAYS rook-adjacent cells (Morton jumps quadrant
seams), so a 1-D key range is one connected blob of tiles and a
window read pays fewer contiguous-run seeks (the Moon et al.
clustering property, pytest-asserted against Morton).

Kept in its own module so appending layout helpers never perturbs the
scaling-job fingerprint (scripts/scaling.py hashes functions/tile.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def with_hilbert(df: DataFrame, zoom: int) -> DataFrame:
    """Hilbert-curve index of each tile — the locality-superior
    alternative to :func:`morton_key` for range-partitioned layout
    (consecutive Hilbert keys are ALWAYS rook-adjacent cells, so a
    1-D range of keys is one connected blob of tiles; Morton ranges
    jump quadrant seams). The standard bit-twiddling xy→d transform
    (public-domain Hilbert-curve conversion, e.g. Wikipedia's xy2d):
    ``zoom`` rounds, each deciding one quadrant digit and applying the
    flip/swap rotation — here as ``zoom`` chained integer projections
    that Catalyst collapses into ONE codegen stage (a single closed
    expression would double textually per round; the staged form is
    linear). Pure BIGINT, zero joins, zero shuffles, bit-identical in
    DuckDB (:func:`hilbert_cte_sql`).

    Domain: ``zoom ≤ 31`` keeps ``d < 4^31 < 2^63`` (the morton_key
    signed-BIGINT bound).
    """
    if not (0 <= zoom <= 31):
        raise ValueError(f"zoom must be in [0, 31], got {zoom}")
    n = 1 << zoom
    out = df.withColumn("_hx", F.col("tile_x").cast("long")).withColumn(
        "_hy", F.col("tile_y").cast("long")
    ).withColumn("_hd", F.lit(0).cast("long"))
    for i in range(zoom - 1, -1, -1):
        s = 1 << i
        out = out.withColumn(
            "_rx", (F.col("_hx").bitwiseAND(F.lit(s)) > 0).cast("long")
        ).withColumn(
            "_ry", (F.col("_hy").bitwiseAND(F.lit(s)) > 0).cast("long")
        )
        quad = (
            F.when((F.col("_rx") == 0) & (F.col("_ry") == 0), 0)
            .when(F.col("_rx") == 0, 1)
            .when(F.col("_ry") == 0, 3)
            .otherwise(2)
        )
        flip_x = F.when(
            F.col("_rx") == 1, F.lit(n - 1) - F.col("_hx")
        ).otherwise(F.col("_hx"))
        flip_y = F.when(
            F.col("_rx") == 1, F.lit(n - 1) - F.col("_hy")
        ).otherwise(F.col("_hy"))
        out = out.withColumn(
            "_hd", F.col("_hd") + F.lit(s * s) * quad
        ).withColumn(
            "_nx", F.when(F.col("_ry") == 0, flip_y).otherwise(F.col("_hx"))
        ).withColumn(
            "_ny", F.when(F.col("_ry") == 0, flip_x).otherwise(F.col("_hy"))
        ).withColumn("_hx", F.col("_nx")).withColumn("_hy", F.col("_ny"))
    return out.withColumn("hilbert", F.col("_hd")).drop(
        "_hx", "_hy", "_hd", "_rx", "_ry", "_nx", "_ny"
    )


def hilbert_cte_sql(
    base_cte: str,
    zoom: int,
    carry_cols: str = "tile_x, tile_y",
) -> str:
    """DuckDB twin of :func:`with_hilbert` — a CTE chain (one per
    round) over ``base`` exposing ``carry_cols``; the final SELECT
    emits ``{carry_cols}, hilbert``. The per-round CASE text is the
    same decision table as the Spark columns."""
    n = 1 << zoom
    parts = [base_cte]
    parts.append(
        f"\n, hb_0 AS (SELECT {carry_cols},"
        " CAST(tile_x AS BIGINT) AS hx, CAST(tile_y AS BIGINT) AS hy,"
        " CAST(0 AS BIGINT) AS hd FROM base)"
    )
    step = 0
    for i in range(zoom - 1, -1, -1):
        s = 1 << i
        prev, step = step, step + 1
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        quad = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
            f" WHEN {rx} = 0 THEN 1 WHEN {ry} = 0 THEN 3 ELSE 2 END)"
        )
        fx = f"(CASE WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END)"
        fy = f"(CASE WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END)"
        parts.append(
            f"\n, hb_{step} AS (SELECT {carry_cols},"
            f" CASE WHEN {ry} = 0 THEN {fy} ELSE hx END AS hx,"
            f" CASE WHEN {ry} = 0 THEN {fx} ELSE hy END AS hy,"
            f" hd + {s * s} * {quad} AS hd"
            f" FROM hb_{prev})"
        )
    parts.append(
        f"\nSELECT {carry_cols}, CAST(hd AS BIGINT) AS hilbert"
        f" FROM hb_{step}"
    )
    return "".join(parts)


def _hilbert_scalar(x: int, y: int, zoom: int) -> int:
    """Driver-side scalar twin of :func:`with_hilbert` (same rounds)."""
    n = 1 << zoom
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d
