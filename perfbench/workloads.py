"""The closed-loop workloads: what each op calls, and how its output is
checked.

Every op is a call into the program's public functions plus the one
action that materializes the result; checks run outside the timed
region. References are computed once per run, in the first set-up.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import functions as F

import inputs

MAX_ZOOM, OVERVIEW_LEVEL = 10, 6
KNN_K, KNN_RING, KNN_QUERIES = 10, 2, 10
# Degrees around each query that the kNN reference's brute force sees;
# about 800 of the 2M pages lie this close to a megacity centre
KNN_RADIUS = 0.05
MINHASH = dict(threshold=0.5, num_hashes=128, bands=64)


@dataclass
class Ctx:
    """Run state shared by the ops: the session, the tracer, the seeded
    input and the references the checks compare against."""

    spark: Any
    tracer: Any
    sf_dir: Path
    seed: int
    n_pages: int
    pages_path: Path | None = None
    docs_dir: Path | None = None
    rows: int = 0  # input rows one op processes
    df: dict = field(default_factory=dict)  # session-bound inputs
    refs: dict = field(default_factory=dict)


def order_free_digest(df, cols: list[str]) -> tuple[int, int]:
    """(row count, sum of per-row xxhash64) computed in Spark: equal for
    equal multisets of rows in any order or partitioning."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def sorted_rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


# -- pyramid ----------------------------------------------------------

def pyramid_op(ctx: Ctx) -> dict:
    from rio_cogeo_spark.operators.translate import cog_translate

    t = ctx.tracer
    with t.span("operators.translate.cog_translate"):
        tiles, _ = cog_translate(ctx.df["pages"], max_zoom=MAX_ZOOM,
                                 overview_level=OVERVIEW_LEVEL)
    with t.span("operators.translate.materialize"):
        rows = tiles.groupBy("zoom").agg(
            F.count(F.lit(1)).alias("tiles"), F.sum("page_count").alias("mass")
        ).collect()
    return {int(r["zoom"]): (int(r["tiles"]), int(r["mass"])) for r in rows}


def _pyramid_ref(ctx: Ctx) -> None:
    """Tiles per zoom, counted as distinct base-tile keys shifted right
    by the level: no code shared with cog_translate's aggregation or its
    fold of the upper levels."""
    from rio_cogeo_spark.operators.translate import assign_tiles

    keys = assign_tiles(ctx.df["pages"], MAX_ZOOM).select("tile_x", "tile_y").distinct()
    shift = F.explode(F.sequence(F.lit(0), F.lit(OVERVIEW_LEVEL))).alias("k")
    rows = (
        keys.select(shift, "tile_x", "tile_y")
        .select(
            (F.lit(MAX_ZOOM) - F.col("k")).alias("zoom"),
            F.expr("shiftright(tile_x, k)").alias("x"),
            F.expr("shiftright(tile_y, k)").alias("y"),
        )
        .distinct()
        .groupBy("zoom").count()
        .collect()
    )
    ctx.refs["pyramid"] = {int(r["zoom"]): int(r["count"]) for r in rows}


def _pyramid_check(ctx: Ctx, out: dict) -> bool:
    ref = ctx.refs["pyramid"]
    return set(out) == set(ref) and all(
        out[z] == (ref[z], ctx.rows) for z in ref
    )


# -- spatial join -----------------------------------------------------

def _queries(ctx: Ctx):
    from rio_cogeo_spark.synth import MEGACITIES

    rows = [(f"Q{cid:02d}", float(lat), float(lon))
            for cid, _, lat, lon in MEGACITIES[:KNN_QUERIES]]
    return ctx.spark.createDataFrame(rows, "query_id string, q_lat double, q_lon double")


def pip_op(ctx: Ctx) -> tuple[int, int]:
    from rio_cogeo_spark.operators.join import build_admin_areas, point_in_polygon

    t = ctx.tracer
    with t.span("operators.join.build_admin_areas"):
        areas = build_admin_areas(stars=True)
    with t.span("operators.join.point_in_polygon"):
        matched = point_in_polygon(ctx.df["pages"], areas)
    with t.span("operators.join.materialize"):
        return order_free_digest(matched, ["doc_id", "admin_id"])


def knn_op(ctx: Ctx) -> list[tuple]:
    from rio_cogeo_spark.operators.join import knn_kring

    t = ctx.tracer
    with t.span("operators.join.knn_kring"):
        res = knn_kring(ctx.df["pages"], ctx.df["queries"], k=KNN_K, ring=KNN_RING)
    with t.span("operators.join.materialize"):
        return sorted_rows(res.collect())


def _join_ref(ctx: Ctx) -> None:
    """kNN reference from knn_bruteforce over the pages within a radius
    (per axis) of a query. That is exact as long as every query's k-th
    neighbour lies inside the radius, which is checked, so a too-small
    radius fails loudly instead of passing."""
    from rio_cogeo_spark.operators.join import knn_bruteforce

    pages, queries, radius = ctx.df["pages"], ctx.df["queries"], KNN_RADIUS
    near = None
    for q in queries.collect():
        box = ((F.col("lat") - q["q_lat"]).between(-radius, radius)
               & (F.col("lon") - q["q_lon"]).between(-radius, radius))
        near = box if near is None else near | box
    ref = sorted_rows(knn_bruteforce(pages.filter(near), queries, k=KNN_K).collect())
    if len(ref) != KNN_K * KNN_QUERIES or max(r[-1] for r in ref) >= radius ** 2:
        raise RuntimeError("kNN reference radius too small for this input")
    ctx.refs["knn"] = ref


# -- corpus dedup -----------------------------------------------------

def minhash_op(ctx: Ctx, docs=None) -> list[tuple]:
    from rio_cogeo_spark.operators.dedup import minhash_lsh_pairs

    t = ctx.tracer
    with t.span("operators.dedup.minhash_lsh_pairs"):
        pairs = minhash_lsh_pairs(docs if docs is not None else ctx.df["docs"], **MINHASH)
    with t.span("operators.dedup.materialize"):
        return sorted_rows(pairs.collect())


def clean_op(ctx: Ctx, docs_dir: Path | None = None) -> list[tuple]:
    import __spark_entry__ as entry

    t = ctx.tracer
    with t.span("entry.q_clean_corpus"):
        kept = entry.q_clean_corpus(ctx.spark, str(docs_dir or ctx.docs_dir))
    with t.span("functions.text.materialize"):
        return sorted_rows(kept.collect())


def _dedup_ref(ctx: Ctx) -> None:
    """Results over the documents in their original order: every seed's
    permuted copy must give exactly these."""
    docs = ctx.spark.read.parquet(str(ctx.sf_dir / "documents.parquet"))
    ctx.refs["minhash"] = minhash_op(ctx, docs)
    ctx.refs["clean"] = clean_op(ctx, ctx.sf_dir)


# -- registry ---------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    name: str
    input: str  # "pages" or "docs"
    ops: dict[str, Callable[[Ctx], Any]]
    checks: dict[str, Callable[[Ctx, Any], bool]]
    references: Callable[[Ctx], None]
    reset: Callable[[Ctx], None] = lambda ctx: None


def _same(key: str) -> Callable[[Ctx, Any], bool]:
    """Equal to the reference; an op with no reference computed in
    set-up (PIP has no second implementation) takes its first result
    as the reference, so every later op must reproduce it exactly."""
    return lambda ctx, out: ctx.refs.setdefault(key, out) == out


WORKLOADS = {
    "pyramid": Workload(
        "pyramid", "pages",
        {"pyramid": pyramid_op},
        {"pyramid": _pyramid_check},
        _pyramid_ref,
        # cog_translate persists its levels: no op may reuse another's
        reset=lambda ctx: ctx.spark.catalog.clearCache(),
    ),
    "spatial_join": Workload(
        "spatial_join", "pages",
        {"pip": pip_op, "knn": knn_op},
        {"pip": _same("pip"), "knn": _same("knn")},
        _join_ref,
    ),
    "corpus_dedup": Workload(
        "corpus_dedup", "docs",
        {"minhash": minhash_op, "clean": clean_op},
        {"minhash": _same("minhash"), "clean": _same("clean")},
        _dedup_ref,
    ),
}


def prepare_input(ctx: Ctx, wl: Workload) -> float:
    """Generate (or find in the cache) the seeded input; returns the
    seconds spent generating."""
    if wl.input == "pages":
        ctx.pages_path, gen_s = inputs.pages_path(ctx.sf_dir, ctx.n_pages, ctx.seed)
        ctx.rows = inputs.entry_rows(ctx.pages_path)
    else:
        ctx.docs_dir, gen_s = inputs.documents_dir(ctx.sf_dir, ctx.seed)
        ctx.rows = inputs.entry_rows(ctx.docs_dir)
    return gen_s


def register(ctx: Ctx, wl: Workload) -> None:
    """(Re)create the session-bound inputs on ``ctx.spark``."""
    ctx.df.clear()
    if wl.input == "pages":
        ctx.df["pages"] = ctx.spark.read.parquet(str(ctx.pages_path / "data"))
        ctx.df["queries"] = _queries(ctx)
    else:
        ctx.df["docs"] = ctx.spark.read.parquet(str(ctx.docs_dir / "documents.parquet"))
