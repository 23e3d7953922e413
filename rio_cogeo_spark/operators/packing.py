"""Sequence packing — the pretraining-batch primitive (concat → chunk).

LLM pretraining does not feed one document per context window; it
concatenates documents in a deterministic order and slices the stream at
exact ``context_tokens`` boundaries (GPT-2/LLaMA-style packing). A
document that straddles a boundary contributes its head to one pack and
its tail to the next. The output here is the *pack assignment table*:
which packs each document occupies, at what offset, with how many
tokens — the manifest a downstream tokenizer/writer needs to build the
actual training shards.

Scale design (100 TB): a single global concatenation order would force
one totally-ordered window over the whole corpus — a non-starter. Real
pipelines shard first: each shard is packed independently (shard =
stable hash of the doc key), giving ``n_shards`` embarrassingly-parallel
streams. Inside a shard the order is (hash, doc_id) — deterministic,
reproducible across engines, reruns, and cluster sizes. The plan is:

  one projection (hash + token count, no text materialized past the
  count) → one hash-partitioned window (running token sum; partial
  buffering bounded by shard size = corpus/n_shards) → an explode over
  the (usually 1-2 element) pack span. No join, one shuffle.

Every quantity is integer arithmetic (``div``, ``greatest``/``least``),
so the assignment is bit-identical on any engine — the DuckDB twin in
``__spark_entry__`` is exact.

Reference analog: rio_cogeo windows a raster into fixed-size blocks and
assigns pixels to (block, offset) — cogeo.py:244-279 block iteration;
this is the 1-D token-stream version of the same tiling math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rio_cogeo_spark.functions.text import md5_60, token_count


def pack_chunks(
    docs: DataFrame,
    context_tokens: int = 2048,
    n_shards: int | str = "auto",
) -> DataFrame:
    """Assign every document to its pack span.

    Output: ``(doc_id, shard, pack_idx, pack_offset, pack_tokens)`` —
    one row per (document, pack) the document occupies. ``pack_idx`` is
    per-shard; the global pack key is (shard, pack_idx).
    ``pack_offset`` is the document's first token position inside that
    pack; ``pack_tokens`` is how many of its tokens land there.
    Invariants (pytest-asserted): per-doc ``sum(pack_tokens) ==
    n_tokens``; per-pack ``sum(pack_tokens) == context_tokens`` for all
    but each shard's final pack; offsets tile each pack exactly.

    ``n_shards`` bounds each window partition at corpus/n_shards rows,
    so it must GROW with the corpus: the default ``'auto'`` derives it
    from the cluster (``defaultParallelism * 16`` with a floor of 64) —
    on a 1000-executor cluster that is ~10^5 shards, keeping every
    shard's sort task-sized. A fixed small int is for tests and for
    cross-engine-reproducible pack ids (the shard hash is part of the
    output key).

    Documents with a NULL text are EXCLUDED
    from the packing — an explicit filter, not silent NULL propagation:
    a NULL has no tokens to assign, so the 'every document's tokens are
    fully assigned' invariant is scoped to non-null documents (the
    DuckDB twin behaves identically).
    """
    if context_tokens <= 0:
        raise ValueError("context_tokens must be positive")
    if n_shards == "auto":
        n_shards = max(
            64, docs.sparkSession.sparkContext.defaultParallelism * 16
        )
    C = int(context_tokens)
    ntok = token_count(F.col("text"))
    base = (
        docs.select(
            F.col("doc_id"),
            md5_60(F.col("doc_id").cast("string")).alias("h"),
            ntok.cast("long").alias("n_tokens"),
        )
        # loud NULL policy (see docstring): NULL text would otherwise
        # propagate through cum/prev and vanish in the sequence explode
        .filter(F.col("n_tokens").isNotNull())
        .withColumn("shard", (F.col("h") % n_shards).cast("int"))
    )

    # Running token total per shard stream. The window buffers one
    # shard's rows per task — bounded by corpus/n_shards, which is the
    # knob that keeps this executor-memory-safe at any corpus size.
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        base.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("prev", F.col("cum") - F.col("n_tokens"))
        # whitespace token count is >= 1, so cum > prev always and the
        # span [prev div C, (cum-1) div C] is non-empty
        .withColumn("first_pack", F.expr(f"prev div {C}"))
        .withColumn("last_pack", F.expr(f"(cum - 1) div {C}"))
    )
    p = F.col("pack_idx")
    start = F.greatest(F.col("prev"), p * C)
    return spans.select(
        "doc_id",
        "shard",
        F.explode(F.sequence("first_pack", "last_pack")).alias("pack_idx"),
        "prev",
        "cum",
    ).select(
        "doc_id",
        "shard",
        p.cast("long").alias("pack_idx"),
        (start - p * C).cast("long").alias("pack_offset"),
        (F.least(F.col("cum"), (p + F.lit(1)) * C) - start)
        .cast("long")
        .alias("pack_tokens"),
    )


def pack_chunks_sql(context_tokens: int = 2048, n_shards: int = 64) -> str:
    """DuckDB twin of :func:`pack_chunks` — same integer math, so the
    assignment is bit-identical."""
    from rio_cogeo_spark.functions.text import MD5_60_SQL, TOKEN_COUNT_SQL

    C = int(context_tokens)
    h = MD5_60_SQL.format(c="CAST(doc_id AS VARCHAR)")
    return rf"""
WITH b AS (
  SELECT doc_id, {h} AS h,
         CAST({TOKEN_COUNT_SQL} AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT doc_id, CAST(h % {n_shards} AS INT) AS shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY h % {n_shards}
                                  ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM b
), sp AS (
  SELECT doc_id, shard, cum, cum - n_tokens AS prev,
         (cum - n_tokens) // {C} AS first_pack,
         (cum - 1) // {C} AS last_pack
  FROM s
)
SELECT doc_id, shard, CAST(p AS BIGINT) AS pack_idx,
       CAST(greatest(prev, p * {C}) - p * {C} AS BIGINT) AS pack_offset,
       CAST(least(cum, (p + 1) * {C}) - greatest(prev, p * {C}) AS BIGINT)
         AS pack_tokens
FROM (SELECT *, unnest(generate_series(first_pack, last_pack)) AS p
      FROM sp)"""


def pack_stats(packed: DataFrame) -> DataFrame:
    """Per-shard packing summary from a :func:`pack_chunks` result:
    pack count, token total, and fill ratio of the non-final packs
    (always 1.0 by construction — the assert-style health check a
    pipeline runs after packing). Pure re-aggregation, map-side
    combinable."""
    per_pack = packed.groupBy("shard", "pack_idx").agg(
        F.sum("pack_tokens").alias("tokens")
    )
    last = per_pack.groupBy("shard").agg(F.max("pack_idx").alias("last_idx"))
    return (
        per_pack.join(F.broadcast(last), "shard")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_packs"),
            F.sum("tokens").alias("total_tokens"),
            F.min(
                F.when(F.col("pack_idx") < F.col("last_idx"), F.col("tokens"))
            ).alias("min_full_pack_tokens"),
            F.max(
                F.when(F.col("pack_idx") < F.col("last_idx"), F.col("tokens"))
            ).alias("max_full_pack_tokens"),
        )
    )
