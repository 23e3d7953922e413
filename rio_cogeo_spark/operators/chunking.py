"""Document chunking — the embedding-pipeline primitive (chunk → embed
→ index). Splits each document into fixed-token-count chunks.

Scale design (100 TB): chunking is logically a per-row projection, so
the plan must contain ZERO exchanges. The token array is staged ONCE in
a projected column (tokenize exactly once per doc), then
``posexplode(transform(sequence(0, n_chunks-1), i ->
slice(toks, i*C+1, C)))`` emits one row per chunk — O(L) work per
document, no shuffle at all. The earlier formulation (posexplode every
token → groupBy(doc, chunk) → sorted collect_list) was hash-identical
but shuffled the corpus's ENTIRE token stream (~10^13 rows at 100 TB);
this one keeps the whole operator inside a single WholeStageCodegen
projection (zero Exchange, pinned by the ``chunk_docs`` row of
tests/test_plan_shapes.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import tokens_col


def chunk_docs(docs: DataFrame, chunk_tokens: int = 128) -> DataFrame:
    """Non-overlapping fixed-size chunks:
    ``(doc_id, chunk_idx, chunk_text, n_tokens)``, ordered tokens
    preserved. Sliding/overlapping windows compose from this by unioning
    a second assignment with shifted positions.

    Docs with NULL text or zero tokens emit no rows (same as the
    grouped formulation: posexplode of an empty/NULL array is empty).
    """
    C = int(chunk_tokens)
    if C <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    staged = docs.select(
        F.col("doc_id"),
        tokens_col(F.col("text")).alias("toks"),
    )
    n = F.size("toks")
    # size(NULL) is -1 under the non-ANSI default, so the <= 0 guard
    # covers both NULL text and genuinely empty token arrays; without it
    # sequence(0, -1) would step DOWNWARD and fabricate chunks.
    chunk_structs = F.when(
        F.col("toks").isNull() | (n <= 0),
        F.expr(
            "cast(array() as array<struct<chunk_text:string,n_tokens:bigint>>)"
        ),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.ceil(n / F.lit(C)).cast("int") - 1),
            lambda i: F.struct(
                F.array_join(
                    F.slice(F.col("toks"), i * C + 1, C), " "
                ).alias("chunk_text"),
                F.size(F.slice(F.col("toks"), i * C + 1, C))
                .cast("long")
                .alias("n_tokens"),
            ),
        )
    )
    return staged.select(
        F.col("doc_id"),
        F.posexplode(chunk_structs).alias("chunk_idx", "c"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def chunk_docs_sliding(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Overlapping sliding-window chunks (the RAG-ingest default):
    window i covers tokens ``[i*stride, i*stride + chunk_tokens)``.
    Same zero-Exchange structure as :func:`chunk_docs`; the window count
    is ``ceil(max(n - chunk_tokens, 0) / stride) + 1`` so the final
    window is the first one that reaches the end (no degenerate
    tail-only windows past it). ``stride == chunk_tokens`` degenerates
    to the non-overlapping form.
    """
    C = int(chunk_tokens)
    S = int(stride)
    if C <= 0 or S <= 0:
        raise ValueError(f"chunk_tokens and stride must be positive, "
                         f"got {chunk_tokens}, {stride}")
    if S > C:
        raise ValueError("stride > chunk_tokens would skip tokens")
    staged = docs.select(
        F.col("doc_id"),
        tokens_col(F.col("text")).alias("toks"),
    )
    n = F.size("toks")
    n_windows = F.ceil(
        F.greatest(n - F.lit(C), F.lit(0)) / F.lit(S)
    ).cast("int") + 1
    chunk_structs = F.when(
        F.col("toks").isNull() | (n <= 0),
        F.expr(
            "cast(array() as array<struct<chunk_text:string,n_tokens:bigint>>)"
        ),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_windows - 1),
            lambda i: F.struct(
                F.array_join(
                    F.slice(F.col("toks"), i * S + 1, C), " "
                ).alias("chunk_text"),
                F.size(F.slice(F.col("toks"), i * S + 1, C))
                .cast("long")
                .alias("n_tokens"),
            ),
        )
    )
    return staged.select(
        F.col("doc_id"),
        F.posexplode(chunk_structs).alias("chunk_idx", "c"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def chunk_docs_sliding_sql(chunk_tokens: int = 128, stride: int = 64) -> str:
    """DuckDB twin of :func:`chunk_docs_sliding`."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    C, S = int(chunk_tokens), int(stride)
    return rf"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
nn AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
w AS (SELECT doc_id, toks, n,
             CAST(ceil(CAST(greatest(n - {C}, 0) AS DOUBLE) / {S}) AS INT) + 1
                 AS n_windows
      FROM nn),
e AS (SELECT doc_id, toks,
             unnest(generate_series(0, n_windows - 1)) AS chunk_idx
      FROM w)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(toks[chunk_idx * {S} + 1 : chunk_idx * {S} + {C}], ' ')
           AS chunk_text,
       CAST(len(toks[chunk_idx * {S} + 1 : chunk_idx * {S} + {C}]) AS BIGINT)
           AS n_tokens
FROM e"""


def chunk_docs_sql(chunk_tokens: int = 128) -> str:
    """DuckDB twin of :func:`chunk_docs`."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    # (value, index) lambda instead of a lateral generate_series —
    # DuckDB table functions reject lateral column parameters
    return rf"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
e AS (SELECT doc_id,
             unnest(list_transform(toks,
                    (x, i) -> {{'pos': i - 1, 'tok': x}})) AS pt
      FROM t),
a AS (SELECT doc_id, CAST(pt.pos // {chunk_tokens} AS INT) AS chunk_idx,
             pt.pos AS pos, pt.tok AS tok FROM e)
SELECT doc_id, chunk_idx,
       string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
       COUNT(*) AS n_tokens
FROM a GROUP BY 1, 2"""
