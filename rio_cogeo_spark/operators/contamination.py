"""Benchmark-contamination check over the ``documents`` table.

A training-data pipeline must detect corpus documents that overlap an
evaluation benchmark (n-gram collision is the standard test — the
"13-gram overlap" rule of GPT-3/The Pile, parameterized here as ``n``
to suit document length). Scale design (100 TB corpus, small benchmark):

* the benchmark's distinct shingle set is tiny (test sets are thousands
  of documents) → **broadcast** it; the corpus side never shuffles;
* corpus shingling is a JVM expression (`shingles_col`) + explode — a
  stateless projection, no Python;
* the per-document hit count is a map-side-combinable groupBy whose key
  cardinality is bounded by |contaminated docs|, not corpus size.

Reference parity note: the reference (rio-cogeo) has no text ops; this
belongs to the beyond-reference LLM-pipeline suite (SURVEY.md §2.9
companion, COVERAGE.md "training-data pipeline" table).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.dedup import shingles_col


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Per-corpus-document count of distinct word n-grams shared with any
    benchmark document. Returns only contaminated docs:
    ``(doc_id, n_hits)`` with ``n_hits >= 1``.

    ``benchmark`` only needs ``text``. Both sides shingle with the
    same distinct n-gram formula as the Jaccard/MinHash dedup suite, so
    "hit" means exactly one shared shingle type (multiplicity ignored,
    as in the standard contamination definition).

    r06: the corpus side tokenizes ONCE per row into a materialized
    column before the shingle zip (``shingles_from_tokens``) — the
    previous inline form re-ran the regex split n + 1 times per row and
    dominated the operator's cost (guide §1.2 per-task work; measured
    ~2x on the corpus shingle explode at sf1.0).
    """
    from rio_cogeo_spark.operators.dedup import shingles_from_tokens
    from rio_cogeo_spark.functions.text import tokens_col

    bench_sh = (
        benchmark.select(
            F.explode(shingles_col(F.col("text"), n)).alias("shingle")
        )
        .distinct()
    )
    corpus_sh = corpus.select(
        F.col("doc_id"), tokens_col(F.col("text")).alias("_toks")
    ).select(
        F.col("doc_id"),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle", "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def contamination_rate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Fraction of each contaminated document's shingles that collide
    with the benchmark: ``(doc_id, n_hits, n_shingles, hit_frac)`` —
    the thresholdable form (e.g. drop docs with hit_frac > 0.8)."""
    hits = contamination_hits(corpus, benchmark, 3)
    sizes = corpus.select(
        F.col("doc_id"),
        F.size(shingles_col(F.col("text"), 3)).alias("n_shingles"),
    )
    return hits.join(sizes, "doc_id", "inner").withColumn(
        "hit_frac",
        F.round(
            F.col("n_hits").cast("double")
            / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"),
            6,
        ),
    )


# ---------------------------------------------------------------------------
# Bloom-filter prefilter — the compact-broadcast scale path
# ---------------------------------------------------------------------------

_BLOOM_H2_SALT = "#2"


def _bloom_pos_cols(sh: "F.Column", m_bits: int, n_hashes: int):
    """k Kirsch-Mitzenmacher double-hash positions per shingle:
    ``pos_i = (h1 + i * h2) mod m`` with the cross-engine md5-60 pair
    ``h1 = h(s)``, ``h2 = h(s || '#2') | 1`` (odd, so the probe walks
    all residues for power-of-2 m). All intermediates < 2^62 for
    n_hashes <= 4 — exact BIGINT on both engines."""
    from rio_cogeo_spark.functions.text import md5_60

    h1 = md5_60(sh)
    h2 = md5_60(F.concat(sh, F.lit(_BLOOM_H2_SALT))).bitwiseOR(F.lit(1))
    return [((h1 + F.lit(i) * h2) % F.lit(m_bits)) for i in range(n_hashes)]


def bloom_prefilter(
    corpus: DataFrame,
    benchmark: DataFrame,
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter contamination PREFILTER (Bloom, CACM 1970; double
    hashing per Kirsch & Mitzenmacher, ESA 2006): flag corpus documents
    with at least one shingle whose ``n_hashes`` bit positions are all
    set in a bitset built from the benchmark's shingles. Returns
    ``(doc_id, n_shingles, n_maybe)`` for flagged docs only — a strict
    SUPERSET of :func:`contamination_hits` docs (zero false negatives,
    tunable false-positive rate ~ (1 - e^{-kn/m})^k); route survivors
    to the exact broadcast join for the confirm.

    Why it exists at 100 TB: the exact path broadcasts the benchmark's
    full distinct shingle STRINGS (hundreds of MB for a large eval
    suite); the Bloom stage broadcasts ``m_bits/8`` bytes (128 KiB at
    the default) to every executor and never shuffles the corpus — the
    cheap first pass that lets the expensive exact join run on the
    ~0.1% of pages that might collide.

    Engine-exact: bit membership in the bitset is EXACTLY positions-set
    membership (the DuckDB twin :func:`bloom_prefilter_sql` recomputes
    the same positions relationally), hashes are md5-60, positions are
    BIGINT mod — no RNG, no floats.

    Plumbing: benchmark positions are collected once (bounded by
    ``min(n_hashes * |bench shingles|, m_bits)`` ints — benchmark-sized
    metadata, documented collect) into a numpy bitset broadcast via the
    SparkContext; corpus probes are JVM expressions (shingles +
    positions arrays), tested by ONE Arrow-batched pandas UDF that
    flattens each batch to a single numpy gather (no per-row Python
    loops over characters — one concatenate/gather/segment-sum per
    ~10k-row batch). Zero corpus shuffle before the final filter.
    """
    if n_hashes < 1 or n_hashes > 4:
        raise ValueError(f"n_hashes must be in 1..4, got {n_hashes}")
    if m_bits < 8 or m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of 2 >= 8, got {m_bits}")
    from pyspark.sql.functions import pandas_udf

    bench_pos = (
        benchmark.select(
            F.explode(shingles_col(F.col("text"), 3)).alias("sh")
        )
        .distinct()
        .select(F.explode(F.array(*_bloom_pos_cols(F.col("sh"), m_bits, n_hashes))).alias("pos"))
        .distinct()
    )
    pos_list = [r.pos for r in bench_pos.collect()]
    bits = np.zeros(m_bits, dtype=bool)
    if pos_list:
        bits[np.asarray(pos_list, dtype=np.int64)] = True
    bc = corpus.sparkSession.sparkContext.broadcast(np.packbits(bits))

    k = n_hashes

    @pandas_udf("long")
    def n_maybe_udf(pos_flat: pd.Series) -> pd.Series:
        # input is the JVM-flattened probe list (n_shingles * k ints per
        # row), so each Arrow row is ONE int64 array — the whole batch
        # flattens to a single gather + segment-sum, no per-probe Python
        unpacked = np.unpackbits(bc.value).view(bool)
        lens = pos_flat.map(len).to_numpy() // k
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(pos_flat), dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pos_flat if len(x)]
        )
        hit = unpacked[flat].reshape(-1, k).all(axis=1).astype(np.int64)
        out = np.zeros(len(pos_flat), dtype=np.int64)
        np.add.at(out, np.repeat(np.arange(len(pos_flat)), lens), hit)
        return pd.Series(out)

    sh = shingles_col(F.col("text"), 3)
    probes = corpus.select(
        F.col("doc_id"),
        F.size(sh).alias("n_shingles"),
        F.flatten(
            F.transform(
                sh, lambda s: F.array(*_bloom_pos_cols(s, m_bits, n_hashes))
            )
        ).alias("pos"),
    )
    return (
        probes.select(
            "doc_id", "n_shingles", n_maybe_udf(F.col("pos")).alias("n_maybe")
        )
        .filter(F.col("n_maybe") >= 1)
    )


def bloom_prefilter_sql(
    corpus_cte: str,
    bench_cte: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> str:
    """DuckDB twin of :func:`bloom_prefilter` — bitset membership
    recomputed relationally (pos ∈ benchmark-position set ⟺ bit set).
    Both CTEs expose ``(doc_id, text)`` / ``(text)`` respectively."""
    from rio_cogeo_spark.functions.text import MD5_60_SQL, TOKENS_SQL

    from rio_cogeo_spark.operators.dedup import SHINGLES_SQL

    shing = SHINGLES_SQL.format(toks=TOKENS_SQL)
    h1 = MD5_60_SQL.format(c="sh")
    h2 = "(" + MD5_60_SQL.format(c=f"(sh || '{_BLOOM_H2_SALT}')") + " | 1)"
    pos = f"(({h1} + i * {h2}) % {int(m_bits)})"
    k = int(n_hashes)
    return rf"""
WITH corpus AS ({corpus_cte}), bench AS ({bench_cte}),
bsh AS (SELECT DISTINCT unnest({shing}) AS sh FROM bench),
bpos AS (SELECT DISTINCT {pos} AS pos FROM bsh CROSS JOIN range({k}) r(i)),
csh0 AS (SELECT doc_id, {shing} AS shs FROM corpus),
sizes AS (SELECT doc_id, len(shs) AS n_shingles FROM csh0),
csh AS (SELECT doc_id, unnest(shs) AS sh FROM csh0),
cpos AS (SELECT doc_id, sh, i, {pos} AS pos
         FROM csh CROSS JOIN range({k}) r(i)),
maybe AS (SELECT doc_id, sh FROM cpos JOIN bpos USING (pos)
          GROUP BY doc_id, sh HAVING COUNT(DISTINCT i) = {k}),
hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_maybe
         FROM maybe GROUP BY 1)
SELECT s.doc_id, CAST(s.n_shingles AS INT) AS n_shingles, h.n_maybe
FROM sizes s JOIN hits h ON s.doc_id = h.doc_id
WHERE h.n_maybe >= 1"""
