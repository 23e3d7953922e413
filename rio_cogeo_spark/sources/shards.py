"""Training-shard sink: the LLM-pipeline analog of the COG final-copy
sink (reference cogeo.py:420-470 writes the validated pyramid in one
deterministic layout; a training pipeline writes the packed corpus the
same way — fixed shard count, deterministic membership, a manifest the
trainer trusts without rescanning the data).

Layout: ``root/shard=K/*.parquet`` + ``root/_manifest.json`` written
LAST (the atomic-commit discipline of sources/pages._write_level: a
manifest present means every shard is complete). Shard membership is a
HASH of the id column — stable under any input partitioning or
re-run, so two writers with the same input produce byte-comparable
shards and a resumed job never mixes memberships.

Scale design (100 TB): one repartition by the shard key (the
irreducible movement of a sharded write — membership is computed, not
sorted); per-shard stats are a combinable aggregate of the written data
(read back post-write, so the manifest describes what is ON DISK, not
what was planned); nothing driver-side except the n_shards-row stats
collect.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"


def shard_assign(id_col, n_shards: int):
    """Deterministic shard id: non-negative xxhash of the id, mod
    ``n_shards`` (pure projection — usable standalone for planning)."""
    return F.pmod(F.xxhash64(id_col, F.lit(9721)), F.lit(int(n_shards)))


def write_training_shards(
    df: DataFrame,
    root: str,
    n_shards: int = 16,
) -> dict:
    """Write ``df`` as ``n_shards`` hash-sharded parquet directories
    with an atomically-committed manifest.

    The manifest records per-shard ``rows`` and ``tokens`` (summed from
    ``n_tokens`` when present, else null) plus grand totals — the
    numbers a trainer needs to size epochs/steps without scanning data.
    Returns the manifest dict. Temp-dir + rename + manifest-last: a
    crashed write leaves either nothing or a ``_tmp`` dir, never a
    half-committed root with a manifest.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    spark = df.sparkSession
    tmp = root.rstrip("/") + "_tmp"
    sharded = df.withColumn("shard", shard_assign(F.col("doc_id"), n_shards))
    (
        sharded.repartition(int(n_shards), "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    back = spark.read.parquet(tmp)
    has_tok = "n_tokens" in df.columns
    aggs = [F.count(F.lit(1)).alias("rows")]
    if has_tok:
        aggs.append(F.sum("n_tokens").alias("tokens"))
    stats = {
        int(r["shard"]): r
        for r in back.groupBy("shard").agg(*aggs).collect()
    }
    shards = [
        {
            "shard": k,
            "rows": int(stats[k]["rows"]) if k in stats else 0,
            "tokens": (
                int(stats[k]["tokens"])
                if has_tok and k in stats and stats[k]["tokens"] is not None
                else None
            ),
        }
        for k in range(n_shards)
    ]
    if os.path.exists(root):
        shutil.rmtree(root)
    os.rename(tmp, root)
    manifest = {
        "n_shards": n_shards,
        "id_col": "doc_id",
        "rows": sum(s["rows"] for s in shards),
        "tokens": (
            sum(s["tokens"] or 0 for s in shards) if has_tok else None
        ),
        "shards": shards,
        "complete": True,
    }
    with open(os.path.join(root, MANIFEST), "w") as f:
        json.dump(manifest, f)
    return manifest


def read_training_shards(spark: SparkSession, root: str) -> DataFrame:
    """Read a committed shard root (refuses an uncommitted one — the
    manifest IS the commit marker)."""
    mp = os.path.join(root, MANIFEST)
    if not os.path.exists(mp):
        raise FileNotFoundError(
            f"no {MANIFEST} under {root}: write incomplete or not a "
            "training-shard root"
        )
    return spark.read.parquet(root)


def verify_training_shards(spark: SparkSession, root: str) -> list:
    """Re-derive per-shard rows/tokens from the data and diff against
    the manifest — the validate step of the sink (reference
    cogeo.py:512+ validates what was written, not what was intended).
    Returns a list of error strings (empty = consistent)."""
    mp = os.path.join(root, MANIFEST)
    errors: list = []
    if not os.path.exists(mp):
        return [f"missing {MANIFEST}"]
    with open(mp) as f:
        man = json.load(f)
    df = spark.read.parquet(root)
    has_tok = man.get("tokens") is not None
    aggs = [F.count(F.lit(1)).alias("rows")]
    if has_tok:
        aggs.append(F.sum("n_tokens").alias("tokens"))
    got = {int(r["shard"]): r for r in df.groupBy("shard").agg(*aggs).collect()}
    for s in man["shards"]:
        k, want_rows = s["shard"], s["rows"]
        got_rows = int(got[k]["rows"]) if k in got else 0
        if got_rows != want_rows:
            errors.append(f"shard {k}: rows {got_rows} != manifest {want_rows}")
        if has_tok:
            got_tok = (
                int(got[k]["tokens"]) if k in got and got[k]["tokens"] is not None
                else 0
            )
            if got_tok != (s["tokens"] or 0):
                errors.append(
                    f"shard {k}: tokens {got_tok} != manifest {s['tokens']}"
                )
    return errors
