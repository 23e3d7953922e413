"""Streaming embedding-centroid monitoring over a vector ingest stream.

The streaming form of ``operators/similarity.pool_embeddings`` for the
drift dashboard (``centroid_drift``): as embedded documents arrive,
maintain the per-(group, dim) running SUM and COUNT — a plain streaming
aggregation, no custom state code; state is exactly ``groups × dim``
rows regardless of stream length (the same bound the batch pooled table
has). ``update`` output mode is the production shape: each micro-batch
emits only the (group, dim) cells that moved.

Determinism note, honestly stated: the batch ``pool_embeddings``
contract is BIT-exact via a sorted sequential fold; a streaming SUM
folds in ARRIVAL order, so the running mean agrees with the batch fold
to float tolerance (pytest compares at 6dp), while ``n_vecs`` is exact.
A consumer needing the bit-exact contract runs the batch fold over the
accumulated store — this stream is the cheap live monitor in front of
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def centroid_stream(vecs: DataFrame) -> DataFrame:
    """Continuously-maintained per-group centroid table:
    ``(label, dim, n_vecs, mean_val)`` with ``dim`` 1-based (the
    pool_embeddings shape, so the drift join consumes either)."""
    ex = vecs.select(
        F.col("label"),
        F.posexplode(F.col("embedding")).alias("dim0", "val0"),
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val0").cast("double").alias("val"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("val").alias("_tot"),
        )
        .select(
            "label", "dim", "n_vecs",
            (F.col("_tot") / F.col("n_vecs")).alias("mean_val"),
        )
    )
