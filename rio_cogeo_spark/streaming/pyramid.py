"""Continuous pyramid maintenance: the full overview pyramid kept
up-to-date by a Structured Streaming query.

Completes the ingest path sketched in streaming/tiles.py (stream →
watermarked base tiles → "periodic overview rebuild"): with the exact
mergeable-band algebra of operators/incremental.py there is nothing to
rebuild — each micro-batch builds the pyramid OF THE BATCH ONLY
(page-bounded by the batch) and folds it into the stored pyramid with
one tile-bounded merge, so the store always holds the exact pyramid of
every page ingested so far (streaming == batch, pytest- and
oracle-asserted).

Exactly-once without a transactional table format: the store is a
versioned directory with a MANIFEST-LAST commit (the pattern of
sources/pages.py's atomic level sink) —

    store/v<batch_id>/...parquet      (data first)
    store/MANIFEST.json               (pointer written last)

A crash between the two leaves the previous version live; Structured
Streaming's checkpoint then REPLAYS the batch with the SAME batch_id,
and the ``last_batch_id`` guard makes the re-application a no-op
(standard foreachBatch idempotency). On a cluster the same role is
played by an Iceberg snapshot per merge — SURVEY.md §7 step 4.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from rio_cogeo_spark.operators.incremental import pyramid_delta, pyramid_merge
from rio_cogeo_spark.operators.translate import default_bands

MANIFEST = "MANIFEST.json"


def read_pyramid_store(spark: SparkSession, store_dir: str) -> Optional[DataFrame]:
    """The live pyramid version, or None before the first commit."""
    mpath = os.path.join(store_dir, MANIFEST)
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        m = json.load(f)
    return spark.read.parquet(os.path.join(store_dir, m["version"]))


def update_pyramid_store(
    batch_pages: DataFrame,
    batch_id: int,
    store_dir: str,
    max_zoom: int,
    overview_level: int,
) -> bool:
    """The foreachBatch body — also usable directly as a batch step.

    Returns True when the batch was applied, False when skipped (empty
    batch, or a checkpoint replay of an already-committed batch_id).
    """
    bands = default_bands()
    spark = batch_pages.sparkSession
    mpath = os.path.join(store_dir, MANIFEST)
    prev = None
    if os.path.exists(mpath):
        with open(mpath) as f:
            prev = json.load(f)
        if int(prev["last_batch_id"]) >= int(batch_id):
            return False  # replay after crash-before-manifest: no-op
    if batch_pages.isEmpty():
        return False
    delta = pyramid_delta(batch_pages, max_zoom, overview_level, bands)
    if prev is not None:
        stored = spark.read.parquet(os.path.join(store_dir, prev["version"]))
        merged = pyramid_merge(stored, delta, bands)
    else:
        cols = ["zoom", "tile_x", "tile_y"] + [s.name for s in bands]
        merged = delta.select(*cols)
    version = f"v{int(batch_id)}"
    out = os.path.join(store_dir, version)
    if os.path.exists(out):  # data from a crashed attempt: rewrite fully
        shutil.rmtree(out)
    merged.write.parquet(out)
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "last_batch_id": int(batch_id)}, f)
    os.replace(tmp, mpath)  # manifest-last atomic commit
    if prev is not None:  # previous version is now unreachable
        shutil.rmtree(os.path.join(store_dir, prev["version"]),
                      ignore_errors=True)
    return True


def maintain_pyramid(
    pages_stream: DataFrame,
    store_dir: str,
    max_zoom: int,
    overview_level: int,
    checkpoint: Optional[str] = None,
):
    """Start the maintenance query over a streaming pages frame. It
    drains the current source and stops (``availableNow``), the
    batch-parity mode the tests and the contract query use. Returns the
    StreamingQuery.
    """
    os.makedirs(store_dir, exist_ok=True)
    writer = pages_stream.writeStream.foreachBatch(
        lambda df, bid: update_pyramid_store(
            df, bid, store_dir, max_zoom, overview_level
        )
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
