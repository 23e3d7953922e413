"""Streaming NEAR-duplicate detection over a document stream.

streaming/dedup.py catches EXACT duplicates (content fingerprint);
a crawl's near-duplicates (template changes, boilerplate swaps, ad
rotations) need similarity banding. This module streams the batch
simhash operator (operators/dedup.py::simhash_pairs): each arriving
document's 64-bit simhash splits into 4 equality bands (pigeonhole:
any pair within hamming 3 shares at least one exact band), and a
custom stateful operator keyed by (band, bucket) holds the bucket's
recent members, emitting a candidate pair for every stored member
within hamming 3 of the new arrival.

Spark-first choices:

* the banding itself is the SAME stateless JVM projection as batch —
  no Python until the stateful step;
* state is ``applyInPandasWithState`` (SURVEY.md §2.9) keyed by
  (band, bucket): per-group state is the member list (doc_id, simhash,
  event-time seconds) — a few dozen bytes per doc per band, RocksDB-
  backed at cluster scale;
* state is bounded two ways: members older than ``horizon_sec`` are
  pruned on every group invocation (near-dups arrive close together on
  a crawl, exactly the dedup-stream trade), and whole idle groups are
  reclaimed by an EVENT-TIME timeout at ``last member + horizon`` under
  a ``horizon_sec`` watermark (event-time, not processing-time, so the
  bounded-source drain used in tests terminates and replays are
  deterministic);
* output is append-friendly: one row per (band-collision, verified
  hamming<=max) candidate pair, doc_a = earlier arrival. A pair whose
  docs collide in several bands emits once per colliding band —
  downstream consumers do a stateless dropDuplicates (the batch
  operator's dropDuplicates is exactly this step); the test compares
  DISTINCT pair sets against batch ``simhash_pairs``.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.dedup import simhash

_OUT_SCHEMA = "doc_a long, doc_b long, hamming int"
_STATE_SCHEMA = "ids array<long>, hashes array<long>, ts array<long>"


def simhash_banded(docs: DataFrame) -> DataFrame:
    """(doc_id, ts, simhash) → exploded (doc_id, ts, simhash, band,
    bucket) — the batch operator's banding projection, reused verbatim
    for streams (stateless, JVM-side)."""
    bits, band_bits = 64, 16
    mask = (1 << band_bits) - 1
    sh = simhash(docs, bits=bits, hasher="xxhash64", extra_cols=("ts",))
    return sh.select(
        "doc_id", "ts", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), band_bits * i)
                    .bitwiseAND(F.lit(mask)).alias("bucket"),
                )
                for i in range(4)
            ])
        ).alias("bb"),
    ).select("doc_id", "ts", "simhash", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def neardup_pairs_stream(docs: DataFrame, horizon_sec: int = 3600) -> DataFrame:
    """Streaming simhash near-dup candidate pairs.

    Input: a streaming DataFrame with (doc_id long, text string,
    ts timestamp). Output (append): ``(doc_a, doc_b, hamming)``
    with hamming <= 3 and doc_a the earlier-arriving doc
    (ties by doc_id). Pairs may repeat across colliding bands —
    distinct-ify downstream (stateless).

    ``horizon_sec`` bounds how far back a new arrival is compared:
    state per (band, bucket) only retains members newer than
    ``now - horizon_sec`` (event time), so memory is
    O(ingest-rate x horizon), never stream length.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    banded = (
        simhash_banded(docs)
        .withWatermark("ts", f"{int(horizon_sec)} seconds")
        .withColumn("ts_sec", F.unix_timestamp(F.col("ts")).cast("long"))
        # the watermarked event-time column must survive into the stateful
        # operator's child plan, or EventTimeTimeout is rejected
        .select("band", "bucket", "doc_id", "simhash", "ts_sec", "ts")
    )

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            # watermark passed last member + horizon: whole group is gone
            state.remove()
            yield pd.DataFrame({"doc_a": [], "doc_b": [], "hamming": []})
            return
        ids, hashes, tss = ([], [], []) if not state.exists else [
            list(v) for v in state.get
        ]
        out_a, out_b, out_h = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_sec", "doc_id"])
            for did, sh, ts in zip(
                pdf["doc_id"].astype("int64"),
                pdf["simhash"].astype("int64"),
                pdf["ts_sec"].astype("int64"),
            ):
                floor = ts - horizon_sec
                if ids and (min(tss) < floor):
                    keep = [i for i, t in enumerate(tss) if t >= floor]
                    ids = [ids[i] for i in keep]
                    hashes = [hashes[i] for i in keep]
                    tss = [tss[i] for i in keep]
                for pid, ph, pt in zip(ids, hashes, tss):
                    if pid == did:
                        continue
                    h = bin((ph ^ sh) & 0xFFFFFFFFFFFFFFFF).count("1")
                    if h <= 3:
                        # earlier arrival first; ties by doc_id
                        a, b = (
                            (pid, did)
                            if (pt, pid) <= (ts, did)
                            else (did, pid)
                        )
                        out_a.append(a)
                        out_b.append(b)
                        out_h.append(h)
                ids.append(int(did))
                hashes.append(int(sh))
                tss.append(int(ts))
        state.update((ids, hashes, tss))
        if tss:
            state.setTimeoutTimestamp((max(tss) + horizon_sec) * 1000)
        yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b, "hamming": out_h})

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
