"""Streaming per-URL snapshot change history.

The streaming form of ``operators/dedup.snapshot_change_stats``: as
crawl snapshots arrive, maintain per canonical URL the change counters
(n_snapshots, n_changes, first/last/last_change ts) that drive
re-crawl scheduling.

Change detection is a LAG — it only makes sense over time-ordered
snapshots — so unlike the keep-latest aggregation this needs an
event-time-ordered fold, not a commutative agg. Design:

* canonicalization + content fingerprint are the SAME stateless JVM
  projections as batch (functions/text), so stream and backfill agree
  on what counts as a change;
* ``applyInPandasWithState`` keyed by canon_url holds (a) the folded
  counters + last fingerprint and (b) a PENDING buffer of snapshots
  still inside the watermark delay. Each invocation folds — in
  (ts, doc_id) order — exactly the pending snapshots at or below the
  current watermark: out-of-order arrivals within the delay are
  re-ordered before the lag compares them, and a late arrival beyond
  the delay is dropped (counted nowhere), the standard watermark
  contract;
* an event-time timeout at (max pending ts) flushes the tail once the
  watermark passes it — including through the no-data final batch a
  bounded source triggers — so drains terminate deterministically;
* output (append): the updated stats row each time the fold advances;
  the LAST emission per key is the current table (n_snapshots is
  monotone, so consumers upsert by key exactly like the keep-latest
  stream). Folded state is one row per live URL — the same bound the
  batch output table has; the pending buffer is O(rate × delay).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import canonical_url, fingerprint

_OUT_SCHEMA = (
    "canon_url string, n_snapshots long, n_changes long, "
    "first_ts long, last_ts long, last_change_ts long"
)
_STATE_SCHEMA = (
    "last_fp string, n_snapshots long, n_changes long, first_ts long, "
    "last_ts long, last_change_ts long, "
    "p_ids array<long>, p_ts array<long>, p_fps array<string>"
)


def snapshot_stats_stream(pages: DataFrame, delay_sec: int = 60) -> DataFrame:
    """Streaming per-canonical-URL change stats. Input: a streaming
    DataFrame with (doc_id long, url string, text string, ts
    timestamp). Emits the updated
    ``(canon_url, n_snapshots, n_changes, first_ts, last_ts,
    last_change_ts)`` row whenever the event-time fold advances;
    semantics match the batch ``snapshot_change_stats`` over every
    snapshot that arrived within ``delay_sec`` of the watermark."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    prepared = (
        pages.withWatermark("ts", f"{int(delay_sec)} seconds")
        .select(
            canonical_url(F.col("url")).alias("canon_url"),
            "doc_id",
            F.unix_timestamp(F.col("ts")).cast("long").alias("ts_sec"),
            fingerprint(F.col("text")).alias("fp"),
            F.col("ts"),
        )
    )

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            (last_fp, n, ch, first_ts, last_ts, last_ch,
             p_ids, p_ts, p_fps) = state.get
            p_ids, p_ts, p_fps = list(p_ids), list(p_ts), list(p_fps)
        else:
            last_fp, n, ch = None, 0, 0
            first_ts = last_ts = last_ch = None
            p_ids, p_ts, p_fps = [], [], []
        if not state.hasTimedOut:
            for pdf in pdfs:
                p_ids.extend(int(x) for x in pdf["doc_id"])
                p_ts.extend(int(x) for x in pdf["ts_sec"])
                p_fps.extend(str(x) for x in pdf["fp"])
        wm_sec = state.getCurrentWatermarkMs() // 1000
        # fold pending snapshots the watermark has sealed, in event order
        ready = sorted(
            (t, i, f) for i, t, f in zip(p_ids, p_ts, p_fps) if t <= wm_sec
        )
        advanced = False
        if ready:
            keep = [(i, t, f) for i, t, f in zip(p_ids, p_ts, p_fps)
                    if t > wm_sec]
            p_ids = [x[0] for x in keep]
            p_ts = [x[1] for x in keep]
            p_fps = [x[2] for x in keep]
            for t, _i, f in ready:
                n += 1
                if first_ts is None:
                    first_ts = t
                if f != last_fp:
                    ch += 1
                    last_ch = t
                last_fp = f
                last_ts = t
            advanced = True
        state.update((
            last_fp, n, ch, first_ts, last_ts, last_ch,
            p_ids, p_ts, p_fps,
        ))
        if p_ts:
            # fire as soon as the watermark could seal the OLDEST pending
            # snapshot (min, not max: a key with no further arrivals still
            # folds wave by wave instead of only at stream end); always
            # > current watermark since everything <= wm just folded
            state.setTimeoutTimestamp((min(p_ts) + 1) * 1000)
        if advanced:
            yield pd.DataFrame({
                "canon_url": [key[0]],
                "n_snapshots": [n],
                "n_changes": [ch],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
                "last_change_ts": [last_ch],
            })
        else:
            yield pd.DataFrame({c: [] for c in (
                "canon_url", "n_snapshots", "n_changes",
                "first_ts", "last_ts", "last_change_ts",
            )})

    return prepared.groupBy("canon_url").applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
