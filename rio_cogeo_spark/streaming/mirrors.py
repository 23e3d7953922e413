"""Streaming cross-host mirror detection over a crawl stream.

The streaming form of ``operators/dedup.mirror_docs``: as pages arrive,
maintain per content fingerprint the set of hosts it has been seen on,
and surface fingerprints once they span at least 2 distinct hosts.
Spark-first: a plain streaming aggregation — ``groupBy(fp).agg(
collect_set(host), count(*))`` — no custom state code; the state row
per fingerprint holds exactly the host set being maintained (bounded by
the number of hosts actually mirroring that content, the same bound the
batch operator's dropDuplicates key set has). RocksDB-backed state at
cluster scale.

Output is the FINGERPRINT-level summary ``(fp, n_hosts, n_copies)`` —
the streaming product is the mirror REGISTRY (joined to document ids at
read time by any consumer); the batch operator's per-document expansion
would make each state row grow with copy count, which is unbounded for
viral templates. Streaming==batch (against the batch operator's
fp-level rollup) is asserted at two micro-batch sizes in
tests/test_round5.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import fingerprint, host_col


def mirror_stream(pages: DataFrame) -> DataFrame:
    """Continuously-maintained mirror registry: one row per content
    fingerprint currently seen on ≥ 2 distinct hosts, with
    the live distinct-host and total-copy counts."""
    tagged = pages.select(
        host_col(F.col("url")).alias("host"),
        fingerprint(F.col("text")).alias("fp"),
    )
    return (
        tagged.groupBy("fp")
        .agg(
            F.size(F.collect_set("host")).alias("n_hosts"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_hosts") >= 2)
    )
