"""Host-level boilerplate line removal (the CCNet preprocessing stage:
navigation / footer / cookie-banner lines repeat on most of a site's
pages — drop a line from every page of a host where it is frequent).

Complementary to :func:`dedup.paragraph_dedup` (corpus-wide keep-first
at paragraph granularity): here the unit is the LINE, the scope is the
HOST, and the rule is frequency (a line in ≥ 50% of the
host's docs AND ≥ 2 docs is boilerplate and is dropped from
ALL of them — no copy survives, unlike keep-first dedup).

Scale design (100 TB):

* line frequencies need per-(host, line) DISTINCT-doc counts; computed
  as dropDuplicates on (host, line-hash, doc) — one shuffle whose key
  cardinality is bounded by distinct lines × hosts — followed by a
  map-side-combinable count (never a COUNT(DISTINCT) expand);
* host doc totals are a tiny second aggregate joined back on host;
* the hot-line set joins the exploded lines on (host, line-hash) —
  co-partitioned equi-join, AQE broadcasts it when small;
* the frequency test is exact integer arithmetic
  (``n_docs·10^6 ≥ 500000·host_docs``) — no float thresholds;
* reassembly ships only surviving lines, ordered by original position.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import host_col


def boilerplate_lines(pages: DataFrame) -> DataFrame:
    """Strip host-frequent lines. Returns ``(doc_id, host, text,
    n_kept, n_total)``; documents reduced to zero lines drop from the
    output (their every line was site furniture). Blank lines are
    never counted as boilerplate and never survive reassembly."""
    lines = (
        pages.select(
            F.col("doc_id"),
            host_col(F.col("url")).alias("host"),
            F.posexplode(F.split(F.col("text"), "\n")).alias("idx", "line"),
        )
        .filter(F.length(F.trim(F.col("line"))) > 0)
        .withColumn("lh", F.md5(F.col("line")))
    )
    line_docs = (
        lines.select("host", "lh", "doc_id")
        .dropDuplicates(["host", "lh", "doc_id"])
        .groupBy("host", "lh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    host_docs = (
        pages.select(host_col(F.col("url")).alias("host"), "doc_id")
        .dropDuplicates(["host", "doc_id"])
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("host_docs"))
    )
    hot = (
        line_docs.join(host_docs, "host")
        .filter(
            (F.col("n_docs") * 1_000_000 >= F.lit(500_000) * F.col("host_docs"))
            & (F.col("n_docs") >= 2)
        )
        .select("host", "lh")
    )
    totals = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    kept = lines.join(hot, ["host", "lh"], "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.any_value(F.col("host")).alias("host"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("idx"), F.col("line")))
                    ),
                    lambda x: x["line"],
                ),
            ).alias("text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(totals, "doc_id")
        .select("doc_id", "host", "text", "n_kept", "n_total")
    )
