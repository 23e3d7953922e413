"""Corpus-level reporting — the text-side analog of
:func:`operators.info.cog_info` (reference rio_cogeo/cogeo.py:760
``cog_info`` reports a raster's shape/levels/tags in one call): one
query that tells a curation team what a corpus snapshot IS before any
pipeline decision. All exact-integer, so the report hashes identically
cross-engine.

Scale design (100 TB): every number here is a combinable aggregate —
the corpus is read once, the only shuffles are (a) the vocab count's
(term) fold, (b) the dup count's (text-hash) fold, both map-side
combinable; the per-slice medians are computed over the VALUE-frequency
table (one row per distinct value per group — bounded by the value
range, never the corpus), so no corpus-wide sort anywhere.

Column names are fixed (``lang``, ``text``, ``n_chars``, ``ts_sec``,
``host``, ``tile_x``/``tile_y``). The paired statistics (e.g.
:func:`ks_statistic`, :func:`kendall_tau`) take the columns they
compare, and :func:`group_median`/:func:`cusum_days` take their group
or timestamp column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PPM = 1_000_000


def corpus_info(docs: DataFrame) -> DataFrame:
    """One-row corpus dashboard: ``(n_docs, n_langs, n_tokens, n_types,
    sum_chars, avg_chars, dup_docs, dup_frac_ppm)``.

    * ``n_tokens`` / ``n_types`` — corpus token occurrences / distinct
      tokens (the Heaps-law pair, corpus-wide);
    * ``avg_chars = sum_chars div n_docs`` (exact BIGINT);
    * ``dup_docs`` — docs whose exact text (md5) is shared by at least
      one other doc, i.e. the mass the exact-dedup pass would touch;
      ``dup_frac_ppm`` in exact ppm.

    Three 1-row aggregates (base / vocabulary / dup mass) cross-joined
    — each is combinable, nothing collects.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).alias("sum_chars"),
    )
    vocab = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )
    dups = (
        docs.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0)))
            .alias("dup_docs")
        )
    )
    return (
        base.crossJoin(vocab)
        .crossJoin(dups)
        .select(
            "n_docs", "n_langs", "n_tokens", "n_types", "sum_chars",
            F.expr("sum_chars div n_docs").alias("avg_chars"),
            "dup_docs",
            F.expr(f"(dup_docs * {_PPM}) div n_docs").alias("dup_frac_ppm"),
        )
    )


def corpus_info_sql() -> str:
    """DuckDB twin of :func:`corpus_info`."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH base AS (SELECT COUNT(*) AS n_docs,
                     COUNT(DISTINCT lang) AS n_langs,
                     SUM(length(text)) AS sum_chars FROM documents),
vocab AS (SELECT SUM(cnt) AS n_tokens, COUNT(*) AS n_types FROM
          (SELECT term, COUNT(*) AS cnt FROM
           (SELECT unnest({TOKENS_SQL}) AS term FROM documents) GROUP BY 1)),
dups AS (SELECT SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_docs FROM
         (SELECT md5(text) AS h, COUNT(*) AS cnt FROM documents GROUP BY 1))
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(sum_chars AS BIGINT) AS sum_chars,
       CAST(sum_chars // n_docs AS BIGINT) AS avg_chars,
       CAST(dup_docs AS BIGINT) AS dup_docs,
       CAST((dup_docs * {_PPM}) // n_docs AS BIGINT) AS dup_frac_ppm
FROM base CROSS JOIN vocab CROSS JOIN dups"""


def group_median(docs: DataFrame, group_col: str = "lang") -> DataFrame:
    """Exact per-group integer median — the lower median (element at
    1-based position ``(n+1) div 2`` of the sorted values), all-int and
    deterministic (no interpolated doubles, unlike percentile_cont).

    Computed WITHOUT a corpus sort: fold to the VALUE-frequency table
    (one row per distinct value per group — bounded by the value range,
    e.g. a few thousand distinct document lengths, never the corpus),
    then a cumulative-count window over that tiny table picks the
    smallest value whose running count reaches the median position.
    This is the 100 TB form: a window over per-group row data would
    sort the corpus; this windows over per-group DISTINCT VALUES.

    Returns ``(group_col, n, median)``.
    """
    freq = docs.groupBy(group_col, F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = freq.select(
        group_col, "v", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(group_col).orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    hit = cum.filter(F.expr("cum >= (n + 1) div 2")).groupBy(group_col).agg(
        F.min(F.struct("v", "n")).alias("m")
    )
    return hit.select(
        group_col,
        F.col("m.n").alias("n"),
        F.col("m.v").alias("median"),
    )


def group_median_sql(table: str = "documents", group_col: str = "lang") -> str:
    """DuckDB twin of :func:`group_median` (same value-frequency
    cumulative fold)."""
    return rf"""
WITH freq AS (SELECT {group_col}, n_chars AS v, COUNT(*) AS cnt
              FROM {table} GROUP BY 1, 2),
cum AS (SELECT {group_col}, v, cnt,
               SUM(cnt) OVER (PARTITION BY {group_col} ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER (PARTITION BY {group_col}) AS n
        FROM freq)
SELECT {group_col},
       CAST(MIN(STRUCT_PACK(v := v, n := n)).n AS BIGINT) AS n,
       MIN(STRUCT_PACK(v := v, n := n)).v AS median
FROM cum WHERE cum >= (n + 1) // 2
GROUP BY 1"""


_QUANTILE_LABELS = ("p25", "p50", "p75")
_QUANTILES = ((1, 4), (1, 2), (3, 4))


def group_quantiles(docs: DataFrame) -> DataFrame:
    """Exact per-group lower quantiles (generalizes
    :func:`group_median`): for each ``q = num/den``, the smallest value
    whose cumulative count reaches ``ceil(n·q)`` — all-int, no
    interpolation, no doubles. The ceil never materializes: ``cum >=
    ceil(n·num/den)  ⟺  cum·den >= n·num`` for integer ``cum``, so the
    probe is a pure BIGINT comparison.

    ONE pass over the same value-frequency + cumulative-count table as
    the median (distinct-value-bounded, never a corpus sort); each
    quantile is a conditional MIN over that table, so adding quantiles
    adds columns, not passes. Returns ``(lang, n, p25, p50, p75)``.
    """
    freq = docs.groupBy("lang", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = freq.select(
        "lang", "v",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy("lang").orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for (num, den), lab in zip(_QUANTILES, _QUANTILE_LABELS):
        aggs.append(
            F.min(
                F.when(
                    F.expr(f"cum * {int(den)} >= n * {int(num)}"), F.col("v")
                )
            ).alias(lab)
        )
    return cum.groupBy("lang").agg(*aggs)


def group_quantiles_sql() -> str:
    """DuckDB twin of :func:`group_quantiles`."""
    sels = ",\n       ".join(
        f"MIN(CASE WHEN cum * {int(den)} >= n * {int(num)} THEN v END)"
        f" AS {lab}"
        for (num, den), lab in zip(_QUANTILES, _QUANTILE_LABELS)
    )
    return rf"""
WITH freq AS (SELECT lang, n_chars AS v, COUNT(*) AS cnt
              FROM documents GROUP BY 1, 2),
cum AS (SELECT lang, v,
               SUM(cnt) OVER (PARTITION BY lang ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER (PARTITION BY lang) AS n
        FROM freq)
SELECT lang,
       CAST(MAX(n) AS BIGINT) AS n,
       {sels}
FROM cum GROUP BY 1"""


def classifier_eval(
    scored: DataFrame,
    truth_col: str,
    pred_col: str,
) -> DataFrame:
    """Classifier evaluation harness — the per-class confusion report a
    training pipeline needs for every heuristic classifier it gates on
    (lang-id vs the stored label, quality gate vs human tags, ...):
    for every class appearing as truth or prediction::

        (cls, n_truth, n_pred, tp, precision_ppm, recall_ppm)

    in exact integer ppm (``tp*1e6 div n_pred`` / ``div n_truth``; 0
    when the denominator is 0 — a class never predicted has precision
    0 by convention, stated rather than NULL so downstream thresholds
    compare cleanly).

    Scale design (100 TB): three combinable counts over the scored
    corpus — per-truth, per-pred, per-(truth==pred) — merged on the
    class-bounded key table; the corpus never shuffles more than once
    per fold and nothing collects.
    """
    t = scored.groupBy(F.col(truth_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    p = scored.groupBy(F.col(pred_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    tp = (
        scored.filter(F.col(truth_col) == F.col(pred_col))
        .groupBy(F.col(truth_col).alias("cls"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    return (
        t.join(p, "cls", "full_outer")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_truth", F.lit(0)).cast("long").alias("n_truth"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.expr(
                "CASE WHEN coalesce(n_pred, 0) = 0 THEN CAST(0 AS BIGINT) "
                "ELSE (coalesce(tp, 0) * 1000000) div n_pred END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN coalesce(n_truth, 0) = 0 THEN CAST(0 AS BIGINT) "
                "ELSE (coalesce(tp, 0) * 1000000) div n_truth END"
            ).alias("recall_ppm"),
        )
    )


def classifier_eval_sql(
    scored_cte: str, truth_col: str, pred_col: str
) -> str:
    """DuckDB twin of :func:`classifier_eval` (``scored_cte`` exposes
    the truth and prediction columns)."""
    return f"""
WITH ce_s AS ({scored_cte}),
ce_t AS (SELECT {truth_col} AS cls, COUNT(*) AS n_truth FROM ce_s GROUP BY 1),
ce_p AS (SELECT {pred_col} AS cls, COUNT(*) AS n_pred FROM ce_s GROUP BY 1),
ce_tp AS (SELECT {truth_col} AS cls, COUNT(*) AS tp FROM ce_s
          WHERE {truth_col} = {pred_col} GROUP BY 1)
SELECT cls,
       CAST(COALESCE(n_truth, 0) AS BIGINT) AS n_truth,
       CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
       CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
       CAST(CASE WHEN COALESCE(n_pred, 0) = 0 THEN 0
                 ELSE (COALESCE(tp, 0) * 1000000) // n_pred END AS BIGINT)
           AS precision_ppm,
       CAST(CASE WHEN COALESCE(n_truth, 0) = 0 THEN 0
                 ELSE (COALESCE(tp, 0) * 1000000) // n_truth END AS BIGINT)
           AS recall_ppm
FROM ce_t FULL OUTER JOIN ce_p USING (cls)
LEFT JOIN ce_tp USING (cls)"""


def column_profile(df: DataFrame, cols: list) -> DataFrame:
    """Per-column corpus datasheet (the Deequ / datasheets-for-datasets
    profiling staple): for every requested column, one row::

        (col_name, n, n_null, n_distinct, min_val, max_val,
         top_value, top_count)

    with min/max/top carried as STRINGS so heterogeneous columns stack
    in one frame (BIGINT→string casts are engine-identical). The top
    value is the most frequent non-null, ties to the smallest value —
    a combinable ``MIN(struct(-count, value))`` over the per-column
    value-count table (value-bounded), never a global sort.

    Scale design (100 TB): one pass per column (the column list is
    schema-bounded), each pass two combinable aggregates; nothing
    collects; ``n_distinct`` is exact (count(DISTINCT) per single
    column — one expand each, over ONE column's values only).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    parts = []
    for c in cols:
        sc = F.col(c).cast("string")
        base = df.select(sc.alias("v")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_null"),
            F.countDistinct("v").alias("n_distinct"),
            F.min("v").alias("min_val"),
            F.max("v").alias("max_val"),
        )
        top = (
            df.select(sc.alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("neg"), F.col("v").alias("tv"))
                ).alias("m")
            )
            .select(
                F.col("m.tv").alias("top_value"),
                (-F.col("m.neg")).cast("long").alias("top_count"),
            )
        )
        parts.append(
            base.crossJoin(top).select(
                F.lit(c).alias("col_name"),
                F.col("n").cast("long").alias("n"),
                F.col("n_null").cast("long").alias("n_null"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                "min_val", "max_val", "top_value", "top_count",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def column_profile_sql(table: str, cols: list) -> str:
    """DuckDB twin of :func:`column_profile`."""
    parts = []
    for c in cols:
        parts.append(f"""
SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN CAST({c} AS VARCHAR) IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_val,
       MAX(CAST({c} AS VARCHAR)) AS max_val,
       (SELECT v FROM (
          SELECT CAST({c} AS VARCHAR) AS v, COUNT(*) AS cnt FROM {table}
          WHERE CAST({c} AS VARCHAR) IS NOT NULL GROUP BY 1)
        ORDER BY cnt DESC, v ASC LIMIT 1) AS top_value,
       (SELECT cnt FROM (
          SELECT CAST({c} AS VARCHAR) AS v, COUNT(*) AS cnt FROM {table}
          WHERE CAST({c} AS VARCHAR) IS NOT NULL GROUP BY 1)
        ORDER BY cnt DESC, v ASC LIMIT 1) AS top_count
FROM {table}""")
    return "\nUNION ALL\n".join(parts)


def data_checks(df: DataFrame, rules: list) -> DataFrame:
    """Declarative data-quality gate (the Deequ VerificationSuite
    analog): evaluate a list of rules in ONE pass and emit one row per
    rule — ``(rule, col, measure, threshold, pass)`` with the measure
    in exact integers (ppm for rates), so a pipeline can both FILTER
    (all pass) and REPORT (which rule failed by how much).

    Rules (dicts): ``{"check": "not_null_ppm_ge", "col": c,
    "threshold": t}`` (non-null rate >= t ppm), ``{"check":
    "distinct_le", ...}`` (exact distinct count <= t), ``{"check":
    "min_ge"}`` / ``{"check": "max_le"}`` (numeric bound, measure cast
    to BIGINT). Unknown checks raise.

    Scale design (100 TB): every measure is a combinable aggregate and
    ALL rules fold in one aggregation pass over one scan (Catalyst
    collapses the agg list); the output is rule-bounded.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    aggs, metas = [], []
    for i, r in enumerate(rules):
        c, chk, thr = r["col"], r["check"], int(r["threshold"])
        if chk == "not_null_ppm_ge":
            # integer div on BOTH engines (double-cast casts differ:
            # Spark truncates, DuckDB rounds)
            aggs.append(
                F.expr(
                    f"(sum(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)"
                    f" * 1000000) div count(1)"
                ).alias(f"m{i}")
            )
        elif chk == "distinct_le":
            aggs.append(F.countDistinct(F.col(c)).alias(f"m{i}"))
        elif chk == "min_ge":
            aggs.append(F.min(F.col(c)).cast("long").alias(f"m{i}"))
        elif chk == "max_le":
            aggs.append(F.max(F.col(c)).cast("long").alias(f"m{i}"))
        else:
            raise ValueError(f"unknown check {chk!r}")
        metas.append((r.get("rule", f"{chk}({c})"), c, chk, thr))
    one = df.agg(*aggs)
    rows = []
    for i, (name, c, chk, thr) in enumerate(metas):
        ge = chk in ("not_null_ppm_ge", "min_ge")
        rows.append(
            one.select(
                F.lit(name).alias("rule"),
                F.lit(c).alias("col"),
                F.col(f"m{i}").cast("long").alias("measure"),
                F.lit(thr).cast("long").alias("threshold"),
                (F.col(f"m{i}") >= thr if ge else F.col(f"m{i}") <= thr)
                .alias("pass"),
            )
        )
    out = rows[0]
    for p in rows[1:]:
        out = out.unionByName(p)
    return out


def data_checks_sql(table: str, rules: list) -> str:
    """DuckDB twin of :func:`data_checks`."""
    parts = []
    for r in rules:
        c, chk, thr = r["col"], r["check"], int(r["threshold"])
        name = r.get("rule", f"{chk}({c})")
        if chk == "not_null_ppm_ge":
            m = (f"CAST((SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)"
                 f" * 1000000) // COUNT(*) AS BIGINT)")
            op = ">="
        elif chk == "distinct_le":
            m, op = f"CAST(COUNT(DISTINCT {c}) AS BIGINT)", "<="
        elif chk == "min_ge":
            m, op = f"CAST(MIN({c}) AS BIGINT)", ">="
        elif chk == "max_le":
            m, op = f"CAST(MAX({c}) AS BIGINT)", "<="
        else:
            raise ValueError(f"unknown check {chk!r}")
        parts.append(
            f"SELECT '{name}' AS rule, '{c}' AS col, {m} AS measure, "
            f"CAST({thr} AS BIGINT) AS threshold, "
            f"{m} {op} {thr} AS pass FROM {table}"
        )
    return "\nUNION ALL\n".join(parts)


def volume_anomaly(pages: DataFrame, window_days: int = 7) -> DataFrame:
    """Crawl-volume anomaly detection: per UTC day, the page count and
    its z-score against the TRAILING ``window_days`` fully-observed
    days (current day excluded — the alarm must not mask itself).
    Emitted only for days with a full trailing window.

    Output ``(day, n_pages, trail_mean_mil, z_mil)`` — the mean ×1000
    and z ×1000 pinned to exact ints by floor(x+0.5) (the engine-
    independent rounding): every float derives from exact integer
    day-count sums through one fixed expression tree, so the pin is
    deterministic cross-engine. ``z_mil`` is NULL when the trailing
    window has zero variance (a constant baseline has no scale — the
    consumer treats any deviation as alarm).

    Scale design (100 TB): ONE map-side-combinable day-count fold over
    the corpus; every window after that runs on the DAY table (rows =
    distinct days — thousands, not pages).
    """
    if window_days < 2:
        raise ValueError(f"window_days must be >= 2, got {window_days}")
    days = pages.select(
        F.expr("ts_sec div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).alias("n_pages"))
    w = (
        Window.orderBy("day")
        .rowsBetween(-window_days, -1)
    )
    stats = days.select(
        "day", "n_pages",
        F.count(F.lit(1)).over(w).alias("_k"),
        F.sum("n_pages").over(w).alias("_s"),
        F.sum(F.col("n_pages") * F.col("n_pages")).over(w).alias("_s2"),
    ).filter(F.col("_k") == window_days)
    mean = F.col("_s").cast("double") / F.col("_k")
    var = (
        F.col("_s2").cast("double") / F.col("_k") - mean * mean
    )
    z = (F.col("n_pages").cast("double") - mean) / F.sqrt(var)
    return stats.select(
        "day", "n_pages",
        F.floor(mean * F.lit(1000.0) + F.lit(0.5)).cast("long")
        .alias("trail_mean_mil"),
        F.when(var > 0, F.floor(z * F.lit(1000.0) + F.lit(0.5)).cast("long"))
        .alias("z_mil"),
    )


def volume_anomaly_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`volume_anomaly` (``pages_cte`` exposes the
    timestamp column)."""
    return f"""
WITH va_p AS ({pages_cte}),
va_d AS (SELECT ts_sec // 86400 AS day, COUNT(*) AS n_pages
         FROM va_p GROUP BY 1),
va_w AS (SELECT day, n_pages,
                COUNT(*) OVER tw AS k,
                SUM(n_pages) OVER tw AS s,
                SUM(n_pages * n_pages) OVER tw AS s2
         FROM va_d
         WINDOW tw AS (ORDER BY day
                       ROWS BETWEEN 7 PRECEDING
                       AND 1 PRECEDING))
SELECT day, CAST(n_pages AS BIGINT) AS n_pages,
       CAST(floor((CAST(s AS DOUBLE) / k) * 1000.0 + 0.5) AS BIGINT)
           AS trail_mean_mil,
       CASE WHEN (CAST(s2 AS DOUBLE) / k
                  - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k)) > 0
            THEN CAST(floor(
                 ((CAST(n_pages AS DOUBLE) - CAST(s AS DOUBLE) / k)
                  / sqrt(CAST(s2 AS DOUBLE) / k
                         - (CAST(s AS DOUBLE) / k)
                           * (CAST(s AS DOUBLE) / k)))
                 * 1000.0 + 0.5) AS BIGINT)
            ELSE NULL END AS z_mil
FROM va_w WHERE k = 7"""


def cohen_kappa(
    scored: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's kappa between two labelings — chance-corrected agreement
    (the standard inter-annotator / classifier-vs-classifier metric;
    raw accuracy rewards majority-class collusion, kappa does not).

    One row: ``(n, agree, po_ppm, pe_ppm, kappa_ppm)`` in exact staged
    integer arithmetic::

        po_ppm   = agree * 1e6 div n
        pe_ppm   = Σ_c (n_a(c) * n_b(c)) * 1e6 div (n * n)
        kappa_pm = (po_ppm - pe_ppm) * 1e6 div (1e6 - pe_ppm)

    (kappa_ppm is scaled by 1e6; pe < 1 whenever the labelings are not
    single-class constants — the degenerate pe = 1e6 case yields NULL
    by stated convention). Int64 envelope: ``Σ n_a*n_b <= n²``, so
    ``n² * 1e6`` must fit int64 → n <= ~3e6 rows per scored shard at
    ppm scale; beyond that, shard the evaluation or stage through
    DECIMAL (documented, as for bm25's envelope).

    Scale design: two class-bounded marginal folds + one agree count,
    all combinable; the cross term joins the two marginal tables on
    the class key (class-bounded).
    """
    n_df = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col(a_col) == F.col(b_col), 1).otherwise(0)
        ).alias("agree"),
    )
    ma = scored.groupBy(F.col(a_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    mb = scored.groupBy(F.col(b_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    cross = (
        ma.join(mb, "cls")
        .agg(F.sum(F.col("n_a") * F.col("n_b")).alias("cross"))
    )
    return (
        n_df.crossJoin(F.broadcast(cross))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("agree").cast("long").alias("agree"),
            F.expr("(agree * 1000000) div n").alias("po_ppm"),
            F.expr("(coalesce(cross, 0) * 1000000) div (n * n)").alias("pe_ppm"),
        )
        .select(
            "n", "agree", "po_ppm", "pe_ppm",
            # explicit double-floor: Spark's div truncates negatives
            # toward zero while DuckDB's // floors — floor over the
            # exact-double quotient (operands < 2^53) is identical on
            # both engines for EITHER sign
            F.expr(
                "CASE WHEN pe_ppm >= 1000000 THEN CAST(NULL AS BIGINT) "
                "ELSE CAST(floor(CAST((po_ppm - pe_ppm) * 1000000 AS DOUBLE)"
                " / CAST(1000000 - pe_ppm AS DOUBLE)) AS BIGINT) END"
            ).alias("kappa_ppm"),
        )
    )


def cohen_kappa_sql(scored_cte: str, a_col: str, b_col: str) -> str:
    """DuckDB twin of :func:`cohen_kappa`."""
    return f"""
WITH ck_s AS ({scored_cte}),
ck_n AS (SELECT COUNT(*) AS n,
                SUM(CASE WHEN {a_col} = {b_col} THEN 1 ELSE 0 END) AS agree
         FROM ck_s),
ck_a AS (SELECT {a_col} AS cls, COUNT(*) AS n_a FROM ck_s GROUP BY 1),
ck_b AS (SELECT {b_col} AS cls, COUNT(*) AS n_b FROM ck_s GROUP BY 1),
ck_x AS (SELECT SUM(n_a * n_b) AS crs FROM ck_a JOIN ck_b USING (cls)),
ck_p AS (SELECT n, agree,
                (agree * 1000000) // n AS po_ppm,
                (COALESCE(crs, 0) * 1000000) // (n * n) AS pe_ppm
         FROM ck_n, ck_x)
SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
       CAST(po_ppm AS BIGINT) AS po_ppm, CAST(pe_ppm AS BIGINT) AS pe_ppm,
       CASE WHEN pe_ppm >= 1000000 THEN NULL
            ELSE CAST(floor(CAST((po_ppm - pe_ppm) * 1000000 AS DOUBLE)
                 / CAST(1000000 - pe_ppm AS DOUBLE)) AS BIGINT) END
           AS kappa_ppm
FROM ck_p"""


def host_concentration(df: DataFrame) -> DataFrame:
    """Corpus concentration report over a grouping key (host, source,
    lang): one row ``(n_keys, n_rows, top_share_ppm, hhi_ppm,
    gini_ppm)``.

    * ``top_share_ppm`` — the largest key's share (is one CDN/SEO farm
      dominating the crawl?);
    * ``hhi_ppm = Σ c_i² * 1e6 div (Σ c_i)²`` — Herfindahl-Hirschman
      index, the antitrust-style concentration measure;
    * ``gini_ppm = (2·Σ i·c_i − (k+1)·n) * 1e6 div (k·n)`` over counts
      sorted ascending with rank ``i`` — the classic inequality
      coefficient (rank ties between equal counts cannot change
      ``Σ i·c_i``, so the value is order-deterministic). The numerator
      is provably ≥ 0 for the ascending sort, so integer ``div``
      truncation == floor on both engines.

    All arithmetic stages through DECIMAL(38,0) (DuckDB: HUGEINT) —
    ``c_i²`` and ``i·c_i`` overflow int64 at petabyte row counts.

    Scale design: ONE corpus fold to the per-key count table (map-side
    combinable); the rank window and all three measures run over that
    key-bounded table (#hosts, never #rows). Nothing collects.
    """
    counts = df.groupBy(F.col("host").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").asc(), F.col("k").asc())
    ranked = counts.select(
        F.col("cnt"), F.row_number().over(w).alias("i")
    )
    return (
        ranked.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_cnt"),
            F.sum(
                F.col("cnt").cast("decimal(38,0)") * F.col("cnt")
            ).alias("sq"),
            F.sum(
                F.col("i").cast("decimal(38,0)") * F.col("cnt")
            ).alias("ic"),
        )
        .select(
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.expr("(max_cnt * 1000000) div n_rows").cast("long")
            .alias("top_share_ppm"),
            F.expr(
                "(sq * 1000000) div (cast(n_rows as decimal(38,0)) * n_rows)"
            ).cast("long").alias("hhi_ppm"),
            F.expr(
                "((2 * ic - cast(n_keys + 1 as decimal(38,0)) * n_rows)"
                " * 1000000) div (cast(n_keys as decimal(38,0)) * n_rows)"
            ).cast("long").alias("gini_ppm"),
        )
    )


def host_concentration_sql(inner_cte: str) -> str:
    """DuckDB twin of :func:`host_concentration` (HUGEINT staging)."""
    return f"""
WITH hc_src AS ({inner_cte}),
hc_c AS (SELECT host AS k, COUNT(*) AS cnt FROM hc_src GROUP BY 1),
hc_r AS (SELECT cnt,
                ROW_NUMBER() OVER (ORDER BY cnt ASC, k ASC) AS i
         FROM hc_c),
hc_a AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows,
                MAX(cnt) AS max_cnt,
                SUM(CAST(cnt AS HUGEINT) * cnt) AS sq,
                SUM(CAST(i AS HUGEINT) * cnt) AS ic
         FROM hc_r)
SELECT CAST(n_keys AS BIGINT) AS n_keys,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST((max_cnt * 1000000) // n_rows AS BIGINT) AS top_share_ppm,
       CAST((sq * 1000000) // (CAST(n_rows AS HUGEINT) * n_rows)
            AS BIGINT) AS hhi_ppm,
       CAST(((2 * ic - CAST(n_keys + 1 AS HUGEINT) * n_rows) * 1000000)
            // (CAST(n_keys AS HUGEINT) * n_rows) AS BIGINT) AS gini_ppm
FROM hc_a"""


def chi_square(
    scored: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns (lang × quality-bucket: is quality independent of
    language?) — one row ``(n, n_a, n_b, dof, chi2_mil)``.

    Exact staged-integer contract: with observed ``o``, row total
    ``R``, column total ``C`` and grand total ``N``, the per-cell
    contribution is::

        term_mil(cell) = (o·N − R·C)² * 1000 div (N·R·C)

    and ``chi2_mil = Σ_cells term_mil`` — the FULL marginal cross
    (including zero-observed cells, whose term is ``R·C·1000 div N``
    scaled — omitting them understates chi²), per-cell floored THEN
    summed (the stated contract; floor-per-cell keeps every stage in
    integer arithmetic with no double anywhere). ``dof =
    (n_a−1)(n_b−1)``. DECIMAL(38,0)/HUGEINT staging — ``(o·N)²``
    overflows int64 long before petabyte scale.

    Scale design: two class-bounded marginal folds + one (a,b) cell
    fold, all map-side combinable; the marginal cross join and the
    observed-cell left join are class-bounded (|A|·|B| cells, never
    corpus rows).
    """
    obs = scored.groupBy(
        F.col(a_col).alias("ca"), F.col(b_col).alias("cb")
    ).agg(F.count(F.lit(1)).alias("o"))
    ma = scored.groupBy(F.col(a_col).alias("ca")).agg(
        F.count(F.lit(1)).alias("r_tot")
    )
    mb = scored.groupBy(F.col(b_col).alias("cb")).agg(
        F.count(F.lit(1)).alias("c_tot")
    )
    n_df = scored.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        ma.crossJoin(mb)
        .join(obs, ["ca", "cb"], "left")
        .crossJoin(F.broadcast(n_df))
        .select(
            "n",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            "r_tot", "c_tot",
        )
        .select(
            "n",
            F.expr(
                "((cast(o as decimal(38,0)) * n"
                " - cast(r_tot as decimal(38,0)) * c_tot)"
                " * (cast(o as decimal(38,0)) * n"
                " - cast(r_tot as decimal(38,0)) * c_tot) * 1000)"
                " div (cast(n as decimal(38,0)) * r_tot * c_tot)"
            ).alias("term_mil"),
        )
    )
    dims = (
        scored.agg(
            F.countDistinct(a_col).alias("n_a"),
            F.countDistinct(b_col).alias("n_b"),
        )
    )
    return (
        cells.agg(
            F.max("n").alias("n"),
            F.sum("term_mil").alias("chi2_mil"),
        )
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            ((F.col("n_a") - 1) * (F.col("n_b") - 1)).cast("long")
            .alias("dof"),
            F.col("chi2_mil").cast("long").alias("chi2_mil"),
        )
    )


def chi_square_sql(scored_cte: str, a_col: str, b_col: str) -> str:
    """DuckDB twin of :func:`chi_square` (HUGEINT staging, per-cell
    floor-then-sum contract)."""
    return f"""
WITH x2_s AS ({scored_cte}),
x2_o AS (SELECT {a_col} AS ca, {b_col} AS cb, COUNT(*) AS o
         FROM x2_s GROUP BY 1, 2),
x2_a AS (SELECT {a_col} AS ca, COUNT(*) AS r_tot FROM x2_s GROUP BY 1),
x2_b AS (SELECT {b_col} AS cb, COUNT(*) AS c_tot FROM x2_s GROUP BY 1),
x2_n AS (SELECT COUNT(*) AS n FROM x2_s),
x2_c AS (SELECT n, COALESCE(o, 0) AS o, r_tot, c_tot
         FROM x2_a CROSS JOIN x2_b
         LEFT JOIN x2_o USING (ca, cb)
         CROSS JOIN x2_n),
x2_t AS (SELECT n,
                ((CAST(o AS HUGEINT) * n - CAST(r_tot AS HUGEINT) * c_tot)
                 * (CAST(o AS HUGEINT) * n - CAST(r_tot AS HUGEINT) * c_tot)
                 * 1000)
                // (CAST(n AS HUGEINT) * r_tot * c_tot) AS term_mil
         FROM x2_c),
x2_d AS (SELECT COUNT(DISTINCT {a_col}) AS n_a,
                COUNT(DISTINCT {b_col}) AS n_b
         FROM x2_s)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
       CAST(SUM(term_mil) AS BIGINT) AS chi2_mil
FROM x2_t CROSS JOIN x2_d
GROUP BY n_a, n_b"""


def zipf_slope(docs: DataFrame, top_k: int = 500) -> DataFrame:
    """Zipf's-law fit over the term-frequency distribution: OLS slope of
    ``ln(freq)`` on ``ln(rank)`` for the top-``top_k`` terms — one row
    ``(k, n_tokens, slope_mil, r2_mil)``. A healthy natural-language
    corpus sits near slope −1; boilerplate/SEO-spam floods flatten it,
    template dedup failures steepen it (the standard corpus-health
    diagnostic, e.g. RefinedWeb app. C-style token-distribution audits).

    Exactness contract: ``x = floor(ln(rank)·1e6)``, ``y =
    floor(ln(cnt)·1e6)`` pinned to BIGINT (ln of a positive integer is
    the same IEEE double on both engines' libm for 1-ulp-safe inputs;
    the e6 floor makes the 1-ulp tail irrelevant except within 1e-10 of
    a boundary — top_k·2 values of bounded exposure). Then::

        num = k·Σxy − Σx·Σy        den = k·Σxx − (Σx)²
        slope_mil = −((|num| · 1000) div den)  when num ≤ 0 (sign-split
        trunc-toward-zero, stated contract — Spark ``div`` and DuckDB
        ``//`` disagree on negative floors, so the magnitude divides)
        r2_mil    = (num² · 1000) div (den · (k·Σyy − (Σy)²))

    staged entirely in DECIMAL(38,0)/HUGEINT.

    Scale design: ONE corpus explode→(term) fold (map-side combinable),
    a distributed top-k (``TakeOrderedAndProject`` — never a global
    vocab sort), then all sums over the k-row table.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    tf = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(top_k)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    xy = tf.select(
        F.col("cnt"),
        F.row_number().over(w).alias("rank"),
    ).select(
        F.expr("cast(floor(ln(cast(rank as double)) * 1000000) as bigint)")
        .alias("x"),
        F.expr("cast(floor(ln(cast(cnt as double)) * 1000000) as bigint)")
        .alias("y"),
        "cnt",
    )
    return (
        xy.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
            F.sum(
                F.col("x").cast("decimal(38,0)") * F.col("y")
            ).alias("sxy"),
            F.sum(
                F.col("x").cast("decimal(38,0)") * F.col("x")
            ).alias("sxx"),
            F.sum(
                F.col("y").cast("decimal(38,0)") * F.col("y")
            ).alias("syy"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.expr("cast(k as decimal(38,0)) * sxy - sx * sy").alias("num"),
            F.expr("cast(k as decimal(38,0)) * sxx - sx * sx").alias("den"),
            F.expr("cast(k as decimal(38,0)) * syy - sy * sy").alias("dyy"),
        )
        .select(
            "k", "n_tokens",
            F.expr(
                "case when den = 0 then cast(null as bigint) "
                "when num <= 0 then cast(-((-num * 1000) div den) as bigint) "
                "else cast((num * 1000) div den as bigint) end"
            ).alias("slope_mil"),
            F.expr(
                "case when den = 0 or dyy = 0 then cast(null as bigint) "
                "else cast((num * num * 1000) div (den * dyy) as bigint) end"
            ).alias("r2_mil"),
        )
    )


def zipf_slope_sql(inner_cte: str, tokens_sql: str) -> str:
    """DuckDB twin of :func:`zipf_slope` (``inner_cte`` exposes a
    ``text`` column; ``tokens_sql`` is the shared tokenizer SQL)."""
    return f"""
WITH zf_src AS ({inner_cte}),
zf_tf AS (SELECT term, COUNT(*) AS cnt
          FROM (SELECT unnest({tokens_sql}) AS term FROM zf_src)
          GROUP BY 1
          ORDER BY cnt DESC, term ASC LIMIT 500),
zf_xy AS (SELECT CAST(floor(ln(CAST(ROW_NUMBER() OVER
                    (ORDER BY cnt DESC, term ASC) AS DOUBLE)) * 1000000)
                    AS BIGINT) AS x,
                 CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000)
                    AS BIGINT) AS y,
                 cnt
          FROM zf_tf),
zf_a AS (SELECT COUNT(*) AS k, SUM(cnt) AS n_tokens,
                SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                SUM(CAST(x AS HUGEINT) * y) AS sxy,
                SUM(CAST(x AS HUGEINT) * x) AS sxx,
                SUM(CAST(y AS HUGEINT) * y) AS syy
         FROM zf_xy),
zf_f AS (SELECT k, n_tokens,
                CAST(k AS HUGEINT) * sxy - sx * sy AS num,
                CAST(k AS HUGEINT) * sxx - sx * sx AS den,
                CAST(k AS HUGEINT) * syy - sy * sy AS dyy
         FROM zf_a)
SELECT CAST(k AS BIGINT) AS k, CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN den = 0 THEN NULL
            WHEN num <= 0 THEN CAST(-((-num * 1000) // den) AS BIGINT)
            ELSE CAST((num * 1000) // den AS BIGINT) END AS slope_mil,
       CASE WHEN den = 0 OR dyy = 0 THEN NULL
            ELSE CAST((num * num * 1000) // (den * dyy) AS BIGINT) END
           AS r2_mil
FROM zf_f"""


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``value_col``
    distributions of ``group_col == group_a`` vs everything else — one
    row ``(n_a, n_b, d_ppm, at_value)`` where ``d_ppm = max_v
    |F_a(v)·1e6 − F_b(v)·1e6|`` exactly and ``at_value`` is the
    smallest value achieving the max (the distribution-shift gate:
    did this snapshot's length/quality distribution drift from the
    last one?).

    Exact integer contract: on the VALUE-frequency table (one row per
    distinct value — bounded by the value range, never the corpus),
    cumulative counts ``ca, cb`` by value order give ``diff(v) =
    |ca·n_b − cb·n_a|`` in DECIMAL(38,0)/HUGEINT; ``d_ppm = max(diff)
    · 1e6 div (n_a·n_b)`` (floor of the max == max of floors since
    floor is monotone).

    Scale design: ONE corpus fold to the per-(value) count pair, the
    cumulative window + argmax on the value-bounded table, nothing
    collects.
    """
    pair = (
        df.groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum(
                F.when(F.col(group_col) == group_a, 1).otherwise(0)
            ).alias("fa"),
            F.sum(
                F.when(F.col(group_col) == group_a, 0).otherwise(1)
            ).alias("fb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pair.select(
        "v",
        F.sum("fa").over(w).alias("ca"),
        F.sum("fb").over(w).alias("cb"),
    )
    tot = pair.agg(
        F.sum("fa").alias("n_a"), F.sum("fb").alias("n_b")
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "v", "n_a", "n_b",
        F.abs(
            F.col("ca").cast("decimal(38,0)") * F.col("n_b")
            - F.col("cb").cast("decimal(38,0)") * F.col("n_a")
        ).alias("diff"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        diffs.withColumn("dm", F.max("diff").over(w_all))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max("diff").alias("dmax"),
            F.min(
                F.when(F.col("diff") == F.col("dm"), F.col("v"))
            ).alias("at_value"),
        )
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr(
                "cast((dmax * 1000000) div (cast(n_a as decimal(38,0)) * n_b)"
                " as bigint)"
            ).alias("d_ppm"),
            F.col("at_value").cast("long").alias("at_value"),
        )
    )


def ks_statistic_sql(
    inner_cte: str,
    value_col: str,
    group_col: str,
    group_a: str,
) -> str:
    """DuckDB twin of :func:`ks_statistic`."""
    return f"""
WITH ks_src AS ({inner_cte}),
ks_p AS (SELECT {value_col} AS v,
                SUM(CASE WHEN {group_col} = '{group_a}' THEN 1 ELSE 0 END)
                    AS fa,
                SUM(CASE WHEN {group_col} = '{group_a}' THEN 0 ELSE 1 END)
                    AS fb
         FROM ks_src GROUP BY 1),
ks_c AS (SELECT v,
                SUM(fa) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS ca,
                SUM(fb) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cb
         FROM ks_p),
ks_t AS (SELECT SUM(fa) AS n_a, SUM(fb) AS n_b FROM ks_p),
ks_d AS (SELECT v, n_a, n_b,
                abs(CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
                    AS diff
         FROM ks_c CROSS JOIN ks_t)
SELECT CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b,
       CAST((MAX(diff) * 1000000)
            // (CAST(MAX(n_a) AS HUGEINT) * MAX(n_b)) AS BIGINT) AS d_ppm,
       CAST(MIN(CASE WHEN diff = (SELECT MAX(diff) FROM ks_d) THEN v END)
            AS BIGINT) AS at_value
FROM ks_d"""


def term_shift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    top_k: int = 500,
) -> DataFrame:
    """Term-distribution shift between two corpus slices (yesterday's
    snapshot vs today's, cc vs curated, en vs the rest): one row
    ``(k, na, nb, tv_ppm, kl_ab_nano, kl_ba_nano)`` over the top-``k``
    union vocabulary — the drift gate a training pipeline runs before
    mixing a new crawl into an existing recipe.

    * ``tv_ppm`` — total-variation distance ``½ Σ |p_i − q_i|``,
      EXACT: with per-term counts ``a_i, b_i`` and slice masses
      ``na = Σ a_i, nb = Σ b_i`` (over the selected vocabulary),
      ``tv_ppm = (Σ |a_i·nb − b_i·na|) · 1e6 div (2·na·nb)`` — every
      stage an integer (DECIMAL(38,0)/HUGEINT), one floor at the end.
    * ``kl_ab_nano`` / ``kl_ba_nano`` — add-1-smoothed KL divergences
      in nano-nats, per-term pinned: ``Σ floor(p_i·(ln p_i − ln q_i)
      ·1e9)`` with ``p_i = (a_i+1)/(na+k)`` etc. The doubles derive
      from exact integers through one fixed expression tree (IEEE
      division/multiplication exactly rounded, ln within 1 ulp — the
      e9 floor's flip window is ~1e-10 per term, the same pinned-log
      exposure class as :func:`zipf_slope`).

    Scale design: one explode→(term) fold per slice (map-side
    combinable), a distributed top-k of the union counts
    (TakeOrderedAndProject), then all arithmetic on the k-row table.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    def tf(docs: DataFrame, name: str) -> DataFrame:
        return (
            docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(name))
        )

    both = (
        tf(docs_a, "a").join(tf(docs_b, "b"), "term", "full")
        .select(
            "term",
            F.coalesce(F.col("a"), F.lit(0)).alias("a"),
            F.coalesce(F.col("b"), F.lit(0)).alias("b"),
        )
        .orderBy((F.col("a") + F.col("b")).desc(), F.col("term").asc())
        .limit(top_k)
    )
    tot = both.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
    )
    terms = both.crossJoin(F.broadcast(tot))
    p = "(cast(a + 1 as double) / cast(na + k as double))"
    q = "(cast(b + 1 as double) / cast(nb + k as double))"
    return (
        terms.select(
            "k", "na", "nb",
            F.abs(
                F.col("a").cast("decimal(38,0)") * F.col("nb")
                - F.col("b").cast("decimal(38,0)") * F.col("na")
            ).alias("tv_term"),
            F.expr(
                f"cast(floor({p} * (ln({p}) - ln({q})) * 1e9) as bigint)"
            ).alias("kl_ab_term"),
            F.expr(
                f"cast(floor({q} * (ln({q}) - ln({p})) * 1e9) as bigint)"
            ).alias("kl_ba_term"),
        )
        .groupBy("k", "na", "nb")
        .agg(
            F.sum("tv_term").alias("tv_sum"),
            F.sum("kl_ab_term").alias("kl_ab_nano"),
            F.sum("kl_ba_term").alias("kl_ba_nano"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("na").cast("long").alias("na"),
            F.col("nb").cast("long").alias("nb"),
            F.expr(
                "case when na = 0 or nb = 0 then cast(null as bigint) "
                "else cast((tv_sum * 1000000)"
                " div (2 * cast(na as decimal(38,0)) * nb) as bigint) end"
            ).alias("tv_ppm"),
            F.col("kl_ab_nano").cast("long").alias("kl_ab_nano"),
            F.col("kl_ba_nano").cast("long").alias("kl_ba_nano"),
        )
    )


def term_shift_sql(
    cte_a: str,
    cte_b: str,
    tokens_sql: str,
    top_k: int = 500,
) -> str:
    """DuckDB twin of :func:`term_shift` (``cte_a``/``cte_b`` each
    expose a ``text`` column)."""
    p = "(CAST(a + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))"
    q = "(CAST(b + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))"
    return f"""
WITH ts_a AS ({cte_a}),
ts_b AS ({cte_b}),
ts_fa AS (SELECT term, COUNT(*) AS a
          FROM (SELECT unnest({tokens_sql}) AS term FROM ts_a) GROUP BY 1),
ts_fb AS (SELECT term, COUNT(*) AS b
          FROM (SELECT unnest({tokens_sql}) AS term FROM ts_b) GROUP BY 1),
ts_u AS (SELECT term, COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
         FROM ts_fa FULL JOIN ts_fb USING (term)
         ORDER BY a + b DESC, term ASC LIMIT {top_k}),
ts_t AS (SELECT COUNT(*) AS k, SUM(a) AS na, SUM(b) AS nb FROM ts_u),
ts_m AS (SELECT k, na, nb,
                abs(CAST(a AS HUGEINT) * nb - CAST(b AS HUGEINT) * na)
                    AS tv_term,
                CAST(floor({p} * (ln({p}) - ln({q})) * 1e9) AS BIGINT)
                    AS kl_ab_term,
                CAST(floor({q} * (ln({q}) - ln({p})) * 1e9) AS BIGINT)
                    AS kl_ba_term
         FROM ts_u CROSS JOIN ts_t)
SELECT CAST(k AS BIGINT) AS k, CAST(na AS BIGINT) AS na,
       CAST(nb AS BIGINT) AS nb,
       CASE WHEN na = 0 OR nb = 0 THEN NULL
            ELSE CAST((SUM(tv_term) * 1000000)
                 // (2 * CAST(na AS HUGEINT) * nb) AS BIGINT) END AS tv_ppm,
       CAST(SUM(kl_ab_term) AS BIGINT) AS kl_ab_nano,
       CAST(SUM(kl_ba_term) AS BIGINT) AS kl_ba_nano
FROM ts_m GROUP BY k, na, nb"""


def heaps_fit(docs: DataFrame, n_points: int = 8) -> DataFrame:
    """Heaps'-law fit: vocabulary growth ``V(n) ≈ K·n^β`` across a
    geometric ladder of corpus prefixes — one row ``(n_points,
    beta_mil, ln_k_mil)`` plus the per-point table folded in
    (``points`` array of ``(n_docs, n_tokens, n_types)`` structs,
    ordered). β far from the natural-text ~0.4-0.6 band flags template
    floods (β→0: vocabulary saturates) or OCR/garbage floods (β→1:
    every page mints new types).

    Prefixes are ``doc_id`` ranges at geometric thresholds (corpus
    order is the deterministic ingest key): point ``j`` covers
    ``doc_id < max_id / 2^j``, ``j = n_points−1 … 0``. Each point's
    (tokens, types) comes from ONE shared explode: a term occurrence at
    doc ``d`` contributes to every prefix with threshold > d, so the
    per-term fold keeps ``min(doc_id)`` (first appearance — types) and
    a count per threshold via conditional sums — the corpus is read
    ONCE, not once per point.

    OLS on ``x = floor(ln(n_tokens)·1e6)``, ``y = floor(ln(n_types)
    ·1e6)`` over the ladder (the same pinned-log e6 contract as
    :func:`zipf_slope`; Heaps exponents are conventionally fit on
    token counts, not doc counts), sign-split trunc division,
    DECIMAL(38,0)/HUGEINT staging.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    max_df = docs.agg(F.max(F.col("doc_id")).alias("mx"))
    term_first = (
        docs.select(
            F.col("doc_id").alias("d"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("d").alias("first_d"), F.count(F.lit(1)).alias("cnt_all"))
    )
    # re-fold per threshold: occurrences need per-threshold token counts,
    # which the (term) fold can't carry exactly — use a second fold over
    # (d) instead: per-doc token counts, then conditional sums per point.
    doc_tok = docs.select(
        F.col("doc_id").alias("d"),
        F.size(tokens_col(F.col("text"))).alias("ntok"),
    )
    pts = []
    for j in range(n_points):
        div = 2 ** (n_points - 1 - j)
        pts.append((j, div))
    tok_aggs = [
        F.sum(
            F.when(F.expr(f"d * {div} <= mx"), F.col("ntok")).otherwise(0)
        ).alias(f"tok_{j}")
        for j, div in pts
    ]
    typ_aggs = [
        F.sum(
            F.when(F.expr(f"first_d * {div} <= mx"), 1).otherwise(0)
        ).alias(f"typ_{j}")
        for j, div in pts
    ]
    toks = doc_tok.crossJoin(F.broadcast(max_df)).agg(*tok_aggs)
    typs = term_first.crossJoin(F.broadcast(max_df)).agg(*typ_aggs)
    point_rows = ", ".join(
        f"struct(cast(tok_{j} as bigint) as n_tokens,"
        f" cast(typ_{j} as bigint) as n_types)"
        for j, _ in pts
    )
    wide = toks.crossJoin(F.broadcast(typs)).select(
        F.expr(f"array({point_rows})").alias("points")
    )
    xy = wide.select(
        F.explode("points").alias("p")
    ).select(
        F.expr("cast(floor(ln(cast(p.n_tokens as double)) * 1000000)"
               " as bigint)").alias("x"),
        F.expr("cast(floor(ln(cast(p.n_types as double)) * 1000000)"
               " as bigint)").alias("y"),
    ).filter("x is not null and y is not null")
    return (
        xy.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        )
        .select(
            F.col("k").cast("long").alias("n_points"),
            F.expr("cast(k as decimal(38,0)) * sxy - sx * sy").alias("num"),
            F.expr("cast(k as decimal(38,0)) * sxx - sx * sx").alias("den"),
            F.col("sx"), F.col("sy"),
        )
        .select(
            "n_points",
            F.expr(
                "case when den = 0 then cast(null as bigint) "
                "when num <= 0 then cast(-((-num * 1000) div den) as bigint) "
                "else cast((num * 1000) div den as bigint) end"
            ).alias("beta_mil"),
            # ln K in mil: (Σy − β·Σx) div k with β in mil — stated
            # trunc-toward-zero composite (engine-identical by the same
            # sign-split rule)
            F.expr(
                "case when den = 0 then cast(null as bigint) else "
                "cast(case when (sy * den - num * sx) <= 0 "
                "then -((-(sy * den - num * sx) * 1000)"
                " div (cast(n_points as decimal(38,0)) * den)) "
                "else ((sy * den - num * sx) * 1000)"
                " div (cast(n_points as decimal(38,0)) * den) end"
                " as bigint) end"
            ).alias("ln_k_mil"),
        )
    )


def heaps_fit_sql(table: str, tokens_sql: str) -> str:
    """DuckDB twin of :func:`heaps_fit`."""
    pts = [(j, 2 ** (7 - j)) for j in range(8)]
    tok_cols = ", ".join(
        f"SUM(CASE WHEN d * {div} <= mx THEN ntok ELSE 0 END) AS tok_{j}"
        for j, div in pts
    )
    typ_cols = ", ".join(
        f"SUM(CASE WHEN first_d * {div} <= mx THEN 1 ELSE 0 END) AS typ_{j}"
        for j, div in pts
    )
    point_structs = ", ".join(
        f"(CAST(tok_{j} AS BIGINT), CAST(typ_{j} AS BIGINT))"
        for j, _ in pts
    )
    return f"""
WITH hp_mx AS (SELECT MAX(doc_id) AS mx FROM {table}),
hp_dt AS (SELECT doc_id AS d, len({tokens_sql}) AS ntok FROM {table}),
hp_tf AS (SELECT term, MIN(d) AS first_d
          FROM (SELECT doc_id AS d, unnest({tokens_sql}) AS term
                FROM {table}) GROUP BY 1),
hp_tok AS (SELECT {tok_cols} FROM hp_dt CROSS JOIN hp_mx),
hp_typ AS (SELECT {typ_cols} FROM hp_tf CROSS JOIN hp_mx),
hp_pts AS (SELECT unnest([{point_structs}]) AS p
           FROM hp_tok CROSS JOIN hp_typ),
hp_xy AS (SELECT CAST(floor(ln(CAST(p[1] AS DOUBLE)) * 1000000) AS BIGINT)
                     AS x,
                 CAST(floor(ln(CAST(p[2] AS DOUBLE)) * 1000000) AS BIGINT)
                     AS y
          FROM hp_pts
          WHERE p[1] > 0 AND p[2] > 0),
hp_a AS (SELECT COUNT(*) AS k,
                SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                SUM(CAST(x AS HUGEINT) * y) AS sxy,
                SUM(CAST(x AS HUGEINT) * x) AS sxx
         FROM hp_xy),
hp_f AS (SELECT k,
                CAST(k AS HUGEINT) * sxy - sx * sy AS num,
                CAST(k AS HUGEINT) * sxx - sx * sx AS den,
                sx, sy
         FROM hp_a)
SELECT CAST(k AS BIGINT) AS n_points,
       CASE WHEN den = 0 THEN NULL
            WHEN num <= 0 THEN CAST(-((-num * 1000) // den) AS BIGINT)
            ELSE CAST((num * 1000) // den AS BIGINT) END AS beta_mil,
       CASE WHEN den = 0 THEN NULL
            WHEN (sy * den - num * sx) <= 0
            THEN CAST(-((-(sy * den - num * sx) * 1000)
                 // (CAST(k AS HUGEINT) * den)) AS BIGINT)
            ELSE CAST(((sy * den - num * sx) * 1000)
                 // (CAST(k AS HUGEINT) * den) AS BIGINT) END AS ln_k_mil
FROM hp_f"""


def lang_entropy(docs: DataFrame) -> DataFrame:
    """Per-language token-distribution Shannon entropy — one row per
    language ``(lang, n_tokens, n_types, h_nano, h_max_nano)`` with
    ``H = −Σ p_t ln p_t`` in nano-nats. Low entropy relative to
    ``ln(n_types)`` (= ``h_max_nano``) marks boilerplate-dominated or
    keyword-stuffed slices; the gap is the standard corpus-diversity
    gauge next to :func:`zipf_slope`.

    Pinned contract: per (lang, term), ``contrib = floor((cnt/n) ·
    ln(n/cnt) · 1e9)`` where the doubles derive from exact BIGINT
    counts through one fixed IEEE tree (same exposure class as
    :func:`zipf_slope`); ``h_nano = Σ contrib`` per language,
    ``h_max_nano = floor(ln(n_types)·1e9)``.

    Scale design: ONE explode→(lang, term) corpus fold (map-side
    combinable); the per-language totals come from a window over that
    vocabulary table (per-language-vocab bounded, never the corpus —
    and no join, so the corpus is scanned exactly once, unlike a
    re-aggregate-and-broadcast which would rescan it). The
    contribution sum re-uses the (lang) partitioning.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    tf = (
        docs.select(
            F.col("lang"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang")
    return (
        tf.select(
            "lang", "cnt",
            F.sum("cnt").over(w).alias("n_tokens"),
            F.count(F.lit(1)).over(w).alias("n_types"),
        )
        .select(
            "lang", "n_tokens", "n_types",
            F.expr(
                "cast(floor((cast(cnt as double) / cast(n_tokens as double))"
                " * ln(cast(n_tokens as double) / cast(cnt as double))"
                " * 1e9) as bigint)"
            ).alias("contrib"),
        )
        .groupBy("lang", "n_tokens", "n_types")
        .agg(F.sum("contrib").alias("h_nano"))
        .select(
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            F.col("h_nano").cast("long").alias("h_nano"),
            F.expr(
                "cast(floor(ln(cast(n_types as double)) * 1e9) as bigint)"
            ).alias("h_max_nano"),
        )
    )


def lang_entropy_sql(table: str, tokens_sql: str) -> str:
    """DuckDB twin of :func:`lang_entropy`."""
    return f"""
WITH le_tf AS (SELECT lang, term, COUNT(*) AS cnt
               FROM (SELECT lang AS lang,
                            unnest({tokens_sql}) AS term FROM {table})
               GROUP BY 1, 2),
le_w AS (SELECT lang, cnt,
                SUM(cnt) OVER (PARTITION BY lang) AS n_tokens,
                COUNT(*) OVER (PARTITION BY lang) AS n_types
         FROM le_tf),
le_c AS (SELECT lang, n_tokens, n_types,
                CAST(floor((CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                     * ln(CAST(n_tokens AS DOUBLE) / CAST(cnt AS DOUBLE))
                     * 1e9) AS BIGINT) AS contrib
         FROM le_w)
SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(SUM(contrib) AS BIGINT) AS h_nano,
       CAST(floor(ln(CAST(n_types AS DOUBLE)) * 1e9) AS BIGINT)
           AS h_max_nano
FROM le_c GROUP BY lang, n_tokens, n_types"""


# first-digit Benford expectations, floor(log10(1 + 1/d) * 1e6) —
# driver-side Python literals embedded identically in both plans (no
# runtime log evaluates in either engine)
BENFORD_PPM = (301029, 176091, 124938, 96910, 79181,
               66946, 57991, 51152, 45757)


def benford(df: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit over a per-key count
    distribution (pages per host): the classic forensic test for
    synthetic/bot-inflated crawl segments — organic host sizes follow
    Benford closely; a farm emitting fixed-size batches does not.
    Returns 9 rows ``(digit, n_obs, obs_ppm, exp_ppm, dev_ppm)`` —
    observed first-digit share vs the Benford expectation, zero-observed
    digits included (the chi_square full-marginal convention).

    Exactness: the expectation table is PYTHON literals
    (:data:`BENFORD_PPM` — no log evaluates in either engine); the
    first digit is ``substr(cast(cnt), 1, 1)`` (counts are >= 1, no
    sign/zero cases); shares are integer-div ppm; ``dev_ppm`` is a
    plain integer subtraction. Hash-exact by construction.

    Scale design: ONE corpus fold to the per-key count table
    (localCheckpoint-pinned — the digit fold and the key total both
    read it), one 9-group fold over it, broadcast of the 9-row literal
    digit table.
    """
    spark = df.sparkSession
    # the digit fold and the key total both read this fold; pin it so
    # the corpus folds ONCE
    counts = df.groupBy(F.col("host").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)
    obs = counts.select(
        F.substring(F.col("cnt").cast("string"), 1, 1).cast("int")
        .alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    digits = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit"),
        F.element_at(
            F.array(*[F.lit(p) for p in BENFORD_PPM]), F.col("id").cast("int")
        ).cast("long").alias("exp_ppm"),
    )
    total = counts.agg(F.count(F.lit(1)).alias("n_keys"))
    return (
        digits.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.expr(
                "(coalesce(n_obs, 0) * 1000000) div n_keys"
            ).cast("long").alias("obs_ppm"),
            "exp_ppm",
        )
        .withColumn(
            "dev_ppm",
            (F.col("obs_ppm") - F.col("exp_ppm")).cast("long"),
        )
    )


def benford_sql(inner_cte: str) -> str:
    """DuckDB twin of :func:`benford`."""
    exp_rows = ", ".join(
        f"({d + 1}, {p})" for d, p in enumerate(BENFORD_PPM)
    )
    return f"""
WITH bf_src AS ({inner_cte}),
bf_c AS (SELECT host AS k, COUNT(*) AS cnt FROM bf_src GROUP BY 1),
bf_o AS (SELECT CAST(substr(CAST(cnt AS VARCHAR), 1, 1) AS INT) AS digit,
                COUNT(*) AS n_obs
         FROM bf_c GROUP BY 1),
bf_e (digit, exp_ppm) AS (VALUES {exp_rows}),
bf_n AS (SELECT COUNT(*) AS n_keys FROM bf_c)
SELECT e.digit AS digit,
       CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
       CAST((COALESCE(o.n_obs, 0) * 1000000) // n.n_keys AS BIGINT)
           AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       CAST((COALESCE(o.n_obs, 0) * 1000000) // n.n_keys - e.exp_ppm
            AS BIGINT) AS dev_ppm
FROM bf_e e LEFT JOIN bf_o o ON e.digit = o.digit CROSS JOIN bf_n n"""


def mann_whitney(
    df: DataFrame,
    group_col: str,
    group_a: str,
    value_col: str,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between group A
    (``group_col == group_a``) and the rest over an integer value
    column — the nonparametric "are English documents longer?" test.
    One row ``(n_a, n_b, u2, u2_max, rb_ppm)`` where ``u2 = 2·U`` with
    the standard half-credit tie rule kept integer by doubling
    (``2U = Σ_v a(v)·(2·Σ_{w<v} b(w) + b(v))``), ``u2_max = 2·n_a·n_b``
    and ``rb_ppm`` is the rank-biserial effect size
    ``(2U − n_a·n_b)·1e6 / (n_a·n_b)`` floored over the exact double
    quotient (the cohen_kappa sign convention — identical on both
    engines for either sign).

    Exactness: everything up to ``rb_ppm`` is exact integer arithmetic
    on the value-frequency table (the ks_statistic pattern); no rank
    window ever touches per-row data.

    Scale design: ONE corpus fold to the value-frequency table
    (bounded by #distinct values, not #rows); the cumulative window
    and the final fold run on that table only.
    """
    a_flag = (F.col(group_col) == F.lit(group_a))
    vf = df.groupBy(F.col(value_col).cast("long").alias("v")).agg(
        F.sum(F.when(a_flag, 1).otherwise(0)).alias("a"),
        F.sum(F.when(a_flag, 0).otherwise(1)).alias("b"),
    )
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = vf.select(
        "a", "b",
        F.coalesce(F.sum("b").over(w), F.lit(0)).alias("b_below"),
    )
    return (
        terms.agg(
            F.sum("a").alias("n_a"),
            F.sum("b").alias("n_b"),
            F.sum(
                F.col("a").cast("decimal(38,0)")
                * (F.lit(2) * F.col("b_below") + F.col("b"))
            ).alias("u2"),
        )
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("u2").cast("long").alias("u2"),
            F.expr(
                "cast(2 * cast(n_a as decimal(38,0)) * n_b as long)"
            ).alias("u2_max"),
            F.expr(
                "CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS BIGINT) "
                "ELSE CAST(floor("
                "CAST((u2 - cast(n_a as decimal(38,0)) * n_b) * 1000000"
                " AS DOUBLE)"
                " / CAST(cast(n_a as decimal(38,0)) * n_b AS DOUBLE))"
                " AS BIGINT) END"
            ).alias("rb_ppm"),
        )
    )


def mann_whitney_sql(
    inner_cte: str, group_col: str, group_a: str, value_col: str,
) -> str:
    """DuckDB twin of :func:`mann_whitney` (HUGEINT staging)."""
    return f"""
WITH mw_src AS ({inner_cte}),
mw_v AS (SELECT CAST({value_col} AS BIGINT) AS v,
                SUM(CASE WHEN {group_col} = '{group_a}' THEN 1 ELSE 0 END)
                    AS a,
                SUM(CASE WHEN {group_col} = '{group_a}' THEN 0 ELSE 1 END)
                    AS b
         FROM mw_src GROUP BY 1),
mw_t AS (SELECT a, b,
                COALESCE(SUM(b) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS b_below
         FROM mw_v),
mw_a AS (SELECT SUM(a) AS n_a, SUM(b) AS n_b,
                SUM(CAST(a AS HUGEINT) * (2 * b_below + b)) AS u2
         FROM mw_t)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(u2 AS BIGINT) AS u2,
       CAST(2 * CAST(n_a AS HUGEINT) * n_b AS BIGINT) AS u2_max,
       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
            ELSE CAST(floor(CAST((u2 - CAST(n_a AS HUGEINT) * n_b)
                     * 1000000 AS DOUBLE)
                 / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)) AS BIGINT)
       END AS rb_ppm
FROM mw_a"""


def spearman(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Spearman rank correlation between two integer columns (the
    quality-signal sanity check: "does token count actually track
    document length?") — the tie-correct form, i.e. Pearson over
    AVERAGE ranks, never the no-ties 6Σd² shortcut (corpus columns are
    heavily tied). One row ``(n, su, sv, rho_mil)``.

    Exactness: average ranks stay integer by DOUBLING — the f-way tie
    occupying positions ``cum+1 … cum+f`` has ``2·rank = 2·cum + f +
    1``; every Pearson term is then exact DECIMAL(38,0)/HUGEINT, and
    only the final ``rho`` routes through doubles via one fixed tree:
    ``floor(num·1e6 / sqrt(double(d1)·double(d2)))``, identical on both
    engines (the zipf/kappa pin discipline). ``Σ(2·rank) = n(n+1)``
    for each side by construction (emitted as ``su``/``sv`` — a
    self-check the oracle hashes too). NULL rho when either side is
    constant.

    Scale design: ONE corpus fold to the JOINT (a, b) frequency table
    (bounded by distinct value pairs, localCheckpoint-pinned because
    three subtrees read it); the marginal rank tables derive
    from it and broadcast back; windows touch only the tiny marginal
    tables. The corpus never shuffles twice and nothing collects.
    """
    # three subtrees (joint terms + two marginal rank tables) read this
    # fold; localCheckpoint pins it so the corpus folds ONCE (the
    # dedup.py df_cap discipline)
    joint = df.groupBy(
        F.col(a_col).cast("long").alias("av"),
        F.col(b_col).cast("long").alias("bv"),
    ).agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(eager=False)
    wa = Window.orderBy("av").rowsBetween(Window.unboundedPreceding, -1)
    ranks_a = (
        joint.groupBy("av").agg(F.sum("cnt").alias("f"))
        .select(
            "av",
            (F.lit(2) * F.coalesce(F.sum("f").over(wa), F.lit(0))
             + F.col("f") + F.lit(1)).alias("r2a"),
        )
    )
    wb = Window.orderBy("bv").rowsBetween(Window.unboundedPreceding, -1)
    ranks_b = (
        joint.groupBy("bv").agg(F.sum("cnt").alias("f"))
        .select(
            "bv",
            (F.lit(2) * F.coalesce(F.sum("f").over(wb), F.lit(0))
             + F.col("f") + F.lit(1)).alias("r2b"),
        )
    )
    terms = (
        joint.join(F.broadcast(ranks_a), "av")
        .join(F.broadcast(ranks_b), "bv")
    )
    agg = terms.agg(
        F.sum(F.col("cnt").cast("decimal(38,0)")).alias("n"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("r2a")).alias("su"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("r2b")).alias("sv"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("r2a")
              * F.col("r2a")).alias("suu"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("r2b")
              * F.col("r2b")).alias("svv"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("r2a")
              * F.col("r2b")).alias("suv"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("su").cast("long").alias("su"),
        F.col("sv").cast("long").alias("sv"),
        F.expr(
            "case when n * suu - su * su = 0 or n * svv - sv * sv = 0 "
            "then cast(null as bigint) else cast(floor("
            "cast(n * suv - su * sv as double) * 1000000.0"
            " / sqrt(cast(n * suu - su * su as double)"
            "        * cast(n * svv - sv * sv as double))"
            ") as bigint) end"
        ).alias("rho_mil"),
    )


def spearman_sql(inner_cte: str, a_col: str, b_col: str) -> str:
    """DuckDB twin of :func:`spearman` (HUGEINT staging)."""
    return f"""
WITH sp_src AS ({inner_cte}),
sp_j AS (SELECT CAST({a_col} AS BIGINT) AS av, CAST({b_col} AS BIGINT) AS bv,
                COUNT(*) AS cnt
         FROM sp_src GROUP BY 1, 2),
sp_ra AS (SELECT av, 2 * COALESCE(SUM(f) OVER (ORDER BY av
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + f + 1 AS r2a
          FROM (SELECT av, SUM(cnt) AS f FROM sp_j GROUP BY 1)),
sp_rb AS (SELECT bv, 2 * COALESCE(SUM(f) OVER (ORDER BY bv
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + f + 1 AS r2b
          FROM (SELECT bv, SUM(cnt) AS f FROM sp_j GROUP BY 1)),
sp_a AS (SELECT SUM(CAST(cnt AS HUGEINT)) AS n,
                SUM(CAST(cnt AS HUGEINT) * r2a) AS su,
                SUM(CAST(cnt AS HUGEINT) * r2b) AS sv,
                SUM(CAST(cnt AS HUGEINT) * r2a * r2a) AS suu,
                SUM(CAST(cnt AS HUGEINT) * r2b * r2b) AS svv,
                SUM(CAST(cnt AS HUGEINT) * r2a * r2b) AS suv
         FROM sp_j JOIN sp_ra USING (av) JOIN sp_rb USING (bv))
SELECT CAST(n AS BIGINT) AS n, CAST(su AS BIGINT) AS su,
       CAST(sv AS BIGINT) AS sv,
       CASE WHEN n * suu - su * su = 0 OR n * svv - sv * sv = 0 THEN NULL
            ELSE CAST(floor(
                 CAST(n * suv - su * sv AS DOUBLE) * 1000000.0
                 / sqrt(CAST(n * suu - su * su AS DOUBLE)
                        * CAST(n * svv - sv * sv AS DOUBLE))) AS BIGINT)
       END AS rho_mil
FROM sp_a"""


def volume_acf(pages: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation of the daily crawl volume at lags ``1…max_lag``
    — the seasonality read behind :func:`volume_anomaly` (a weekly
    crawl shows a spike at lag 7; a bot flood shows none). Lags are
    over the OBSERVED-day series in day order (gaps documented-skipped:
    a crawl's day series is contiguous in practice, and the observed
    series is the one the anomaly monitor sees). One row per lag:
    ``(lag, n_pairs, acf_mil)``.

    Exact-integer contract: with ``N`` days, ``S = Σy``, deviations
    scale by N — ``acf_k = Σ_t (N·y_t − S)(N·y_{t−k} − S) / Σ_t (N·y_t
    − S)²`` — numerator over the lag-k pairs, denominator over ALL
    days (the standard biased ACF normalization), emitted via the
    sign-split trunc-division contract in DECIMAL(38,0)/HUGEINT.
    NULL when the series is constant.

    Scale design: ONE map-side-combinable day-count fold over the
    corpus, localCheckpoint-pinned; the lag windows, the 1-row (N, S)
    broadcast, and the per-lag folds all run on the DAY table (rows =
    distinct days).
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    # the (N, S) totals and the lag table both read the day fold; pin
    # it so the corpus folds ONCE
    days = pages.select(
        F.expr("ts_sec div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).alias("y")).localCheckpoint(eager=False)
    totals = days.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("_s"),
    )
    w = Window.orderBy("day")
    lag_cols = [
        F.lag("y", k).over(w).alias(f"_lag{k}") for k in range(1, max_lag + 1)
    ]
    lagged = days.select("day", "y", *lag_cols).crossJoin(F.broadcast(totals))
    dev = F.expr("_n * y - _s")
    per_lag = F.explode(
        F.array(*[
            F.struct(
                F.lit(k).cast("int").alias("lag"),
                F.expr(
                    f"case when _lag{k} is null then null "
                    f"else (_n * y - _s) * (_n * _lag{k} - _s) end"
                ).alias("prod"),
            )
            for k in range(1, max_lag + 1)
        ])
    ).alias("t")
    terms = lagged.select(dev.alias("_dev"), per_lag).select(
        F.col("t.lag").alias("lag"), F.col("t.prod").alias("prod"),
        (F.col("_dev") * F.col("_dev")).alias("dev2"),
    )
    agg = terms.groupBy("lag").agg(
        F.sum(F.when(F.col("prod").isNotNull(), 1).otherwise(0))
        .alias("n_pairs"),
        F.sum("prod").alias("_num"),
        F.sum("dev2").alias("_den"),
    )
    return agg.select(
        "lag",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.expr(
            "case when _den = 0 or _num is null then cast(null as bigint) "
            "when _num <= 0 then cast(-((-_num * 1000) div _den) as bigint) "
            "else cast((_num * 1000) div _den as bigint) end"
        ).alias("acf_mil"),
    ).orderBy("lag")


def volume_acf_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`volume_acf`."""
    lag_sel = ", ".join(
        f"LAG(y, {k}) OVER (ORDER BY day) AS lag{k}"
        for k in range(1, 8)
    )
    prod_rows = ", ".join(
        f"({k}, CASE WHEN lag{k} IS NULL THEN NULL"
        f" ELSE (t.n * d.y - t.s) * (t.n * lag{k} - t.s) END)"
        for k in range(1, 8)
    )
    return f"""
WITH ac_p AS ({pages_cte}),
ac_d AS (SELECT ts_sec // 86400 AS day, COUNT(*) AS y
         FROM ac_p GROUP BY 1),
ac_t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                CAST(SUM(y) AS HUGEINT) AS s
         FROM ac_d),
ac_l AS (SELECT day, y, {lag_sel} FROM ac_d),
ac_x AS (SELECT (t.n * d.y - t.s) * (t.n * d.y - t.s) AS dev2,
                u.lag AS lag, u.prod AS prod
         FROM ac_l d CROSS JOIN ac_t t
         CROSS JOIN LATERAL (SELECT * FROM (VALUES {prod_rows})
                             v(lag, prod)) u),
ac_a AS (SELECT lag,
                SUM(CASE WHEN prod IS NOT NULL THEN 1 ELSE 0 END) AS n_pairs,
                SUM(prod) AS num, SUM(dev2) AS den
         FROM ac_x GROUP BY 1)
SELECT CAST(lag AS INT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       CASE WHEN den = 0 OR num IS NULL THEN NULL
            WHEN num <= 0 THEN CAST(-((-num * 1000) // den) AS BIGINT)
            ELSE CAST((num * 1000) // den AS BIGINT) END AS acf_mil
FROM ac_a ORDER BY lag"""


def group_boxplot(docs: DataFrame) -> DataFrame:
    """Per-group Tukey box-plot summary with EXACT integer fences —
    the outlier dashboard over :func:`group_quantiles`: quartiles, the
    1.5·IQR fences, and how many rows fall outside each. Returns
    ``(group, n, q1, med, q3, lo_fence2, hi_fence2, n_low, n_high)``.

    Exactness: the 1.5·IQR fences are half-integers, so they ship
    DOUBLED — ``lo_fence2 = 5·q1 − 3·q3`` and ``hi_fence2 = 5·q3 −
    3·q1`` (``2·(q1 − 1.5(q3−q1))`` expanded) — and the outlier test is
    ``2v < lo_fence2`` / ``2v > hi_fence2``, pure BIGINT (the spearman
    rank-doubling discipline). Quartiles are the exact
    ``cum·den ≥ n·num`` probes of :func:`group_quantiles`.

    Scale design: ONE corpus fold to the per-group value-frequency
    table (localCheckpoint-pinned — the quantile pass and the outlier
    count both read it); the fence table is group-bounded and
    broadcasts back. No corpus sort, no per-row window.
    """
    # quantile probe and outlier count both read this fold
    freq = docs.groupBy(
        F.col("lang").alias("grp"), F.col("n_chars").cast("long").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(eager=False)
    w = (
        Window.partitionBy("grp").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("grp")
    cum = freq.select(
        "grp", "v", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    qs = cum.groupBy("grp").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(F.expr("cum * 4 >= n * 1"), F.col("v"))).alias("q1"),
        F.min(F.when(F.expr("cum * 2 >= n * 1"), F.col("v"))).alias("med"),
        F.min(F.when(F.expr("cum * 4 >= n * 3"), F.col("v"))).alias("q3"),
    ).select(
        "grp", "n", "q1", "med", "q3",
        (F.lit(5) * F.col("q1") - F.lit(3) * F.col("q3")).alias("lo_fence2"),
        (F.lit(5) * F.col("q3") - F.lit(3) * F.col("q1")).alias("hi_fence2"),
    )
    out = freq.join(F.broadcast(qs), "grp").groupBy("grp").agg(
        F.sum(F.when(F.expr("2 * v < lo_fence2"), F.col("cnt"))
              .otherwise(F.lit(0))).cast("long").alias("n_low"),
        F.sum(F.when(F.expr("2 * v > hi_fence2"), F.col("cnt"))
              .otherwise(F.lit(0))).cast("long").alias("n_high"),
    )
    return qs.join(F.broadcast(out), "grp").select(
        F.col("grp").alias("lang"), "n", "q1", "med", "q3",
        F.col("lo_fence2").cast("long").alias("lo_fence2"),
        F.col("hi_fence2").cast("long").alias("hi_fence2"),
        "n_low", "n_high",
    )


def group_boxplot_sql() -> str:
    """DuckDB twin of :func:`group_boxplot`."""
    return f"""
WITH bx_f AS (SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v,
                     COUNT(*) AS cnt
              FROM documents GROUP BY 1, 2),
bx_c AS (SELECT grp, v, cnt,
                SUM(cnt) OVER (PARTITION BY grp ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                SUM(cnt) OVER (PARTITION BY grp) AS n
         FROM bx_f),
bx_q AS (SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
                MIN(CASE WHEN cum * 4 >= n * 1 THEN v END) AS q1,
                MIN(CASE WHEN cum * 2 >= n * 1 THEN v END) AS med,
                MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
         FROM bx_c GROUP BY 1),
bx_qf AS (SELECT grp, n, q1, med, q3,
                 5 * q1 - 3 * q3 AS lo_fence2,
                 5 * q3 - 3 * q1 AS hi_fence2
          FROM bx_q),
bx_o AS (SELECT f.grp,
                SUM(CASE WHEN 2 * f.v < q.lo_fence2 THEN f.cnt
                         ELSE 0 END) AS n_low,
                SUM(CASE WHEN 2 * f.v > q.hi_fence2 THEN f.cnt
                         ELSE 0 END) AS n_high
         FROM bx_f f JOIN bx_qf q USING (grp) GROUP BY 1)
SELECT q.grp AS lang, q.n, q.q1, q.med, q.q3,
       CAST(q.lo_fence2 AS BIGINT) AS lo_fence2,
       CAST(q.hi_fence2 AS BIGINT) AS hi_fence2,
       CAST(o.n_low AS BIGINT) AS n_low, CAST(o.n_high AS BIGINT) AS n_high
FROM bx_qf q JOIN bx_o o USING (grp)"""


def kruskal_wallis(docs: DataFrame) -> DataFrame:
    """Kruskal-Wallis H — the k-group extension of
    :func:`mann_whitney` ("do document lengths differ across
    languages?"). ONE row ``(k, n, t_ties, h_mil, hc_mil)``:
    ``h_mil`` is the raw H statistic in floored mil, ``hc_mil`` the
    tie-corrected ``H / (1 − Σ(t³−t)/(N³−N))``, ``t_ties = Σ(t³−t)``.

    Exactness: doubled average ranks stay integer — ``2r(v) = 2·cum_<v
    + f(v) + 1`` (the spearman rank-doubling discipline) — so each
    group's doubled rank-sum ``R2_i = Σ f_i(v)·2r(v)`` and the tie term
    are exact DECIMAL(38,0); the only non-integer step is the PINNED
    final combination ``H = (3·Σ R2_i²/n_i − 3N(N+1)²) / (N(N+1))``
    evaluated as the identical double expression tree in both engines
    and floored to mil (the SLOPE_PCT_MIL discipline). Precision
    envelope: ``R2_i² ≲ 4N⁴`` must fit DECIMAL(38,0)/HUGEINT doubles —
    fine to ~10⁸ rows per test, the same envelope as spearman.

    Scale design: ONE corpus fold to the (group, value)-frequency
    table; the rank window runs on the VALUE table (bounded by distinct
    values), joins back to the group-value table by value (broadcast —
    both tables are frequency-bounded), then two tiny folds.
    """
    gv = docs.groupBy(
        F.col("lang").alias("grp"),
        F.col("n_chars").cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).alias("f"))
    gv = gv.localCheckpoint(eager=False)  # value fold + group fold read it
    vf = gv.groupBy("v").agg(F.sum("f").alias("fv"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranks = vf.select(
        "v", "fv",
        (
            F.lit(2) * F.coalesce(F.sum("fv").over(w), F.lit(0))
            + F.col("fv") + F.lit(1)
        ).alias("r2"),
    )
    grp = (
        gv.join(F.broadcast(ranks.select("v", "r2")), "v")
        .groupBy("grp")
        .agg(
            F.sum("f").alias("n_i"),
            F.sum(
                F.col("f").cast("decimal(38,0)") * F.col("r2")
            ).alias("r2_sum"),
        )
    )
    ties = ranks.agg(
        F.sum(
            F.col("fv").cast("decimal(38,0)") * F.col("fv") * F.col("fv")
            - F.col("fv")
        ).alias("t_ties")
    )
    return (
        grp.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("n_i").alias("n"),
            F.sum(
                F.col("r2_sum") * F.col("r2_sum")
                / F.col("n_i").cast("double")
            ).alias("_sr"),
        )
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n").cast("long").alias("n"),
            F.col("t_ties").cast("long").alias("t_ties"),
            F.expr(
                "CASE WHEN n < 2 THEN CAST(NULL AS BIGINT) ELSE CAST(FLOOR("
                "(3.0 * CAST(_sr AS DOUBLE)"
                " - 3.0 * CAST(n AS DOUBLE)"
                "   * (CAST(n AS DOUBLE) + 1.0) * (CAST(n AS DOUBLE) + 1.0))"
                " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
                " * 1000.0) AS BIGINT) END"
            ).alias("h_mil"),
            F.expr(
                "CASE WHEN n < 2 OR CAST(n AS DECIMAL(38,0)) * n * n - n"
                "   - t_ties = 0 THEN CAST(NULL AS BIGINT)"
                " ELSE CAST(FLOOR("
                "((3.0 * CAST(_sr AS DOUBLE)"
                " - 3.0 * CAST(n AS DOUBLE)"
                "   * (CAST(n AS DOUBLE) + 1.0) * (CAST(n AS DOUBLE) + 1.0))"
                " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)))"
                " / (1.0 - CAST(t_ties AS DOUBLE)"
                "     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                "        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"
                " * 1000.0) AS BIGINT) END"
            ).alias("hc_mil"),
        )
    )


def kruskal_wallis_sql() -> str:
    """DuckDB twin of :func:`kruskal_wallis` — the identical pinned
    double expression tree."""
    return f"""
WITH kw_gv AS (SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v,
                      COUNT(*) AS f
               FROM documents GROUP BY 1, 2),
kw_vf AS (SELECT v, SUM(f) AS fv FROM kw_gv GROUP BY v),
kw_r AS (SELECT v, fv,
                2 * COALESCE(SUM(fv) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + fv + 1 AS r2
         FROM kw_vf),
kw_g AS (SELECT g.grp, SUM(g.f) AS n_i,
                SUM(CAST(g.f AS HUGEINT) * r.r2) AS r2_sum
         FROM kw_gv g JOIN kw_r r USING (v) GROUP BY g.grp),
kw_t AS (SELECT SUM(CAST(fv AS HUGEINT) * fv * fv - fv) AS t_ties
         FROM kw_r),
kw_s AS (SELECT COUNT(*) AS k, SUM(n_i) AS n,
                SUM(CAST(r2_sum AS DOUBLE) * CAST(r2_sum AS DOUBLE)
                    / CAST(n_i AS DOUBLE)) AS sr
         FROM kw_g)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       CAST(t_ties AS BIGINT) AS t_ties,
       CASE WHEN n < 2 THEN CAST(NULL AS BIGINT) ELSE CAST(FLOOR(
         (3.0 * CAST(sr AS DOUBLE)
          - 3.0 * CAST(n AS DOUBLE)
            * (CAST(n AS DOUBLE) + 1.0) * (CAST(n AS DOUBLE) + 1.0))
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
         * 1000.0) AS BIGINT) END AS h_mil,
       CASE WHEN n < 2 OR CAST(n AS HUGEINT) * n * n - n - t_ties = 0
            THEN CAST(NULL AS BIGINT)
       ELSE CAST(FLOOR(
         ((3.0 * CAST(sr AS DOUBLE)
           - 3.0 * CAST(n AS DOUBLE)
             * (CAST(n AS DOUBLE) + 1.0) * (CAST(n AS DOUBLE) + 1.0))
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)))
         / (1.0 - CAST(t_ties AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
         * 1000.0) AS BIGINT) END AS hc_mil
FROM kw_s CROSS JOIN kw_t"""


def cusum_days(
    pages: DataFrame,
    ts_col: str = "ts_sec",
) -> DataFrame:
    """CUSUM changepoint trace of the daily crawl volume — the
    sequential level-shift detector beside :func:`volume_anomaly`
    (z-scores flag single outlier days; CUSUM accumulates small
    sustained shifts — a crawler quietly doubling its rate). Per
    observed day: ``(day, y, s_up, s_dn)`` where with ``D`` days and
    ``S = Σy`` the D-scaled deviation is ``d_t = D·y_t − S`` (exact,
    zero-mean by construction), ``P_t`` its prefix sum, and::

        s_up = P_t − min_{j ≤ t} P_j   (upward level shift)
        s_dn = max_{j ≤ t} P_j − P_t   (downward level shift)

    — the closed prefix-extremum form of the recursive CUSUM
    ``S_t = max(0, S_{t−1} + d_t)``, all exact BIGINT (no mean
    division ever happens). The changepoint is the argmax day.

    Scale design: ONE map-side-combinable day fold over the corpus;
    the (D, S) 1-row broadcast and the three windows (prefix sum,
    running min, running max) run on the DAY table only.
    """
    days = pages.select(
        F.expr(f"{ts_col} div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).alias("y"))
    days = days.localCheckpoint(eager=False)  # totals + trace read it
    tot = days.agg(
        F.count(F.lit(1)).alias("dd"), F.sum("y").alias("s")
    )
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    trace = (
        days.crossJoin(F.broadcast(tot))
        .select(
            "day", "y",
            F.sum(
                F.col("dd").cast("decimal(38,0)") * F.col("y") - F.col("s")
            ).over(wp).alias("p"),
        )
        .select(
            "day", "y", "p",
            F.min("p").over(wp).alias("pmin"),
            F.max("p").over(wp).alias("pmax"),
        )
    )
    return trace.select(
        F.col("day").cast("long").alias("day"),
        F.col("y").cast("long").alias("y"),
        (F.col("p") - F.col("pmin")).cast("long").alias("s_up"),
        (F.col("pmax") - F.col("p")).cast("long").alias("s_dn"),
    )


def cusum_days_sql(pages_cte: str, ts_col: str = "ts_sec") -> str:
    """DuckDB twin of :func:`cusum_days` — ``pages_cte`` exposes
    ``pages`` (WITH included)."""
    return f"""{pages_cte}
, cu_d AS (SELECT {ts_col} // 86400 AS day, COUNT(*) AS y
           FROM pages GROUP BY 1)
, cu_t AS (SELECT COUNT(*) AS dd, SUM(y) AS s FROM cu_d)
, cu_p AS (SELECT day, y,
                  SUM(CAST(dd AS HUGEINT) * y - s)
                    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS p
           FROM cu_d CROSS JOIN cu_t)
, cu_m AS (SELECT day, y, p,
                  MIN(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS pmin,
                  MAX(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS pmax
           FROM cu_p)
SELECT CAST(day AS BIGINT) AS day, CAST(y AS BIGINT) AS y,
       CAST(p - pmin AS BIGINT) AS s_up,
       CAST(pmax - p AS BIGINT) AS s_dn
FROM cu_m"""


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's tau-b rank correlation between two integer columns —
    the concordance-based companion of ``spearman_rho`` (robust to the
    value scale, exact under heavy ties). One row
    ``(n, conc, disc, tie_x2, tie_y2, tie_xy2, tau_mil)``:

    * ``conc`` / ``disc`` — concordant / discordant unordered pairs,
      counted as exact frequency products on the JOINT value-frequency
      table (never per-row pairs);
    * ``tie_x2 = Σ_x f_x(f_x−1)`` — DOUBLED pairs tied on x (both-tied
      included), likewise ``tie_y2``; ``tie_xy2 = Σ f(f−1)`` doubled
      both-tied pairs (the spearman doubled-count discipline keeps
      every tie term integer);
    * ``tau_mil = floor(1e6 · 2(C−D) / sqrt((n(n−1) − tie_x2) ·
      (n(n−1) − tie_y2)))`` — the ONLY float step, one pinned double
      expression identical on both engines (cohen_kappa sign
      convention for either sign).

    Callers bucket high-cardinality values first (e.g. ``n_chars div
    100``) so the joint table stays small — the pair stage is
    O(V²) on DISTINCT joint cells, not O(n²) on rows.

    Scale design: ONE corpus fold to the joint value-frequency table
    (localCheckpointed — it feeds the pair join twice and the tie
    fold); the strict-upper-triangle pair classification is a
    broadcast nested-loop self-join on that bounded table; two
    single-row folds close with 1×1 crosses. No window, no per-row
    Python, nothing O(corpus²).
    """
    vf = (
        df.groupBy(
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint(eager=True)
    )
    a = vf.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.col("f").alias("fa"),
    )
    b = vf.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("f").alias("fb"),
    )
    # canonical strict-upper-triangle enumeration of distinct-cell pairs
    upper = (F.col("xb") > F.col("xa")) | (
        (F.col("xb") == F.col("xa")) & (F.col("yb") > F.col("ya"))
    )
    ff = F.col("fa").cast("decimal(38,0)") * F.col("fb")
    pair_row = (
        a.join(F.broadcast(b), upper, "inner")
        .agg(
            F.sum(
                F.when((F.col("xb") > F.col("xa"))
                       & (F.col("yb") > F.col("ya")), ff)
            ).alias("conc"),
            F.sum(
                F.when((F.col("xb") > F.col("xa"))
                       & (F.col("yb") < F.col("ya")), ff)
            ).alias("disc"),
            F.sum(
                F.when((F.col("xb") == F.col("xa")), ff)
            ).alias("_tx_only"),
            F.sum(
                F.when((F.col("xb") > F.col("xa"))
                       & (F.col("yb") == F.col("ya")), ff)
            ).alias("_ty_only"),
        )
    )
    cell_row = vf.agg(
        F.sum("f").alias("n"),
        F.sum(F.col("f").cast("decimal(38,0)")
              * (F.col("f") - 1)).alias("tie_xy2"),
    )
    return (
        pair_row.crossJoin(cell_row)
        .select(
            F.col("n").cast("long").alias("n"),
            F.coalesce("conc", F.lit(0)).cast("long").alias("conc"),
            F.coalesce("disc", F.lit(0)).cast("long").alias("disc"),
            (F.lit(2) * F.coalesce("_tx_only", F.lit(0))
             + F.col("tie_xy2")).cast("long").alias("tie_x2"),
            (F.lit(2) * F.coalesce("_ty_only", F.lit(0))
             + F.col("tie_xy2")).cast("long").alias("tie_y2"),
            F.col("tie_xy2").cast("long").alias("tie_xy2"),
        )
        .selectExpr(
            "n", "conc", "disc", "tie_x2", "tie_y2", "tie_xy2",
            "CASE WHEN n < 2 OR cast(n as decimal(38,0)) * (n-1) = tie_x2"
            " OR cast(n as decimal(38,0)) * (n-1) = tie_y2"
            " THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(floor("
            "CAST(2 * (conc - disc) * 1000000 AS DOUBLE)"
            " / sqrt(CAST((cast(n as decimal(38,0)) * (n-1) - tie_x2)"
            " * (cast(n as decimal(38,0)) * (n-1) - tie_y2) AS DOUBLE))"
            ") AS BIGINT) END AS tau_mil",
        )
    )


def kendall_tau_sql(inner_cte: str, x_col: str, y_col: str) -> str:
    """DuckDB twin of :func:`kendall_tau` (HUGEINT staging) —
    ``inner_cte`` is a SELECT exposing ``{x_col}, {y_col}``."""
    return f"""
WITH kt_src AS ({inner_cte}),
kt_vf AS (SELECT CAST({x_col} AS BIGINT) AS x, CAST({y_col} AS BIGINT) AS y,
                 COUNT(*) AS f
          FROM kt_src GROUP BY 1, 2),
kt_p AS (SELECT
           SUM(CASE WHEN b.x > a.x AND b.y > a.y
                    THEN CAST(a.f AS HUGEINT) * b.f END) AS conc,
           SUM(CASE WHEN b.x > a.x AND b.y < a.y
                    THEN CAST(a.f AS HUGEINT) * b.f END) AS disc,
           SUM(CASE WHEN b.x = a.x
                    THEN CAST(a.f AS HUGEINT) * b.f END) AS tx_only,
           SUM(CASE WHEN b.x > a.x AND b.y = a.y
                    THEN CAST(a.f AS HUGEINT) * b.f END) AS ty_only
         FROM kt_vf a JOIN kt_vf b
           ON (b.x > a.x OR (b.x = a.x AND b.y > a.y))),
kt_c AS (SELECT SUM(f) AS n,
                SUM(CAST(f AS HUGEINT) * (f - 1)) AS tie_xy2
         FROM kt_vf),
kt_f AS (SELECT CAST(n AS BIGINT) AS n,
                CAST(COALESCE(conc, 0) AS BIGINT) AS conc,
                CAST(COALESCE(disc, 0) AS BIGINT) AS disc,
                CAST(2 * COALESCE(tx_only, 0) + tie_xy2 AS BIGINT)
                    AS tie_x2,
                CAST(2 * COALESCE(ty_only, 0) + tie_xy2 AS BIGINT)
                    AS tie_y2,
                CAST(tie_xy2 AS BIGINT) AS tie_xy2
         FROM kt_p, kt_c)
SELECT n, conc, disc, tie_x2, tie_y2, tie_xy2,
       CASE WHEN n < 2 OR CAST(n AS HUGEINT) * (n-1) = tie_x2
                 OR CAST(n AS HUGEINT) * (n-1) = tie_y2
            THEN NULL
            ELSE CAST(floor(
              CAST(2 * (conc - disc) * 1000000 AS DOUBLE)
              / sqrt(CAST((CAST(n AS HUGEINT) * (n-1) - tie_x2)
                     * (CAST(n AS HUGEINT) * (n-1) - tie_y2) AS DOUBLE))
            ) AS BIGINT) END AS tau_mil
FROM kt_f"""


def theil_sen_days(pages: DataFrame) -> DataFrame:
    """Theil-Sen robust trend of the daily crawl volume — the median
    of all pairwise day-slopes (breakdown point 29%: immune to the
    surge days that drag an OLS fit; the robust companion of
    ``cusum_days``/``volume_anomaly``). One row
    ``(n_days, n_pairs, key_lo, key_hi, slope_mil)``.

    FULLY EXACT — no float ever: each pair's slope ``(y_j−y_i)/(d_j−d_i)``
    is keyed by ``key = floordiv((y_j−y_i)·10^10, d_j−d_i)``, an
    order-preserving integer encoding that is injective up to true
    slope equality while day spans stay < 10^5 (two distinct rationals
    a/b ≠ c/d differ by ≥ 1/(bd) > 10^-10); the median is the key at
    ranks ``⌊(P+1)/2⌋`` / ``⌈(P+1)/2⌉`` and
    ``slope_mil = floordiv(key_lo + key_hi, 2·10^4)``. Floor division
    is spelled as the explicit truncate-and-adjust CASE so Spark's
    toward-zero ``div`` and DuckDB agree at negative slopes.

    Scale design: ONE map-side-combinable day fold over the corpus;
    pair formation is a broadcast nested-loop self-join on the DAY
    table (bounded by the calendar, not the corpus — P = D(D−1)/2);
    one ranking window over that bounded pair table. No per-row
    Python, nothing touches corpus rows twice.
    """
    days = (
        pages.select(F.expr("ts_sec div 86400").alias("d"))
        .groupBy("d").agg(F.count(F.lit(1)).alias("y"))
        .localCheckpoint(eager=True)
    )
    a = days.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = days.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    pairs = a.join(F.broadcast(b), F.col("db") > F.col("da"), "inner").select(
        ((F.col("yb") - F.col("ya")).cast("decimal(38,0)")
         * F.lit(10_000_000_000)).alias("num"),
        (F.col("db") - F.col("da")).cast("decimal(38,0)").alias("den"),
    ).selectExpr(
        "CAST(CASE WHEN num % den != 0 AND num < 0"
        " THEN num div den - 1 ELSE num div den END AS BIGINT) AS skey",
    )
    w = Window.orderBy("skey")
    ranked = pairs.select(
        "skey", F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
        ).alias("p"),
    )
    picked = ranked.filter(
        (F.col("rk") == F.expr("(p + 1) div 2"))
        | (F.col("rk") == F.expr("(p + 2) div 2"))
    ).agg(
        F.max("p").alias("n_pairs"),
        F.min("skey").alias("key_lo"),
        F.max("skey").alias("key_hi"),
    )
    nd = days.agg(F.count(F.lit(1)).alias("n_days"))
    return picked.crossJoin(nd).selectExpr(
        "CAST(n_days AS BIGINT) AS n_days",
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(key_lo AS BIGINT) AS key_lo",
        "CAST(key_hi AS BIGINT) AS key_hi",
        "CAST(CASE WHEN (key_lo + key_hi) % 20000 != 0"
        " AND key_lo + key_hi < 0"
        " THEN (key_lo + key_hi) div 20000 - 1"
        " ELSE (key_lo + key_hi) div 20000 END AS BIGINT) AS slope_mil",
    )


def theil_sen_days_sql(pages_cte: str, table: str = "pages") -> str:
    """DuckDB twin of :func:`theil_sen_days` — ``pages_cte`` exposes
    ``{table}`` (WITH included). DuckDB's ``//`` on integers truncates
    like Spark's ``div``, so the same adjust-CASE applies."""
    return f"""{pages_cte}
, ts_d AS (SELECT ts_sec // 86400 AS d, COUNT(*) AS y
           FROM {table} GROUP BY 1)
, ts_p AS (SELECT CAST((b.y - a.y) AS HUGEINT) * 10000000000 AS num,
                  CAST(b.d - a.d AS HUGEINT) AS den
           FROM ts_d a JOIN ts_d b ON b.d > a.d)
, ts_k AS (SELECT CAST(CASE WHEN num % den != 0 AND num < 0
                       THEN num // den - 1 ELSE num // den END
                       AS BIGINT) AS skey
           FROM ts_p)
, ts_r AS (SELECT skey, ROW_NUMBER() OVER (ORDER BY skey) AS rk,
                  COUNT(*) OVER () AS p
           FROM ts_k)
, ts_m AS (SELECT MAX(p) AS n_pairs, MIN(skey) AS key_lo,
                  MAX(skey) AS key_hi
           FROM ts_r
           WHERE rk = (p + 1) // 2 OR rk = (p + 2) // 2)
, ts_n AS (SELECT COUNT(*) AS n_days FROM ts_d)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(key_lo AS BIGINT) AS key_lo,
       CAST(key_hi AS BIGINT) AS key_hi,
       CAST(CASE WHEN (key_lo + key_hi) % 20000 != 0
                  AND key_lo + key_hi < 0
            THEN (CAST(key_lo AS HUGEINT) + key_hi) // 20000 - 1
            ELSE (CAST(key_lo AS HUGEINT) + key_hi) // 20000
            END AS BIGINT) AS slope_mil
FROM ts_m, ts_n"""


def mann_kendall_days(pages: DataFrame) -> DataFrame:
    """Mann-Kendall trend SIGNIFICANCE test on daily crawl volume —
    the hypothesis-test companion of :func:`theil_sen_days` (which
    estimates the slope; this one asks whether a monotone trend exists
    at all). One row ``(n_days, s_stat, tie_term, var18, z_mil)``:

    * ``s_stat = Σ_{i<j} sgn(y_j − y_i)`` over day pairs in day order —
      exact BIGINT (the classic MK S statistic);
    * ``tie_term = Σ_groups t(t−1)(2t+5)`` over groups of days tied on
      volume, ``var18 = n(n−1)(2n+5) − tie_term`` — 18·Var(S), exact
      (the standard tie-corrected variance, Kendall 1975);
    * ``z_mil = floor(1e6 · (S − sgn(S)) / sqrt(var18/18))`` — the
      continuity-corrected normal score, the ONLY float step, one
      pinned double expression identical on both engines; NULL when
      ``var18 = 0`` (fewer than 2 days, or all days tied).

    |z| > 1.96e6 rejects "no trend" at 5% — the crawl-ops alarm for
    "volume is drifting", robust to distribution shape.

    Scale design: ONE map-side-combinable day fold over the corpus
    (localCheckpointed — it feeds the pair join, the tie fold, and the
    n fold); pair classification is a broadcast nested-loop self-join
    on the DAY table (P = D(D−1)/2, bounded by the calendar, not the
    corpus); three single-row folds close with 1×1 crosses. No window,
    no per-row Python, nothing O(corpus²).
    """
    days = (
        pages.select(F.expr("ts_sec div 86400").alias("d"))
        .groupBy("d").agg(F.count(F.lit(1)).alias("y"))
        .localCheckpoint(eager=True)
    )
    a = days.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = days.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    s_row = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"), "inner")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("yb") > F.col("ya"), 1)
                    .when(F.col("yb") < F.col("ya"), -1)
                    .otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias("s_stat")
        )
    )
    tie_row = (
        days.groupBy("y").agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t").cast("decimal(38,0)")
                    * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("long").alias("tie_term")
        )
    )
    n_row = days.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        s_row.crossJoin(tie_row).crossJoin(n_row)
        .selectExpr(
            "CAST(n_days AS BIGINT) AS n_days",
            "s_stat",
            "tie_term",
            "CAST(cast(n_days as decimal(38,0)) * (n_days - 1)"
            " * (2 * n_days + 5) - tie_term AS BIGINT) AS var18",
        )
        .selectExpr(
            "n_days", "s_stat", "tie_term", "var18",
            "CASE WHEN var18 <= 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(floor("
            "CAST((s_stat - (CASE WHEN s_stat > 0 THEN 1"
            " WHEN s_stat < 0 THEN -1 ELSE 0 END)) * 1000000 AS DOUBLE)"
            " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
            ") AS BIGINT) END AS z_mil",
        )
    )


def mann_kendall_days_sql(pages_cte: str, table: str = "pages") -> str:
    """DuckDB twin of :func:`mann_kendall_days` — ``pages_cte`` exposes
    ``{table}`` (WITH included). HUGEINT staging; the z expression is
    the byte-identical pinned double."""
    return f"""{pages_cte}
, mk_d AS (SELECT ts_sec // 86400 AS d, COUNT(*) AS y
           FROM {table} GROUP BY 1)
, mk_s AS (SELECT CAST(COALESCE(SUM(CASE WHEN b.y > a.y THEN 1
                                         WHEN b.y < a.y THEN -1
                                         ELSE 0 END), 0) AS BIGINT)
                  AS s_stat
           FROM mk_d a JOIN mk_d b ON b.d > a.d)
, mk_t AS (SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * (t - 1)
                                    * (2 * t + 5)), 0) AS BIGINT)
                  AS tie_term
           FROM (SELECT COUNT(*) AS t FROM mk_d GROUP BY y))
, mk_n AS (SELECT COUNT(*) AS n_days FROM mk_d)
, mk_v AS (SELECT CAST(n_days AS BIGINT) AS n_days, s_stat, tie_term,
                  CAST(CAST(n_days AS HUGEINT) * (n_days - 1)
                       * (2 * n_days + 5) - tie_term AS BIGINT) AS var18
           FROM mk_s, mk_t, mk_n)
SELECT n_days, s_stat, tie_term, var18,
       CASE WHEN var18 <= 0 THEN NULL
            ELSE CAST(floor(
              CAST((s_stat - (CASE WHEN s_stat > 0 THEN 1
                              WHEN s_stat < 0 THEN -1 ELSE 0 END))
                   * 1000000 AS DOUBLE)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            ) AS BIGINT) END AS z_mil
FROM mk_v"""


def term_burstiness(docs: DataFrame, top_k: int = 50) -> DataFrame:
    """Temporal burstiness of the ``top_k`` corpus terms — the
    variance-to-mean ratio (index of dispersion) of each term's count
    series over the FULL observed bucket calendar (absent buckets are
    zero), FULLY exact: with ``D`` = calendar span (max − min bucket
    + 1, global), ``S = Σx`` and ``Q = Σx²`` per term over observed
    buckets only (zeros contribute nothing to either),

        ``vmr_mil = ((D·Q − S²) · 10^6) div (D·S)``

    — numerator non-negative by Cauchy-Schwarz, so integer division is
    a true floor on both engines; NO float anywhere.  ``vmr_mil >
    1e6`` ⇒ bursty (clumped in time, the retraining-trigger signal),
    ``< 1e6`` ⇒ steadier than Poisson.  One row per top-K term
    ``(term, n_total, n_buckets, vmr_mil)``, top-K by total count with
    lexicographic tie-break.

    Scale design: ONE explode→(term, bucket) corpus fold (map-side
    combinable), one vocab-bounded per-term re-aggregate, a single-row
    calendar fold crossed 1×1, and one top-K window over the
    vocab-bounded term table.  Second moments staged DECIMAL(38,0).
    """
    from rio_cogeo_spark.functions.text import tokens_col

    tb = (
        docs.select(
            F.col("t_bucket").cast("long").alias("b"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("term", "b")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    cal = docs.agg(
        (F.max(F.col("t_bucket").cast("long"))
         - F.min(F.col("t_bucket").cast("long")) + F.lit(1)).alias("d_span")
    )
    d = "decimal(38,0)"
    per = tb.groupBy("term").agg(
        F.sum("x").cast(d).alias("s"),
        F.sum(F.col("x").cast(d) * F.col("x")).alias("q"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    ranked = per.crossJoin(F.broadcast(cal)).withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.col("s").desc(), F.col("term").asc())
        ),
    ).filter(F.col("_rk") <= top_k)
    return ranked.selectExpr(
        "term",
        "CAST(s AS BIGINT) AS n_total",
        "CAST(n_buckets AS BIGINT) AS n_buckets",
        "CAST(((d_span * q - s * s) * 1000000) div (d_span * s)"
        " AS BIGINT) AS vmr_mil",
    )


def term_burstiness_sql(docs_select: str, tokens_sql: str) -> str:
    """DuckDB twin of :func:`term_burstiness` — ``docs_select`` exposes
    ``(text, t_bucket)``; identical fold shapes, int-div ``//``."""
    return f"""WITH tb_docs AS ({docs_select}),
tb_tb AS (SELECT term, b, COUNT(*) AS x
          FROM (SELECT CAST(t_bucket AS BIGINT) AS b,
                       unnest({tokens_sql}) AS term FROM tb_docs)
          GROUP BY 1, 2),
tb_cal AS (SELECT MAX(CAST(t_bucket AS BIGINT))
                  - MIN(CAST(t_bucket AS BIGINT)) + 1 AS d_span
           FROM tb_docs),
tb_per AS (SELECT term, CAST(SUM(x) AS HUGEINT) AS s,
                  SUM(CAST(x AS HUGEINT) * x) AS q,
                  COUNT(*) AS n_buckets
           FROM tb_tb GROUP BY 1),
tb_rk AS (SELECT term, s, q, n_buckets, d_span,
                 ROW_NUMBER() OVER (ORDER BY s DESC, term ASC) AS _rk
          FROM tb_per, tb_cal)
SELECT term,
       CAST(s AS BIGINT) AS n_total,
       CAST(n_buckets AS BIGINT) AS n_buckets,
       CAST(((d_span * q - s * s) * 1000000) // (d_span * s)
            AS BIGINT) AS vmr_mil
FROM tb_rk WHERE _rk <= 50"""


def lang_vocab_overlap(docs: DataFrame) -> DataFrame:
    """Cross-language vocabulary overlap — exact Jaccard between every
    unordered language pair's token vocabularies, the cross-lingual
    contamination / loanword gauge: one row per pair ``(lang_a,
    lang_b, inter, n_a, n_b, jaccard_mil)`` with ``lang_a < lang_b``;
    ``jaccard_mil = (inter·10^6) div (n_a + n_b − inter)`` exact.

    Scale design: the corpus folds ONCE to the distinct (term, lang)
    vocabulary, each term then folds to a language BITMASK
    (``bit_or(1 << lang_id)``, lang ids dense-ranked over the
    language-bounded table) and the mask table folds to mask
    frequencies — so the pair counting runs on ``(#languages² ×
    #distinct masks)``, both bounded far below the vocabulary, never
    on the corpus.  No self-join on the vocabulary; one broadcast of
    the tiny lang-id table.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    vocab = docs.select(
        F.col("lang"),
        F.explode(tokens_col(F.col("text"))).alias("term"),
    ).distinct()
    langs = vocab.select("lang").distinct().withColumn(
        "lid",
        F.dense_rank().over(Window.orderBy(F.col("lang").asc())) - F.lit(1),
    )
    masks = (
        vocab.join(F.broadcast(langs), "lang")
        .groupBy("term")
        .agg(F.expr("bit_or(CAST(1 AS BIGINT) << lid)").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        langs.alias("a")
        .crossJoin(langs.alias("b"))
        .filter(F.col("a.lang") < F.col("b.lang"))
        .select(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"),
            F.col("a.lid").alias("la"), F.col("b.lid").alias("lb"),
        )
    )
    hits = pairs.join(F.broadcast(masks)).groupBy("lang_a", "lang_b").agg(
        F.sum(
            F.when(
                (F.expr("(mask >> la) & 1") == 1)
                & (F.expr("(mask >> lb) & 1") == 1),
                F.col("freq"),
            ).otherwise(F.lit(0))
        ).alias("inter"),
        F.sum(
            F.when(F.expr("(mask >> la) & 1") == 1, F.col("freq"))
            .otherwise(F.lit(0))
        ).alias("n_a"),
        F.sum(
            F.when(F.expr("(mask >> lb) & 1") == 1, F.col("freq"))
            .otherwise(F.lit(0))
        ).alias("n_b"),
    )
    return hits.selectExpr(
        "lang_a", "lang_b",
        "CAST(inter AS BIGINT) AS inter",
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "CAST((inter * 1000000) div (n_a + n_b - inter) AS BIGINT)"
        " AS jaccard_mil",
    )


def lang_vocab_overlap_sql(docs_select: str, tokens_sql: str) -> str:
    """DuckDB twin of :func:`lang_vocab_overlap` — identical bitmask
    folds (int-div ``//``)."""
    return f"""WITH lv_docs AS ({docs_select}),
lv_vocab AS (SELECT DISTINCT lang, term
             FROM (SELECT lang AS lang,
                          unnest({tokens_sql}) AS term FROM lv_docs)),
lv_langs AS (SELECT lang,
                    DENSE_RANK() OVER (ORDER BY lang ASC) - 1 AS lid
             FROM (SELECT DISTINCT lang FROM lv_vocab)),
lv_masks AS (SELECT mask, COUNT(*) AS freq
             FROM (SELECT v.term,
                          bit_or(CAST(1 AS BIGINT) << l.lid) AS mask
                   FROM lv_vocab v JOIN lv_langs l USING (lang)
                   GROUP BY v.term)
             GROUP BY 1),
lv_pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
                    a.lid AS la, b.lid AS lb
             FROM lv_langs a, lv_langs b WHERE a.lang < b.lang),
lv_hits AS (SELECT lang_a, lang_b,
                   SUM(CASE WHEN ((mask >> la) & 1) = 1
                             AND ((mask >> lb) & 1) = 1
                            THEN freq ELSE 0 END) AS inter,
                   SUM(CASE WHEN ((mask >> la) & 1) = 1
                            THEN freq ELSE 0 END) AS n_a,
                   SUM(CASE WHEN ((mask >> lb) & 1) = 1
                            THEN freq ELSE 0 END) AS n_b
            FROM lv_pairs, lv_masks GROUP BY 1, 2)
SELECT lang_a, lang_b,
       CAST(inter AS BIGINT) AS inter,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST((inter * 1000000) // (n_a + n_b - inter) AS BIGINT)
       AS jaccard_mil
FROM lv_hits"""


def _term_geo_final(intdiv: str) -> list[str]:
    """Shared per-term projection for :func:`term_localization` —
    the grouped sibling of focal.centrography's moments (``intdiv`` =
    engine integer-division token, operands non-negative)."""
    return [
        "term",
        "CAST(w_total AS BIGINT) AS n_mentions",
        f"CAST((swx * 1000000) {intdiv} w_total AS BIGINT) AS mean_x_mil",
        f"CAST((swy * 1000000) {intdiv} w_total AS BIGINT) AS mean_y_mil",
        # the ONE pinned double per term: RMS dispersion radius in mil
        "CAST(floor(sqrt((CAST(sxx AS DOUBLE) + CAST(syy AS DOUBLE))"
        " / CAST(w_total AS DOUBLE)"
        " - (CAST(swx AS DOUBLE) / CAST(w_total AS DOUBLE))"
        " * (CAST(swx AS DOUBLE) / CAST(w_total AS DOUBLE))"
        " - (CAST(swy AS DOUBLE) / CAST(w_total AS DOUBLE))"
        " * (CAST(swy AS DOUBLE) / CAST(w_total AS DOUBLE)))"
        " * CAST(1000000 AS DOUBLE)) AS BIGINT) AS std_dist_mil",
    ]


def term_localization(pages: DataFrame, top_k: int = 50) -> DataFrame:
    """Geographic localization of the ``top_k`` corpus terms — per-term
    centrography over the cells of the pages that mention it (each
    mention one unit-weight point): one row per term ``(term,
    n_mentions, mean_x_mil, mean_y_mil, std_dist_mil)``.  A LOW
    ``std_dist_mil`` marks a geographically local term (a place name,
    a regional topic), a high one a global term — the webtext ×
    spatial graft signal.  Mean center coordinates are EXACT mil
    floordivs of DECIMAL(38,0)-staged sums; the RMS dispersion radius
    is the ONE pinned double per term (same fixed IEEE tree as
    focal.centrography).  Top-K by mention count, lexicographic
    tie-break.

    Scale design: ONE explode→(term, cell-moment) corpus fold
    (map-side combinable, six sums per term), one vocab-bounded top-K
    window.  No join, no Python.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    d = "decimal(38,0)"
    x = F.col("x")
    y = F.col("y")
    per = (
        pages.select(
            F.col("tile_x").cast("long").alias("x"),
            F.col("tile_y").cast("long").alias("y"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast(d).alias("w_total"),
            F.sum(x.cast(d)).alias("swx"),
            F.sum(y.cast(d)).alias("swy"),
            F.sum(x.cast(d) * x).alias("sxx"),
            F.sum(y.cast(d) * y).alias("syy"),
        )
    )
    ranked = per.withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.col("w_total").desc(), F.col("term").asc())
        ),
    ).filter(F.col("_rk") <= top_k)
    return ranked.selectExpr(*_term_geo_final("div"))


def term_localization_sql(pages_select: str, tokens_sql: str) -> str:
    """DuckDB twin of :func:`term_localization` — ``pages_select``
    exposes ``(text, tile_x, tile_y)``; identical moments and final
    projection (int-div ``//``)."""
    final = ",\n       ".join(_term_geo_final("//"))
    return f"""WITH tg_pages AS ({pages_select}),
tg_m AS (SELECT term,
                CAST(COUNT(*) AS HUGEINT) AS w_total,
                SUM(CAST(x AS HUGEINT)) AS swx,
                SUM(CAST(y AS HUGEINT)) AS swy,
                SUM(CAST(x AS HUGEINT) * x) AS sxx,
                SUM(CAST(y AS HUGEINT) * y) AS syy
         FROM (SELECT CAST(tile_x AS BIGINT) AS x,
                      CAST(tile_y AS BIGINT) AS y,
                      unnest({tokens_sql}) AS term FROM tg_pages)
         GROUP BY 1),
tg_rk AS (SELECT *, ROW_NUMBER() OVER
              (ORDER BY w_total DESC, term ASC) AS _rk
          FROM tg_m)
SELECT {final}
FROM tg_rk WHERE _rk <= 50"""


def cell_diversity(pages: DataFrame) -> DataFrame:
    """Spatial language-diversity map — per grid cell, the Shannon
    entropy of its page-language distribution in per-term-pinned
    nano-nats (the cell-keyed sibling of :func:`lang_entropy`, the
    webtext × spatial graft gauge: multilingual hubs vs monolingual
    regions): one row per occupied cell ``(tile_x, tile_y, n_pages,
    n_langs, h_nano, h_max_nano)``.

    Pinned contract (identical to lang_entropy): per (cell, lang),
    ``contrib = floor((cnt/n)·ln(n/cnt)·1e9)`` through one fixed IEEE
    tree from exact BIGINT counts; ``h_nano = Σ contrib`` per cell,
    ``h_max_nano = floor(ln(n_langs)·1e9)`` the uniform ceiling.

    Scale design: ONE (cell, lang)-keyed corpus fold (map-side
    combinable), then a window over that language-bounded table
    re-using its (cell) partitioning — the corpus is scanned exactly
    once, no join.
    """
    cl = (
        pages.select(
            F.col("tile_x").cast("long").alias("tile_x"),
            F.col("tile_y").cast("long").alias("tile_y"),
            F.col("lang"),
        )
        .groupBy("tile_x", "tile_y", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("tile_x", "tile_y")
    return (
        cl.select(
            "tile_x", "tile_y", "cnt",
            F.sum("cnt").over(w).alias("n_pages"),
            F.count(F.lit(1)).over(w).alias("n_langs"),
        )
        .select(
            "tile_x", "tile_y", "n_pages", "n_langs",
            F.expr(
                "cast(floor((cast(cnt as double) / cast(n_pages as double))"
                " * ln(cast(n_pages as double) / cast(cnt as double))"
                " * 1e9) as bigint)"
            ).alias("contrib"),
        )
        .groupBy("tile_x", "tile_y", "n_pages", "n_langs")
        .agg(F.sum("contrib").cast("long").alias("h_nano"))
        .selectExpr(
            "tile_x", "tile_y",
            "CAST(n_pages AS BIGINT) AS n_pages",
            "CAST(n_langs AS BIGINT) AS n_langs",
            "h_nano",
            "CAST(floor(ln(CAST(n_langs AS DOUBLE)) * 1e9) AS BIGINT)"
            " AS h_max_nano",
        )
    )


def cell_diversity_sql(pages_select: str) -> str:
    """DuckDB twin of :func:`cell_diversity` — ``pages_select`` exposes
    ``(tile_x, tile_y, lang)``."""
    return f"""WITH cd_p AS ({pages_select}),
cd_cl AS (SELECT tile_x, tile_y, lang AS lang, COUNT(*) AS cnt
          FROM cd_p GROUP BY 1, 2, 3),
cd_w AS (SELECT tile_x, tile_y, cnt,
                SUM(cnt) OVER (PARTITION BY tile_x, tile_y) AS n_pages,
                COUNT(*) OVER (PARTITION BY tile_x, tile_y) AS n_langs
         FROM cd_cl),
cd_c AS (SELECT tile_x, tile_y, n_pages, n_langs,
                CAST(floor((CAST(cnt AS DOUBLE) / CAST(n_pages AS DOUBLE))
                     * ln(CAST(n_pages AS DOUBLE) / CAST(cnt AS DOUBLE))
                     * 1e9) AS BIGINT) AS contrib
         FROM cd_w)
SELECT tile_x, tile_y,
       CAST(n_pages AS BIGINT) AS n_pages,
       CAST(n_langs AS BIGINT) AS n_langs,
       CAST(SUM(contrib) AS BIGINT) AS h_nano,
       CAST(floor(ln(CAST(n_langs AS DOUBLE)) * 1e9) AS BIGINT)
           AS h_max_nano
FROM cd_c GROUP BY tile_x, tile_y, n_pages, n_langs"""


def hapax_ratio(docs: DataFrame) -> DataFrame:
    """Hapax-legomena profile per language — the fraction of the
    vocabulary appearing EXACTLY once (the classic productivity /
    OCR-noise gauge next to heaps/zipf; a high ratio flags noisy or
    fast-growing vocabularies): one row per language ``(lang,
    n_tokens, n_types, n_hapax, n_dis, hapax_mil)`` with ``n_dis``
    the dis-legomena (frequency-2) count and ``hapax_mil =
    (n_hapax·10^6) div n_types`` — FULLY exact, NO float.

    Scale design: ONE explode→(lang, term) corpus fold, one
    vocab-bounded per-language re-aggregate.  No window, no join.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    tf = (
        docs.select(
            F.col("lang"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per = tf.groupBy("lang").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, F.lit(1)).otherwise(F.lit(0)))
        .alias("n_hapax"),
        F.sum(F.when(F.col("cnt") == 2, F.lit(1)).otherwise(F.lit(0)))
        .alias("n_dis"),
    )
    return per.selectExpr(
        "lang",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(n_types AS BIGINT) AS n_types",
        "CAST(n_hapax AS BIGINT) AS n_hapax",
        "CAST(n_dis AS BIGINT) AS n_dis",
        "CAST((n_hapax * 1000000) div n_types AS BIGINT) AS hapax_mil",
    )


def hapax_ratio_sql(table: str, tokens_sql: str) -> str:
    """DuckDB twin of :func:`hapax_ratio` (int-div ``//``)."""
    return f"""WITH hx_tf AS (SELECT lang, term, COUNT(*) AS cnt
               FROM (SELECT lang AS lang,
                            unnest({tokens_sql}) AS term FROM {table})
               GROUP BY 1, 2),
hx_p AS (SELECT lang, SUM(cnt) AS n_tokens, COUNT(*) AS n_types,
                SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_hapax,
                SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS n_dis
         FROM hx_tf GROUP BY 1)
SELECT lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(n_hapax AS BIGINT) AS n_hapax,
       CAST(n_dis AS BIGINT) AS n_dis,
       CAST((n_hapax * 1000000) // n_types AS BIGINT) AS hapax_mil
FROM hx_p"""


_REGIONAL_FINAL = [
    "city",
    "term",
    "CAST(n_in AS BIGINT) AS n_in",
    "CAST(n_out AS BIGINT) AS n_out",
    "odds_mil",
]


_REGIONAL_TERMS_HALF = 0.6


def regional_terms(
    pages: DataFrame,
    cities: DataFrame,
    top_k: int = 5,
    min_in: int = 3,
) -> DataFrame:
    """Regionally distinctive vocabulary — per city bounding box, the
    ``top_k`` terms by EXACT odds ratio of in-region vs out-of-region
    usage (the webtext × spatial graft flagship beside term_geo:
    which words belong to which place):

        ``odds_mil = (a·(B−b) · 10^6) div ((A−a)·b)``

    with ``a``/``A`` the term/total token counts inside the box,
    ``b``/``B`` the OUTSIDE remainders of the global counts — all
    exact BIGINTs, NULL when the term saturates a side; candidates
    need ``a ≥ min_in``.  Ranked by the exact integer (odds_mil,
    n_in, term) key — identical on both engines.  ``cities`` exposes
    ``(city, c_lat, c_lon)``; boxes are ±0.6 degrees (disjoint
    for the megacity fixture).

    Scale design: region tagging is ONE broadcast range join of the
    city table onto the pages (20 rows — never a shuffle of the
    corpus); per-(city, term) and global folds are map-side
    combinable explodes; the odds join runs on the REGION vocabulary
    (city-bounded), broadcast against per-city totals; top-K windows
    the city-bounded candidate table.
    """
    from rio_cogeo_spark.functions.text import tokens_col

    d = "decimal(38,0)"
    c = F.broadcast(cities.select(
        "city",
        F.col("c_lat").cast("double").alias("c_lat"),
        F.col("c_lon").cast("double").alias("c_lon"),
    ))
    tagged = pages.join(
        c,
        (F.col("lat") >= F.col("c_lat") - _REGIONAL_TERMS_HALF)
        & (F.col("lat") <= F.col("c_lat") + _REGIONAL_TERMS_HALF)
        & (F.col("lon") >= F.col("c_lon") - _REGIONAL_TERMS_HALF)
        & (F.col("lon") <= F.col("c_lon") + _REGIONAL_TERMS_HALF),
        "inner",
    )
    a = (
        tagged.select("city", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("city", "term")
        .agg(F.count(F.lit(1)).alias("a"))
        .filter(F.col("a") >= min_in)
    )
    at = (
        tagged.select("city", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("city")
        .agg(F.count(F.lit(1)).cast(d).alias("at"))
    )
    g = (
        pages.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("g"))
    )
    gt = pages.select(
        F.explode(tokens_col(F.col("text"))).alias("term")
    ).agg(F.count(F.lit(1)).cast(d).alias("gt"))
    cand = (
        a.join(g, "term")
        .join(F.broadcast(at), "city")
        .crossJoin(F.broadcast(gt))
        .selectExpr(
            "city", "term",
            "CAST(a AS DECIMAL(38,0)) AS n_in",
            "CAST(g - a AS DECIMAL(38,0)) AS n_out",
            "at - a AS a_rest",
            "gt - at - (g - a) AS b_rest",
        )
        .selectExpr(
            "city", "term", "n_in", "n_out",
            "CAST(CASE WHEN a_rest = 0 OR n_out = 0 THEN NULL"
            " ELSE (n_in * b_rest * 1000000) div (a_rest * n_out) END"
            " AS BIGINT) AS odds_mil",
        )
    )
    w = Window.partitionBy("city").orderBy(
        # region-exclusive terms (n_out = 0, odds undefined) are
        # MAXIMALLY distinctive — they rank ahead of any finite odds
        F.when(F.col("n_out") == 0, F.lit(1)).otherwise(F.lit(0)).desc(),
        F.col("odds_mil").desc_nulls_last(),
        F.col("n_in").desc(), F.col("term").asc(),
    )
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .selectExpr(*_REGIONAL_FINAL)
    )


def regional_terms_sql(pages_select: str, cities_select: str, tokens_sql: str) -> str:
    """DuckDB twin of :func:`regional_terms` — identical folds, odds
    arithmetic (int-div ``//``) and rank key.  NULL odds sort last on
    both engines (Spark ``desc_nulls_last`` ↔ DuckDB ``DESC NULLS
    LAST``)."""
    return f"""WITH rt_p AS ({pages_select}),
rt_c AS ({cities_select}),
rt_tag AS (SELECT c.city, p.text
           FROM rt_p p JOIN rt_c c
             ON p.lat BETWEEN c.c_lat - CAST({_REGIONAL_TERMS_HALF} AS DOUBLE)
                          AND c.c_lat + CAST({_REGIONAL_TERMS_HALF} AS DOUBLE)
            AND p.lon BETWEEN c.c_lon - CAST({_REGIONAL_TERMS_HALF} AS DOUBLE)
                          AND c.c_lon + CAST({_REGIONAL_TERMS_HALF} AS DOUBLE)),
rt_a AS (SELECT city, term, COUNT(*) AS a
         FROM (SELECT city, unnest({tokens_sql}) AS term FROM rt_tag)
         GROUP BY 1, 2 HAVING COUNT(*) >= 3),
rt_at AS (SELECT city, CAST(COUNT(*) AS HUGEINT) AS at
          FROM (SELECT city, unnest({tokens_sql}) AS term FROM rt_tag)
          GROUP BY 1),
rt_g AS (SELECT term, COUNT(*) AS g
         FROM (SELECT unnest({tokens_sql}) AS term FROM rt_p)
         GROUP BY 1),
rt_gt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS gt
          FROM (SELECT unnest({tokens_sql}) AS term FROM rt_p)),
rt_cand AS (SELECT a.city, a.term,
                   CAST(a.a AS HUGEINT) AS n_in,
                   CAST(g.g - a.a AS HUGEINT) AS n_out,
                   t.at - a.a AS a_rest,
                   x.gt - t.at - (g.g - a.a) AS b_rest
            FROM rt_a a JOIN rt_g g USING (term)
            JOIN rt_at t USING (city), rt_gt x),
rt_o AS (SELECT city, term, n_in, n_out,
                CAST(CASE WHEN a_rest = 0 OR n_out = 0 THEN NULL
                     ELSE (n_in * b_rest * 1000000) // (a_rest * n_out)
                     END AS BIGINT) AS odds_mil
         FROM rt_cand),
rt_rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY city ORDER BY
              CASE WHEN n_out = 0 THEN 1 ELSE 0 END DESC,
              odds_mil DESC NULLS LAST, n_in DESC, term ASC) AS _rk
          FROM rt_o)
SELECT {", ".join(_REGIONAL_FINAL)}
FROM rt_rk WHERE _rk <= 5"""


def _dissim_final(intdiv: str) -> list[str]:
    """Shared final projection for :func:`dissimilarity_index` —
    Duncan & Duncan D in mil, FULLY exact: ``(Σ_cells |a_i·B − b_i·A|)
    · 10^6 div (2·A·B)``."""
    return [
        "lang_a",
        "lang_b",
        "CAST(total_a AS BIGINT) AS total_a",
        "CAST(total_b AS BIGINT) AS total_b",
        "CAST(n_cells AS BIGINT) AS n_cells",
        f"CAST((s_abs * 1000000) {intdiv} (2 * total_a * total_b)"
        " AS BIGINT) AS d_mil",
    ]


def dissimilarity_index(pts: DataFrame) -> DataFrame:
    """Duncan & Duncan index of dissimilarity between every unordered
    label pair over the cell grid — the classic evenness/segregation
    measure (D = ½·Σ_i |aᵢ/A − bᵢ/B|; 0 = identical spatial
    distribution, 1 = complete segregation): one row per pair
    ``(lang_a < lang_b, total_a, total_b, n_cells, d_mil)``, where
    ``n_cells`` counts cells holding either label.  FULLY exact
    integer — the common-denominator form ``Σ|aᵢ·B − bᵢ·A| · 10^6 div
    (2·A·B)`` staged in DECIMAL(38,0)/HUGEINT (envelope: ``aᵢ·B`` ≤
    10^24 at 10^12 pages — 38 digits hold through the ·10^6).

    Scale design: the corpus folds ONCE to the grid×labels-bounded
    ``(cell, lang, cnt)`` table; label totals are a labels-bounded
    aggregate broadcast back; pair expansion multiplies by
    ``n_labels − 1`` (a broadcast cross on the tiny totals table),
    and the pair-cell fold + pair fold are both combinable.  The
    corpus never shuffles twice; nothing is O(cells²).
    """
    cl = (
        pts.groupBy(
            F.col("tile_x").alias("cx"),
            F.col("tile_y").alias("cy"),
            F.col("lang").alias("_l"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = cl.groupBy("_l").agg(F.sum("cnt").alias("total"))
    other = totals.select(
        F.col("_l").alias("_m"), F.col("total").alias("_mt")
    )
    # each (cell, lang) row joins every OTHER label (broadcast,
    # n_labels−1 fan-out) and lands on the canonical pair key
    d = "decimal(38,0)"
    expanded = (
        cl.crossJoin(F.broadcast(other))
        .filter(F.col("_l") != F.col("_m"))
        .select(
            "cx", "cy",
            F.least("_l", "_m").alias("lang_a"),
            F.greatest("_l", "_m").alias("lang_b"),
            F.when(F.col("_l") < F.col("_m"), F.col("cnt"))
            .otherwise(F.lit(0)).alias("a_cnt"),
            F.when(F.col("_l") > F.col("_m"), F.col("cnt"))
            .otherwise(F.lit(0)).alias("b_cnt"),
        )
    )
    pair_cells = expanded.groupBy("cx", "cy", "lang_a", "lang_b").agg(
        F.sum("a_cnt").alias("a_i"), F.sum("b_cnt").alias("b_i")
    )
    tot_a = totals.select(
        F.col("_l").alias("lang_a"), F.col("total").alias("total_a")
    )
    tot_b = totals.select(
        F.col("_l").alias("lang_b"), F.col("total").alias("total_b")
    )
    terms = (
        pair_cells.join(F.broadcast(tot_a), "lang_a")
        .join(F.broadcast(tot_b), "lang_b")
        .select(
            "lang_a", "lang_b", "total_a", "total_b",
            F.abs(
                F.col("a_i").cast(d) * F.col("total_b")
                - F.col("b_i").cast(d) * F.col("total_a")
            ).alias("term"),
        )
    )
    agg = terms.groupBy("lang_a", "lang_b").agg(
        F.first("total_a").cast(d).alias("total_a"),
        F.first("total_b").cast(d).alias("total_b"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("term").alias("s_abs"),
    )
    return agg.selectExpr(*_dissim_final("div"))


def dissimilarity_index_sql(pts_cte: str) -> str:
    """DuckDB twin of :func:`dissimilarity_index` — ``pts_cte`` exposes
    ``tile_x, tile_y, lang``; identical pair expansion and exact
    arithmetic (int-div ``//``)."""
    final = ",\n       ".join(_dissim_final("//"))
    return f"""WITH di_p AS ({pts_cte}),
di_c AS (SELECT tile_x AS cx, tile_y AS cy, lang AS l,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM di_p GROUP BY 1, 2, 3),
di_t AS (SELECT l, SUM(cnt) AS total FROM di_c GROUP BY 1),
di_e AS (SELECT c.cx, c.cy,
                LEAST(c.l, o.l) AS lang_a, GREATEST(c.l, o.l) AS lang_b,
                CASE WHEN c.l < o.l THEN c.cnt ELSE 0 END AS a_cnt,
                CASE WHEN c.l > o.l THEN c.cnt ELSE 0 END AS b_cnt
         FROM di_c c JOIN di_t o ON c.l <> o.l),
di_pc AS (SELECT cx, cy, lang_a, lang_b,
                 SUM(a_cnt) AS a_i, SUM(b_cnt) AS b_i
          FROM di_e GROUP BY 1, 2, 3, 4),
di_g AS (SELECT p.lang_a, p.lang_b,
                CAST(ta.total AS HUGEINT) AS total_a,
                CAST(tb.total AS HUGEINT) AS total_b,
                COUNT(*) AS n_cells,
                SUM(ABS(CAST(p.a_i AS HUGEINT) * tb.total
                        - CAST(p.b_i AS HUGEINT) * ta.total)) AS s_abs
         FROM di_pc p
         JOIN di_t ta ON ta.l = p.lang_a
         JOIN di_t tb ON tb.l = p.lang_b
         GROUP BY 1, 2, 3, 4)
SELECT {final}
FROM di_g"""


def location_quotient(pts: DataFrame) -> DataFrame:
    """Location quotient per (cell, label) — the classic regional-
    concentration measure ``LQ = (aᵢ/tᵢ) / (A/T)`` (cell share of the
    label over the label's global share): one row per occupied
    (cell, label) with ``lq_mil = (aᵢ·T·10^6) div (tᵢ·A)`` — FULLY
    exact integer, DECIMAL(38,0)-staged (envelope ``aᵢ·T·10^6`` ≤
    10^30 at 10^12 pages).  LQ > 1 means the label over-concentrates
    in the cell (the per-cell sibling of :func:`regional_terms`' odds).

    Scale design: ONE corpus fold to the grid×labels-bounded
    ``(cell, label, cnt)`` table; cell totals come from a window that
    REUSES the fold's hash partitioning (no second corpus pass); label
    totals and the grand total are a labels-bounded aggregate broadcast
    back.  No sort-merge join, no Python.
    """
    d = "decimal(38,0)"
    cl = pts.groupBy("tile_x", "tile_y", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("tile_x", "tile_y")
    cl = cl.withColumn("cell_total", F.sum("cnt").over(w))
    lt = cl.groupBy("lang").agg(F.sum("cnt").alias("lang_total"))
    t_row = pts.agg(F.count(F.lit(1)).cast("long").alias("grand_total"))
    return (
        cl.join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(t_row))
        .selectExpr(
            "CAST(tile_x AS BIGINT) AS tile_x",
            "CAST(tile_y AS BIGINT) AS tile_y",
            "lang",
            "CAST(cnt AS BIGINT) AS cnt",
            "CAST(cell_total AS BIGINT) AS cell_total",
            "CAST(lang_total AS BIGINT) AS lang_total",
            f"CAST((CAST(cnt AS {d}) * grand_total * 1000000)"
            f" div (CAST(cell_total AS {d}) * lang_total) AS BIGINT)"
            " AS lq_mil",
        )
    )


def location_quotient_sql(pts_cte: str) -> str:
    """DuckDB twin of :func:`location_quotient` (int-div ``//``)."""
    return f"""WITH lq_p AS ({pts_cte}),
lq_c AS (SELECT tile_x, tile_y, lang AS lang,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM lq_p GROUP BY 1, 2, 3),
lq_w AS (SELECT *, SUM(cnt) OVER (PARTITION BY tile_x, tile_y)
                AS cell_total
         FROM lq_c),
lq_l AS (SELECT lang, SUM(cnt) AS lang_total FROM lq_c GROUP BY 1),
lq_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS grand_total FROM lq_p)
SELECT CAST(w.tile_x AS BIGINT) AS tile_x,
       CAST(w.tile_y AS BIGINT) AS tile_y,
       w.lang,
       CAST(w.cnt AS BIGINT) AS cnt,
       CAST(w.cell_total AS BIGINT) AS cell_total,
       CAST(l.lang_total AS BIGINT) AS lang_total,
       CAST((CAST(w.cnt AS HUGEINT) * t.grand_total * 1000000)
            // (CAST(w.cell_total AS HUGEINT) * l.lang_total)
            AS BIGINT) AS lq_mil
FROM lq_w w JOIN lq_l l ON l.lang = w.lang, lq_t t"""


def exposure_index(pts: DataFrame) -> DataFrame:
    """Bell/Shevky exposure (P*) matrix between every ORDERED label
    pair over the cell grid — ``ₐP*_b = Σᵢ (aᵢ/A)·(bᵢ/tᵢ)``, the
    probability that a random member of ``a`` shares its cell with a
    member of ``b``; the diagonal (``a = b``) is the ISOLATION index.
    One row per ordered pair ``(lang_a, lang_b, total_a, exp_nano)``.

    Exactness contract: ``exp_nano = Σᵢ (aᵢ·bᵢ·10^9) div (A·tᵢ)`` —
    the SUM OF PER-CELL FLOORDIVS, exact integers identical on both
    engines (a single-fraction form has no common denominator across
    cells; envelope ``aᵢ·bᵢ·10^9`` ≤ 10^33 at 10^12 pages, staged in
    DECIMAL(38,0)/HUGEINT).

    Scale design: ONE corpus fold to ``(cell, label, cnt)``, then a
    per-cell ``collect_list`` (labels-bounded, ≤ n_labels structs) +
    double explode — pair rows ≈ cells·n_labels², NEVER a self-join;
    label totals broadcast back; the pair fold is combinable.
    """
    d = "decimal(38,0)"
    cl = pts.groupBy(
        F.col("tile_x").alias("cx"),
        F.col("tile_y").alias("cy"),
        F.col("lang").alias("_l"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cells = cl.groupBy("cx", "cy").agg(
        F.collect_list(F.struct("_l", "cnt")).alias("ls"),
        F.sum("cnt").cast("long").alias("t"),
    )
    pairs = (
        cells.select(
            F.explode("ls").alias("a"), F.col("ls"), F.col("t")
        )
        .select(
            F.col("a._l").alias("lang_a"),
            F.col("a.cnt").alias("a_cnt"),
            F.explode("ls").alias("b"),
            F.col("t"),
        )
        .select(
            "lang_a", "a_cnt",
            F.col("b._l").alias("lang_b"),
            F.col("b.cnt").alias("b_cnt"),
            "t",
        )
    )
    lt = cl.groupBy(F.col("_l").alias("lang_a")).agg(
        F.sum("cnt").cast("long").alias("total_a")
    )
    terms = pairs.join(F.broadcast(lt), "lang_a").selectExpr(
        "lang_a", "lang_b", "total_a",
        f"CAST((CAST(a_cnt AS {d}) * b_cnt * 1000000000)"
        f" div (CAST(total_a AS {d}) * t) AS BIGINT) AS term",
    )
    return (
        terms.groupBy("lang_a", "lang_b")
        .agg(
            F.first("total_a").alias("total_a"),
            F.sum("term").alias("exp_nano"),
        )
        .selectExpr(
            "lang_a", "lang_b",
            "CAST(total_a AS BIGINT) AS total_a",
            "CAST(exp_nano AS BIGINT) AS exp_nano",
        )
    )


def exposure_index_sql(pts_cte: str) -> str:
    """DuckDB twin of :func:`exposure_index` — the pair expansion is a
    within-cell self-join (same values as the explode; int-div
    ``//``)."""
    return f"""WITH ex_p AS ({pts_cte}),
ex_c AS (SELECT tile_x AS cx, tile_y AS cy, lang AS l,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM ex_p GROUP BY 1, 2, 3),
ex_t AS (SELECT cx, cy, SUM(cnt) AS t FROM ex_c GROUP BY 1, 2),
ex_l AS (SELECT l, SUM(cnt) AS total FROM ex_c GROUP BY 1),
ex_pr AS (SELECT a.l AS lang_a, b.l AS lang_b, a.cnt AS a_cnt,
                 b.cnt AS b_cnt, t.t AS t
          FROM ex_c a
          JOIN ex_c b ON a.cx = b.cx AND a.cy = b.cy
          JOIN ex_t t ON t.cx = a.cx AND t.cy = a.cy),
ex_tm AS (SELECT p.lang_a, p.lang_b, l.total AS total_a,
                 (CAST(p.a_cnt AS HUGEINT) * p.b_cnt * 1000000000)
                     // (CAST(l.total AS HUGEINT) * p.t) AS term
          FROM ex_pr p JOIN ex_l l ON l.l = p.lang_a)
SELECT lang_a, lang_b,
       CAST(MIN(total_a) AS BIGINT) AS total_a,
       CAST(SUM(term) AS BIGINT) AS exp_nano
FROM ex_tm GROUP BY 1, 2"""


_HOST_SPREAD_FINAL_DOC = """host geographic footprint with exact
moment numerators; rms_mil is the ONE pinned double per row."""


def host_spread(pts: DataFrame, min_pages: int = 2, top_k: int = 50) -> DataFrame:
    """Geographic footprint per host — which sites publish from (or
    about) everywhere vs one place: per host with ≥ ``min_pages``
    pages, ``(host, n_pages, n_cells, mean_x_mil, mean_y_mil,
    rms_mil)`` ranked by footprint (``n_cells`` desc, ``n_pages``
    desc, ``host`` asc — a strict total order) and cut to ``top_k``.

    ``n_cells`` is the EXACT distinct-cell count; the mean center is
    the exact mil floordiv; ``rms_mil`` (root-mean-square radius about
    the mean, the standard-distance of :func:`~rio_cogeo_spark.operators
    .focal.centrography` per host) is the one pinned double per row:
    ``floor(sqrt((n·(Σx²+Σy²) − (Σx)² − (Σy)²)_exact / n²_double))·10³``
    staged — every step IEEE-correctly-rounded on both engines.

    Scale design: TWO-LEVEL fold — corpus → ``(host, cell)`` (map-side
    combinable, the dedup level) → per-host moments; the top-k is a
    distributed TakeOrdered (sort+limit), never a single-partition
    window.  Envelope: ``n·Σx²`` ≤ 10^12·10^12·(2^20)² < 10^37 at z ≤
    20 — DECIMAL(38,0) holds.
    """
    if min_pages < 1:
        raise ValueError(f"min_pages must be >= 1, got {min_pages}")
    d = "decimal(38,0)"
    hc = pts.groupBy(
        F.col("host"),
        F.col("tile_x").cast("long").alias("cx"),
        F.col("tile_y").cast("long").alias("cy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    per_host = hc.groupBy("host").agg(
        F.sum("cnt").cast("long").alias("n_pages"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum((F.col("cnt") * F.col("cx")).cast(d)).alias("sx"),
        F.sum((F.col("cnt") * F.col("cy")).cast(d)).alias("sy"),
        F.sum(F.col("cnt").cast(d) * F.col("cx") * F.col("cx"))
        .alias("sxx"),
        F.sum(F.col("cnt").cast(d) * F.col("cy") * F.col("cy"))
        .alias("syy"),
    ).filter(F.col("n_pages") >= int(min_pages))
    num = "(n_pages * (sxx + syy) - sx * sx - sy * sy)"
    den = "(CAST(n_pages AS DOUBLE) * CAST(n_pages AS DOUBLE))"
    out = per_host.selectExpr(
        "host",
        "CAST(n_pages AS BIGINT) AS n_pages",
        "CAST(n_cells AS BIGINT) AS n_cells",
        "CAST((sx * 1000000) div n_pages AS BIGINT) AS mean_x_mil",
        "CAST((sy * 1000000) div n_pages AS BIGINT) AS mean_y_mil",
        f"CAST(floor(sqrt(CAST({num} AS DOUBLE) / {den})"
        " * CAST(1000000 AS DOUBLE)) AS BIGINT) AS rms_mil",
    )
    return out.orderBy(
        F.col("n_cells").desc(), F.col("n_pages").desc(),
        F.col("host").asc(),
    ).limit(int(top_k))


def host_spread_sql(pts_cte: str, min_pages: int = 2) -> str:
    """DuckDB twin of :func:`host_spread` (int-div ``//``; identical
    pinned-double tree for ``rms_mil``)."""
    if min_pages < 1:
        raise ValueError(f"min_pages must be >= 1, got {min_pages}")
    num = ("(n_pages * (sxx + syy) - sx * sx - sy * sy)")
    den = "(CAST(n_pages AS DOUBLE) * CAST(n_pages AS DOUBLE))"
    return f"""WITH hs_p AS ({pts_cte}),
hs_c AS (SELECT host, tile_x AS cx, tile_y AS cy,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM hs_p GROUP BY 1, 2, 3),
hs_h AS (SELECT host,
                CAST(SUM(cnt) AS HUGEINT) AS n_pages,
                CAST(COUNT(*) AS BIGINT) AS n_cells,
                SUM(CAST(cnt AS HUGEINT) * cx) AS sx,
                SUM(CAST(cnt AS HUGEINT) * cy) AS sy,
                SUM(CAST(cnt AS HUGEINT) * cx * cx) AS sxx,
                SUM(CAST(cnt AS HUGEINT) * cy * cy) AS syy
         FROM hs_c GROUP BY 1
         HAVING SUM(cnt) >= {int(min_pages)})
SELECT host,
       CAST(n_pages AS BIGINT) AS n_pages,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST((sx * 1000000) // n_pages AS BIGINT) AS mean_x_mil,
       CAST((sy * 1000000) // n_pages AS BIGINT) AS mean_y_mil,
       CAST(FLOOR(SQRT(CAST({num} AS DOUBLE) / {den})
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS rms_mil
FROM hs_h
ORDER BY n_cells DESC, n_pages DESC, host ASC
LIMIT 50"""


def morisita_horn(pts: DataFrame) -> DataFrame:
    """Morisita–Horn overlap between every unordered label pair's
    spatial distribution — ``MH = 2·Σaᵢbᵢ / ((Σaᵢ²/A² + Σbᵢ²/B²)·A·B)``
    (1 = identical cell mix, 0 = disjoint; the abundance-weighted
    complement of :func:`dissimilarity_index`): one row per pair
    ``(lang_a < lang_b, total_a, total_b, mh_mil)``.

    Exactness contract: the four moments (``Σaᵢbᵢ``, ``Σaᵢ²``,
    ``Σbᵢ²``, totals) are EXACT integers (DECIMAL(38,0)/HUGEINT);
    ``mh_mil = floor(2·Sab·A·B / (Saa·B² + Sbb·A²) · 10^6)`` is the ONE
    pinned double per row — the integer-exact form overflows 38 digits
    at web scale (``Sab·A·B`` ≤ 10^48 at 10^12 pages), so the final
    ratio goes through one fixed IEEE tree: int→double casts and each
    ·/÷ are correctly rounded on both engines, identical expression
    shape both sides.

    Scale design: ONE corpus fold to ``(cell, label, cnt)``; cross
    products via the per-cell ``collect_list`` double-explode of
    :func:`exposure_index` with an ``a < b`` guard (no self-join);
    per-label moments are a labels-bounded aggregate broadcast twice.
    """
    d = "decimal(38,0)"
    cl = pts.groupBy(
        F.col("tile_x").alias("cx"),
        F.col("tile_y").alias("cy"),
        F.col("lang").alias("_l"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    moments = cl.groupBy("_l").agg(
        F.sum("cnt").cast(d).alias("total"),
        F.sum(F.col("cnt").cast(d) * F.col("cnt")).alias("sq"),
    )
    cells = cl.groupBy("cx", "cy").agg(
        F.collect_list(F.struct("_l", "cnt")).alias("ls")
    )
    pairs = (
        cells.select(F.explode("ls").alias("a"), F.col("ls"))
        .select(
            F.col("a._l").alias("lang_a"),
            F.col("a.cnt").alias("a_cnt"),
            F.explode("ls").alias("b"),
        )
        .filter(F.col("lang_a") < F.col("b._l"))
        .select(
            "lang_a",
            F.col("b._l").alias("lang_b"),
            (F.col("a_cnt").cast(d) * F.col("b.cnt")).alias("ab"),
        )
    )
    sab = pairs.groupBy("lang_a", "lang_b").agg(F.sum("ab").alias("sab"))
    ma = moments.select(
        F.col("_l").alias("lang_a"),
        F.col("total").alias("ta"), F.col("sq").alias("saa"),
    )
    mb = moments.select(
        F.col("_l").alias("lang_b"),
        F.col("total").alias("tb"), F.col("sq").alias("sbb"),
    )
    num = ("(CAST(2 AS DOUBLE) * CAST(sab AS DOUBLE)"
           " * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))")
    den = ("(CAST(saa AS DOUBLE) * CAST(tb AS DOUBLE) * CAST(tb AS DOUBLE)"
           " + CAST(sbb AS DOUBLE) * CAST(ta AS DOUBLE)"
           " * CAST(ta AS DOUBLE))")
    return (
        sab.join(F.broadcast(ma), "lang_a")
        .join(F.broadcast(mb), "lang_b")
        .selectExpr(
            "lang_a", "lang_b",
            "CAST(ta AS BIGINT) AS total_a",
            "CAST(tb AS BIGINT) AS total_b",
            f"CAST(floor({num} / {den} * CAST(1000000 AS DOUBLE))"
            " AS BIGINT) AS mh_mil",
        )
    )


def morisita_horn_sql(pts_cte: str) -> str:
    """DuckDB twin of :func:`morisita_horn` — within-cell self-join for
    the cross products, identical pinned-double final tree."""
    num = ("(CAST(2 AS DOUBLE) * CAST(sab AS DOUBLE)"
           " * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))")
    den = ("(CAST(saa AS DOUBLE) * CAST(tb AS DOUBLE) * CAST(tb AS DOUBLE)"
           " + CAST(sbb AS DOUBLE) * CAST(ta AS DOUBLE)"
           " * CAST(ta AS DOUBLE))")
    return f"""WITH mh_p AS ({pts_cte}),
mh_c AS (SELECT tile_x AS cx, tile_y AS cy, lang AS l,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM mh_p GROUP BY 1, 2, 3),
mh_m AS (SELECT l, CAST(SUM(cnt) AS HUGEINT) AS total,
                SUM(CAST(cnt AS HUGEINT) * cnt) AS sq
         FROM mh_c GROUP BY 1),
mh_s AS (SELECT a.l AS lang_a, b.l AS lang_b,
                SUM(CAST(a.cnt AS HUGEINT) * b.cnt) AS sab
         FROM mh_c a JOIN mh_c b
           ON a.cx = b.cx AND a.cy = b.cy AND a.l < b.l
         GROUP BY 1, 2)
SELECT s.lang_a, s.lang_b,
       CAST(ma.total AS BIGINT) AS total_a,
       CAST(mb.total AS BIGINT) AS total_b,
       CAST(FLOOR({num.replace("sab", "s.sab").replace("ta", "ma.total").replace("tb", "mb.total")}
            / {den.replace("saa", "ma.sq").replace("sbb", "mb.sq").replace("ta", "ma.total").replace("tb", "mb.total")}
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS mh_mil
FROM mh_s s
JOIN mh_m ma ON ma.l = s.lang_a
JOIN mh_m mb ON mb.l = s.lang_b"""


def lang_range(pts: DataFrame) -> DataFrame:
    """Geographic range profile per label — the species-range analog
    for languages on the web: per label, exact page count, occupied-
    cell count, bounding box, and box occupancy ``occ_mil = n_cells ·
    10^6 div box_area`` (how much of its bounding box a language
    actually fills — range-filling vs archipelago distributions).
    FULLY exact integer.

    Scale design: two-level map-side-combinable fold (corpus →
    ``(label, cell)`` → label); no window, no join, no Python.
    """
    cl = pts.groupBy(
        F.col("lang"),
        F.col("tile_x").cast("long").alias("cx"),
        F.col("tile_y").cast("long").alias("cy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return (
        cl.groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_pages"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.min("cx").alias("x0"), F.max("cx").alias("x1"),
            F.min("cy").alias("y0"), F.max("cy").alias("y1"),
        )
        .selectExpr(
            "lang",
            "CAST(n_pages AS BIGINT) AS n_pages",
            "CAST(n_cells AS BIGINT) AS n_cells",
            "CAST(x0 AS BIGINT) AS x0", "CAST(y0 AS BIGINT) AS y0",
            "CAST(x1 AS BIGINT) AS x1", "CAST(y1 AS BIGINT) AS y1",
            "CAST((n_cells * 1000000)"
            " div ((x1 - x0 + 1) * (y1 - y0 + 1)) AS BIGINT) AS occ_mil",
        )
    )


def lang_range_sql(pts_cte: str) -> str:
    """DuckDB twin of :func:`lang_range` (int-div ``//``)."""
    return f"""WITH lr_p AS ({pts_cte}),
lr_c AS (SELECT lang AS lang, tile_x AS cx, tile_y AS cy,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM lr_p GROUP BY 1, 2, 3),
lr_g AS (SELECT lang,
                CAST(SUM(cnt) AS BIGINT) AS n_pages,
                CAST(COUNT(*) AS BIGINT) AS n_cells,
                MIN(cx) AS x0, MAX(cx) AS x1,
                MIN(cy) AS y0, MAX(cy) AS y1
         FROM lr_c GROUP BY 1)
SELECT lang, n_pages, n_cells,
       CAST(x0 AS BIGINT) AS x0, CAST(y0 AS BIGINT) AS y0,
       CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
       CAST((n_cells * 1000000)
            // ((x1 - x0 + 1) * (y1 - y0 + 1)) AS BIGINT) AS occ_mil
FROM lr_g"""


def cell_novelty(pts: DataFrame, day_sec: int = 86_400) -> DataFrame:
    """Geographic crawl novelty per UTC day — how fast the crawl's
    spatial frontier expands: per day, the number of cells FIRST
    occupied that day (``new_cells``) plus the cumulative distinct-cell
    count (``cum_cells``).  The spatial sibling of per-day URL novelty:
    a flattening curve means the crawl revisits known geography.
    FULLY exact.

    Scale design: corpus folds ONCE to per-cell ``min(ts)`` (map-side
    combinable), then a day-bounded group + one running sum over the
    days-bounded table.  No join, no Python.
    """
    cell_first = pts.groupBy(
        F.col("tile_x").alias("cx"), F.col("tile_y").alias("cy")
    ).agg(
        F.floor(F.min(F.col("ts_sec").cast("long")) / F.lit(int(day_sec)))
        .cast("long").alias("day")
    )
    daily = cell_first.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_cells")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn("cum_cells", F.sum("new_cells").over(w))
        .selectExpr(
            "CAST(day AS BIGINT) AS day",
            "CAST(new_cells AS BIGINT) AS new_cells",
            "CAST(cum_cells AS BIGINT) AS cum_cells",
        )
    )


def cell_novelty_sql(pts_cte: str, day_sec: int = 86_400) -> str:
    """DuckDB twin of :func:`cell_novelty` (int-div ``//``)."""
    return f"""WITH cn_p AS ({pts_cte}),
cn_c AS (SELECT tile_x AS cx, tile_y AS cy,
                CAST(MIN(ts_sec) AS BIGINT) // {int(day_sec)} AS day
         FROM cn_p GROUP BY 1, 2),
cn_d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_cells
         FROM cn_c GROUP BY 1)
SELECT CAST(day AS BIGINT) AS day,
       CAST(new_cells AS BIGINT) AS new_cells,
       CAST(SUM(new_cells) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_cells
FROM cn_d"""


def theil_h(pts: DataFrame) -> DataFrame:
    """Theil's multigroup entropy segregation index H over the cell
    grid — ``H = Σᵢ tᵢ·(E − Eᵢ) / (T·E)`` (0 = every cell mirrors the
    global language mix, 1 = complete segregation); the MULTIGROUP
    complement of the pairwise :func:`dissimilarity_index`.  One row
    ``(n_cells, n_langs, grand_total, e_nano, h_mil)``.

    Pinned contract: ``E`` and every ``Eᵢ`` are sums of per-term
    pinned entropy contributions ``floor((cnt/t)·ln(t/cnt)·10^9)``
    (the :func:`cell_diversity` / lang_entropy convention — one fixed
    IEEE tree from exact BIGINT counts), so the numerator
    ``Σᵢ tᵢ·(E_nano − Eᵢ_nano)`` and denominator ``T·E_nano`` are
    EXACT integers and ``h_mil`` is an exact floordiv (sign-split for
    the floor-noise negatives a balanced cell in a skewed corpus can
    produce); NULL when the corpus is monolingual (``E = 0``).

    Scale design: ONE corpus fold to ``(cell, label, cnt)``; cell
    totals via a window REUSING the fold's partitioning; per-cell
    ``Eᵢ`` folds on the same keys; the global ``E`` is a labels-
    bounded aggregate broadcast back.  The corpus never shuffles
    twice; no Python.
    """
    d = "decimal(38,0)"
    cl = pts.groupBy(
        F.col("tile_x").alias("cx"),
        F.col("tile_y").alias("cy"),
        F.col("lang").alias("_l"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.partitionBy("cx", "cy")
    contrib = (
        "cast(floor((cast(cnt as double) / cast(t as double))"
        " * ln(cast(t as double) / cast(cnt as double))"
        " * 1e9) as bigint)"
    )
    cell_e = (
        cl.withColumn("t", F.sum("cnt").over(w))
        .withColumn("_c", F.expr(contrib))
        .groupBy("cx", "cy")
        .agg(
            F.first("t").cast("long").alias("t"),
            F.sum("_c").cast("long").alias("e_i"),
        )
    )
    lt = cl.groupBy("_l").agg(F.sum("cnt").cast("long").alias("al"))
    glob = (
        lt.crossJoin(
            F.broadcast(
                lt.agg(
                    F.sum("al").cast("long").alias("tt"),
                    F.count(F.lit(1)).cast("long").alias("n_langs"),
                )
            )
        )
        .selectExpr(
            "tt", "n_langs",
            "cast(floor((cast(al as double) / cast(tt as double))"
            " * ln(cast(tt as double) / cast(al as double))"
            " * 1e9) as bigint) as _g",
        )
        .groupBy("tt", "n_langs")
        .agg(F.sum("_g").cast("long").alias("e_nano"))
    )
    agg = (
        cell_e.crossJoin(F.broadcast(glob))
        .selectExpr(
            "tt", "n_langs", "e_nano",
            f"CAST(t AS {d}) * (e_nano - e_i) AS _term",
        )
        .groupBy("tt", "n_langs", "e_nano")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("_term").alias("num"),
        )
    )
    return agg.selectExpr(
        "CAST(n_cells AS BIGINT) AS n_cells",
        "CAST(n_langs AS BIGINT) AS n_langs",
        "CAST(tt AS BIGINT) AS grand_total",
        "CAST(e_nano AS BIGINT) AS e_nano",
        "CASE WHEN e_nano = 0 THEN CAST(NULL AS BIGINT)"
        " WHEN num <= 0 THEN CAST(-((-num * 1000000)"
        f" div (CAST(tt AS {d}) * e_nano)) AS BIGINT)"
        " ELSE CAST((num * 1000000)"
        f" div (CAST(tt AS {d}) * e_nano) AS BIGINT) END AS h_mil",
    )


def theil_h_sql(pts_cte: str) -> str:
    """DuckDB twin of :func:`theil_h` (int-div ``//``; identical pinned
    entropy terms and sign split)."""
    return f"""WITH th_p AS ({pts_cte}),
th_c AS (SELECT tile_x AS cx, tile_y AS cy, lang AS l,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM th_p GROUP BY 1, 2, 3),
th_w AS (SELECT *, SUM(cnt) OVER (PARTITION BY cx, cy) AS t FROM th_c),
th_e AS (SELECT cx, cy, CAST(MIN(t) AS BIGINT) AS t,
                CAST(SUM(CAST(floor((CAST(cnt AS DOUBLE)
                     / CAST(t AS DOUBLE))
                     * ln(CAST(t AS DOUBLE) / CAST(cnt AS DOUBLE))
                     * 1e9) AS BIGINT)) AS BIGINT) AS e_i
         FROM th_w GROUP BY 1, 2),
th_l AS (SELECT l, CAST(SUM(cnt) AS BIGINT) AS al FROM th_c GROUP BY 1),
th_t AS (SELECT CAST(SUM(al) AS BIGINT) AS tt,
                CAST(COUNT(*) AS BIGINT) AS n_langs
         FROM th_l),
th_g AS (SELECT t.tt, t.n_langs,
                CAST(SUM(CAST(floor((CAST(l.al AS DOUBLE)
                     / CAST(t.tt AS DOUBLE))
                     * ln(CAST(t.tt AS DOUBLE) / CAST(l.al AS DOUBLE))
                     * 1e9) AS BIGINT)) AS BIGINT) AS e_nano
         FROM th_l l, th_t t GROUP BY 1, 2),
th_a AS (SELECT g.tt, g.n_langs, g.e_nano,
                CAST(COUNT(*) AS BIGINT) AS n_cells,
                SUM(CAST(e.t AS HUGEINT) * (g.e_nano - e.e_i)) AS num
         FROM th_e e, th_g g GROUP BY 1, 2, 3)
SELECT CAST(n_cells AS BIGINT) AS n_cells,
       CAST(n_langs AS BIGINT) AS n_langs,
       CAST(tt AS BIGINT) AS grand_total,
       CAST(e_nano AS BIGINT) AS e_nano,
       CASE WHEN e_nano = 0 THEN CAST(NULL AS BIGINT)
            WHEN num <= 0 THEN CAST(-((-num * 1000000)
                 // (CAST(tt AS HUGEINT) * e_nano)) AS BIGINT)
            ELSE CAST((num * 1000000)
                 // (CAST(tt AS HUGEINT) * e_nano) AS BIGINT)
       END AS h_mil
FROM th_a"""


_SYNDICATION_TOP_K = 50


def syndication(pts: DataFrame) -> DataFrame:
    """Spatially replicated content — syndication/mirror geography:
    per content fingerprint occupying ≥ 2 distinct cells, the exact
    page/cell counts, the bounding box of its cells, and the Chebyshev
    span (how FAR the same content travels; wire-service copy spans
    continents, templated spam clusters locally).  Ranked
    ``(cheb_span desc, n_pages desc, fp asc)`` — strict total order —
    cut to 50.  FULLY exact integer.

    Scale design: two-level map-side-combinable fold (corpus →
    ``(fp, cell)`` → fp) — the dup-group bbox needs NO pairwise
    distances (span = bbox Chebyshev diameter); top-k is a distributed
    TakeOrdered.  No join, no explode, no Python.
    """
    fc = pts.groupBy(
        F.col("fp"),
        F.col("tile_x").cast("long").alias("cx"),
        F.col("tile_y").cast("long").alias("cy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    grp = (
        fc.groupBy("fp")
        .agg(
            F.sum("cnt").cast("long").alias("n_pages"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.min("cx").alias("x0"), F.max("cx").alias("x1"),
            F.min("cy").alias("y0"), F.max("cy").alias("y1"),
        )
        .filter(F.col("n_cells") >= 2)
        .selectExpr(
            "fp",
            "CAST(n_pages AS BIGINT) AS n_pages",
            "CAST(n_cells AS BIGINT) AS n_cells",
            "CAST(x0 AS BIGINT) AS x0", "CAST(y0 AS BIGINT) AS y0",
            "CAST(x1 AS BIGINT) AS x1", "CAST(y1 AS BIGINT) AS y1",
            "CAST(GREATEST(x1 - x0, y1 - y0) AS BIGINT) AS cheb_span",
        )
    )
    return grp.orderBy(
        F.col("cheb_span").desc(), F.col("n_pages").desc(),
        F.col("fp").asc(),
    ).limit(_SYNDICATION_TOP_K)


def syndication_sql(pts_cte: str) -> str:
    """DuckDB twin of :func:`syndication` — ``pts_cte`` exposes
    ``(fp, tile_x, tile_y)``."""
    return f"""WITH sy_p AS ({pts_cte}),
sy_c AS (SELECT fp, tile_x AS cx, tile_y AS cy,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM sy_p GROUP BY 1, 2, 3),
sy_g AS (SELECT fp,
                CAST(SUM(cnt) AS BIGINT) AS n_pages,
                CAST(COUNT(*) AS BIGINT) AS n_cells,
                MIN(cx) AS x0, MAX(cx) AS x1,
                MIN(cy) AS y0, MAX(cy) AS y1
         FROM sy_c GROUP BY 1
         HAVING COUNT(*) >= 2)
SELECT fp, n_pages, n_cells,
       CAST(x0 AS BIGINT) AS x0, CAST(y0 AS BIGINT) AS y0,
       CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
       CAST(GREATEST(x1 - x0, y1 - y0) AS BIGINT) AS cheb_span
FROM sy_g
ORDER BY cheb_span DESC, n_pages DESC, fp ASC
LIMIT {_SYNDICATION_TOP_K}"""


_CITY_LANGS_BOX_DEG = 0.6


def city_langs(pts: DataFrame, cities: DataFrame, top_k: int = 3) -> DataFrame:
    """Language profile per megacity — per city, the top ``top_k``
    languages inside its ±0.6° box with exact share
    ``share_mil = cnt·10^6 div city_total`` (the demographic view the
    :func:`regional_terms` vocabulary view sits beside).  Rank by
    ``(cnt desc, lang asc)`` per city — strict total order.  FULLY
    exact integer.

    Scale design: the city table broadcasts (20 rows); pages fold
    map-side to ``(city, lang)``; the share window and the top-k
    window run on the cities×labels-bounded table.  The corpus never
    shuffles on a skewed key; no Python.
    """
    tagged = pts.join(
        F.broadcast(cities),
        (F.col("lat") >= F.col("c_lat") - _CITY_LANGS_BOX_DEG)
        & (F.col("lat") <= F.col("c_lat") + _CITY_LANGS_BOX_DEG)
        & (F.col("lon") >= F.col("c_lon") - _CITY_LANGS_BOX_DEG)
        & (F.col("lon") <= F.col("c_lon") + _CITY_LANGS_BOX_DEG),
    )
    cl = tagged.groupBy(
        "city", F.col("lang")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wt = Window.partitionBy("city")
    wr = Window.partitionBy("city").orderBy(
        F.col("cnt").desc(), F.col("lang").asc()
    )
    return (
        cl.withColumn("city_total", F.sum("cnt").over(wt))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= int(top_k))
        .selectExpr(
            "city",
            "CAST(rank AS BIGINT) AS rank",
            "lang",
            "CAST(cnt AS BIGINT) AS cnt",
            "CAST(city_total AS BIGINT) AS city_total",
            "CAST((cnt * 1000000) div city_total AS BIGINT) AS share_mil",
        )
    )


def city_langs_sql(pts_cte: str, cities_sql: str) -> str:
    """DuckDB twin of :func:`city_langs` (int-div ``//``)."""
    return f"""WITH cl_p AS ({pts_cte}),
cl_c AS ({cities_sql}),
cl_t AS (SELECT c.city, p.lang AS lang,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM cl_p p JOIN cl_c c
           ON p.lat BETWEEN c.c_lat - CAST({_CITY_LANGS_BOX_DEG} AS DOUBLE)
                        AND c.c_lat + CAST({_CITY_LANGS_BOX_DEG} AS DOUBLE)
          AND p.lon BETWEEN c.c_lon - CAST({_CITY_LANGS_BOX_DEG} AS DOUBLE)
                        AND c.c_lon + CAST({_CITY_LANGS_BOX_DEG} AS DOUBLE)
         GROUP BY 1, 2),
cl_w AS (SELECT *,
                SUM(cnt) OVER (PARTITION BY city) AS city_total,
                ROW_NUMBER() OVER (PARTITION BY city
                    ORDER BY cnt DESC, lang ASC) AS rank
         FROM cl_t)
SELECT city,
       CAST(rank AS BIGINT) AS rank,
       lang,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(city_total AS BIGINT) AS city_total,
       CAST((cnt * 1000000) // city_total AS BIGINT) AS share_mil
FROM cl_w WHERE rank <= 3"""


def zoom_entropy(tiles: DataFrame) -> DataFrame:
    """Batty's spatial entropy profile across the pyramid — per zoom
    level, the Shannon entropy of the page-count distribution over its
    occupied cells in per-term-pinned nano-nats (the
    :func:`cell_diversity` convention), with the uniform ceiling
    ``h_max_nano = floor(ln(n_cells)·10^9)``: how concentration
    changes with scale — a flat profile means self-similar clustering,
    a drop at coarse zooms means megacity dominance.  One row per
    zoom ``(zoom, n_cells, total, h_nano, h_max_nano)``.

    Scale design: the input is the (grid-bounded) pyramid tile table —
    per-zoom totals via a window REUSING the per-zoom hash
    partitioning of the term fold; no join, no corpus access.
    """
    w = Window.partitionBy("zoom")
    return (
        tiles.select(
            F.col("zoom"),
            F.col("page_count").cast("long").alias("cnt"),
        )
        .withColumn("total", F.sum("cnt").over(w))
        .withColumn("n_cells", F.count(F.lit(1)).over(w))
        .select(
            "zoom", "total", "n_cells",
            F.expr(
                "cast(floor((cast(cnt as double) / cast(total as double))"
                " * ln(cast(total as double) / cast(cnt as double))"
                " * 1e9) as bigint)"
            ).alias("contrib"),
        )
        .groupBy("zoom", "total", "n_cells")
        .agg(F.sum("contrib").cast("long").alias("h_nano"))
        .selectExpr(
            "CAST(zoom AS INT) AS zoom",
            "CAST(n_cells AS BIGINT) AS n_cells",
            "CAST(total AS BIGINT) AS total",
            "h_nano",
            "CAST(floor(ln(CAST(n_cells AS DOUBLE)) * 1e9) AS BIGINT)"
            " AS h_max_nano",
        )
    )


def zoom_entropy_sql(tiles_cte: str) -> str:
    """DuckDB twin of :func:`zoom_entropy` — ``tiles_cte`` exposes
    ``(zoom, tile_x, tile_y, page_count)``."""
    return f"""WITH ze_t AS ({tiles_cte}),
ze_w AS (SELECT zoom, CAST(page_count AS BIGINT) AS cnt,
                SUM(CAST(page_count AS BIGINT)) OVER (PARTITION BY zoom)
                    AS total,
                COUNT(*) OVER (PARTITION BY zoom) AS n_cells
         FROM ze_t),
ze_c AS (SELECT zoom, total, n_cells,
                CAST(floor((CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                     * ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))
                     * 1e9) AS BIGINT) AS contrib
         FROM ze_w)
SELECT CAST(zoom AS INT) AS zoom,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(total AS BIGINT) AS total,
       CAST(SUM(contrib) AS BIGINT) AS h_nano,
       CAST(floor(ln(CAST(n_cells AS DOUBLE)) * 1e9) AS BIGINT)
           AS h_max_nano
FROM ze_c GROUP BY zoom, n_cells, total"""


def urban_gradient(
    pts: DataFrame,
    city_cells: "list[tuple[str, int, int]]",
) -> DataFrame:
    """Core–periphery density gradient — page counts by Chebyshev
    cell distance to the NEAREST urban center (the urban-gradient
    curve of the crawl: how fast does density decay away from the
    megacities?): one row per observed distance ``(d, n_pages,
    n_cells, share_mil)`` with ``share_mil`` the exact share of the
    corpus at that distance.

    ``city_cells`` is the driver-side ``(name, cx, cy)`` list (a few
    tens of centers, computed once with the same ``grid.tile_index``
    math the engine uses) — it broadcasts as a literal VALUES spine;
    the nearest-center reduction is a ``min`` over that bounded spine
    per DISTINCT CELL (never per page).  FULLY exact.

    Scale design: corpus folds ONCE to occupied cells; the
    cells×centers expansion is centers-bounded; one distance fold +
    one 1-row total broadcast.  No Python, no corpus shuffle beyond
    the cell fold.
    """
    if not city_cells:
        raise ValueError("city_cells must be non-empty")
    spark = pts.sparkSession
    # from pandas: a JVM local relation, so no Python worker scans it
    cities = spark.createDataFrame(
        pd.DataFrame([(n, int(cx), int(cy)) for n, cx, cy in city_cells],
                     columns=["city", "cx", "cy"]),
        "city string, cx long, cy long",
    )
    cells = pts.groupBy(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    near = (
        cells.crossJoin(F.broadcast(cities))
        .select(
            "tile_x", "tile_y", "n",
            F.greatest(
                F.abs(F.col("tile_x") - F.col("cx")),
                F.abs(F.col("tile_y") - F.col("cy")),
            ).alias("dc"),
        )
        .groupBy("tile_x", "tile_y", "n")
        .agg(F.min("dc").cast("long").alias("d"))
    )
    total = pts.agg(F.count(F.lit(1)).cast("long").alias("tot"))
    return (
        near.groupBy("d")
        .agg(
            F.sum("n").cast("long").alias("n_pages"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "CAST(d AS BIGINT) AS d",
            "n_pages", "n_cells",
            "CAST((n_pages * 1000000) div tot AS BIGINT) AS share_mil",
        )
    )


def urban_gradient_sql(
    pts_cte: str, city_cells: "list[tuple[str, int, int]]"
) -> str:
    """DuckDB twin of :func:`urban_gradient` (int-div ``//``)."""
    if not city_cells:
        raise ValueError("city_cells must be non-empty")
    vals = ", ".join(
        f"('{n}', {int(cx)}, {int(cy)})" for n, cx, cy in city_cells
    )
    return f"""WITH ug_p AS ({pts_cte}),
ug_c AS (SELECT tile_x, tile_y, CAST(COUNT(*) AS BIGINT) AS n
         FROM ug_p GROUP BY 1, 2),
ug_n AS (SELECT c.tile_x, c.tile_y, c.n,
                CAST(MIN(GREATEST(ABS(c.tile_x - v.cx),
                                  ABS(c.tile_y - v.cy))) AS BIGINT) AS d
         FROM ug_c c, (VALUES {vals}) v(city, cx, cy)
         GROUP BY 1, 2, 3),
ug_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM ug_p)
SELECT CAST(d AS BIGINT) AS d,
       CAST(SUM(n) AS BIGINT) AS n_pages,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST((SUM(n) * 1000000) // t.tot AS BIGINT) AS share_mil
FROM ug_n, ug_t t GROUP BY d, t.tot"""


def city_catchment(
    pts: DataFrame,
    city_cells: "list[tuple[str, int, int]]",
) -> DataFrame:
    """Voronoi-style catchments on the Chebyshev cell metric — per
    urban center, the exact page/cell counts of the region for which
    it is the NEAREST center (deterministic tie-break: smallest
    distance, then first city in list order via its index).  One row
    per city ``(city, n_pages, n_cells, share_mil)``; cities with an
    empty catchment are omitted.

    Same centers-bounded expansion as :func:`urban_gradient`; the
    argmin picks ``min(struct(d, idx))`` — exact and total.
    """
    if not city_cells:
        raise ValueError("city_cells must be non-empty")
    spark = pts.sparkSession
    cities = spark.createDataFrame(
        pd.DataFrame([(i, n, int(cx), int(cy))
                      for i, (n, cx, cy) in enumerate(city_cells)],
                     columns=["idx", "city", "cx", "cy"]),
        "idx int, city string, cx long, cy long",
    )
    cells = pts.groupBy(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    assigned = (
        cells.crossJoin(F.broadcast(cities))
        .select(
            "tile_x", "tile_y", "n",
            F.struct(
                F.greatest(
                    F.abs(F.col("tile_x") - F.col("cx")),
                    F.abs(F.col("tile_y") - F.col("cy")),
                ).alias("d"),
                F.col("idx"),
                F.col("city"),
            ).alias("s"),
        )
        .groupBy("tile_x", "tile_y", "n")
        .agg(F.min("s").alias("m"))
    )
    total = pts.agg(F.count(F.lit(1)).cast("long").alias("tot"))
    return (
        assigned.groupBy(F.col("m.city").alias("city"))
        .agg(
            F.sum("n").cast("long").alias("n_pages"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "city", "n_pages", "n_cells",
            "CAST((n_pages * 1000000) div tot AS BIGINT) AS share_mil",
        )
    )


def city_catchment_sql(
    pts_cte: str, city_cells: "list[tuple[str, int, int]]"
) -> str:
    """DuckDB twin of :func:`city_catchment` (int-div ``//``)."""
    if not city_cells:
        raise ValueError("city_cells must be non-empty")
    vals = ", ".join(
        f"({i}, '{n}', {int(cx)}, {int(cy)})"
        for i, (n, cx, cy) in enumerate(city_cells)
    )
    return f"""WITH cc_p AS ({pts_cte}),
cc_c AS (SELECT tile_x, tile_y, CAST(COUNT(*) AS BIGINT) AS n
         FROM cc_p GROUP BY 1, 2),
cc_a AS (SELECT c.tile_x, c.tile_y, c.n,
                MIN(STRUCT_PACK(
                    d := CAST(GREATEST(ABS(c.tile_x - v.cx),
                                       ABS(c.tile_y - v.cy)) AS BIGINT),
                    idx := v.idx, city := v.city)) AS m
         FROM cc_c c, (VALUES {vals}) v(idx, city, cx, cy)
         GROUP BY 1, 2, 3),
cc_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM cc_p)
SELECT m.city AS city,
       CAST(SUM(n) AS BIGINT) AS n_pages,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST((SUM(n) * 1000000) // t.tot AS BIGINT) AS share_mil
FROM cc_a, cc_t t GROUP BY m.city, t.tot"""
