"""Deterministic sampling / splitting for training-mix construction.

A 100 TB corpus is never sampled with ``rand()``: the sample must be
REPRODUCIBLE (resumable jobs, auditable mixes) and CONSISTENT across
engines and reruns. Standard trick: hash the stable row key to a uniform
[0, 1) value and threshold it. Everything here is a stateless JVM
projection — no shuffle, no state, embarrassingly parallel, and the
same row always lands on the same side of every threshold, so a rerun
or a backfill produces byte-identical samples.

The hash is the md5-prefix construction shared with
``rolling_fingerprint`` (functions/text.py): identical in Spark and
DuckDB, so every op here has an exact SQL twin.

Column names are fixed (``doc_id``, ``lang``, ``text``, ``split``),
except the key, group and score columns that :func:`split_assign`,
:func:`cap_per_group` and :func:`curriculum_interleave` take.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import MD5_60_SQL, md5_60

_U_MOD = 1_000_000  # 6 decimal digits of uniformity — plenty for rates


def uniform_hash(key: Column) -> Column:
    """Deterministic uniform [0, 1) from a stable key column: 60-bit md5
    prefix mod 10^6, scaled. Cross-engine identical (twin:
    :func:`uniform_hash_sql`)."""
    h = md5_60(key.cast("string"))
    return (h % _U_MOD).cast("double") / F.lit(float(_U_MOD))


def uniform_hash_sql(key: str) -> str:
    h = MD5_60_SQL.format(c=f"CAST({key} AS VARCHAR)")
    return (
        f"CAST({h} % {_U_MOD} AS DOUBLE) / CAST({_U_MOD} AS DOUBLE)"
    )


def sample_stratified(
    docs: DataFrame,
    rates: Dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its uniform
    hash < the stratum's rate — the training-mix primitive ("3x en,
    0.5x the tail"). Rows in strata absent from ``rates`` keep with
    ``default_rate``. Pure projection + filter: scales linearly, prunes
    at the scan when ``lang`` is a partition column."""
    u = uniform_hash(F.col("doc_id"))
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == stratum, F.lit(float(r))).otherwise(
            rate
        )
    return docs.filter(u < rate)


_SPLITS = (("train", 0.98), ("val", 0.01), ("test", 0.01))


def split_assign(
    docs: DataFrame,
    weights: Optional[List[Tuple[str, float]]] = None,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: cumulative-weight bins
    over the uniform hash. Weights need not sum to 1 (normalized).
    A row's split never changes across reruns or engines."""
    weights = weights or _SPLITS
    total = sum(w for _, w in weights)
    u = uniform_hash(F.col(key_col))
    expr = F.lit(weights[-1][0])  # remainder bucket
    acc = 0.0
    conds = []
    for name, w in weights[:-1]:
        acc += w / total
        conds.append((name, acc))
    for name, bound in reversed(conds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


_WEIGHT_SCALE = 1000


def temperature_mix(
    docs: DataFrame,
    target_ppm: int = 250_000,
    broadcast_rates: bool = True,
) -> DataFrame:
    """Temperature-weighted domain sampling (the multilingual /
    multi-source mix primitive, XLM-R-style): sample domain ``d`` with
    probability proportional to ``count_d ** 0.5`` (temperature
    ``alpha = 0.5``), down-weighting
    head domains and up-weighting the tail, at an overall target rate of
    ``target_ppm`` parts-per-million of the corpus.

    Per-doc keep rate for domain d (before the cap at 1):

        rate_d = target_frac * tot * c_d**(alpha-1) / sum_d' c_d'**alpha

    Exact-integer construction: ``w_d = floor(sqrt(c_d) * 1000)``
    quantizes the power once per domain; every later
    step (sums, products, floor-division to ppm, the keep comparison
    against the 60-bit key hash) is integer arithmetic in DECIMAL(38,0)
    / HUGEINT, so the kept set is bit-identical across engines and
    summation orders — same trick as search.py's integer idf. The power
    is ``sqrt``, which IEEE 754 requires to be correctly rounded, making
    even the quantization step engine-exact.

    Plan shape at 100 TB: one map-side-combinable groupBy(domain) count
    (domain cardinality sized, not corpus sized) → one single-row total
    → rates broadcast-joined back to the corpus → stateless filter. The
    corpus is never shuffled. Caps at rate 1 shift the realized mix
    slightly toward the head, as in the published recipe.

    NULL-domain rows are EXCLUDED from the output: the rate join is an
    inner join on ``lang`` and SQL equality never matches NULL, so
    a row without a domain has no sampling rate (the DuckDB twin
    behaves identically). Coalesce NULL domains into a sentinel bucket
    upstream if they should participate in the mix.
    """
    if not 0 < target_ppm <= 1_000_000:
        raise ValueError("target_ppm must be in (0, 1e6]")
    counts = docs.groupBy("lang").agg(F.count("*").alias("c"))
    weighted = counts.withColumn(
        "w", F.floor(F.sqrt("c") * _WEIGHT_SCALE).cast("long")
    )
    totals = weighted.agg(
        F.sum("c").alias("tot"), F.sum("w").alias("totw")
    )
    rates = weighted.crossJoin(F.broadcast(totals)).withColumn(
        "rate_ppm",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr(
                f"CAST({int(target_ppm)} AS DECIMAL(38,0)) * tot * w"
                " div (CAST(c AS DECIMAL(38,0)) * totw)"
            ),
        ),
    )
    h = md5_60(F.col("doc_id").cast("string"))
    rates = rates.select("lang", "rate_ppm")
    # broadcast_rates=False: for very-high-cardinality domains (e.g.
    # 10^8 URL hosts) the rate table exceeds broadcast size — shuffle
    # join on the domain key instead (identical result)
    rates = F.broadcast(rates) if broadcast_rates else rates
    return (
        docs.join(rates, "lang")
        .filter((h % _U_MOD) < F.col("rate_ppm"))
        .drop("rate_ppm")
    )


def temperature_mix_sql(target_ppm: int = 250_000, select: str = "doc_id, lang") -> str:
    """DuckDB twin of :func:`temperature_mix` (alpha = 0.5)."""
    h = MD5_60_SQL.format(c="CAST(d.doc_id AS VARCHAR)")
    return rf"""
WITH c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
w AS (SELECT lang, c,
             CAST(floor(sqrt(c) * {_WEIGHT_SCALE}) AS BIGINT) AS w
      FROM c),
t AS (SELECT CAST(SUM(c) AS HUGEINT) AS tot,
             CAST(SUM(w) AS HUGEINT) AS totw FROM w),
r AS (SELECT lang,
             least(1000000,
                   CAST(CAST({int(target_ppm)} AS HUGEINT) * tot * w
                        // (CAST(c AS HUGEINT) * totw) AS BIGINT))
               AS rate_ppm
      FROM w, t)
SELECT {select} FROM documents d JOIN r USING (lang)
WHERE {h} % {_U_MOD} < r.rate_ppm"""


def split_assign_sql(key: str) -> str:
    """DuckDB twin of :func:`split_assign`'s split expression at the
    default weights."""
    weights = _SPLITS
    total = sum(w for _, w in weights)
    u = uniform_hash_sql(key)
    acc = 0.0
    cases = []
    for name, w in weights[:-1]:
        acc += w / total
        cases.append(
            f"WHEN {u} < CAST({acc!r} AS DOUBLE) THEN '{name}'"
        )
    return (
        "CASE " + " ".join(cases) + f" ELSE '{weights[-1][0]}' END"
    )


def cap_per_group(
    df: DataFrame,
    group_cols: List[str],
    k: int,
    n_salts: int = 16,
) -> DataFrame:
    """Diversity cap: keep at most ``k`` rows per group, selected as the
    ``k`` smallest deterministic-hash ranks (a uniform reproducible
    sample of each group, NOT first-k by id — a mega-host's kept pages
    shouldn't all be its oldest). The de-facto corpus rule "at most k
    pages per domain".

    Skew-safe two-phase top-k: a single per-group row_number window
    sends every hot group's full posting list through one task
    (a 10^7-page host = one straggler). Phase 1 ranks within
    (group, salt) — the hot group splits across ``n_salts`` tasks —
    and keeps k per salt; phase 2 ranks the surviving ≤ n_salts·k rows
    per group. The result is identical to the single-window selection
    (phase 1 can never evict a global top-k row), which is what the
    oracle twin uses. Salt derives from the same hash as the rank, so
    reruns are byte-identical."""
    rk = md5_60(F.col("doc_id").cast("string"))
    salted = df.withColumn("_rk", rk).withColumn(
        "_salt", (F.col("_rk") % n_salts).cast("int")
    )
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy("_rk", "doc_id")
    w2 = Window.partitionBy(*group_cols).orderBy("_rk", "doc_id")
    return (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= k)
        .drop("_rk", "_salt", "_rn", "_rn2")
    )


def cap_per_host(pages: DataFrame, k: int) -> DataFrame:
    """``cap_per_group`` keyed by the canonical URL host (adds a
    ``host`` column)."""
    from rio_cogeo_spark.functions.text import host_col

    return cap_per_group(
        pages.withColumn("host", host_col(F.col("url"))),
        ["host"], k,
    )


def cap_per_group_sql(
    table: str, group_cols: List[str], k: int, select: str = "*",
) -> str:
    """DuckDB twin: the equivalent single-window selection."""
    h = MD5_60_SQL.format(c="CAST(doc_id AS VARCHAR)")
    g = ", ".join(group_cols)
    return f"""
SELECT {select} FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {g}
                               ORDER BY {h}, doc_id) AS _rn
  FROM {table}) WHERE _rn <= {k}"""


def split_assign_leakage_safe(
    docs: DataFrame,
    pairs: DataFrame,
    weights=None,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: every member of a
    near-dup CLUSTER gets the cluster's split, so a test document's
    near-copy can never sit in train (the eval-contamination mode a
    per-doc split is blind to — Lee et al. ACL'22 measure it directly).
    ``pairs`` is any mined near-dup pair set (minhash / simhash /
    embedding); docs absent from every pair split by their own id,
    exactly as :func:`split_assign`.

    Scale design: components are resolved once
    (:func:`dedup.connected_components` — output bounded by the
    duplicate population) and LEFT-join the corpus by id; the split is
    then the same stateless cumulative-weight hash projection as
    split_assign, keyed by ``coalesce(component, doc_id)``. Adding the
    guard costs one co-partitioned join over the duplicate population —
    the corpus never shuffles."""
    from rio_cogeo_spark.operators.dedup import connected_components

    comp = connected_components(pairs).select(
        F.col("doc_id"), "component"
    )
    keyed = docs.join(comp, "doc_id", "left").withColumn(
        "__split_key", F.coalesce(F.col("component"), F.col("doc_id"))
    )
    out = split_assign(keyed, weights, key_col="__split_key")
    return out.drop("__split_key", "component")


def filter_by_group_quantile(
    docs: DataFrame,
    q: float = 0.25,
    exact: bool = True,
) -> DataFrame:
    """Quantile-threshold filtering — the quality-cutoff stage ("drop
    the bottom quartile per language"): keep rows whose ``n_chars``
    is at or above their group's q-quantile.

    ``exact=True`` uses the exact interpolated percentile (matches
    DuckDB ``quantile_cont`` at 6 dp — the oracle mode); Spark's exact
    percentile buffers each GROUP's values in the aggregation, which is
    fine for per-language groups but the wrong tool for millions of
    groups × huge values — pass ``exact=False`` for
    ``approx_percentile`` (GK sketch, bounded memory at any group
    size; not cross-engine comparable).

    Scale design: the cutoff table is one tiny aggregate (one row per
    group) broadcast back; the corpus side is scan → broadcast-join →
    filter — it never shuffles."""
    if exact:
        cut = F.round(F.expr(f"percentile(n_chars, {float(q)})"), 6)
    else:
        cut = F.expr(
            f"approx_percentile(n_chars, {float(q)}, 10000)"
        )
    cuts = docs.groupBy("lang").agg(cut.alias("__cut"))
    return (
        docs.join(F.broadcast(cuts), "lang")
        .filter(F.col("n_chars") >= F.col("__cut"))
        .drop("__cut")
    )


def importance_weights(
    docs: DataFrame,
    target_pred: str,
    broadcast_model: bool = True,
) -> DataFrame:
    """DSIR-style importance weighting (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS'23 — public
    method): score every raw-corpus page by how target-like its n-gram
    distribution is, where the target is the subset matching
    ``target_pred`` (a SQL boolean over the docs table, e.g. a quality
    gate or ``lang = 'en'``). DSIR computes per-feature log-likelihood
    ratios between a target and a raw hashed-bigram model; the
    exact-integer analog uses the Laplace-smoothed frequency RATIO in
    ppm (the monotone surrogate of the per-feature LLR — ranking, which
    is all resampling consumes, is preserved feature-wise)::

        lr_ppm(g) = (((t_cnt+1) * 10^6) div (r_cnt+1)) * (R+V) div (T+V)

    with ``t_cnt``/``r_cnt`` the bigram's target/raw occurrence counts,
    ``T``/``R`` the total occurrences and ``V`` the raw vocabulary size
    (Laplace denominators). The staged div order is the cross-engine
    contract (no associativity assumed). Per doc the occurrence-weighted
    mean: ``dsir_ppm = sum(tf * lr_ppm) div sum(tf)`` — > 10^6 means
    "more target-like than the raw average". Returns ``(doc_id,
    n_bigrams, dsir_ppm)``; docs with <2 tokens are absent.

    Exact-int envelope: ``(t_cnt+1)·10^6`` fits int64 to ~9.2e12
    occurrences of one bigram; since target ⊆ raw, the staged first
    factor is ≤ ~2·10^6, so the second product holds to R ≈ 4.6e12
    bigrams — the :func:`rarity.token_rarity` documented-envelope
    policy.

    Scale design (100 TB): one corpus-width positional-bigram count
    feeding TWO vocab-bounded models (the target model is a filtered
    re-aggregation of the same per-doc tf table — the corpus is read
    ONCE); totals are 1-row broadcast aggregates; the weight table has
    one row per raw bigram and joins back by broadcast (or a
    one-row-per-key shuffle join). DSIR proper hashes bigrams into 10k
    buckets to bound the model; here the model is raw-string keyed (it
    is vocabulary-bounded and the tables stay readable) — hashing the
    key changes only the groupBy column.
    """
    from rio_cogeo_spark.operators.passages import ngrams_col

    flagged = docs.withColumn("__is_t", F.expr(f"({target_pred})"))
    tf = (
        flagged.select(
            F.col("doc_id"),
            F.col("__is_t"),
            F.explode(ngrams_col(F.col("text"), 2)).alias("bigram"),
        )
        .groupBy("doc_id", "__is_t", "bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    model = tf.groupBy("bigram").agg(
        F.sum("tf").alias("r_cnt"),
        F.sum(F.when(F.col("__is_t"), F.col("tf")).otherwise(F.lit(0))).alias(
            "t_cnt"
        ),
    )
    tot = model.agg(
        F.sum("r_cnt").alias("R"),
        F.sum("t_cnt").alias("T"),
        F.count(F.lit(1)).alias("V"),
    )
    weights = (
        model.crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            F.expr(
                "((((t_cnt + 1) * 1000000) div (r_cnt + 1)) * (R + V))"
                " div (T + V)"
            ).alias("lr_ppm"),
        )
    )
    joined = tf.join(
        F.broadcast(weights) if broadcast_model else weights, "bigram"
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.expr("sum(tf * lr_ppm) div sum(tf)").alias("dsir_ppm"),
        )
        .select("doc_id", "n_bigrams", "dsir_ppm")
    )


def importance_weights_sql() -> str:
    """DuckDB twin of :func:`importance_weights` (same positional bigram
    build and the same staged exact-BIGINT ratio)."""
    from rio_cogeo_spark.functions.text import TOKENS_SQL

    return rf"""
WITH t0 AS (SELECT doc_id, (lang = 'en') AS is_t,
                   {TOKENS_SQL} AS toks FROM documents),
bg AS (SELECT doc_id, is_t,
              unnest(list_transform(
                  generate_series(1, greatest(len(toks) - 1, 0)),
                  i -> array_to_string(toks[i:i+1], ' '))) AS bigram
       FROM t0),
tf AS (SELECT doc_id, is_t, bigram, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
model AS (SELECT bigram, SUM(tf) AS r_cnt,
                 SUM(CASE WHEN is_t THEN tf ELSE 0 END) AS t_cnt
          FROM tf GROUP BY 1),
tot AS (SELECT SUM(r_cnt) AS R, SUM(t_cnt) AS T, COUNT(*) AS V FROM model),
w AS (SELECT bigram,
             ((((t_cnt + 1) * 1000000) // (r_cnt + 1)) * (R + V)) // (T + V)
                 AS lr_ppm
      FROM model CROSS JOIN tot)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       CAST(SUM(tf * lr_ppm) // SUM(tf) AS BIGINT) AS dsir_ppm
FROM tf JOIN w USING (bigram)
GROUP BY 1"""


def curriculum_interleave(docs: DataFrame, score_col=None) -> DataFrame:
    """Deterministic balanced training order — round-robin interleave
    across groups so no group clusters at one end of the training run
    (the data-ordering half of multilingual curriculum / temperature
    sampling: after :func:`temperature_mix` picks WHAT to train on,
    this fixes the ORDER it is read in; language-clustered tails cause
    the forgetting curves the interleave removes).

    Each doc gets ``rank_in_group`` (1-based, by (score DESC, id ASC) —
    ``score_col=None`` ranks by id alone) and a single BIGINT
    ``curriculum_key`` = ``rank_in_group * n_groups + group_idx`` where
    ``group_idx`` is the dense alphabetical group index: reading in
    ``curriculum_key`` order yields round-robin position 1 of every
    group (alphabetical), then position 2, ... Writing the shards in
    this order is the existing COG-order discipline
    (repartitionByRange + sortWithinPartitions on the key).

    Scale design (100 TB): the per-group rank is ONE window whose
    partitions are the groups (languages — bounded cardinality, each
    partition a language's docs; a hot language saturating one task is
    the documented exact-NTILE trade recorded in ccnet_buckets, with
    the same sampled-threshold escape hatch); the group-index table is
    a tiny broadcast; the key itself is a projection. No collects.
    """
    from pyspark.sql import Window as W

    order = [F.col("doc_id").asc()]
    if score_col is not None:
        order = [F.col(score_col).desc(), F.col("doc_id").asc()]
    w = W.partitionBy("lang").orderBy(*order)
    gidx = (
        docs.select("lang").distinct()
        .withColumn(
            "_gidx",
            F.row_number().over(
                W.partitionBy(F.lit(1)).orderBy(F.col("lang").asc())
            ).cast("long") - 1,
        )
    )
    n_groups = gidx.count()
    return (
        docs.withColumn("rank_in_group", F.row_number().over(w).cast("long"))
        .join(F.broadcast(gidx), "lang")
        .select(
            "doc_id", "lang", "rank_in_group",
            (F.col("rank_in_group") * F.lit(n_groups) + F.col("_gidx"))
            .alias("curriculum_key"),
        )
    )


def curriculum_interleave_sql(score_expr: str = None) -> str:
    """DuckDB twin of :func:`curriculum_interleave`."""
    order = "doc_id ASC"
    if score_expr is not None:
        order = f"{score_expr} DESC, doc_id ASC"
    return f"""
WITH ci_r AS (SELECT doc_id, lang,
                     CAST(row_number() OVER (PARTITION BY lang
                                             ORDER BY {order}) AS BIGINT)
                         AS rank_in_group
              FROM documents),
ci_g AS (SELECT lang,
                CAST(row_number() OVER (ORDER BY lang ASC) AS BIGINT)
                    - 1 AS gidx
         FROM (SELECT DISTINCT lang FROM documents)),
ci_n AS (SELECT COUNT(*) AS n_groups FROM ci_g)
SELECT r.doc_id, r.lang, r.rank_in_group,
       CAST(r.rank_in_group * n.n_groups + g.gidx AS BIGINT)
           AS curriculum_key
FROM ci_r r JOIN ci_g g USING (lang) CROSS JOIN ci_n n"""
