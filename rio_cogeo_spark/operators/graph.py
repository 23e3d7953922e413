"""Host link-graph analysis: degrees and fixed-point PageRank for
crawl-frontier prioritization.

The reference's world (rio-cogeo) has no link graph, but the corpus
this engine targets (Common-Crawl-style web pages, BASELINE.json
``north_star``) is crawled BY one: which host to fetch next is a
link-graph ranking problem, and host-level PageRank is the classic
prioritizer (Cho/Garcia-Molina/Page "Efficient Crawling Through URL
Ordering", WWW'98). This module is the graph surface of the pipeline:
in/out-degree tables and a damped PageRank over a host→host edge list.

Determinism contract: all arithmetic is exact BIGINT fixed-point —
ranks carry ``SCALE`` = 1e9 (ppb), the damping factor is an integer
percentage, and every division is integer ``div``. Integer sums are
exact and order-independent, so Spark and DuckDB hash identically
regardless of partitioning; a float PageRank would diverge in the last
ulps across engines/partitionings. Exact-integer envelope: the damped
per-node contribution sum ``85 * Σ (rank div outdeg)`` must fit int64;
with ppb ranks that admits ~1e8 in-neighbors of max-rank hosts per
node — beyond any real host graph's hub in-degree at rank scale (mass
is conserved, so a node's inbound sum is bounded by total graph mass
only in pathological star graphs; shard the graph or drop SCALE to ppm
beyond that).

Dangling hosts (no out-links) keep their base rank but their mass is
not redistributed — the standard web-crawl simplification (the crawl
frontier never routes THROUGH a dangling host); documented rather than
hidden.

Scale design (100 TB / 10^8-host graph):

* the edge list is the big table; it is shuffled ONCE per iteration by
  ``dst`` in the contribution fold (a map-side-combinable groupBy —
  partial sums collapse hub fan-in before the exchange), which IS
  PageRank's irreducible data movement;
* the rank table is node-bounded (hosts, not edges, not pages); each
  iteration's join of edges with ranks on ``src`` broadcasts the ranks
  (10^8 hosts x 16 B ≈ 1.6 GB is marginal, 10^7 is trivial);
* iteration count is FIXED and small (the crawl scheduler wants a
  stable ordering, not convergence to 1e-12); lineage therefore stays
  bounded without checkpointing (``host_distance`` and ``k_core``
  localCheckpoint every second round to cut the recursive plan);
* no step collects: degrees, ranks, and the final ordering are all
  DataFrames.

Column names are fixed: edge tables carry ``src``/``dst``, host tables
key on ``host``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000


def host_degrees(edges: DataFrame) -> DataFrame:
    """Per-host in/out degree over a distinct edge list.

    Returns ``(host, out_deg, in_deg)`` for every host appearing as
    source or destination of at least one edge. One union of two
    map-side-combinable aggregates, then a node-bounded outer merge.
    """
    out_d = (
        edges.groupBy(F.col("src").alias("host"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
    )
    in_d = (
        edges.groupBy(F.col("dst").alias("host"))
        .agg(F.count(F.lit(1)).alias("in_deg"))
    )
    return (
        out_d.join(in_d, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def host_pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-point damped PageRank over a host edge list.

    ``edges`` is treated as a simple digraph (callers dedupe; parallel
    edges would double-count contributions). Ranks use the
    per-node-normalized formulation (mean rank = 1.0, here ``SCALE``):

        rank'(v) = (100-d)% * SCALE + d% * Σ_{u→v} rank(u) div outdeg(u)

    all in exact BIGINT, so the result hashes identically on any
    engine/partitioning. Returns ``(host, rank_ppb)`` for every host in
    the graph; higher = fetch sooner. Each iteration broadcasts the
    node-bounded ``(host, outdeg, rank)`` table into the edge join.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0 <= damping_pct <= 100):
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    base = ((100 - damping_pct) * SCALE) // 100

    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # src-side lookup table (host, outdeg, rank): node-bounded, reused
    # (re-joined with fresh ranks) every iteration.
    ranks = nodes.select("host", F.lit(SCALE).alias("rank"))

    for it in range(iterations):
        src_side = F.broadcast(ranks.join(outdeg, "host"))  # dangling hosts drop
        contrib = (
            e.join(src_side, e["src"] == src_side["host"])
            .select(
                F.col("dst").alias("host"),
                F.expr("rank div outdeg").alias("c"),
            )
        )
        sums = contrib.groupBy("host").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, "host", "left")
            .select(
                "host",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(s, 0L)) div 100"
                    )
                ).alias("rank"),
            )
        )

    return ranks.select("host", F.col("rank").alias("rank_ppb"))


def host_pagerank_sql(
    edges_cte: str,
    extra_ctes: tuple = (),
    final_select: str | None = None,
) -> str:
    """DuckDB twin of :func:`host_pagerank`: the fixed iteration count
    unrolls into chained CTEs (same exact-BIGINT formulas, so the twin
    is hash-identical, not merely approximately equal).

    ``edges_cte`` is a SQL relation body exposing ``(src, dst)``.
    ``extra_ctes`` (each a complete ``name AS (...)`` string) and
    ``final_select`` let a caller compose the rank table with e.g. the
    degree tables in ONE query (the contract query does).
    """
    base = (15 * SCALE) // 100  # teleport share at 85% damping
    parts = [
        f"WITH e AS ({edges_cte})",
        "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src AS host, COUNT(*) AS outdeg FROM e GROUP BY 1)",
        f"r0 AS (SELECT host, CAST({SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(3):
        parts.append(
            f"c{i + 1} AS (SELECT e.dst AS host, "
            f"SUM(r{i}.rank // o.outdeg) AS s "
            f"FROM e JOIN r{i} ON e.src = r{i}.host "
            f"JOIN outdeg o ON e.src = o.host GROUP BY 1)"
        )
        parts.append(
            f"r{i + 1} AS (SELECT n.host, "
            f"CAST({base} + (85 * COALESCE(c.s, 0)) // 100 "
            f"AS BIGINT) AS rank "
            f"FROM nodes n LEFT JOIN c{i + 1} c ON n.host = c.host)"
        )
    parts.extend(extra_ctes)
    body = ",\n".join(parts)
    if final_select is None:
        final_select = f"SELECT host, rank AS rank_ppb FROM r3"
    return f"{body}\n{final_select}"


def host_distance(edges: DataFrame, seeds: DataFrame, max_hops: int = 4) -> DataFrame:
    """BFS hop distance from a seed host set — crawl-frontier DEPTH (how
    many link hops a host sits from the trusted seed list), the other
    classic crawl-ordering signal beside :func:`host_pagerank`
    (Cho/Garcia-Molina/Page WWW'98 use both) and the feature
    quality-curation pipelines use for "distance from curated seeds".

    Distributed min-label propagation: ``dist`` holds ``(host, hops)``;
    each round relaxes one hop (frontier join on ``src``) and re-folds
    with ``MIN(hops)``. After ``max_hops`` rounds the table is exact
    BFS for every host within that radius; hosts farther than
    ``max_hops`` (or unreachable) are ABSENT — callers treat absence as
    "beyond horizon", which is the crawl-scheduler semantic. All-int,
    deterministic, hash-identical cross-engine.

    Scale design (100 TB / 10^8-host graph): per round, ONE edge-table
    shuffle (the relaxation join on ``src``) + one node-bounded MIN
    fold with map-side partials; the dist table is node-bounded and
    broadcast into the relaxation join. ``max_hops`` is fixed and small
    (crawl schedulers care about the first few hops), so the unrolled
    lineage stays bounded; a localCheckpoint every second round cuts it
    for deeper runs. No step collects.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select("src", "dst")
    dist = seeds.select("host").distinct().select(
        "host", F.lit(0).cast("int").alias("hops")
    )
    for it in range(max_hops):
        d = F.broadcast(dist)
        relaxed = (
            e.join(d, e["src"] == d["host"])
            .select(F.col("dst").alias("host"), (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("host")
            .agg(F.min("hops").alias("hops"))
        )
        if (it + 1) % 2 == 0:
            dist = dist.localCheckpoint(eager=False)
    return dist.select("host", "hops")


def host_distance_sql(edges_cte: str, seeds_cte: str) -> str:
    """DuckDB twin of :func:`host_distance`: the fixed hop count unrolls
    into chained CTEs (same min-fold per round, exact ints — hash-
    identical, not approximate). ``seeds_cte`` exposes ``(host)``."""
    parts = [
        f"WITH e AS ({edges_cte})",
        f"s AS ({seeds_cte})",
        "d0 AS (SELECT DISTINCT host, CAST(0 AS INT) AS hops FROM s)",
    ]
    for i in range(4):
        parts.append(
            f"d{i + 1} AS (SELECT host, CAST(MIN(hops) AS INT) AS hops FROM ("
            f"SELECT host, hops FROM d{i} "
            f"UNION ALL "
            f"SELECT e.dst AS host, d.hops + 1 AS hops "
            f"FROM d{i} d JOIN e ON d.host = e.src) GROUP BY 1)"
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT host, hops FROM d4"


def reciprocal_links(edges: DataFrame) -> DataFrame:
    """Per-host link reciprocity — the classic link-farm / link-exchange
    spam signal (organic web linking is strongly asymmetric; hosts whose
    out-links are mostly reciprocated are trading links): for each host
    with out-links, the count of out-edges whose REVERSE edge also
    exists, and the reciprocity share in exact ppm.

    Returns ``(host, out_edges, recip_edges, recip_ppm)``. Input is
    treated as a simple digraph (callers dedupe, as for
    :func:`host_pagerank`); self-loops are ignored.

    Scale design (100 TB): ONE co-partitioned self-join of the distinct
    edge list on (src, dst) vs its reversal (left_semi, so nothing
    widens), then a map-side-combinable per-src count. No node collects,
    no windows; the join keys are edge-unique so there are no hot build
    rows.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi").select(
        "src", F.lit(1).alias("is_r")
    )
    out = e.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("out_edges")
    )
    rc = recip.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("recip_edges")
    )
    return (
        out.join(rc, "host", "left")
        .select(
            "host", "out_edges",
            F.coalesce(F.col("recip_edges"), F.lit(0)).alias("recip_edges"),
            F.expr(
                "(coalesce(recip_edges, 0) * 1000000) div out_edges"
            ).alias("recip_ppm"),
        )
    )


def reciprocal_links_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`reciprocal_links` (``edges_cte`` exposes
    ``(src, dst)``)."""
    return rf"""
WITH e0 AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
recip AS (SELECT a.src FROM e a
          WHERE EXISTS (SELECT 1 FROM e b
                        WHERE b.src = a.dst AND b.dst = a.src)),
o AS (SELECT src AS host, COUNT(*) AS out_edges FROM e GROUP BY 1),
r AS (SELECT src AS host, COUNT(*) AS recip_edges FROM recip GROUP BY 1)
SELECT o.host,
       CAST(o.out_edges AS BIGINT) AS out_edges,
       CAST(COALESCE(r.recip_edges, 0) AS BIGINT) AS recip_edges,
       CAST((COALESCE(r.recip_edges, 0) * 1000000) // o.out_edges
            AS BIGINT) AS recip_ppm
FROM o LEFT JOIN r ON o.host = r.host"""


def crawl_frontier(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    iterations: int = 3,
) -> DataFrame:
    """The graph suite's flagship composition — the crawl-frontier
    priority table (Cho/Garcia-Molina/Page WWW'98 combine importance
    and reachability; modern curated crawls add a spam discount):

        priority_ppb = (rank_ppb · (10^6 − recip_ppm div 2))
                           div 10^6 div (hops + 1)

    i.e. PageRank importance, discounted up to 50% by link-farm
    reciprocity, divided by seed distance — exact BIGINT throughout
    (staged div order is the contract). Only hosts within the BFS
    horizon appear (beyond-horizon hosts are not fetchable this cycle
    by definition). Input edges are deduped once and pinned with an
    eager ``localCheckpoint``, which all three component passes share.

    Returns ``(host, hops, rank_ppb, recip_ppm, priority_ppb)``.
    Scale: inherits the component designs (node-bounded rank/dist
    tables, one edge shuffle per PageRank/BFS round, one left-semi
    self-join for reciprocity); the final assembly is two node-bounded
    co-partitioned joins.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # r06: the deduped edge list feeds THREE iterative passes (BFS,
    # PageRank, reciprocity), each of whose per-round lineage re-derives
    # it — materialize it once per call (edge-bounded host graph, never
    # corpus-sized; the documented production form is a persisted edge
    # table). Without the pin, the sf0.01 `frontier` query on 4 cores
    # took 2.5 s instead of 1.6 s.
    e = e.localCheckpoint(eager=True)
    d = host_distance(e, seeds, max_hops=max_hops)
    r = host_pagerank(e, iterations=iterations)
    rec = reciprocal_links(e)
    return (
        d.join(r, "host")
        .join(rec.select("host", "recip_ppm"), "host", "left")
        .select(
            "host", "hops", "rank_ppb",
            F.coalesce(F.col("recip_ppm"), F.lit(0)).alias("recip_ppm"),
            F.expr(
                "((rank_ppb * (1000000 - coalesce(recip_ppm, 0) div 2))"
                " div 1000000) div (hops + 1)"
            ).alias("priority_ppb"),
        )
    )


def host_trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Seeded TrustRank over a host edge list — the classic web-spam
    demotion complement to PageRank (Gyongyi/Garcia-Molina/Pedersen,
    "Combating Web Spam with TrustRank", VLDB 2004): teleport mass
    lands ONLY on a curated trusted seed set, so trust decays with link
    distance from the seeds and link farms unreachable from them stay
    at zero no matter how densely they interlink. A crawl pipeline uses
    the ratio/gap between PageRank and TrustRank as its spam-mass
    signal.

    Same exact-BIGINT fixed-point contract as :func:`host_pagerank`:

        trust'(v) = base(v) + d% * Sum_{u->v} trust(u) div outdeg(u)

    where ``base(v) = (100-d)% * SCALE`` for seed hosts and ``0``
    otherwise, with initial ``trust = SCALE`` on seeds and ``0``
    elsewhere. Every division is integer ``div``; integer sums are
    exact and order-independent, so the result hashes identically on
    any engine/partitioning. Seeds not present in the graph still
    receive their base (they anchor trust even with no observed links
    yet). Returns ``(host, trust_ppb)`` for every graph host and every
    seed.

    Scale design (100 TB / 10^8-host graph): identical movement to
    :func:`host_pagerank` — the edge list shuffles ONCE per iteration
    in the map-side-combinable contribution fold; the trust table is
    node-bounded and broadcast into the edge join; the
    seed set is crawl-curated (thousands), always broadcast via the
    node-table left join. No step collects.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0 <= damping_pct <= 100):
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    base = ((100 - damping_pct) * SCALE) // 100

    e = edges.select("src", "dst")
    s = seeds.select("host").distinct()
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .union(s.select("host"))
        .distinct()
    )
    is_seed = nodes.join(s, "host", "left_semi").select(
        "host", F.lit(1).alias("seed")
    )
    # node-bounded (host, seed-flag) table, reused every iteration
    flagged = nodes.join(is_seed, "host", "left").select(
        "host", F.coalesce(F.col("seed"), F.lit(0)).alias("seed")
    )
    outdeg = e.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    trust = flagged.select(
        "host", (F.col("seed") * F.lit(SCALE)).alias("trust")
    )

    for _ in range(iterations):
        src_side = F.broadcast(trust.join(outdeg, "host"))  # dangling hosts drop
        contrib = e.join(src_side, e["src"] == src_side["host"]).select(
            F.col("dst").alias("host"),
            F.expr("trust div outdeg").alias("c"),
        )
        sums = contrib.groupBy("host").agg(F.sum("c").alias("s"))
        trust = flagged.join(sums, "host", "left").select(
            "host",
            (
                F.col("seed") * F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).alias("trust"),
        )

    return trust.select("host", F.col("trust").alias("trust_ppb"))


def host_trustrank_sql(edges_cte: str, seeds_cte: str) -> str:
    """DuckDB twin of :func:`host_trustrank`: the fixed iteration count
    unrolls into chained CTEs (same exact-BIGINT formulas — hash-
    identical, not approximate). ``seeds_cte`` exposes ``(host)``."""
    base = (15 * SCALE) // 100  # teleport share at 85% damping
    parts = [
        f"WITH e AS ({edges_cte})",
        f"s AS (SELECT DISTINCT host FROM ({seeds_cte}))",
        "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e "
        "UNION SELECT host FROM s)",
        "flagged AS (SELECT n.host, "
        "CASE WHEN s.host IS NULL THEN 0 ELSE 1 END AS seed "
        "FROM nodes n LEFT JOIN s ON n.host = s.host)",
        "outdeg AS (SELECT src AS host, COUNT(*) AS outdeg FROM e GROUP BY 1)",
        f"t0 AS (SELECT host, CAST(seed * {SCALE} AS BIGINT) AS trust "
        "FROM flagged)",
    ]
    for i in range(3):
        parts.append(
            f"c{i + 1} AS (SELECT e.dst AS host, "
            f"SUM(t{i}.trust // o.outdeg) AS s "
            f"FROM e JOIN t{i} ON e.src = t{i}.host "
            f"JOIN outdeg o ON e.src = o.host GROUP BY 1)"
        )
        parts.append(
            f"t{i + 1} AS (SELECT f.host, "
            f"CAST(f.seed * {base} + (85 * COALESCE(c.s, 0)) // 100 "
            f"AS BIGINT) AS trust "
            f"FROM flagged f LEFT JOIN c{i + 1} c ON f.host = c.host)"
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT host, trust AS trust_ppb FROM t3"


def apportion_budget(weights: DataFrame, budget: int) -> DataFrame:
    """EXACT integer crawl-budget apportionment by the largest-remainder
    (Hamilton) method: split ``budget`` fetch slots across hosts
    proportionally to ``weight`` (e.g. change rate x priority from
    :func:`crawl_frontier`) so that the result is integral, sums to
    EXACTLY ``budget``, and satisfies the quota rule
    ``floor(q_i) <= alloc_i <= ceil(q_i)`` for every host
    (``q_i = budget * w_i / W``). Float rounding would violate both;
    schedulers need the invariants (a fetch fleet provisions exactly
    ``budget`` slots).

    All arithmetic is DECIMAL(38,0)/HUGEINT integer (the
    temperature_mix overflow contract — ``budget * w_i`` exceeds int64
    at corpus scale), so the allocation is bit-identical across
    engines: ``base_i = (B * w_i) div W``; the ``R = B - sum(base_i)``
    leftover slots (< #hosts) go to the R largest division remainders,
    ties broken by ascending key. Returns ``(key, weight, alloc)``.

    Scale design (100 TB / 10^8 hosts): W is ONE combinable aggregate
    broadcast back; base/remainder are a stateless projection; the
    R-th remainder THRESHOLD is found with a distributed TakeOrdered
    (orderBy().limit(R) compiles to TakeOrderedAndProject — per-
    partition partial top-R, no global sort, no single-partition
    window), then the +1 set is a broadcast threshold comparison.
    Zero-weight totals degrade to base 0 + first-R-keys round-robin
    (deterministic; documented).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    w = weights.select(
        F.col("host").alias("k"),
        F.col("weight").cast("long").alias("w"),
    )
    tot = w.agg(
        F.expr("CAST(SUM(w) AS DECIMAL(38,0))").alias("tw"),
        F.count(F.lit(1)).alias("n"),
    )
    based = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "k", "w", "n",
            F.expr(
                f"CAST(CAST({int(budget)} AS DECIMAL(38,0)) * w"
                " div greatest(tw, CAST(1 AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("base"),
            F.expr(
                f"CAST(CAST({int(budget)} AS DECIMAL(38,0)) * w"
                " % greatest(tw, CAST(1 AS DECIMAL(38,0))) AS DECIMAL(38,0))"
            ).alias("rem"),
        )
    )
    based = based.localCheckpoint(eager=False)
    agg = based.agg(
        (F.lit(int(budget)) - F.coalesce(F.sum("base"), F.lit(0))).alias("R")
    ).first()
    r_left = int(agg["R"] or 0)
    if r_left == 0:
        return based.select(
            F.col("k").alias("host"),
            F.col("w").alias("weight"),
            F.col("base").alias("alloc"),
        )
    # the R-th (rem DESC, k ASC) row is the +1 threshold; strict total
    # order because k is unique
    # under (rem DESC, k ASC) the R-th row is the MAX of the lex struct
    # (-rem, k): smallest remainder inside the top-R, then LARGEST key
    # among its ties (the min-struct form would drop tied keys > t_k)
    thr = (
        based.select("rem", "k")
        .orderBy(F.col("rem").desc(), F.col("k").asc())
        .limit(r_left)
        .agg(
            F.max(
                F.struct(
                    (F.col("rem") * F.lit(-1)).alias("nr"),
                    F.col("k").alias("tk"),
                )
            ).alias("t")
        )
        .select(
            (F.col("t.nr") * F.lit(-1)).alias("t_rem"),
            F.col("t.tk").alias("t_k"),
        )
    )
    return (
        based.crossJoin(F.broadcast(thr))
        .select(
            F.col("k").alias("host"),
            F.col("w").alias("weight"),
            (
                F.col("base")
                + F.when(
                    (F.col("rem") > F.col("t_rem"))
                    | (
                        (F.col("rem") == F.col("t_rem"))
                        & (F.col("k") <= F.col("t_k"))
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("alloc"),
        )
    )


def apportion_budget_sql(weights_cte: str, budget: int) -> str:
    """DuckDB twin of :func:`apportion_budget` (``weights_cte`` exposes
    ``(host, weight)``). The oracle uses a window rank for
    the remainder election — value-identical to the engine's
    threshold form."""
    b = int(budget)
    return rf"""
WITH ab_in AS ({weights_cte}),
ab_w AS (SELECT host AS k, CAST(weight AS BIGINT) AS w
         FROM ab_in),
ab_t AS (SELECT greatest(CAST(SUM(w) AS HUGEINT), CAST(1 AS HUGEINT))
             AS tw FROM ab_w),
ab_based AS (SELECT k, w,
                 CAST(CAST({b} AS HUGEINT) * w // tw AS BIGINT) AS base,
                 CAST({b} AS HUGEINT) * w % tw AS rem
             FROM ab_w CROSS JOIN ab_t),
ab_r AS (SELECT {b} - COALESCE(SUM(base), 0) AS leftover FROM ab_based),
ab_ranked AS (SELECT k, w, base, rem,
                  row_number() OVER (ORDER BY rem DESC, k ASC) AS rn
              FROM ab_based)
SELECT k AS host, w AS weight,
       CAST(base + (CASE WHEN rn <= (SELECT leftover FROM ab_r)
                         THEN 1 ELSE 0 END) AS BIGINT) AS alloc
FROM ab_ranked"""


def host_hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """HITS hubs & authorities over a host edge list (Kleinberg,
    "Authoritative sources in a hyperlinked environment", JACM 1999) —
    the directional complement to :func:`host_pagerank`: an AUTHORITY
    is a host good pages point TO (fetch its content), a HUB is a host
    that points to good authorities (mine its out-links for frontier
    seeds). Crawl schedulers want both rankings; PageRank conflates
    them.

    Exact-BIGINT fixed-point, same cross-engine contract as the other
    graph ops: per round, ``a_raw(v) = Σ_{u→v} h(u)`` then
    ``h_raw(u) = Σ_{u→v} a(v)`` (the standard a-from-h-then-h-from-
    new-a sweep), each followed by L1 normalization to total mass
    ``N * SCALE`` (mean SCALE) via DECIMAL(38,0)/HUGEINT floor
    division — ``a_raw * N * SCALE`` exceeds int64 at host-graph
    scale, the :func:`apportion_budget` overflow contract. Integer
    sums are exact and order-independent, so results hash identically
    on any engine/partitioning. Returns ``(host, auth_ppb, hub_ppb)``.
    Isolated-side zeros stay exactly zero (a host nobody links to has
    authority 0 no matter its hub mass).

    Scale design (100 TB / 10^8-host graph): two edge-bounded
    map-side-combinable folds per iteration (HITS' irreducible
    movement); the score tables are node-bounded and broadcast into
    each edge join and the final merge; each normalization is ONE 1-row
    total aggregate cross-joined back as a broadcast. No step
    collects. DuckDB twin :func:`host_hits_sql` (chained-CTE unroll).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")

    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )

    def _normalize(scores: DataFrame, col: str) -> DataFrame:
        # scores is referenced twice (total + join-back): pin it so the
        # edge-join subtree runs once per round, not 2^rounds times
        scores = scores.localCheckpoint(eager=False)
        tot = scores.agg(
            F.expr(
                f"greatest(CAST(SUM({col}) AS DECIMAL(38,0)),"
                " CAST(1 AS DECIMAL(38,0)))"
            ).alias("tot"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
        return scores.crossJoin(F.broadcast(tot)).select(
            "host",
            F.expr(
                f"CAST(CAST({col} AS DECIMAL(38,0)) * n_nodes"
                f" * {SCALE} div tot AS BIGINT)"
            ).alias(col),
        )

    auth = nodes.select("host", F.lit(SCALE).alias("a"))
    hub = nodes.select("host", F.lit(SCALE).alias("h"))

    for _ in range(iterations):
        h_side = F.broadcast(hub)
        a_raw = (
            e.join(h_side, e["src"] == h_side["host"])
            .select(F.col("dst").alias("host"), F.col("h"))
            .groupBy("host")
            .agg(F.sum("h").alias("a"))
        )
        auth = _normalize(
            nodes.join(a_raw, "host", "left").select(
                "host", F.coalesce("a", F.lit(0)).alias("a")
            ),
            "a",
        )
        a_side = F.broadcast(auth)
        h_raw = (
            e.join(a_side, e["dst"] == a_side["host"])
            .select(F.col("src").alias("host"), F.col("a"))
            .groupBy("host")
            .agg(F.sum("a").alias("h"))
        )
        hub = _normalize(
            nodes.join(h_raw, "host", "left").select(
                "host", F.coalesce("h", F.lit(0)).alias("h")
            ),
            "h",
        )

    # node-bounded final merge — broadcast explicitly (the checkpoint
    # pins strip stats, so auto-broadcast would fall back to SMJ)
    return (
        auth.join(F.broadcast(hub), "host")
        .select(
            "host",
            F.col("a").alias("auth_ppb"),
            F.col("h").alias("hub_ppb"),
        )
    )


def host_hits_sql(edges_cte: str, iterations: int = 2) -> str:
    """DuckDB twin of :func:`host_hits`: the fixed iteration count
    unrolls into chained CTEs with the same HUGEINT normalization."""
    norm = (
        "CAST(CAST({c} AS HUGEINT) * (SELECT COUNT(*) FROM hits_nodes)"
        f" * {SCALE} // greatest((SELECT CAST(SUM({{c}}) AS HUGEINT)"
        " FROM {t}), CAST(1 AS HUGEINT)) AS BIGINT)"
    )
    parts = [
        f"WITH hits_e AS ({edges_cte})",
        "hits_nodes AS (SELECT src AS host FROM hits_e"
        " UNION SELECT dst FROM hits_e)",
        f"a0 AS (SELECT host, CAST({SCALE} AS BIGINT) AS a"
        " FROM hits_nodes)",
        f"h0 AS (SELECT host, CAST({SCALE} AS BIGINT) AS h"
        " FROM hits_nodes)",
    ]
    for i in range(iterations):
        parts.append(
            f"ar{i + 1} AS (SELECT n.host,"
            f" COALESCE(SUM(h{i}.h), 0) AS a"
            f" FROM hits_nodes n LEFT JOIN hits_e e ON e.dst = n.host"
            f" LEFT JOIN h{i} ON h{i}.host = e.src GROUP BY 1)"
        )
        parts.append(
            f"a{i + 1} AS (SELECT host,"
            f" {norm.format(c='a', t=f'ar{i + 1}')} AS a"
            f" FROM ar{i + 1})"
        )
        parts.append(
            f"hr{i + 1} AS (SELECT n.host,"
            f" COALESCE(SUM(a{i + 1}.a), 0) AS h"
            f" FROM hits_nodes n LEFT JOIN hits_e e ON e.src = n.host"
            f" LEFT JOIN a{i + 1} ON a{i + 1}.host = e.dst GROUP BY 1)"
        )
        parts.append(
            f"h{i + 1} AS (SELECT host,"
            f" {norm.format(c='h', t=f'hr{i + 1}')} AS h"
            f" FROM hr{i + 1})"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT a{iterations}.host, a{iterations}.a AS auth_ppb,"
        f" h{iterations}.h AS hub_ppb\n"
        f"FROM a{iterations} JOIN h{iterations}"
        f" ON a{iterations}.host = h{iterations}.host"
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-host triangle participation + exact-ppm local clustering
    coefficient over the UNDIRECTED host graph — the link-farm /
    tight-community detector beside :func:`reciprocal_links` (a link
    exchange that reciprocates pairwise shows up there; a farm that
    cross-links N sites shows up HERE as dense triangles; organic
    hub-and-spoke linking is triangle-poor).

    Returns ``(host, deg, triangles, cc_ppm)`` for every host with at
    least one undirected neighbor, where ``cc_ppm`` is the local
    clustering coefficient ``2*triangles*1e6 div (deg*(deg-1))`` in
    exact ppm (0 for deg < 2). All-int, deterministic, hash-identical
    cross-engine.

    Scale design (100 TB / 10^9-edge graph): the classic wedge-join
    blowup is tamed by DEGREE ORDERING (Schank & Wagner '05 /
    compact-forward): each undirected edge is oriented from the
    (deg, host)-smaller endpoint to the larger, which bounds every
    node's ORIENTED out-degree by O(sqrt(m)), so the wedge join
    ``o(a,b) >< o(b,c)`` never builds a hub's full neighborhood square
    — the skew guard that makes billion-edge triangle counting
    feasible. One wedge join + one left-semi closure probe, both
    co-partitioned on edge-unique keys; counts are map-side-combinable;
    no windows, nothing collects.
    """
    raw = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    # undirected canonical edge list (u < v), deduped
    und = (
        raw.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("host"))
        .unionAll(und.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from the (deg, host)-smaller endpoint to the larger
    du = deg.select(F.col("host").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("host").alias("v"), F.col("deg").alias("deg_v"))
    oriented = (
        und.join(du, "u").join(dv, "v")
        .select(
            F.when(
                (F.col("deg_u") < F.col("deg_v"))
                | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.col("u"),
            ).otherwise(F.col("v")).alias("a"),
            F.when(
                (F.col("deg_u") < F.col("deg_v"))
                | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.col("v"),
            ).otherwise(F.col("u")).alias("b"),
        )
    )
    o2 = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = oriented.join(o2, "b").select("a", "b", "c")
    closure = oriented.select(F.col("a"), F.col("b").alias("c"))
    tris = wedges.join(closure, ["a", "c"], "left_semi")
    per_host = (
        tris.select(F.col("a").alias("host"))
        .unionAll(tris.select(F.col("b").alias("host")))
        .unionAll(tris.select(F.col("c").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_host, "host", "left")
        .select(
            "host",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "CASE WHEN deg < 2 THEN CAST(0 AS BIGINT) "
                "ELSE (coalesce(triangles, 0) * 2 * 1000000) div (deg * (deg - 1)) END"
            ).alias("cc_ppm"),
        )
    )


def triangle_count_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`triangle_count` (``edges_cte`` exposes
    ``(src, dst)``) — same degree-ordered orientation, same exact-int
    clustering math, hash-identical."""
    return f"""
WITH tri_raw AS ({edges_cte}),
tri_und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM tri_raw WHERE src <> dst),
tri_deg AS (SELECT host, COUNT(*) AS deg FROM (
              SELECT u AS host FROM tri_und
              UNION ALL SELECT v FROM tri_und) GROUP BY 1),
tri_o AS (SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
                      THEN e.u ELSE e.v END AS a,
                 CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
                      THEN e.v ELSE e.u END AS b
          FROM tri_und e
          JOIN tri_deg du ON du.host = e.u
          JOIN tri_deg dv ON dv.host = e.v),
tri_t AS (SELECT o1.a, o1.b, o2.b AS c
          FROM tri_o o1 JOIN tri_o o2 ON o1.b = o2.a
          WHERE EXISTS (SELECT 1 FROM tri_o o3
                        WHERE o3.a = o1.a AND o3.b = o2.b)),
tri_n AS (SELECT host, COUNT(*) AS triangles FROM (
            SELECT a AS host FROM tri_t
            UNION ALL SELECT b FROM tri_t
            UNION ALL SELECT c FROM tri_t) GROUP BY 1)
SELECT d.host,
       CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(n.triangles, 0) AS BIGINT) AS triangles,
       CAST(CASE WHEN d.deg < 2 THEN 0
                 ELSE (COALESCE(n.triangles, 0) * 2 * 1000000)
                      // (d.deg * (d.deg - 1)) END AS BIGINT) AS cc_ppm
FROM tri_deg d LEFT JOIN tri_n n ON d.host = n.host"""


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-round k-core peel over the undirected host graph — the
    web-spam / core-of-the-web signal (Alvarez-Hamelin et al. NIPS'05
    k-core decomposition; dense spam neighborhoods survive deep cores,
    organic periphery peels away immediately).

    Each round removes every host whose degree in the CURRENT induced
    subgraph is < ``k`` and recomputes degrees. After ``rounds`` peels
    the survivors are a superset of the true k-core that is EXACT once
    the peel reaches a fixed point (pytest covers both); crawl
    schedulers run a few rounds for a stable ordering, not convergence.
    Returns ``(host, deg)`` — survivors with their induced degree.
    All-int, deterministic, hash-identical cross-engine; the fourth
    ITERATIVE oracle-paired operator (after pagerank, host_distance,
    compact).

    Scale design (100 TB / 10^9-edge graph): per round, the alive set
    is node-bounded and broadcast, so the edge table
    never shuffles for the induced-subgraph filter — two left-semi
    probes; the degree fold is map-side-combinable. ``rounds`` is fixed
    and small, lineage bounded; ``checkpoint_every`` cuts it for deeper
    runs. No step collects.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("host"))
            .unionAll(e.select(F.col("v").alias("host")))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    alive = _deg(und).filter(F.col("deg") >= k)
    for it in range(rounds - 1):
        a = F.broadcast(alive)
        induced = (
            und.join(a.select(F.col("host").alias("u")), "u", "left_semi")
            .join(a.select(F.col("host").alias("v")), "v", "left_semi")
        )
        alive = _deg(induced).filter(F.col("deg") >= k)
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            alive = alive.localCheckpoint(eager=False)
    return alive.select("host", F.col("deg").cast("long").alias("deg"))


def k_core_sql(edges_cte: str, k: int) -> str:
    """DuckDB twin of :func:`k_core`: the fixed round count unrolls into
    chained CTEs (same induced-degree fold per round, exact ints)."""
    parts = [
        f"WITH kc_raw AS ({edges_cte})",
        "kc_und AS (SELECT DISTINCT least(src, dst) AS u,"
        " greatest(src, dst) AS v FROM kc_raw WHERE src <> dst)",
        "a0 AS (SELECT host, COUNT(*) AS deg FROM ("
        "SELECT u AS host FROM kc_und UNION ALL SELECT v FROM kc_und)"
        f" GROUP BY 1 HAVING COUNT(*) >= {k})",
    ]
    for i in range(2):
        parts.append(
            f"a{i + 1} AS (SELECT host, COUNT(*) AS deg FROM ("
            f"SELECT e.u AS host FROM kc_und e"
            f" WHERE EXISTS (SELECT 1 FROM a{i} x WHERE x.host = e.u)"
            f" AND EXISTS (SELECT 1 FROM a{i} y WHERE y.host = e.v)"
            f" UNION ALL "
            f"SELECT e.v FROM kc_und e"
            f" WHERE EXISTS (SELECT 1 FROM a{i} x WHERE x.host = e.u)"
            f" AND EXISTS (SELECT 1 FROM a{i} y WHERE y.host = e.v))"
            f" GROUP BY 1 HAVING COUNT(*) >= {k})"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\nSELECT host, CAST(deg AS BIGINT) AS deg"
        f" FROM a2"
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Directed out-in degree assortativity of the host graph — do
    high-fanout hosts link to high-fanin hosts? (Newman 2002: the
    Pearson correlation, over EDGES, of the source's out-degree with
    the target's in-degree; positive on mirror farms / link rings,
    negative on hub-and-spoke crawl frontiers.) One row
    ``(m_edges, sx, sy, sxy, sx2, sy2, r_mil)``:

    * the six sums are exact BIGINT moments of (x, y) = (out_deg(src),
      in_deg(dst)) over the distinct edge list;
    * ``r_mil = floor(1e6 · (m·sxy − sx·sy) / sqrt((m·sx2 − sx²) ·
      (m·sy2 − sy²)))`` — the ONLY float step, one pinned double
      expression identical on both engines; NULL when either variance
      term is 0 (degenerate regular graph).

    Every edge's endpoints appear in the degree table by construction
    (src always has out_deg ≥ 1, dst in_deg ≥ 1), so the inner joins
    lose nothing.

    Scale design: two node-bounded degree folds (map-side combinable,
    computed independently — no full-outer degree union is needed
    because x only ever keys on src and y on dst); the edge list — the
    big table — is joined against both by broadcast (the 10^8-host
    table is ~1.6 GB), then ONE combinable moment fold. Nothing
    collects, no window, no Python.
    """
    out_d = F.broadcast(edges.groupBy(F.col("src").alias("__s")).agg(
        F.count(F.lit(1)).alias("x")
    ))
    in_d = F.broadcast(edges.groupBy(F.col("dst").alias("__t")).agg(
        F.count(F.lit(1)).alias("y")
    ))
    xy = (
        edges.join(out_d, F.col("src") == F.col("__s"), "inner")
        .join(in_d, F.col("dst") == F.col("__t"), "inner")
        .select("x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    sums = xy.agg(
        F.count(F.lit(1)).alias("m_edges"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sx2"),
        F.sum(dec("y") * F.col("y")).alias("sy2"),
    )
    return sums.selectExpr(
        "CAST(m_edges AS BIGINT) AS m_edges",
        "CAST(sx AS BIGINT) AS sx",
        "CAST(sy AS BIGINT) AS sy",
        "CAST(sxy AS BIGINT) AS sxy",
        "CAST(sx2 AS BIGINT) AS sx2",
        "CAST(sy2 AS BIGINT) AS sy2",
        "CASE WHEN m_edges * CAST(sx2 AS decimal(38,0)) - CAST(sx AS decimal(38,0)) * sx <= 0"
        " OR m_edges * CAST(sy2 AS decimal(38,0)) - CAST(sy AS decimal(38,0)) * sy <= 0"
        " THEN CAST(NULL AS BIGINT)"
        " ELSE CAST(floor("
        "CAST((m_edges * CAST(sxy AS decimal(38,0)) - CAST(sx AS decimal(38,0)) * sy) * 1000000 AS DOUBLE)"
        " / sqrt(CAST(m_edges * CAST(sx2 AS decimal(38,0)) - CAST(sx AS decimal(38,0)) * sx AS DOUBLE)"
        " * CAST(m_edges * CAST(sy2 AS decimal(38,0)) - CAST(sy AS decimal(38,0)) * sy AS DOUBLE))"
        ") AS BIGINT) END AS r_mil",
    )


def degree_assortativity_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`degree_assortativity` — ``edges_cte`` is a
    SELECT exposing ``src, dst`` (the same distinct edge list)."""
    return f"""
WITH da_e AS ({edges_cte}),
da_o AS (SELECT src AS host, COUNT(*) AS out_deg FROM da_e GROUP BY 1),
da_i AS (SELECT dst AS host, COUNT(*) AS in_deg FROM da_e GROUP BY 1),
da_xy AS (SELECT o.out_deg AS x, i.in_deg AS y
          FROM da_e e
          JOIN da_o o ON e.src = o.host
          JOIN da_i i ON e.dst = i.host),
da_s AS (SELECT COUNT(*) AS m_edges,
                SUM(x) AS sx, SUM(y) AS sy,
                SUM(CAST(x AS HUGEINT) * y) AS sxy,
                SUM(CAST(x AS HUGEINT) * x) AS sx2,
                SUM(CAST(y AS HUGEINT) * y) AS sy2
         FROM da_xy)
SELECT CAST(m_edges AS BIGINT) AS m_edges,
       CAST(sx AS BIGINT) AS sx,
       CAST(sy AS BIGINT) AS sy,
       CAST(sxy AS BIGINT) AS sxy,
       CAST(sx2 AS BIGINT) AS sx2,
       CAST(sy2 AS BIGINT) AS sy2,
       CASE WHEN m_edges * CAST(sx2 AS HUGEINT) - CAST(sx AS HUGEINT) * sx <= 0
              OR m_edges * CAST(sy2 AS HUGEINT) - CAST(sy AS HUGEINT) * sy <= 0
            THEN NULL
            ELSE CAST(floor(
              CAST((m_edges * CAST(sxy AS HUGEINT) - CAST(sx AS HUGEINT) * sy) * 1000000 AS DOUBLE)
              / sqrt(CAST(m_edges * CAST(sx2 AS HUGEINT) - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                     * CAST(m_edges * CAST(sy2 AS HUGEINT) - CAST(sy AS HUGEINT) * sy AS DOUBLE))
            ) AS BIGINT) END AS r_mil
FROM da_s"""


_COCITATION_MIN_COMMON = 1


def cocitation(
    edges: DataFrame,
    mode: str = "cocitation",
    max_degree: int | None = None,
) -> DataFrame:
    """Co-citation / bibliographic-coupling pair counts over the host
    link graph — the classic related-host signal: ``cocitation`` pairs
    two hosts by the number of COMMON CITERS (shared in-neighbors),
    ``coupling`` by common CITED hosts (shared out-neighbors).  One
    row per unordered pair ``(host_a, host_b, n_common)`` with
    ``host_a < host_b`` and ``n_common >= 1``, all exact
    BIGINTs.

    Scale design: one self-join of the (deduped) edge list
    co-partitioned on the pivot endpoint — a single shuffle; per-pivot
    fan-out is the pivot's degree squared, so ``max_degree`` (when
    set) drops super-spreader pivots first via one degree fold +
    broadcast semi-filter (the documented hot-key cap, same contract
    as repeated_spans' ``broadcast_hot``).  No window, no Python.
    """
    if mode not in ("cocitation", "coupling"):
        raise ValueError(f"mode must be cocitation|coupling, got {mode!r}")
    pivot, leaf = ("dst", "src") if mode == "coupling" else ("src", "dst")
    e = edges.select(
        F.col(pivot).alias("p"), F.col(leaf).alias("l")
    ).distinct()
    if max_degree is not None:
        deg = e.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") <= max_degree).select("p")
        e = e.join(F.broadcast(keep), "p", "left_semi")
    pairs = (
        e.alias("a")
        .join(e.alias("b"), "p")
        .filter(F.col("a.l") < F.col("b.l"))
        .groupBy(
            F.col("a.l").alias("host_a"), F.col("b.l").alias("host_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return pairs.filter(F.col("n_common") >= _COCITATION_MIN_COMMON).select(
        "host_a", "host_b",
        F.col("n_common").cast("long").alias("n_common"),
    )


def cocitation_sql(edges_select: str) -> str:
    """DuckDB twin of :func:`cocitation` in ``cocitation`` mode —
    ``edges_select`` exposes ``(src, dst)``."""
    return f"""WITH cc_raw AS ({edges_select}),
cc_e AS (SELECT DISTINCT src AS p, dst AS l FROM cc_raw),
cc_k AS (SELECT * FROM cc_e)
SELECT a.l AS host_a, b.l AS host_b,
       CAST(COUNT(*) AS BIGINT) AS n_common
FROM cc_k a JOIN cc_k b ON a.p = b.p AND a.l < b.l
GROUP BY 1, 2
HAVING COUNT(*) >= {_COCITATION_MIN_COMMON}"""


_HOST_MAJORITY_LANG_N_HOSTS = 97


def host_majority_lang(docs: DataFrame) -> DataFrame:
    """Majority language per host over the deterministic ``id % n``
    host space — deterministic ties (count DESC, lang ASC).  One
    corpus fold + one window over the host-bounded count table."""
    from pyspark.sql import Window

    hl = docs.selectExpr(
        f"doc_id % {_HOST_MAJORITY_LANG_N_HOSTS} AS host", "lang AS lang"
    ).groupBy("host", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("host").orderBy(
        F.col("cnt").desc(), F.col("lang").asc()
    )
    return (
        hl.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("host", "lang")
    )


def host_majority_lang_sql(docs_select: str) -> str:
    """DuckDB twin of :func:`host_majority_lang` (standalone SELECT)."""
    return f"""SELECT host, lang FROM (
  SELECT host, lang, ROW_NUMBER() OVER
         (PARTITION BY host ORDER BY cnt DESC, lang ASC) AS _rk
  FROM (SELECT doc_id % {_HOST_MAJORITY_LANG_N_HOSTS} AS host, lang AS lang,
               COUNT(*) AS cnt
        FROM ({docs_select}) GROUP BY 1, 2))
WHERE _rk = 1"""


_MIX_FINAL = [
    "CAST(n_edges AS BIGINT) AS n_edges",
    "CAST(same_lang AS BIGINT) AS same_lang",
    "CAST(sum_ab AS BIGINT) AS sum_ab",
    # the ONE pinned double: attribute assortativity in mil — the
    # numerator can be negative (disassortative mixing)
    "CAST(CASE WHEN n_edges * n_edges - sum_ab = 0 THEN NULL"
    " ELSE floor((CAST(n_edges AS DOUBLE) * CAST(same_lang AS DOUBLE)"
    " - CAST(sum_ab AS DOUBLE)) * CAST(1000000 AS DOUBLE)"
    " / (CAST(n_edges AS DOUBLE) * CAST(n_edges AS DOUBLE)"
    " - CAST(sum_ab AS DOUBLE))) END AS BIGINT) AS r_mil",
]


def lang_mixing(edges: DataFrame, host_lang: DataFrame) -> DataFrame:
    """Attribute (language) assortativity of the host link graph — the
    Newman mixing coefficient over the language × language edge-mixing
    matrix: do hosts link within their language community?

        ``r = (E·Σe_kk − Σ_k a_k·b_k) / (E² − Σ_k a_k·b_k)``

    with ``e_kl`` the directed lang→lang edge counts, ``a_k``/``b_k``
    the out/in marginals (all exact, staged DECIMAL(38,0)), and
    ``r_mil`` the ONE pinned double floor (negative ⇒ disassortative;
    NULL for a single-language graph).  One row ``(n_edges,
    same_lang, sum_ab, r_mil)``.

    Scale design: two broadcasts of the host-bounded language table
    onto the edge list (the degree_assortativity shape), one mixing
    fold on the language-bounded key, marginal folds on that tiny
    table, 1×1 crosses.  No window on the edge list, no Python.
    """
    d = "decimal(38,0)"
    hl = F.broadcast(host_lang)
    mix = (
        edges.join(hl.withColumnRenamed("host", "src")
                     .withColumnRenamed("lang", "lang_s"), "src")
        .join(hl.withColumnRenamed("host", "dst")
                .withColumnRenamed("lang", "lang_d"), "dst")
        .groupBy("lang_s", "lang_d")
        .agg(F.count(F.lit(1)).alias("e"))
    )
    tot = mix.agg(
        F.sum("e").cast(d).alias("n_edges"),
        F.sum(F.when(F.col("lang_s") == F.col("lang_d"), F.col("e"))
              .otherwise(F.lit(0))).cast(d).alias("same_lang"),
    )
    a = mix.groupBy("lang_s").agg(F.sum("e").cast(d).alias("ak"))
    b = mix.groupBy("lang_d").agg(F.sum("e").cast(d).alias("bk"))
    ab = (
        a.join(b, a["lang_s"] == b["lang_d"], "inner")
        .agg(F.sum(F.col("ak") * F.col("bk")).alias("sum_ab"))
    )
    return tot.crossJoin(ab).selectExpr(*_MIX_FINAL)


def lang_mixing_sql(edges_select: str, host_lang_select: str) -> str:
    """DuckDB twin of :func:`lang_mixing` — identical mixing folds and
    final projection."""
    final = ",\n       ".join(_MIX_FINAL)
    return f"""WITH mx_e AS ({edges_select}),
mx_hl AS ({host_lang_select}),
mx_m AS (SELECT s.lang AS lang_s, t.lang AS lang_d, COUNT(*) AS e
         FROM mx_e e
         JOIN mx_hl s ON e.src = s.host
         JOIN mx_hl t ON e.dst = t.host
         GROUP BY 1, 2),
mx_t AS (SELECT CAST(SUM(e) AS HUGEINT) AS n_edges,
                CAST(SUM(CASE WHEN lang_s = lang_d THEN e ELSE 0 END)
                     AS HUGEINT) AS same_lang
         FROM mx_m),
mx_a AS (SELECT lang_s AS lang, CAST(SUM(e) AS HUGEINT) AS ak
         FROM mx_m GROUP BY 1),
mx_b AS (SELECT lang_d AS lang, CAST(SUM(e) AS HUGEINT) AS bk
         FROM mx_m GROUP BY 1),
mx_ab AS (SELECT SUM(a.ak * b.bk) AS sum_ab
          FROM mx_a a JOIN mx_b b USING (lang))
SELECT {final}
FROM mx_t, mx_ab"""
