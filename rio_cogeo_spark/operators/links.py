"""Hyperlink extraction + anchor-text aggregation over the crawl.

Anchor text is a first-class web-scale training signal: the anchor
corpus (text OTHER pages use to describe a target) powers retrieval
pretraining and query-document relevance sets, and per-target link/
anchor statistics feed the host-graph suite (operators/graph.py:
pagerank / trustrank / reciprocity consume the edges this module
extracts). The reference (rio-cogeo) has no text ops; this belongs to
the beyond-reference LLM-pipeline suite (COVERAGE.md "training-data
pipeline" table).

Scale notes (100 TB): extraction is one codegen projection per page
(decode + two anchored regexp_extract_all passes + zip) followed by
posexplode — corpus-width but narrow (no shuffle, no Python). The
anchor rollup keys everything on dst_host: per-host group sizes are
bounded by the host's in-link anchor vocabulary, the distinct-src-host
count uses dropDuplicates + count (never a COUNT(DISTINCT) expand —
the boilerplate_lines rule), and the top-anchor election is a
per-dst_host window over anchor COUNTS (cardinality = distinct anchors
per host, not links). Hot targets (a CDN host linked from 10^8 pages)
cost their anchor-count list once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import HOST_SQL, host_col

# One pattern, two group extractions — Java regex and RE2 agree on this
# anchored form (no backtracking constructs).
LINK_PATTERN = r'<a href="([^"]*)">([^<]*)</a>'


def extract_links(pages: DataFrame) -> DataFrame:
    """Per-page hyperlink table ``(src_url, pos, dst_url, anchor)``:
    every ``<a href="...">anchor</a>`` in the UTF-8 html binary, in
    document order (``pos`` is the 0-based link index). Pure JVM
    expressions: decode → two group extractions of the SAME pattern
    (href, anchor — equal lengths by construction) → struct zip →
    posexplode. DuckDB twin :func:`extract_links_sql`."""
    s = F.decode(F.col("html"), "utf-8")
    hrefs = F.regexp_extract_all(s, F.lit(LINK_PATTERN), 1)
    anchors = F.regexp_extract_all(s, F.lit(LINK_PATTERN), 2)
    pairs = F.zip_with(
        hrefs,
        anchors,
        lambda h, a: F.struct(h.alias("dst_url"), a.alias("anchor")),
    )
    return pages.select(
        F.col("url").alias("src_url"), F.posexplode(pairs)
    ).select(
        "src_url",
        F.col("pos").cast("int").alias("pos"),
        F.col("col.dst_url").alias("dst_url"),
        F.col("col.anchor").alias("anchor"),
    )


def extract_links_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`extract_links` (``pages_cte`` exposes
    ``(url, html)`` with the html as VARCHAR)."""
    pat = LINK_PATTERN.replace("'", "''")
    return rf"""
WITH p AS ({pages_cte}),
ext AS (SELECT url AS src_url,
               regexp_extract_all(html, '{pat}', 1) AS hrefs,
               regexp_extract_all(html, '{pat}', 2) AS anchors
        FROM p),
ix AS (SELECT src_url, unnest(generate_series(1, len(hrefs))) AS i,
              hrefs, anchors FROM ext)
SELECT src_url, CAST(i - 1 AS INT) AS pos,
       hrefs[i] AS dst_url, anchors[i] AS anchor
FROM ix"""


def anchor_stats(links: DataFrame) -> DataFrame:
    """Per-target-host anchor rollup: ``(dst_host, n_links,
    n_src_hosts, top_anchor, top_anchor_count)`` — the anchor-corpus
    summary (how the web describes each host) plus the in-link counts
    the spam/authority suite consumes. ``top_anchor`` election is
    deterministic: highest count, ties broken by lexicographically
    smallest anchor. DuckDB twin :func:`anchor_stats_sql`."""
    hosted = links.select(
        host_col(F.col("src_url")).alias("src_host"),
        host_col(F.col("dst_url")).alias("dst_host"),
        "anchor",
    )
    n_links = hosted.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )
    n_src = (
        hosted.select("dst_host", "src_host")
        .dropDuplicates(["dst_host", "src_host"])
        .groupBy("dst_host")
        .agg(F.count(F.lit(1)).alias("n_src_hosts"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("anchor_count").desc(), F.col("anchor").asc()
    )
    top = (
        hosted.groupBy("dst_host", "anchor")
        .agg(F.count(F.lit(1)).alias("anchor_count"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dst_host",
            F.col("anchor").alias("top_anchor"),
            F.col("anchor_count").alias("top_anchor_count"),
        )
    )
    return n_links.join(n_src, "dst_host").join(top, "dst_host")


def anchor_stats_sql(links_cte: str) -> str:
    """DuckDB twin of :func:`anchor_stats` (``links_cte`` exposes
    ``(src_url, dst_url, anchor)``)."""
    src_host = HOST_SQL.replace("url", "src_url")
    dst_host = HOST_SQL.replace("url", "dst_url")
    return rf"""
WITH links AS ({links_cte}),
hosted AS (SELECT {src_host} AS src_host, {dst_host} AS dst_host, anchor
           FROM links),
nl AS (SELECT dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
       FROM hosted GROUP BY 1),
ns AS (SELECT dst_host, CAST(COUNT(*) AS BIGINT) AS n_src_hosts
       FROM (SELECT DISTINCT dst_host, src_host FROM hosted) GROUP BY 1),
ac AS (SELECT dst_host, anchor, COUNT(*) AS anchor_count
       FROM hosted GROUP BY 1, 2),
top AS (SELECT dst_host, anchor AS top_anchor,
               CAST(anchor_count AS BIGINT) AS top_anchor_count,
               row_number() OVER (PARTITION BY dst_host
                                  ORDER BY anchor_count DESC, anchor ASC)
                   AS rn
        FROM ac)
SELECT nl.dst_host, nl.n_links, ns.n_src_hosts,
       top.top_anchor, top.top_anchor_count
FROM nl JOIN ns USING (dst_host) JOIN top USING (dst_host)
WHERE top.rn = 1"""


# ---------------------------------------------------------------------------
# Meta-tag surface (same html-extraction family as extract_links)
# ---------------------------------------------------------------------------

META_PATTERN = r'<meta name="([^"]*)" content="([^"]*)">'


def extract_meta(pages: DataFrame) -> DataFrame:
    """Per-page meta-tag table ``(url, pos, name, content)`` — every
    ``<meta name="..." content="...">`` in document order. The generic
    form of the geotag parse (functions/text.geotag_from_html): one
    codegen projection, same two-group extraction shape as
    :func:`extract_links`. DuckDB twin :func:`extract_meta_sql`."""
    s = F.decode(F.col("html"), "utf-8")
    names = F.regexp_extract_all(s, F.lit(META_PATTERN), 1)
    contents = F.regexp_extract_all(s, F.lit(META_PATTERN), 2)
    pairs = F.zip_with(
        names,
        contents,
        lambda n, c: F.struct(n.alias("name"), c.alias("content")),
    )
    return pages.select(F.col("url"), F.posexplode(pairs)).select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("col.name").alias("name"),
        F.col("col.content").alias("content"),
    )


def extract_meta_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`extract_meta` (``pages_cte`` exposes
    ``(url, html)`` with the html as VARCHAR)."""
    pat = META_PATTERN.replace("'", "''")
    return rf"""
WITH p AS ({pages_cte}),
ext AS (SELECT url,
               regexp_extract_all(html, '{pat}', 1) AS names,
               regexp_extract_all(html, '{pat}', 2) AS contents
        FROM p),
ix AS (SELECT url, unnest(generate_series(1, len(names))) AS i,
              names, contents FROM ext)
SELECT url, CAST(i - 1 AS INT) AS pos,
       names[i] AS name, contents[i] AS content
FROM ix"""


# robots content is a comma/space-separated directive list; the noindex
# decision is TOKEN membership (substring tests would false-positive on
# hypothetical values containing 'noindex' — and 'none' implies
# noindex,nofollow per the robots meta spec)
_ROBOTS_SPLIT = r"[,\s]+"


def meta_robots_noindex(pages: DataFrame) -> DataFrame:
    """Respect ``<meta name="robots">``: returns ``pages`` WITHOUT the
    documents whose robots directives include the token ``noindex`` or
    ``none`` (case-insensitive; any one of multiple robots tags
    suffices) — the politeness step a C4-style corpus applies before
    training. Pages with no robots meta are kept.

    Scale design (100 TB): the noindex decision is a pure per-row
    expression over the SAME page row (EXISTS over the extracted
    directive tokens — no meta-table materialization, no join, no
    shuffle); Catalyst keeps it one codegen filter. DuckDB twin
    :func:`meta_robots_noindex_sql`.
    """
    s = F.decode(F.col("html"), "utf-8")
    contents = F.regexp_extract_all(s, F.lit(META_PATTERN), 2)
    names = F.regexp_extract_all(s, F.lit(META_PATTERN), 1)
    robots = F.zip_with(
        names,
        contents,
        lambda n, c: F.when(n == F.lit("robots"), c),
    )
    blocked = F.exists(
        robots,
        lambda c: c.isNotNull()
        & F.arrays_overlap(
            F.split(F.lower(c), _ROBOTS_SPLIT),
            F.array(F.lit("noindex"), F.lit("none")),
        ),
    )
    return pages.filter(~blocked)


def meta_robots_noindex_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`meta_robots_noindex` (html as VARCHAR);
    returns the kept rows of ``pages_cte``."""
    pat = META_PATTERN.replace("'", "''")
    return rf"""
WITH p AS ({pages_cte})
SELECT * FROM p
WHERE NOT COALESCE(
    len(list_filter(
        list_zip(regexp_extract_all(html, '{pat}', 1),
                 regexp_extract_all(html, '{pat}', 2)),
        z -> z[1] = 'robots' AND
             len(list_intersect(
                 string_split_regex(lower(z[2]), '[,\s]+'),
                 ['noindex', 'none'])) > 0)) > 0,
    FALSE)"""


# ---------------------------------------------------------------------------
# hreflang alternates — the high-precision bitext seed
# ---------------------------------------------------------------------------

HREFLANG_PATTERN = (
    r'<link rel="alternate" hreflang="([^"]*)" href="([^"]*)">'
)


def extract_hreflang(pages: DataFrame) -> DataFrame:
    """Per-page hreflang alternate table ``(url, hreflang, alt_url)``:
    every ``<link rel="alternate" hreflang="..." href="...">`` —
    the publisher-declared translation graph (the seed signal ParaCrawl
    / CCMatrix mine before any embedding alignment: hreflang clusters
    are high-precision parallel-page candidates). Same codegen
    extraction shape as :func:`extract_links`. DuckDB twin
    :func:`extract_hreflang_sql`."""
    s = F.decode(F.col("html"), "utf-8")
    langs = F.regexp_extract_all(s, F.lit(HREFLANG_PATTERN), 1)
    hrefs = F.regexp_extract_all(s, F.lit(HREFLANG_PATTERN), 2)
    pairs = F.zip_with(
        langs,
        hrefs,
        lambda l, h: F.struct(l.alias("hreflang"), h.alias("alt_url")),
    )
    return pages.select(F.col("url"), F.explode(pairs)).select(
        "url",
        F.col("col.hreflang").alias("hreflang"),
        F.col("col.alt_url").alias("alt_url"),
    )


def extract_hreflang_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`extract_hreflang`."""
    pat = HREFLANG_PATTERN.replace("'", "''")
    return rf"""
WITH p AS ({pages_cte}),
ext AS (SELECT url,
               regexp_extract_all(html, '{pat}', 1) AS langs,
               regexp_extract_all(html, '{pat}', 2) AS hrefs
        FROM p),
ix AS (SELECT url, unnest(generate_series(1, len(langs))) AS i,
              langs, hrefs FROM ext)
SELECT url, langs[i] AS hreflang, hrefs[i] AS alt_url
FROM ix"""


def hreflang_pairs(alternates: DataFrame) -> DataFrame:
    """Distinct cross-language page pairs from the declared alternates:
    ``(lang_a, url_a, lang_b, url_b)`` with ``(lang_a, url_a) <
    (lang_b, url_b)`` — every two alternates a page declares together
    form a translation-candidate pair (same-language alternates, e.g.
    en-US/en-GB regional variants collapsing to one primary subtag,
    are kept only when the full hreflang values differ). Pairs are
    deduplicated ACROSS declaring pages (each member of a translation
    set usually re-declares the whole set).

    Scale design (100 TB): pair expansion is the single-sort
    posting-list rule — group each declaring page's alternate list
    (bounded by the site's language count, dozens at most) and expand
    in place; the cross-page dedup is one map-side-combinable
    dropDuplicates on the pair key. No self-join of the corpus-width
    alternate table."""
    grouped = alternates.groupBy("url").agg(
        F.collect_list(F.struct("hreflang", "alt_url")).alias("alts")
    )
    return (
        grouped.select(F.explode("alts").alias("a"), "alts")
        .select("a", F.explode("alts").alias("b"))
        .filter(
            (F.col("a.hreflang") < F.col("b.hreflang"))
            | (
                (F.col("a.hreflang") == F.col("b.hreflang"))
                & (F.col("a.alt_url") < F.col("b.alt_url"))
            )
        )
        .select(
            F.col("a.hreflang").alias("lang_a"),
            F.col("a.alt_url").alias("url_a"),
            F.col("b.hreflang").alias("lang_b"),
            F.col("b.alt_url").alias("url_b"),
        )
        .dropDuplicates(["lang_a", "url_a", "lang_b", "url_b"])
    )


def hreflang_pairs_sql(alternates_cte: str) -> str:
    """DuckDB twin of :func:`hreflang_pairs` (``alternates_cte``
    exposes ``(url, hreflang, alt_url)``)."""
    return rf"""
WITH alts AS ({alternates_cte})
SELECT DISTINCT
       a.hreflang AS lang_a, a.alt_url AS url_a,
       b.hreflang AS lang_b, b.alt_url AS url_b
FROM alts a JOIN alts b
  ON a.url = b.url
 AND (a.hreflang < b.hreflang
      OR (a.hreflang = b.hreflang AND a.alt_url < b.alt_url))"""


# ---------------------------------------------------------------------------
# Sitemap surface — frontier discovery
# ---------------------------------------------------------------------------

SITEMAP_LOC_PATTERN = r"<loc>([^<]*)</loc>"


def extract_sitemap_urls(sitemaps: DataFrame) -> DataFrame:
    """Per-host sitemap URL table ``(host, pos, loc_url)``: every
    ``<loc>`` entry of a sitemap/sitemap-index XML body in document
    order — the publisher-declared URL inventory, the highest-quality
    frontier-discovery source a crawler has (URLs the site WANTS
    fetched, before any link graph is walked). Same codegen extraction
    shape as :func:`extract_links`. DuckDB twin
    :func:`extract_sitemap_urls_sql`."""
    locs = F.regexp_extract_all(
        F.col("xml"), F.lit(SITEMAP_LOC_PATTERN), 1
    )
    return sitemaps.select(
        "host", F.posexplode(locs)
    ).select(
        "host",
        F.col("pos").cast("int").alias("pos"),
        F.col("col").alias("loc_url"),
    )


def extract_sitemap_urls_sql(sitemaps_cte: str) -> str:
    """DuckDB twin of :func:`extract_sitemap_urls` (``sitemaps_cte``
    exposes ``(host, xml)``)."""
    pat = SITEMAP_LOC_PATTERN.replace("'", "''")
    return rf"""
WITH s AS ({sitemaps_cte}),
ext AS (SELECT host, regexp_extract_all(xml, '{pat}', 1) AS locs
        FROM s),
ix AS (SELECT host, unnest(generate_series(1, len(locs))) AS i, locs
       FROM ext)
SELECT host, CAST(i - 1 AS INT) AS pos, locs[i] AS loc_url
FROM ix"""


def frontier_discovery(
    sitemap_urls: DataFrame,
    crawled: DataFrame,
) -> DataFrame:
    """New-URL discovery: distinct canonicalized sitemap URLs NOT yet
    in the crawled set — the fetch-queue feed. Both sides canonicalize
    with the shared :func:`~rio_cogeo_spark.functions.text.
    canonical_url` (scheme/www/fragment/trailing-slash variants of an
    already-crawled page must not re-enter the queue). Returns
    ``(host, canon_url)`` distinct.

    Scale design (100 TB): one left-anti join keyed on the canonical
    URL — the sitemap side is inventory-bounded (what publishers
    declare), the crawled side projects to its join key only (16-byte
    scale: swap the key to a fingerprint and the anti-join to a Bloom
    prefilter + exact confirm, the :func:`~rio_cogeo_spark.operators.
    contamination.bloom_prefilter` pattern). DuckDB twin
    :func:`frontier_discovery_sql`.
    """
    from rio_cogeo_spark.functions.text import canonical_url, host_col

    sm = sitemap_urls.select(
        host_col(F.col("loc_url")).alias("host"),
        canonical_url(F.col("loc_url")).alias("canon_url"),
    ).distinct()
    seen = crawled.select(
        canonical_url(F.col("url")).alias("canon_url")
    ).distinct()
    return sm.join(seen, "canon_url", "left_anti").select(
        "host", "canon_url"
    )


def frontier_discovery_sql(sitemap_urls_cte: str, crawled_cte: str) -> str:
    """DuckDB twin of :func:`frontier_discovery` (``sitemap_urls_cte``
    exposes ``loc_url``; ``crawled_cte`` exposes ``url``)."""
    from rio_cogeo_spark.functions.text import CANONICAL_URL_SQL, HOST_SQL

    canon_loc = CANONICAL_URL_SQL.replace("url", "loc_url")
    host_loc = HOST_SQL.replace("url", "loc_url")
    return rf"""
WITH fd_sm0 AS ({sitemap_urls_cte}),
fd_cr AS ({crawled_cte}),
fd_sm AS (SELECT DISTINCT {host_loc} AS host, {canon_loc} AS canon_url
          FROM fd_sm0),
fd_seen AS (SELECT DISTINCT {CANONICAL_URL_SQL} AS canon_url FROM fd_cr)
SELECT host, canon_url FROM fd_sm
WHERE canon_url NOT IN (SELECT canon_url FROM fd_seen)"""
