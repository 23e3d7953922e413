"""Hyperlink extraction + anchor-text rollup (operators/links.py):
document-order extraction from the html binary, host canonicalization
of both endpoints, deterministic top-anchor election, DuckDB twins."""

import pytest
from pyspark.sql import functions as F
from test_plan_shapes import plan_of

from rio_cogeo_spark.operators.links import (
    anchor_stats,
    anchor_stats_sql,
    extract_links,
    extract_links_sql,
)

PAGES = [
    ("https://a.example/1",
     '<p>x</p><a href="https://b.example/">Bee</a>'
     '<a href="https://www.c.example/about">see sea</a>'
     '<a href="https://b.example/2"></a>'),
    ("https://a.example/2", "<p>no links here</p>"),
    ("https://www.d.example/",
     '<a href="https://b.example/">Bee</a><a href="https://b.example/">Aye</a>'),
]


def _pages_df(spark):
    return spark.createDataFrame(PAGES, "url string, page string").select(
        "url", F.encode(F.col("page"), "utf-8").alias("html")
    )


def test_extract_links_golden(spark):
    got = sorted(
        tuple(r) for r in extract_links(_pages_df(spark)).collect()
    )
    assert got == sorted([
        ("https://a.example/1", 0, "https://b.example/", "Bee"),
        ("https://a.example/1", 1, "https://www.c.example/about", "see sea"),
        ("https://a.example/1", 2, "https://b.example/2", ""),
        ("https://www.d.example/", 0, "https://b.example/", "Bee"),
        ("https://www.d.example/", 1, "https://b.example/", "Aye"),
    ])


def test_anchor_stats_golden_and_tiebreak(spark):
    got = {
        r.dst_host: (r.n_links, r.n_src_hosts, r.top_anchor,
                     r.top_anchor_count)
        for r in anchor_stats(extract_links(_pages_df(spark))).collect()
    }
    # b.example: 4 links from hosts {a.example, d.example}; anchor counts
    # Bee=2, Aye=1, ''=1 -> top is Bee
    assert got["b.example"] == (4, 2, "Bee", 2)
    # c.example reached via its www. alias -> canonicalized
    assert got["c.example"] == (1, 1, "see sea", 1)
    # tie-break: equal counts elect the lexicographically smallest anchor
    df = spark.createDataFrame(
        [("https://x.example/", "https://t.example/", a) for a in
         ("zeta", "alpha", "mid")],
        "src_url string, dst_url string, anchor string",
    )
    top = anchor_stats(df).collect()[0]
    assert (top.top_anchor, top.top_anchor_count) == ("alpha", 1)


def test_links_match_duckdb_twins(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    got_links = sorted(
        tuple(r) for r in extract_links(_pages_df(spark)).collect()
    )
    got_stats = sorted(
        tuple(r)
        for r in anchor_stats(extract_links(_pages_df(spark))).collect()
    )
    con = duckdb.connect()
    con.register("pp", pd.DataFrame(PAGES, columns=["url", "html"]))
    pages_cte = "SELECT url, html FROM pp"
    links_sql = extract_links_sql(pages_cte)
    want_links = sorted(tuple(r) for r in con.execute(links_sql).fetchall())
    assert got_links == want_links
    want_stats = sorted(
        tuple(r)
        for r in con.execute(anchor_stats_sql(links_sql)).fetchall()
    )
    assert got_stats == want_stats


# --- meta-tag surface ------------------------------------------------------

from rio_cogeo_spark.operators.links import (  # noqa: E402
    extract_meta,
    extract_meta_sql,
    meta_robots_noindex,
    meta_robots_noindex_sql,
)

META_PAGES = [
    ("https://a.example/1",
     '<meta name="robots" content="noindex, follow">'
     '<meta name="description" content="drop me">'),
    ("https://a.example/2",
     '<meta name="robots" content="index, follow">'
     '<meta name="description" content="keep me">'),
    ("https://a.example/3", '<meta name="robots" content="NONE">'),
    ("https://a.example/4", "<p>no meta at all</p>"),
    ("https://a.example/5",
     # second robots tag blocks even though the first allows
     '<meta name="robots" content="index">'
     '<meta name="robots" content="nofollow,NoIndex">'),
    ("https://a.example/6",
     # 'noindexplease' is NOT the token noindex -> keep
     '<meta name="robots" content="noindexplease">'),
]


def _meta_df(spark):
    return spark.createDataFrame(META_PAGES, "url string, page string").select(
        "url", F.encode(F.col("page"), "utf-8").alias("html")
    )


def test_extract_meta_golden(spark):
    got = sorted(tuple(r) for r in extract_meta(_meta_df(spark)).collect())
    assert ("https://a.example/1", 0, "robots", "noindex, follow") in got
    assert ("https://a.example/1", 1, "description", "drop me") in got
    assert len([g for g in got if g[0] == "https://a.example/4"]) == 0
    assert len(got) == 8


def test_meta_robots_noindex_semantics(spark):
    kept = {r.url for r in meta_robots_noindex(_meta_df(spark)).collect()}
    assert kept == {
        "https://a.example/2",   # explicit index
        "https://a.example/4",   # no meta
        "https://a.example/6",   # substring but not the token
    }


def test_meta_twins_match_duckdb(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    con = duckdb.connect()
    con.register("mp", pd.DataFrame(META_PAGES, columns=["url", "html"]))
    got_meta = sorted(tuple(r) for r in extract_meta(_meta_df(spark)).collect())
    want_meta = sorted(
        tuple(r)
        for r in con.execute(
            extract_meta_sql("SELECT url, html FROM mp")
        ).fetchall()
    )
    assert got_meta == want_meta
    got_kept = sorted(
        r.url for r in meta_robots_noindex(_meta_df(spark)).collect()
    )
    want_kept = sorted(
        r[0]
        for r in con.execute(
            "SELECT url FROM ("
            + meta_robots_noindex_sql("SELECT url, html FROM mp")
            + ")"
        ).fetchall()
    )
    assert got_kept == want_kept


def test_meta_robots_plan_is_filter_only(spark):
    plan = plan_of(meta_robots_noindex(_meta_df(spark)))
    assert "Exchange" not in plan and "Join" not in plan


# --- hreflang alternates ---------------------------------------------------

from rio_cogeo_spark.operators.links import (  # noqa: E402
    extract_hreflang,
    extract_hreflang_sql,
    hreflang_pairs,
    hreflang_pairs_sql,
)

HREF_PAGES = [
    # a 3-language translation set, re-declared by two of its members
    ("https://x.example/en",
     '<link rel="alternate" hreflang="en" href="https://x.example/en">'
     '<link rel="alternate" hreflang="de" href="https://x.example/de">'
     '<link rel="alternate" hreflang="zh" href="https://x.example/zh">'),
    ("https://x.example/de",
     '<link rel="alternate" hreflang="en" href="https://x.example/en">'
     '<link rel="alternate" hreflang="de" href="https://x.example/de">'
     '<link rel="alternate" hreflang="zh" href="https://x.example/zh">'),
    # regional variants: same primary subtag, different hreflang values
    ("https://y.example/",
     '<link rel="alternate" hreflang="en-US" href="https://y.example/us">'
     '<link rel="alternate" hreflang="en-GB" href="https://y.example/gb">'),
    ("https://z.example/", "<p>no alternates</p>"),
]


def _href_df(spark):
    return spark.createDataFrame(HREF_PAGES, "url string, page string").select(
        "url", F.encode(F.col("page"), "utf-8").alias("html")
    )


def test_hreflang_extract_and_pairs(spark):
    alts = extract_hreflang(_href_df(spark))
    assert alts.count() == 8  # 3 + 3 + 2 + 0
    pairs = sorted(
        tuple(r) for r in hreflang_pairs(alts).collect()
    )
    # the re-declared set dedups to its 3 pairs; the regional page adds 1
    assert pairs == sorted([
        ("de", "https://x.example/de", "en", "https://x.example/en"),
        ("de", "https://x.example/de", "zh", "https://x.example/zh"),
        ("en", "https://x.example/en", "zh", "https://x.example/zh"),
        ("en-GB", "https://y.example/gb", "en-US", "https://y.example/us"),
    ])


def test_hreflang_matches_duckdb_twin(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    con = duckdb.connect()
    con.register("hp", pd.DataFrame(HREF_PAGES, columns=["url", "html"]))
    alts_sql = extract_hreflang_sql("SELECT url, html FROM hp")
    got_alts = sorted(
        tuple(r) for r in extract_hreflang(_href_df(spark)).collect()
    )
    assert got_alts == sorted(tuple(r) for r in con.execute(alts_sql).fetchall())
    got_pairs = sorted(
        tuple(r)
        for r in hreflang_pairs(extract_hreflang(_href_df(spark))).collect()
    )
    want_pairs = sorted(
        tuple(r)
        for r in con.execute(hreflang_pairs_sql(alts_sql)).fetchall()
    )
    assert got_pairs == want_pairs


# --- sitemap surface -------------------------------------------------------

from rio_cogeo_spark.operators.links import (  # noqa: E402
    extract_sitemap_urls,
    extract_sitemap_urls_sql,
    frontier_discovery,
    frontier_discovery_sql,
)


def test_sitemap_extract_and_frontier(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    sitemaps = [
        ("a.example",
         "<urlset><url><loc>https://a.example/old</loc></url>"
         "<url><loc>https://a.example/new1</loc></url>"
         "<url><loc>https://a.example/new1</loc></url></urlset>"),
        ("b.example", "<urlset></urlset>"),
    ]
    sm_df = spark.createDataFrame(sitemaps, "host string, xml string")
    urls = extract_sitemap_urls(sm_df)
    got_urls = sorted(tuple(r) for r in urls.collect())
    assert got_urls == [
        ("a.example", 0, "https://a.example/old"),
        ("a.example", 1, "https://a.example/new1"),
        ("a.example", 2, "https://a.example/new1"),
    ]
    # crawled holds a www/scheme/trailing-slash VARIANT of /old -> only
    # new1 surfaces, deduped
    crawled = spark.createDataFrame(
        [("http://www.a.example/old/",)], "url string"
    )
    got_new = sorted(
        tuple(r) for r in frontier_discovery(urls, crawled).collect()
    )
    assert got_new == [("a.example", "a.example/new1")]

    con = duckdb.connect()
    con.register("sm", pd.DataFrame(sitemaps, columns=["host", "xml"]))
    sm_sql = extract_sitemap_urls_sql("SELECT host, xml FROM sm")
    want_urls = sorted(tuple(r) for r in con.execute(sm_sql).fetchall())
    assert got_urls == want_urls
    want_new = sorted(
        tuple(r)
        for r in con.execute(
            frontier_discovery_sql(
                sm_sql, "SELECT 'http://www.a.example/old/' AS url"
            )
        ).fetchall()
    )
    assert got_new == want_new
