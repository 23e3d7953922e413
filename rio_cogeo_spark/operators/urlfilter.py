"""Domain-blocklist URL filtering — the crawl-pipeline gatekeeper stage
(C4/RefinedWeb-style curated blocklists run before any text processing).

Blocking is by DOMAIN SUFFIX: an entry ``bad.example`` blocks the host
``bad.example`` and every subdomain (``a.bad.example``), never the
unrelated ``notbad.example``. Suffix matching can't equi-join on the
raw host, so each host expands to its dot-suffix chain
(``a.b.c → [a.b.c, b.c, c]`` — bounded by DNS label count, ~4-6) and
membership is tested against that array.

Two execution paths by blocklist size:

* a Python list/set (curated lists, up to ~10^5 entries) ships as a
  plan literal and the test is one JVM ``arrays_overlap`` — zero joins,
  zero shuffles, whole-stage codegen;
* a DataFrame (web-scale lists) goes through explode → semi-join →
  anti-join by id, both joins on small/thin sides (AQE broadcasts the
  blocklist when it fits).
"""

from __future__ import annotations

from typing import Iterable, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import HOST_SQL, host_col


def domain_suffixes(url: Column) -> Column:
    """Dot-suffix chain of the canonical host, most-specific first.
    Twin: :data:`DOMAIN_SUFFIXES_SQL`."""
    parts = F.split(host_col(url), "\\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(".", F.slice(parts, i, n)),
    )


DOMAIN_SUFFIXES_SQL = (
    "list_transform(generate_series(1, len(string_split({host}, '.'))), "
    "i -> array_to_string(string_split({host}, '.')[i:], '.'))"
).format(host=HOST_SQL)


def blocklist_filter(
    pages: DataFrame,
    blocklist: Union[Iterable[str], DataFrame],
) -> DataFrame:
    """Rows of ``pages`` whose URL host matches NO blocklist entry by
    domain suffix. ``blocklist`` is an iterable of domains (literal
    ``arrays_overlap`` path) or a single-column DataFrame of domains
    (join path for lists too big to inline)."""
    sfx = domain_suffixes(F.col("url"))
    if isinstance(blocklist, DataFrame):
        dom = blocklist.columns[0]
        blocked = (
            pages.select("doc_id", F.explode(sfx).alias("_sfx"))
            .join(blocklist, F.col("_sfx") == F.col(dom), "leftsemi")
            .select("doc_id")
            .distinct()
        )
        return pages.join(blocked, "doc_id", "left_anti")
    domains = sorted(set(blocklist))
    if not domains:
        return pages
    lit = F.array(*[F.lit(d) for d in domains])
    return pages.filter(~F.arrays_overlap(sfx, lit))


def blocklist_filter_sql(table: str, domains: Iterable[str]) -> str:
    """DuckDB twin of the literal-list path (suffix semantics
    identical). ``DOMAIN_SUFFIXES_SQL`` reads a column literally named
    ``url``, matching :data:`HOST_SQL`."""
    arr = ", ".join("'" + d.replace("'", "''") + "'" for d in sorted(set(domains)))
    return (
        f"SELECT * FROM {table} WHERE NOT list_has_any("
        f"{DOMAIN_SUFFIXES_SQL}, [{arr}])"
    )


def path_pattern_filter(
    pages: DataFrame,
    patterns: Iterable[str],
    case_insensitive: bool = True,
) -> DataFrame:
    """Rows of ``pages`` whose URL contains NONE of the literal
    ``patterns`` — the path/query gatekeeper beside the domain
    blocklist (``/login``, ``?sessionid=``, ``/cgi-bin/``, ``.exe`` —
    the C4/crawler "bad URL" heuristics are substring rules, not
    domains). Patterns are LITERAL substrings, not regexes: crawl
    blocklists are curated as literals, and literal `contains` is
    engine-portable (Java vs RE2 regex dialects diverge) and
    whole-stage-codegen friendly.

    Scale design: the pattern list ships as a plan literal and the test
    is one JVM ``exists(array, p -> contains(url, p))`` — zero joins,
    zero shuffles, fully pushed into the scan stage. Case-insensitive
    by default (URLs are mixed-case in the wild); the lowercase is
    applied to both sides once.
    """
    pats = sorted(set(patterns))
    if not pats:
        return pages
    url = F.col("url")
    if case_insensitive:
        url = F.lower(url)
        pats = [p.lower() for p in pats]
    lit = F.array(*[F.lit(p) for p in pats])
    return pages.filter(
        ~F.exists(lit, lambda p: url.contains(p))
    )


def path_pattern_filter_sql(table: str, patterns: Iterable[str]) -> str:
    """DuckDB twin of :func:`path_pattern_filter`."""
    pats = [p.lower() for p in sorted(set(patterns))]
    arr = ", ".join("'" + p.replace("'", "''") + "'" for p in pats)
    return (
        f"SELECT * FROM {table} WHERE len(list_filter([{arr}], "
        f"p -> contains(lower(url), p))) = 0"
    )


# ---------------------------------------------------------------------------
# URL canonicalization


_TRACKING_PARAM = r"[?&](?:utm_[a-z0-9]+|fbclid|gclid|msclkid)=[^&#]*"
_SCHEME_HOST = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*"


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL — the crawl-dedup normalizer that runs
    BEFORE exact URL dedup (``dedup.url_dedup_latest``): variants that
    differ only in fragment, tracking parameters, host case, ``www.``
    prefix, default port, or a trailing slash collapse to one key.

    Rules (each a deliberate, documented choice — canonicalization is
    policy, not discovery):

    1. drop the ``#fragment``;
    2. drop tracking parameters (``utm_*``, ``fbclid``, ``gclid``,
       ``msclkid``), then repair the query-string punctuation
       (dangling ``?``/``&``, ``&`` that should have been ``?``);
    3. lowercase the ``scheme://host`` prefix (paths stay
       case-sensitive per RFC 3986), strip a ``www.`` host prefix and
       an explicit default port (``:80``/``:443``);
    4. strip one trailing ``/``.

    Every step is a JVM regexp/string expression (plan literal, zero
    joins, zero shuffles, whole-stage codegen) using only RE2-safe
    syntax — no lookaround, no backrefs in patterns — so the DuckDB
    twin :func:`canonical_url_sql` is byte-identical.
    """
    u = F.regexp_replace(url, r"#.*$", "")
    u = F.regexp_replace(u, _TRACKING_PARAM, "")
    # an '&' directly after the path (its '?' was consumed with a
    # dropped first tracking param) becomes the new '?'
    u = F.regexp_replace(u, r"^([^?#]*)&", r"$1?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    prefix = F.regexp_extract(u, _SCHEME_HOST, 0)
    rest = F.substring(u, F.length(prefix) + 1, F.lit(2_147_483_647))
    pfx = F.lower(prefix)
    pfx = F.regexp_replace(pfx, r":(80|443)$", "")
    pfx = F.regexp_replace(pfx, r"://www\.", "://")
    u = F.concat(pfx, rest)
    return F.regexp_replace(u, r"/$", "")


CANONICAL_URL_SQL_COL = "__CANON_INPUT__"


def canonical_url_sql() -> str:
    """DuckDB twin of :func:`canonical_url` (RE2 'g' flag where Spark
    replaces all; ``\\1`` instead of ``$1``)."""
    u = f"regexp_replace(url, '#.*$', '', 'g')"
    u = f"regexp_replace({u}, '{_TRACKING_PARAM}', '', 'g')"
    u = f"regexp_replace({u}, '^([^?#]*)&', '\\1?', 'g')"
    u = f"regexp_replace({u}, '[?&]+$', '', 'g')"
    pfx = f"lower(regexp_extract({u}, '{_SCHEME_HOST}'))"
    pfx = f"regexp_replace({pfx}, ':(80|443)$', '', 'g')"
    pfx = f"regexp_replace({pfx}, '://www\\.', '://', 'g')"
    rest = f"substring({u}, length(regexp_extract({u}, '{_SCHEME_HOST}')) + 1)"
    return f"regexp_replace({pfx} || {rest}, '/$', '', 'g')"


def resolve_redirects(redirects: DataFrame, max_hops: int = 16) -> DataFrame:
    """Resolve HTTP redirect chains to their terminal URL by POINTER
    DOUBLING: each round composes the partial map with itself
    (``f ∘ f``), so a chain of length L resolves in ``ceil(log2 L)``
    self-joins instead of L sequential ones — the same O(log n)
    round discipline as the connected-components suite, and the crawl
    canonicalization step (dedup must credit content to the FINAL
    URL, not the hop that served the 301).

    ``redirects`` is the redirect map (one row per source URL; callers
    dedupe — a source with two targets is crawl noise). Returns one
    row per map source: ``(src, final_url, hops, resolved)`` where
    ``hops`` is the EXACT chain length walked (hop counts add under
    doubling: ``h' = h(x) + h(f(x))``), ``resolved`` is false when
    the terminal is still a map key after ``max_hops`` — i.e. the
    chain exceeds ``max_hops`` or ends in a redirect LOOP (a→b→a
    never terminates; the bounded doubling surfaces it instead of
    spinning).

    Scale design (100 TB crawl): every table is redirect-map-bounded
    (sources that 3xx'd), never corpus-bounded; each round is ONE
    co-partitioned self-join on the chase key + a projection; rounds =
    ``ceil(log2(max_hops))`` regardless of map size; per-round
    localCheckpoint pins lineage. DuckDB twin
    :func:`resolve_redirects_sql` (the same doubling, unrolled).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    import math

    rounds = max(1, math.ceil(math.log2(max_hops)))
    f = redirects.select(
        F.col("src"),
        F.col("dst").alias("cur"),
        F.lit(1).cast("long").alias("hops"),
    )
    keys = redirects.select(F.col("src").alias("k")).distinct()
    for _ in range(rounds):
        nxt = f.select(
            F.col("src").alias("src2"),
            F.col("cur").alias("cur2"),
            F.col("hops").alias("hops2"),
        )
        f = (
            f.join(nxt, f["cur"] == nxt["src2"], "left")
            .select(
                "src",
                F.coalesce("cur2", "cur").alias("cur"),
                (
                    F.col("hops") + F.coalesce(F.col("hops2"), F.lit(0))
                ).alias("hops"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        f.join(keys, f["cur"] == keys["k"], "left")
        .select(
            "src",
            F.col("cur").alias("final_url"),
            "hops",
            F.col("k").isNull().alias("resolved"),
        )
    )


def resolve_redirects_sql(redirects_cte: str) -> str:
    """DuckDB twin of :func:`resolve_redirects` (``redirects_cte``
    exposes ``(src, dst)``)."""
    rounds = 4  # ceil(log2(16)): chains of up to 16 hops, resolve_redirects' default
    parts = [
        f"WITH rr_m AS ({redirects_cte})",
        "rr_f0 AS (SELECT src, dst AS cur, CAST(1 AS BIGINT) AS hops"
        " FROM rr_m)",
    ]
    for i in range(rounds):
        parts.append(
            f"rr_f{i + 1} AS (SELECT a.src,"
            f" COALESCE(b.cur, a.cur) AS cur,"
            f" a.hops + COALESCE(b.hops, 0) AS hops"
            f" FROM rr_f{i} a LEFT JOIN rr_f{i} b ON a.cur = b.src)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT f.src, f.cur AS final_url, f.hops,"
        f" (m.src IS NULL) AS resolved\n"
        f"FROM rr_f{rounds} f LEFT JOIN (SELECT DISTINCT src FROM rr_m) m"
        f" ON f.cur = m.src"
    )


def robots_rules(robots: DataFrame) -> DataFrame:
    """Parse ``robots.txt`` bodies into per-host Disallow rules for the
    wildcard agent: ``(host, prefix)`` — one row per non-empty
    ``Disallow:`` path prefix governed by a ``User-agent`` run that
    names ``*``. Per the de-facto grammar, a rule block belongs to the
    nearest preceding CONTIGUOUS run of ``User-agent:`` lines, and the
    block applies to the wildcard if ANY line of that run names ``*``
    (multi-agent runs share their block); other agents' sections and
    ``Allow:`` are ignored — the conservative reading a polite
    crawler defaults to. Values are taken after the FIRST colon, so a
    path containing ':' survives.

    Engine-exact: body → indexed line table (posexplode); UA runs via
    gaps-and-islands (``run = i − running UA count``, one
    host-partitioned window), per-run wildcard flag via a second
    window over the (host, run) partition, governing run per rule
    line via a running MAX of ``(i, run_star)`` structs — all window
    groups are lines-per-robots.txt (dozens). DuckDB twin
    :func:`robots_rules_sql`.
    """
    lines = robots.select(
        "host",
        F.posexplode(F.split(F.col("body"), "\n")).alias("i", "line"),
    ).select("host", "i", F.trim("line").alias("line"))
    low = F.lower(F.col("line"))
    after_colon = F.trim(F.expr("substring(line, instr(line, ':') + 1)"))
    w_run = (
        Window.partitionBy("host")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = lines.select(
        "host", "i", "line",
        low.startswith("user-agent:").cast("int").alias("is_ua"),
        (after_colon == "*").alias("is_star_val"),
    ).withColumn(
        "run", F.col("i") - F.sum("is_ua").over(w_run)
    )
    w_grp = Window.partitionBy("host", "is_ua", "run")
    with_star = flagged.withColumn(
        "run_star",
        F.when(
            F.col("is_ua") == 1,
            F.max(F.col("is_star_val").cast("int")).over(w_grp) == 1,
        ),
    )
    w_cur = (
        Window.partitionBy("host")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sectioned = with_star.withColumn(
        "cur_ua",
        F.max(
            F.when(
                F.col("is_ua") == 1,
                F.struct(F.col("i").alias("ua_i"), F.col("run_star")),
            )
        ).over(w_cur),
    )
    return (
        sectioned.filter(
            F.coalesce(F.col("cur_ua.run_star"), F.lit(False))
            & F.lower(F.col("line")).startswith("disallow:")
        )
        .select(
            "host",
            F.trim(F.expr("substring(line, instr(line, ':') + 1)")).alias(
                "prefix"
            ),
        )
        .filter(F.length("prefix") > 0)
        .distinct()
    )


def robots_rules_sql(robots_cte: str) -> str:
    """DuckDB twin of :func:`robots_rules` (``robots_cte`` exposes
    ``(host, body)``)."""
    return r"""
WITH rb_in AS (__CTE__),
rb_lines0 AS (SELECT host, string_split(body, chr(10)) AS ls FROM rb_in),
rb_lines AS (SELECT host, i - 1 AS i, trim(ls[i]) AS line
             FROM rb_lines0, unnest(generate_series(1, len(ls))) r(i)),
rb_flag AS (SELECT host, i, line,
                   CASE WHEN lower(line) LIKE 'user-agent:%'
                        THEN 1 ELSE 0 END AS is_ua,
                   trim(substr(line, strpos(line, ':') + 1)) = '*'
                       AS is_star_val
            FROM rb_lines),
rb_run AS (SELECT *,
                  i - SUM(is_ua) OVER (PARTITION BY host ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS run
           FROM rb_flag),
rb_star AS (SELECT *,
                   CASE WHEN is_ua = 1 THEN
                       MAX(CASE WHEN is_star_val THEN 1 ELSE 0 END)
                       OVER (PARTITION BY host, is_ua, run) = 1
                   END AS run_star
            FROM rb_run),
rb_sec AS (SELECT *,
                  MAX(CASE WHEN is_ua = 1
                      THEN STRUCT_PACK(ua_i := i, run_star := run_star)
                      END)
                  OVER (PARTITION BY host ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cur_ua
           FROM rb_star)
SELECT DISTINCT host,
       trim(substr(line, strpos(line, ':') + 1)) AS prefix
FROM rb_sec
WHERE COALESCE(cur_ua.run_star, FALSE)
  AND lower(line) LIKE 'disallow:%'
  AND length(trim(substr(line, strpos(line, ':') + 1))) > 0""".replace(
        "__CTE__", robots_cte
    )


def url_path_col(url: Column) -> Column:
    """URL path incl. leading '/' ('/' when absent); string ops only,
    consistent with :func:`~rio_cogeo_spark.functions.text.host_col`'s
    scheme handling. Twin :data:`URL_PATH_SQL`."""
    after_scheme = F.substring_index(
        F.substring_index(url, "://", 2), "://", -1
    )
    pos = F.locate("/", after_scheme)
    return F.when(pos > 0, F.substring(after_scheme, pos, F.lit(1 << 30))
                  ).otherwise(F.lit("/"))


URL_PATH_SQL = (
    "CASE WHEN strpos({a}, '/') > 0"
    " THEN substr({a}, strpos({a}, '/')) ELSE '/' END"
).format(
    a="(CASE WHEN strpos(url, '://') > 0"
      " THEN substr(url, strpos(url, '://') + 3) ELSE url END)"
)


def robots_filter(pages: DataFrame, robots: DataFrame) -> DataFrame:
    """Respect ``robots.txt``: drop pages whose URL path starts with
    any of their host's wildcard-agent Disallow prefixes (prefix
    match, the original robots.txt semantics). The crawl-level
    politeness step beside the page-level
    :func:`~rio_cogeo_spark.operators.links.meta_robots_noindex`.

    Scale design (100 TB): rules fold to ONE array row per host
    (host-bounded — a robots corpus is hosts, not pages) and
    BROADCAST-join onto the pages; the block decision is a per-row
    ``exists(startswith)`` over that array — the corpus never
    shuffles. Pages on hosts with no robots entry are kept. DuckDB
    twin :func:`robots_filter_sql`.
    """
    from rio_cogeo_spark.functions.text import host_col

    rules = (
        robots_rules(robots)
        .groupBy("host")
        .agg(F.collect_list("prefix").alias("prefixes"))
    )
    tagged = pages.withColumn(
        "__host", host_col(F.col("url"))
    ).withColumn("__path", url_path_col(F.col("url")))
    kept = (
        tagged.join(
            F.broadcast(rules),
            tagged["__host"] == rules["host"],
            "left",
        )
        .filter(
            F.col("prefixes").isNull()
            | ~F.exists(
                "prefixes", lambda p: F.col("__path").startswith(p)
            )
        )
    )
    return kept.drop("__host", "__path", "host", "prefixes")


def robots_filter_sql(pages_cte: str, robots_cte: str) -> str:
    """DuckDB twin of :func:`robots_filter`; returns the kept rows of
    ``pages_cte`` (which must expose ``url``)."""
    from rio_cogeo_spark.functions.text import HOST_SQL

    rules = robots_rules_sql(robots_cte)
    return rf"""
WITH rf_pages AS ({pages_cte}),
rf_rules AS (SELECT host, list(prefix) AS prefixes
             FROM ({rules}) GROUP BY 1),
rf_tagged AS (SELECT p.*, {HOST_SQL} AS rf_host,
                     {URL_PATH_SQL} AS rf_path
              FROM rf_pages p)
SELECT * EXCLUDE (rf_host, rf_path, prefixes, host)
FROM rf_tagged t LEFT JOIN rf_rules r ON t.rf_host = r.host
WHERE r.prefixes IS NULL
   OR NOT len(list_filter(r.prefixes,
                          pf -> starts_with(t.rf_path, pf))) > 0"""
