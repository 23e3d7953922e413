"""Text / html functions for the web-page payload.

The html→text extractor is the engine's F13 (SURVEY.md §2.7): per the
input-hint invariant it must be **byte-identical** per url, so it is one
deterministic pure function used both to build the synthetic ``html``
column and to extract from it (locale- and regex-version-independent:
plain string slicing + a fixed entity table).

The analysis functions (token count, quality score, language-ID,
fingerprint) are built-in-expression builders (JVM-side, codegen'd — no
Python in the hot path) paired with DuckDB-oracle SQL snippets kept
adjacent so the two stay in sync.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BODY_OPEN = "<body><!--x-->"
BODY_CLOSE = "<!--/x--></body>"

# Fixed-order entity table: escape in this order, unescape in reverse.
_ENTITIES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]


def escape_text(s: str) -> str:
    for raw, ent in _ENTITIES:
        s = s.replace(raw, ent)
    return s


def unescape_text(s: str) -> str:
    for raw, ent in reversed(_ENTITIES):
        s = s.replace(ent, raw)
    return s


def build_html(text: str, lat: float, lon: float) -> bytes:
    """Templated page embedding a geotag (FIXTURES.md §1):
    ``<meta name="geo.position" content="{lat};{lon}">``."""
    return (
        "<!doctype html><html><head>"
        f'<meta name="geo.position" content="{lat!r};{lon!r}">'
        f"</head>{BODY_OPEN}{escape_text(text)}{BODY_CLOSE}</html>"
    ).encode("utf-8")


def extract_text(html: bytes) -> str:
    """Inverse of :func:`build_html` — the deterministic extractor whose
    output must be byte-identical to the source ``text`` per url."""
    s = html.decode("utf-8")
    i = s.index(BODY_OPEN) + len(BODY_OPEN)
    j = s.index(BODY_CLOSE, i)
    return unescape_text(s[i:j])


def html_from_text(text: Column, lat: Column, lon: Column) -> Column:
    """Column form of :func:`build_html` using JVM-side expressions.

    Uses the raw double columns via ``format_string('%r')``-free path:
    lat/lon are embedded with full precision via CAST to STRING — the
    geotag is parsed back by :func:`geotag_from_html` for round-trip tests.
    """
    body = F.concat(
        F.lit(BODY_OPEN),
        _escape_col(text),
        F.lit(BODY_CLOSE),
    )
    head = F.concat(
        F.lit('<!doctype html><html><head><meta name="geo.position" content="'),
        lat.cast("string"),
        F.lit(";"),
        lon.cast("string"),
        F.lit('"></head>'),
    )
    return F.encode(F.concat(head, body, F.lit("</html>")), "utf-8")


def text_from_html(html: Column) -> Column:
    """Column form of :func:`extract_text` (JVM-side substring/replace)."""
    s = F.decode(html, "utf-8")
    inner = F.substring_index(F.substring_index(s, BODY_CLOSE, 1), BODY_OPEN, -1)
    return _unescape_col(inner)


def geotag_from_html(html: Column) -> tuple[Column, Column]:
    """Parse the ``geo.position`` meta back out of the html binary."""
    s = F.decode(html, "utf-8")
    content = F.substring_index(F.substring_index(s, 'content="', -1), '">', 1)
    lat = F.substring_index(content, ";", 1).cast("double")
    lon = F.substring_index(content, ";", -1).cast("double")
    return lat, lon


def _escape_col(c: Column) -> Column:
    for raw, ent in _ENTITIES:
        c = F.replace(c, F.lit(raw), F.lit(ent))
    return c


def _unescape_col(c: Column) -> Column:
    for raw, ent in reversed(_ENTITIES):
        c = F.replace(c, F.lit(ent), F.lit(raw))
    return c


# --------------------------------------------------------------------------
# Text analysis (training-data pipeline ops). Each Spark builder has a
# matching `*_SQL` DuckDB expression; both operate on a `text` column.
# --------------------------------------------------------------------------

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


def tokens_col(text: Column) -> Column:
    """Whitespace token array (shared tokenizer for all text ops)."""
    return F.split(F.trim(text), r"\s+")


TOKENS_SQL = r"string_split_regex(trim(text), '\s+')"


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


TOKEN_COUNT_SQL = rf"len({TOKENS_SQL})"


# BPE-ish regex tokenizer (GPT-2-style pre-tokenization pattern, RE2-safe
# so Spark's Java regex and DuckDB's RE2 agree: no lookaround, no
# backrefs): contraction suffixes | space?-letters | space?-digits |
# space?-other-punct-runs. Whitespace-only runs are dropped.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"
# SQL string literal form (single quotes doubled)
_BPE_SQL_LIT = BPE_PATTERN.replace("'", "''")


def bpe_tokens(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


BPE_TOKEN_COUNT_SQL = rf"len(regexp_extract_all(text, '{_BPE_SQL_LIT}'))"


# THE cross-engine integer hash: first 15 hex chars of md5 as a 60-bit
# int. Single definition — dedup (simhash), sampling (uniform_hash) and
# the rolling fingerprint below all build on it; a prefix-length change
# here is the only place that could break oracle parity.
def md5_60(c: Column) -> Column:
    """60-bit integer from the md5 hex prefix; DuckDB twin
    :data:`MD5_60_SQL` (hex-literal cast)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


MD5_60_SQL = "CAST(('0x' || substr(md5({c}), 1, 15)) AS BIGINT)"


# Karp-Rabin rolling-hash fingerprint over cross-engine token hashes:
# fp = fold(tokens, acc -> (acc * B + h(tok)) % M), h(tok) = 60-bit md5
# prefix % M. B=131, M=2^31-1 keep every intermediate < 2^39 (exact in
# BIGINT on both engines). Empty token lists fold to 0.
_RH_BASE = 131
_RH_MOD = (1 << 31) - 1


def rolling_fingerprint(text: Column) -> Column:
    h = F.transform(
        tokens_col(text),
        lambda t: md5_60(t) % F.lit(_RH_MOD),
    )
    return F.aggregate(
        h,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * _RH_BASE + x) % _RH_MOD,
    )


# DuckDB list_reduce seeds with the first element; that equals the
# zero-seeded fold because (0*B + h1) % M == h1. Guard the empty list.
ROLLING_FINGERPRINT_SQL = rf"""CASE WHEN len({TOKENS_SQL}) = 0 THEN 0 ELSE
  list_reduce(
    list_transform({TOKENS_SQL},
      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {_RH_MOD}),
    (acc, x) -> (acc * {_RH_BASE} + x) % {_RH_MOD}) END"""


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^.,!?;:]", ""))


PUNCT_COUNT_SQL = r"length(regexp_replace(text, '[^.,!?;:]', '', 'g'))"


def stopword_count(text: Column) -> Column:
    return F.size(F.filter(tokens_col(text), lambda t: t.isin(STOPWORDS)))


STOPWORD_COUNT_SQL = rf"len(list_filter({TOKENS_SQL}, t -> t IN ({_SW_LIST})))"


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0, 1]: length band + punctuation
    sanity + stopword presence — the 'quality scoring' op of the
    training-data pipeline suite. Rounded to 6dp for oracle stability."""
    ntok = token_count(text).cast("double")
    npunct = punct_count(text).cast("double")
    nsw = stopword_count(text).cast("double")
    nchars = F.length(text).cast("double")
    length_term = F.least(ntok / F.lit(100.0), F.lit(1.0))
    punct_term = F.least(npunct / F.greatest(nchars, F.lit(1.0)) * F.lit(10.0), F.lit(1.0))
    sw_term = F.least(nsw / F.greatest(ntok, F.lit(1.0)) * F.lit(5.0), F.lit(1.0))
    return F.round((length_term + punct_term + sw_term) / F.lit(3.0), 6)


QUALITY_SCORE_SQL = rf"""round((
  least(CAST({TOKEN_COUNT_SQL} AS DOUBLE) / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
+ least(CAST({PUNCT_COUNT_SQL} AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1 AS DOUBLE)) * CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
+ least(CAST({STOPWORD_COUNT_SQL} AS DOUBLE) / greatest(CAST({TOKEN_COUNT_SQL} AS DOUBLE), CAST(1 AS DOUBLE)) * CAST(5 AS DOUBLE), CAST(1 AS DOUBLE))
) / CAST(3 AS DOUBLE), 6)"""


# n-gram-frequency language-ID heuristic: score per language = count of
# that language's marker words; argmax with a fixed tie-break order.
LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
}


def _lang_score(text: Column, lang: str) -> Column:
    return F.size(F.filter(tokens_col(text), lambda t: t.isin(LANG_MARKERS[lang])))


def lang_id(text: Column) -> Column:
    """Predicted language = argmax marker count, ties broken by the fixed
    en > es > de > fr order; 'und' when no marker hits."""
    s_en, s_es, s_de, s_fr = (_lang_score(text, g) for g in ("en", "es", "de", "fr"))
    best = F.greatest(s_en, s_es, s_de, s_fr)
    return (
        F.when(best == 0, F.lit("und"))
        .when(s_en == best, F.lit("en"))
        .when(s_es == best, F.lit("es"))
        .when(s_de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return rf"len(list_filter({TOKENS_SQL}, t -> t IN ({words})))"


LANG_ID_SQL = rf"""CASE
  WHEN greatest({_lang_score_sql('en')}, {_lang_score_sql('es')}, {_lang_score_sql('de')}, {_lang_score_sql('fr')}) = 0 THEN 'und'
  WHEN {_lang_score_sql('en')} = greatest({_lang_score_sql('en')}, {_lang_score_sql('es')}, {_lang_score_sql('de')}, {_lang_score_sql('fr')}) THEN 'en'
  WHEN {_lang_score_sql('es')} = greatest({_lang_score_sql('en')}, {_lang_score_sql('es')}, {_lang_score_sql('de')}, {_lang_score_sql('fr')}) THEN 'es'
  WHEN {_lang_score_sql('de')} = greatest({_lang_score_sql('en')}, {_lang_score_sql('es')}, {_lang_score_sql('de')}, {_lang_score_sql('fr')}) THEN 'de'
  ELSE 'fr' END"""


# --------------------------------------------------------------------------
# Repetition signal (Gopher-style duplicate-n-gram quality filter):
# documents dominated by repeated bigrams are boilerplate/spam. Pure
# JVM array expressions (no UDF) with an exact DuckDB twin.
# --------------------------------------------------------------------------


def word_bigrams_col(text: Column) -> Column:
    """NON-distinct word bigram array (repetition needs multiplicity —
    contrast :func:`~rio_cogeo_spark.operators.dedup.shingles_col`,
    which is distinct). zip-of-slices, NOT transform-over-sequence: an
    index lambda re-evaluates the token split per element (O(L²) splits
    per row); slicing evaluates it twice."""
    toks = tokens_col(text)
    n = F.size(toks)
    gram = F.zip_with(
        F.slice(toks, F.lit(1), n - 1),
        F.slice(toks, F.lit(2), n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # slice() rejects negative lengths, so empty/1-token docs short-circuit
    return F.when(n >= 2, gram).otherwise(F.array().cast("array<string>"))


def repetition_stats(text: Column) -> dict[str, Column]:
    """Duplicate-bigram repetition signals: ``n_bigrams``,
    ``n_distinct_bigrams``, ``top_bigram_count`` (occurrences of the most
    frequent bigram) and ``dup_bigram_frac`` (fraction of bigram slots
    occupied by repeats, 6dp). O(L²) per row in the distinct-scan, fine
    for document-length L; everything stays in whole-stage codegen."""
    bg = word_bigrams_col(text)
    n = F.size(bg)
    nd = F.size(F.array_distinct(bg))
    top = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(bg),
                lambda d: F.size(F.filter(bg, lambda b: b == d)),
            )
        ),
        F.lit(0),
    )
    frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round((n - nd).cast("double") / n.cast("double"), 6)
    )
    return {
        "n_bigrams": n,
        "n_distinct_bigrams": nd,
        "top_bigram_count": top,
        "dup_bigram_frac": frac,
    }


def repetition_sql() -> str:
    """Full DuckDB twin of :func:`repetition_stats`. Stages toks/bg
    through CTE columns so lambdas reference a materialized list instead
    of re-splitting the text per element (the naive inline form is
    O(L³) splits per row and ~35s on 500 docs; this is milliseconds)."""
    return rf"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
b AS (SELECT doc_id,
             list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                            i -> array_to_string(toks[i:i+1], ' ')) AS bg
      FROM t),
st AS (SELECT doc_id, bg, len(bg) AS n, list_distinct(bg) AS dbg FROM b)
SELECT doc_id,
       CAST(n AS INT) AS n_bigrams,
       CAST(len(dbg) AS INT) AS n_distinct_bigrams,
       CAST(coalesce(list_max(list_transform(dbg,
                d -> len(list_filter(bg, x -> x = d)))), 0) AS INT)
           AS top_bigram_count,
       CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
            ELSE round(CAST(n - len(dbg) AS DOUBLE) / CAST(n AS DOUBLE), 6)
       END AS dup_bigram_frac
FROM st"""


# --------------------------------------------------------------------------
# URL canonicalization (per-domain aggregation is the unit of most
# crawl-pipeline policies: rate caps, domain blocklists, quality priors).
# --------------------------------------------------------------------------


def host_col(url: Column) -> Column:
    """Canonical host: strip the scheme at the FIRST '://' (a second
    '://' inside a path/query — redirect params embedding another URL —
    must not win), take up to the first '/', drop a leading 'www.'.
    Scheme-less input passes through whole. String ops only — no
    Java-vs-RE2 regex divergence. Twin: :data:`HOST_SQL`.

    ``substring_index(url, '://', 2)`` = text before the 2nd occurrence
    (the whole string when there are <2), so taking its last-'://'
    suffix yields the after-FIRST-occurrence remainder for any count.
    """
    after_scheme = F.substring_index(
        F.substring_index(url, "://", 2), "://", -1
    )
    h = F.substring_index(after_scheme, "/", 1)
    return F.when(h.startswith("www."), F.substring(h, 5, 1 << 30)).otherwise(h)


_HOST_CORE = (
    "split_part(CASE WHEN strpos(url, '://') > 0 "
    "THEN substr(url, strpos(url, '://') + 3) ELSE url END, '/', 1)"
)
HOST_SQL = (
    f"CASE WHEN {_HOST_CORE} LIKE 'www.%' "
    f"THEN substr({_HOST_CORE}, 5) ELSE {_HOST_CORE} END"
)


def canonical_url(url: Column) -> Column:
    """Canonical URL for re-crawl snapshot dedup: scheme stripped at the
    FIRST '://' (same guard as :func:`host_col`), leading 'www.'
    dropped, '#fragment' removed, trailing '/' run stripped. Query
    strings are KEPT — they address distinct content. String ops plus
    one anchored '/+$' regex (identical semantics in Java regex and
    DuckDB's RE2). Twin: :data:`CANONICAL_URL_SQL`.

    Unlike :func:`host_col`, the whole path/query survives, so the
    scheme strip must cut at the first '://' WITHOUT truncating a
    second one embedded in a query param (host_col's double
    substring_index would) — hence locate + substring."""
    pos = F.locate("://", url)
    after_scheme = F.when(
        pos > 0, F.substring(url, pos + F.lit(3), F.lit(1 << 30))
    ).otherwise(url)
    no_www = F.when(
        after_scheme.startswith("www."), F.substring(after_scheme, 5, 1 << 30)
    ).otherwise(after_scheme)
    return F.regexp_replace(F.substring_index(no_www, "#", 1), "/+$", "")


_SCHEMELESS = (
    "CASE WHEN strpos(url, '://') > 0 "
    "THEN substr(url, strpos(url, '://') + 3) ELSE url END"
)
CANONICAL_URL_SQL = (
    "regexp_replace(split_part("
    f"CASE WHEN {_SCHEMELESS} LIKE 'www.%' "
    f"THEN substr({_SCHEMELESS}, 5) ELSE {_SCHEMELESS} END"
    ", '#', 1), '/+$', '')"
)


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized lowercase
    text. MD5 is the cross-engine-identical hash (Spark ``md5`` ==
    DuckDB ``md5``), standing in for the reference-free rolling hash;
    a true rolling-hash variant lives in operators/dedup.py (pandas UDF)."""
    norm = F.lower(F.array_join(tokens_col(text), " "))
    return F.md5(F.encode(norm, "utf-8"))


FINGERPRINT_SQL = rf"md5(lower(array_to_string({TOKENS_SQL}, ' ')))"


# --------------------------------------------------------------------------
# PII scrubbing — redact before anything ships to a training corpus
# --------------------------------------------------------------------------

# Dialect-safe patterns: no lookaround, no backrefs, ASCII classes only —
# identical semantics under Java regex (Spark) and RE2 (DuckDB).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_IDNUM_RE = r"\b\d{7,}\b"

_PII_STAGES = (
    ("n_emails", PII_EMAIL_RE, "<EMAIL>"),
    ("n_ips", PII_IPV4_RE, "<IP>"),
    ("n_ids", PII_IDNUM_RE, "<ID>"),
)


def pii_scrub_cols(text: Column) -> dict:
    """Redaction columns: ``{n_emails, n_ips, n_ids, clean_text}``.

    Staged left-to-right (emails, then IPv4s, then 7+-digit ID runs),
    each stage counting on the previous stage's redacted text, so a
    digit run inside an already-redacted email is not double-counted —
    and the staging composes identically in the SQL twin
    (:func:`pii_scrub_sql`). Pure JVM regexp expressions in one
    whole-stage-codegen projection: stateless, shuffle-free, linear at
    any corpus size.

    Reference analog: rio-cogeo strips GDAL-internal metadata before
    writing user-facing output (cogeo.py:400-435 tag filtering); this is
    the web-corpus equivalent — strip personal identifiers before the
    payload is published to a training set.
    """
    cols = {}
    cur = text
    for name, pattern, token in _PII_STAGES:
        cols[name] = F.regexp_count(cur, F.lit(pattern))
        cur = F.regexp_replace(cur, pattern, token)
    cols["clean_text"] = cur
    return cols


def pii_scrub(df: DataFrame, keep_text: bool = True) -> DataFrame:
    """Append PII redaction columns to ``df`` (see
    :func:`pii_scrub_cols`). ``keep_text=False`` drops the raw text —
    the production shape, where unredacted bytes must not flow past
    this operator."""
    cols = pii_scrub_cols(F.col("text"))
    out = df.withColumns(cols)
    return out.drop("text") if not keep_text else out


def pii_scrub_sql() -> dict:
    """DuckDB twins of :func:`pii_scrub_cols` (same staging order)."""
    cols = {}
    cur = "text"
    for name, pattern, token in _PII_STAGES:
        pat = pattern.replace("'", "''")
        cols[name] = f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS INT)"
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    cols["clean_text"] = cur
    return cols


# ---------------------------------------------------------------------------
# Unicode NFC normalization (Arrow-batched pandas UDF — Spark has no
# built-in Unicode normalizer; this is the one text op where the Python
# path is genuinely required, so it runs vectorized per Arrow batch,
# never per row)
# ---------------------------------------------------------------------------


def _nfc_batch(s):
    import unicodedata

    return s.map(
        lambda x: unicodedata.normalize("NFC", x) if x is not None else None
    )


def nfc_col(text: Column) -> Column:
    """Unicode NFC composition of ``text`` (combining sequences fold to
    precomposed forms: 'cafe'+U+0301 → 'café'). Twin: DuckDB
    ``nfc_normalize`` — both sides implement Unicode canonical
    composition, so outputs are byte-identical."""
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_nfc_batch, "string")(text)


def normalize_text(text: Column) -> Column:
    """Crawl-text normalization: NFC composition, whitespace runs
    collapsed to one space, ends trimmed. The NFC step is the pandas
    UDF (unavoidable Python); the whitespace pass stays JVM-side.
    Twin: :data:`NORMALIZE_TEXT_SQL`."""
    return F.trim(F.regexp_replace(nfc_col(text), r"\s+", " "))


NORMALIZE_TEXT_SQL = (
    r"trim(regexp_replace(nfc_normalize({c}), '\s+', ' ', 'g'))"
)


# ---------------------------------------------------------------------------
# Readability (Flesch reading-ease family) — a classic corpus quality
# signal (too-low = academic/legalese walls, too-high = fragment spam);
# pipelines bucket on it alongside the Gopher rules. All counts are JVM
# regexp expressions and the score is exact scaled-integer arithmetic,
# so it hashes identically against the DuckDB twin.

_SENT_PATTERN = r"[.!?]+"
_SYLL_PATTERN = r"[aeiouy]+"


def readability_stats() -> dict:
    """Per-row readability columns over the ``text`` column (the exact
    integer ``div`` arithmetic is built as SQL expression text,
    mirroring the DuckDB twin verbatim):

    * ``n_words`` — shared whitespace tokenizer count;
    * ``n_sentences`` — terminal-punctuation runs (``[.!?]+``);
    * ``n_syllables`` — lowercase vowel-group runs (the standard
      syllable PROXY; exact syllabification needs a dictionary);
    * ``flesch_milli`` — Flesch reading ease x1000 in exact BIGINT:
      ``206835 - (1015*words) div max(sentences,1)
      - (84600*syllables) div max(words,1)``
      (the float constants 206.835 / 1.015 / 84.6 scaled to integers;
      zero-denominator guards make empty docs well-defined instead of
      NULL; ``div`` keeps every intermediate in exact int64 — a
      ``floor(a/b)`` would round through doubles past 2^53).

    Everything is whole-stage-codegen projection work — zero joins,
    zero shuffles, linear scan at any corpus size.
    """
    words = r"CAST(size(split(trim(text), '\\s+')) AS BIGINT)"
    sent = r"CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)"
    syll = (
        r"CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
        r" AS BIGINT)"
    )
    flesch = (
        f"CAST(206835 AS BIGINT)"
        f" - (1015 * {words}) div greatest({sent}, 1L)"
        f" - (84600 * {syll}) div greatest({words}, 1L)"
    )
    return {
        "n_words": F.expr(words),
        "n_sentences": F.expr(sent),
        "n_syllables": F.expr(syll),
        "flesch_milli": F.expr(flesch),
    }


READABILITY_SQL = {
    "n_words": f"CAST({TOKEN_COUNT_SQL} AS BIGINT)",
    "n_sentences": r"CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)",
    "n_syllables": (
        r"CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)"
    ),
}
READABILITY_SQL["flesch_milli"] = (
    f"CAST(206835 - (1015 * {READABILITY_SQL['n_words']})"
    f" // GREATEST({READABILITY_SQL['n_sentences']}, 1)"
    f" - (84600 * {READABILITY_SQL['n_syllables']})"
    f" // GREATEST({READABILITY_SQL['n_words']}, 1) AS BIGINT)"
)


def blockword_stats(
    text: Column, blockwords: "list[str]", case_insensitive: bool = True
) -> "dict[str, Column]":
    """C4-style blocklist word-rate filter (Raffel et al. JMLR'20 drop
    pages containing "bad words"; production filters threshold on the
    RATE, not mere presence, to spare medical/educational pages): per
    page, the count of token occurrences that exactly match the
    blocklist and the rate in exact ppm ints.

    Token-exact matching (not substring), so "assess" never trips a
    blocked "ass" — the classic C4 false-positive. Matching lowercases
    by default. Returns ``{"block_hits", "block_ppm"}`` columns; pure
    JVM expressions (array_contains over a literal array folded by
    ``filter``/``size``), zero joins — the list is a plan literal, the
    1k-word production list stays far under the codegen limit.
    """
    words = sorted({w.lower() if case_insensitive else w for w in blockwords})
    toks = tokens_col(text)
    probe = (
        F.transform(toks, lambda t: F.lower(t)) if case_insensitive else toks
    )
    arr = F.array(*[F.lit(w) for w in words])
    hits = F.size(F.filter(probe, lambda t: F.array_contains(arr, t)))
    n = F.size(toks)
    # bigint/bigint is true division in Spark; the product stays under
    # 2^53 (hits*1e6 <= ~9e12 for million-token pages), so the double is
    # exact and the bigint cast floors it — identical to DuckDB's `//`
    return {
        "block_hits": hits.cast("long"),
        "block_ppm": (
            (hits.cast("bigint") * F.lit(1_000_000))
            / F.greatest(n.cast("bigint"), F.lit(1))
        ).cast("bigint"),
    }


def blockword_stats_sql(blockwords: "list[str]") -> "dict[str, str]":
    """DuckDB twins of :func:`blockword_stats` (same token-exact
    semantics; integer division floors like the Spark cast)."""
    words = sorted({w.lower() for w in blockwords})
    lst = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    probe = f"list_transform({TOKENS_SQL}, t -> lower(t))"
    hits = f"len(list_filter({probe}, t -> list_contains([{lst}], t)))"
    return {
        "block_hits": f"CAST({hits} AS BIGINT)",
        "block_ppm": (
            f"CAST(({hits} * 1000000) // greatest(len({TOKENS_SQL}), 1)"
            f" AS BIGINT)"
        ),
    }


# Gopher quality-rule thresholds (Rae et al. 2021 "Scaling Language
# Models", Appendix A — public method), in exact-int ppm/x100 form so
# the gate hashes identically cross-engine.
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEANLEN_X100 = 300     # mean word length in [3, 10]
GOPHER_MAX_MEANLEN_X100 = 1_000
GOPHER_MAX_SYMBOL_PPM = 100_000   # symbol (#/…) to word ratio <= 0.1
GOPHER_MIN_ALPHA_PPM = 800_000    # >= 80% words contain a letter
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_DUPBG_PPM = 200_000    # duplicate-bigram share <= 0.2


def gopher_gate(text: Column) -> "dict[str, Column]":
    """Composite Gopher quality-rule gate: the published document-level
    filters, evaluated in exact integers and folded into a FAIL BITMASK
    (bit set = rule violated) so a pipeline can both filter
    (``gopher_pass``) and report WHY documents die (per-bit
    aggregation), which the paper's ablations require.

        bit 0  token count outside [50, 100k]
        bit 1  mean word length outside [3, 10]
        bit 2  symbol-to-word ratio > 0.1      (# and … marks)
        bit 3  alphabetic-word share < 80%
        bit 4  fewer than 2 stopword hits
        bit 5  duplicate-bigram share > 20%

    Returns ``{"gopher_mask", "gopher_pass"}``. Pure projection (array
    lambdas + regex counts), zero joins — the repetition bit reuses
    :func:`word_bigrams_col` exactly as :func:`repetition_stats` does.
    """
    toks = tokens_col(text)
    n = F.size(toks)
    nn = F.greatest(n.cast("bigint"), F.lit(1))
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    meanlen_x100 = (sum_len * F.lit(100)) / nn
    sym = F.length(F.regexp_replace(text, r"[^#…]", "")).cast("bigint")
    sym_ppm = (sym * F.lit(1_000_000)) / nn
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast(
        "bigint"
    )
    alpha_ppm = (alpha * F.lit(1_000_000)) / nn
    sw = stopword_count(text)
    bg = word_bigrams_col(text)
    nbg = F.greatest(F.size(bg).cast("bigint"), F.lit(1))
    dup_ppm = (
        (F.size(bg) - F.size(F.array_distinct(bg))).cast("bigint")
        * F.lit(1_000_000)
    ) / nbg
    bits = [
        (n < GOPHER_MIN_TOKENS) | (n > GOPHER_MAX_TOKENS),
        (meanlen_x100 < GOPHER_MIN_MEANLEN_X100)
        | (meanlen_x100 > GOPHER_MAX_MEANLEN_X100),
        sym_ppm > GOPHER_MAX_SYMBOL_PPM,
        alpha_ppm < GOPHER_MIN_ALPHA_PPM,
        sw < GOPHER_MIN_STOPWORDS,
        dup_ppm > GOPHER_MAX_DUPBG_PPM,
    ]
    mask = None
    for i, b in enumerate(bits):
        term = F.when(b, F.lit(1 << i)).otherwise(F.lit(0))
        mask = term if mask is None else mask + term
    mask = mask.cast("int")
    return {"gopher_mask": mask, "gopher_pass": mask == 0}


def gopher_gate_sql() -> "dict[str, str]":
    """DuckDB twins of :func:`gopher_gate` (same exact-int thresholds;
    the true-division ratios stay under 2^53 so the double comparisons
    agree bit-for-bit with Spark's)."""
    n = f"len({TOKENS_SQL})"
    nn = f"greatest({n}, 1)"
    sum_len = f"coalesce(list_sum(list_transform({TOKENS_SQL}, t -> length(t))), 0)"
    meanlen = f"(CAST({sum_len} AS BIGINT) * 100) / {nn}"
    sym = "length(regexp_replace(text, '[^#…]', '', 'g'))"
    sym_ppm = f"(CAST({sym} AS BIGINT) * 1000000) / {nn}"
    alpha = (
        f"len(list_filter({TOKENS_SQL}, t -> regexp_matches(t, '[A-Za-z]')))"
    )
    alpha_ppm = f"(CAST({alpha} AS BIGINT) * 1000000) / {nn}"
    bg = (
        f"list_transform(generate_series(1, greatest({n} - 1, 0)), "
        f"i -> array_to_string(({TOKENS_SQL})[i:i+1], ' '))"
    )
    nbg = f"greatest(len({bg}), 1)"
    dup_ppm = (
        f"(CAST(len({bg}) - len(list_distinct({bg})) AS BIGINT) * 1000000)"
        f" / {nbg}"
    )
    bits = [
        f"({n} < {GOPHER_MIN_TOKENS} OR {n} > {GOPHER_MAX_TOKENS})",
        f"({meanlen} < {GOPHER_MIN_MEANLEN_X100} "
        f"OR {meanlen} > {GOPHER_MAX_MEANLEN_X100})",
        f"({sym_ppm} > {GOPHER_MAX_SYMBOL_PPM})",
        f"({alpha_ppm} < {GOPHER_MIN_ALPHA_PPM})",
        f"({STOPWORD_COUNT_SQL} < {GOPHER_MIN_STOPWORDS})",
        f"({dup_ppm} > {GOPHER_MAX_DUPBG_PPM})",
    ]
    mask = " + ".join(
        f"(CASE WHEN {b} THEN {1 << i} ELSE 0 END)" for i, b in enumerate(bits)
    )
    return {
        "gopher_mask": f"CAST({mask} AS INT)",
        "gopher_pass": f"(CAST({mask} AS INT) = 0)",
    }


# --------------------------------------------------------------------------
# Unicode script mix — the pre-language-ID routing signal: which writing
# system(s) a page uses. CCNet/fastText-style pipelines route pages to
# per-script language models before n-gram lang-ID; a page mixing scripts
# (spam keyword stuffing, bilingual boilerplate) is its own signal. All
# ranges are BMP, so Spark's UTF-16 `length` (code units) and DuckDB's
# code-point `length` agree exactly.
# --------------------------------------------------------------------------

SCRIPT_RANGES: "list[tuple[str, str]]" = [
    ("latin", "A-Za-z"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("cjk", "一-鿿"),
    ("arabic", "؀-ۿ"),
    ("hangul", "가-힯"),
    ("devanagari", "ऀ-ॿ"),
]


def script_counts(text: Column) -> "dict[str, Column]":
    """Per-script character counts (chars-in-class = length minus length
    after stripping the class) — one codegen projection, no UDF."""
    return {
        name: F.length(text) - F.length(F.regexp_replace(text, f"[{rng}]", ""))
        for name, rng in SCRIPT_RANGES
    }


def script_mix(text: Column) -> "dict[str, Column]":
    """Dominant-script election over :data:`SCRIPT_RANGES`: returns
    ``script_chars`` (total chars in any known script), ``dom_script``
    (first-listed script reaching the max count — deterministic
    tie-break by list order; ``'none'`` when no script chars), and
    ``dom_ppm`` (dominant's exact-integer ppm share of script chars).
    DuckDB twin :func:`script_mix_sql`."""
    counts = script_counts(text)
    cols = list(counts.values())
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    m = F.greatest(*cols)
    dom = F.lit("none")
    for name, _ in reversed(SCRIPT_RANGES):
        # reversed fold so the FIRST max in list order wins the chain
        dom = F.when(counts[name] == m, F.lit(name)).otherwise(dom)
    dom = F.when(total == 0, F.lit("none")).otherwise(dom)
    dom_cnt = F.when(total == 0, F.lit(0)).otherwise(m).cast("long")
    # exact integer ppm without an `expr` escape: a and b are BIGINT,
    # (a - a % b) is an exact multiple of b, and multiples divide
    # exactly in double below 2^53 (a <= length * 10^6 ~ 10^12)
    a = dom_cnt * F.lit(1000000)
    b = F.greatest(total, F.lit(1)).cast("long")
    return {
        "script_chars": total.cast("long"),
        "dom_script": dom,
        "dom_ppm": ((a - a % b) / b).cast("long"),
    }


def script_mix_sql() -> "dict[str, str]":
    """DuckDB twin of :func:`script_mix` (same election order, same
    integer ppm; RE2 char classes with the same literal BMP ranges)."""
    cnt = {
        name: (
            f"(length(text) - length(regexp_replace(text, "
            f"'[{rng}]', '', 'g')))"
        )
        for name, rng in SCRIPT_RANGES
    }
    total = " + ".join(cnt.values())
    m = "greatest(" + ", ".join(cnt.values()) + ")"
    whens = " ".join(
        f"WHEN {cnt[name]} = {m} THEN '{name}'" for name, _ in SCRIPT_RANGES
    )
    dom = f"(CASE WHEN ({total}) = 0 THEN 'none' {whens} END)"
    dom_cnt = f"(CASE WHEN ({total}) = 0 THEN 0 ELSE {m} END)"
    return {
        "script_chars": f"CAST(({total}) AS BIGINT)",
        "dom_script": dom,
        "dom_ppm": (
            f"CAST((CAST({dom_cnt} AS BIGINT) * 1000000)"
            f" // greatest({total}, 1) AS BIGINT)"
        ),
    }


# Mojibake signatures: UTF-8 bytes of common non-ASCII chars decoded as
# Latin-1/cp1252 — the classic double-encoding corruption a crawl
# pipeline must gate on (é->Ã©, ’->â€™, “->â€œ, U+FFFD replacement).
# Plain literal alternation: identical semantics in Java regex (Spark)
# and RE2 (DuckDB).
MOJIBAKE_PATTERN = (
    "Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã±|Ã³|Ã§|â€™|â€œ|â€˜|â€”|â€“|Â»|Â«|ï¿½|�"
)


def mojibake_cols(text: Column) -> "dict[str, Column]":
    """Encoding-corruption signals per document: ``n_moji`` (total
    mojibake-signature hits), ``n_repl`` (U+FFFD replacement chars —
    already-lossy decode), ``clean`` (1 when neither appears). Pure
    JVM regexp expressions in whole-stage codegen — the pii_scrub
    discipline; no UDF, no shuffle."""
    n_moji = F.regexp_count(text, F.lit(MOJIBAKE_PATTERN)).cast("long")
    n_repl = F.regexp_count(text, F.lit("ï¿½|�")).cast("long")
    return {
        "n_moji": n_moji,
        "n_repl": n_repl,
        "clean": (n_moji == 0).cast("int"),
    }


def mojibake_sql(text_expr: str = "text") -> "dict[str, str]":
    """DuckDB twin of :func:`mojibake_cols`."""
    return {
        "n_moji": (
            f"CAST(len(regexp_extract_all({text_expr},"
            f" '{MOJIBAKE_PATTERN}')) AS BIGINT)"
        ),
        "n_repl": (
            f"CAST(len(regexp_extract_all({text_expr},"
            f" 'ï¿½|�')) AS BIGINT)"
        ),
        "clean": (
            f"CAST(CASE WHEN len(regexp_extract_all({text_expr},"
            f" '{MOJIBAKE_PATTERN}')) = 0 THEN 1 ELSE 0 END AS INT)"
        ),
    }
