"""URL/domain curation tier: canonicalization, URL-level dedup,
domain-reputation gating, per-domain caps, and HTML boilerplate strip.

Every serious web-training-data pipeline (C4, CCNet, RefinedWeb,
Dolma) runs a URL layer BEFORE any content-level dedup: canonicalize
the URL (case, default ports, tracking params, fragments), drop exact
re-crawls of the same canonical URL, gate whole domains on reputation
signals, and cap the number of pages any one domain may contribute so
a single hub cannot dominate the mix. The reference has no URL tier
(its documents land keyed by id — dbt/promptly/models/curated/
curated_provider.sql:1-20); this module supplies the operators the
100 TB web-corpus path needs.

The fixture corpus carries no URL column, so the registered queries
stage a deterministic URL per document from its existing columns
(source → registrable domain, doc_id → subdomain/scheme/port/tracking
variation) — the same synthesize-then-verify pattern the CDC tier
uses for Kafka envelopes (cdc/envelope.py). The staging is mirrored
verbatim in the DuckDB oracles, so the canonicalizer is value-checked
end to end: every RAW url is unique (tracking params carry doc_id),
while canonical URLs collide exactly on (domain, page) groups — the
canonicalizer must do real work for the dedup counts to match.

Scale design (100 TB):
- canonicalization, host/domain extraction and HTML strip are pure
  column expression trees — zero shuffle, whole-stage codegen, pinned
  by tests/test_plan_quality.py::test_url_canonicalize_map_side;
- URL dedup is ONE window keyed by canonical URL (the key a crawler
  would bucket by anyway);
- the domain-reputation census output is domain-sized (tiny against
  the corpus) and BROADCASTs into the gate join — the document stream
  never shuffles to be filtered (pinned:
  test_domain_gate_census_broadcast);
- the per-domain cap is ONE window keyed by domain. Nothing collects,
  nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

# Tracking parameters dropped by canonicalization (the C4 / common
# crawler convention: session and campaign noise, not content).
# utm_* is a prefix family; the rest are matched by EXACT key so
# refresh=, refund_id=, gclsrc= etc. survive.
TRACKING_PREFIX = "utm_"
TRACKING_KEYS = ("fbclid", "gclid", "ref")
DOMAIN_CAP = 10  # max pages one domain may contribute (Gopher-style)
GATE_MIN_AVG_CHARS = 290.0  # reputation gate: thin-content domains


# ---------------------------------------------------------------------------
# staging: deterministic URL per document (mirrored in _STAGE_SQL)
# ---------------------------------------------------------------------------

# page group: docs of one source alternate between two pages, so each
# (domain, page) canonical group holds many docs at every SF (doc_ids
# 40 apart share source AND page — guaranteed collisions even at the
# 50-row parity fixture).
_STAGE_SQL = """
      SELECT doc_id, source, lang, text, n_chars,
             (CASE WHEN doc_id % 3 = 0 THEN 'HTTP'
                   WHEN doc_id % 3 = 1 THEN 'https' ELSE 'Https' END)
             || '://'
             || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0
                      THEN upper('site-' || source || '.com')
                      ELSE 'site-' || source || '.com' END)
             || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
             || '/p/' || CAST((doc_id // 20) % 2 AS VARCHAR)
             || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
             || '?'
             || (CASE WHEN doc_id % 2 = 0
                      THEN 'page=' || CAST((doc_id // 20) % 2 AS VARCHAR)
                           || '&a=' || CAST((doc_id // 20) % 2 AS VARCHAR)
                           || '&utm_campaign=c' || CAST(doc_id AS VARCHAR)
                      ELSE 'utm_source=s' || CAST(doc_id AS VARCHAR)
                           || '&a=' || CAST((doc_id // 20) % 2 AS VARCHAR)
                           || '&page=' || CAST((doc_id // 20) % 2 AS VARCHAR)
                 END)
             || '#s' || CAST(doc_id % 3 AS VARCHAR) AS url
      FROM documents
"""


def stage_urls(docs: DataFrame) -> DataFrame:
    """documents + a deterministic ``url`` column (see _STAGE_SQL —
    the DuckDB mirror is the contract; this is the same expression as
    DataFrame ops). Raw URLs are all distinct; canonical forms collide
    on (source, page-group)."""
    d = F.col("doc_id")
    page = ((d / 20).cast("bigint") % 2).cast("string")
    scheme = (
        F.when(d % 3 == 0, F.lit("HTTP"))
        .when(d % 3 == 1, F.lit("https"))
        .otherwise(F.lit("Https"))
    )
    www = F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    base = F.concat(F.lit("site-"), F.col("source"), F.lit(".com"))
    host = F.when(d % 4 == 0, F.upper(base)).otherwise(base)
    port = F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    slash = F.when(d % 6 == 0, F.lit("/")).otherwise(F.lit(""))
    qs = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("page="), page, F.lit("&a="), page,
            F.lit("&utm_campaign=c"), d.cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("utm_source=s"), d.cast("string"),
            F.lit("&a="), page, F.lit("&page="), page,
        )
    )
    url = F.concat(
        scheme, F.lit("://"), www, host, port,
        F.lit("/p/"), page, slash, F.lit("?"), qs,
        F.lit("#s"), (d % 3).cast("string"),
    )
    return docs.select("doc_id", "source", "lang", "text", "n_chars", url.alias("url"))


# ---------------------------------------------------------------------------
# canonicalization (pure expressions; SQL fragments mirror each step)
# ---------------------------------------------------------------------------

def _strip_scheme_frag(url: Column) -> Column:
    """fragment off, scheme off — leaves host[:port]/path[?query]."""
    return F.regexp_replace(
        F.regexp_replace(url, "#.*$", ""), "^[A-Za-z][A-Za-z0-9+.-]*://", ""
    )


def host_of(url: Column) -> Column:
    """Lowercased host with 'www.' and default ports stripped."""
    rest = _strip_scheme_frag(url)
    h = F.lower(F.regexp_extract(rest, "^([^/?]+)", 1))
    return F.regexp_replace(F.regexp_replace(h, "^www\\.", ""), ":(443|80)$", "")


def registrable_domain(host: Column) -> Column:
    """Last-two-labels heuristic for the registrable domain (a real
    deployment consults the public-suffix list, which is not shipped
    here; for *.com/org/net style hosts the heuristic is exact).
    Dotless hosts (localhost, bare intranet names) fall back to the
    host itself rather than pooling into one '' bucket — that would
    let the reputation gate and the per-domain cap treat every
    intranet host as a single domain."""
    d = F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    return F.when(d == "", host).otherwise(d)


def canonical_url(url: Column) -> Column:
    """Canonical form: scheme folded to https, host lowercased with
    www./default-port stripped, fragment dropped, trailing slash
    trimmed, tracking params (utm_*, fbclid, gclid, ref) dropped and
    the survivors sorted — the dedup key a crawler stores."""
    rest = _strip_scheme_frag(url)
    host = host_of(url)
    path = F.regexp_replace(
        F.regexp_extract(rest, "^[^/?]+(/[^?]*)?", 1), "/+$", ""
    )
    raw_q = F.regexp_extract(rest, "\\?(.*)$", 1)
    # Tracking params are dropped by EXACT key (TRACKING_KEYS); only
    # TRACKING_PREFIX (utm_) stays a prefix rule.  Matching the raw
    # 'k=v' token by prefix would also eat refresh=, refund_id=,
    # gclsrc=, ... and silently collapse distinct pages into one
    # canonical key. Both engines derive from the SAME constants
    # (the DuckDB mirror interpolates them into _CANON_SQL below).
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(raw_q, "&"),
                lambda p: (p != "")
                & ~p.startswith(TRACKING_PREFIX)
                & ~F.split(p, "=", 2).getItem(0).isin(*TRACKING_KEYS),
            )
        ),
        "&",
    )
    return F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )


# DuckDB mirror of canonical_url/host_of/registrable_domain over a
# staged CTE exposing ``url`` — composed into each oracle below.
# The tracking-param fragments interpolate the SAME module constants
# the Spark expression uses, so editing TRACKING_PREFIX/TRACKING_KEYS
# changes both engines in lockstep (review finding: hardcoded literal
# twins desynchronize silently).
_SQL_PREFIX_LIKE = TRACKING_PREFIX.replace("_", "\\_") + "%"
_SQL_KEYS_IN = ", ".join(f"'{k}'" for k in TRACKING_KEYS)
_CANON_SQL = f"""
      SELECT *,
             'https://' || chost || cpath
             || (CASE WHEN ckept = '' THEN '' ELSE '?' || ckept END) AS curl,
             chost AS host,
             CASE WHEN regexp_extract(chost, '([^.]+\\.[^.]+)$', 1) = ''
                  THEN chost
                  ELSE regexp_extract(chost, '([^.]+\\.[^.]+)$', 1)
             END AS domain
      FROM (
        SELECT *,
               regexp_replace(
                 regexp_replace(lower(regexp_extract(crest, '^([^/?]+)', 1)),
                                '^www\\.', ''),
                 ':(443|80)$', '') AS chost,
               regexp_replace(
                 coalesce(regexp_extract(crest, '^[^/?]+(/[^?]*)?', 1), ''),
                 '/+$', '') AS cpath,
               array_to_string(
                 list_sort(list_filter(string_split(
                     coalesce(regexp_extract(crest, '\\?(.*)$', 1), ''), '&'),
                   p -> p <> '' AND NOT (p LIKE '{_SQL_PREFIX_LIKE}' ESCAPE '\\')
                        AND NOT string_split(p, '=')[1]
                                IN ({_SQL_KEYS_IN}))),
                 '&') AS ckept
        FROM (
          SELECT *,
                 regexp_replace(regexp_replace(url, '#.*$', ''),
                                '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS crest
          FROM staged
        )
      )
"""


def _canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = stage_urls(table(spark, sf_dir, "documents"))
    host = host_of(F.col("url"))
    return s.select(
        "doc_id",
        "n_chars",
        "url",
        canonical_url(F.col("url")).alias("curl"),
        host.alias("host"),
        registrable_domain(host).alias("domain"),
    )


@query(
    "url_canonicalize",
    oracle=f"""
    WITH staged AS ({_STAGE_SQL}),
    canon AS ({_CANON_SQL})
    SELECT doc_id, url, curl, host, domain FROM canon
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over the staged corpus: every raw URL is
    unique (tracking params embed doc_id), so any canonical collision
    the dedup tier sees is MADE by this operator. Map-side only."""
    return _canonicalized(spark, sf_dir).select("doc_id", "url", "curl", "host", "domain")


@query(
    "url_dedup_canonical",
    oracle=f"""
    WITH staged AS ({_STAGE_SQL}),
    canon AS ({_CANON_SQL}),
    ranked AS (
      SELECT doc_id, curl,
             row_number() OVER (PARTITION BY curl
                                ORDER BY n_chars DESC, doc_id) AS rk,
             CAST(count(*) OVER (PARTITION BY curl) AS BIGINT) AS n_dups
      FROM canon
    )
    SELECT curl, doc_id AS kept_doc_id, n_dups FROM ranked WHERE rk = 1
    """,
)
def url_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (the C4 re-crawl filter): one survivor per
    canonical URL — longest content wins, doc_id tiebreak. ONE window
    shuffle keyed by the canonical URL."""
    c = _canonicalized(spark, sf_dir)
    w = Window.partitionBy("curl").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        c.select(
            "doc_id",
            "curl",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(Window.partitionBy("curl")).cast("bigint").alias("n_dups"),
        )
        .filter(F.col("rk") == 1)
        .select("curl", F.col("doc_id").alias("kept_doc_id"), "n_dups")
    )


def domain_stats(c: DataFrame) -> DataFrame:
    """Per-domain census: (domain, n_docs, sum_chars, avg_chars,
    blocked). avg is exact — division of identical bigints on both
    engines. Output is domain-sized: broadcastable by construction."""
    return c.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        (
            F.sum("n_chars").cast("double") / F.count("*") < F.lit(GATE_MIN_AVG_CHARS)
        ).alias("blocked"),
    )


_DOMAIN_STATS_SQL = f"""
      SELECT domain,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
             CAST(sum(n_chars) AS DOUBLE) / count(*) < {GATE_MIN_AVG_CHARS}
               AS blocked
      FROM canon GROUP BY domain
"""


@query(
    "domain_reputation_gate",
    oracle=f"""
    WITH staged AS ({_STAGE_SQL}),
    canon AS ({_CANON_SQL})
    {_DOMAIN_STATS_SQL}
    """,
)
def domain_reputation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-reputation census (RefinedWeb's URL filtering, driven by
    content stats instead of a shipped blocklist): domains whose mean
    document length falls below the gate are flagged for exclusion.
    The census is the small side — downstream gates broadcast it."""
    return domain_stats(_canonicalized(spark, sf_dir))


@query(
    "sample_domain_cap",
    oracle=f"""
    WITH staged AS ({_STAGE_SQL}),
    canon AS ({_CANON_SQL})
    SELECT domain, doc_id, rk FROM (
      SELECT domain, doc_id,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM canon
    ) WHERE rk <= {DOMAIN_CAP}
    """,
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (Gopher-style): keep at most
    {DOMAIN_CAP} pages per registrable domain, best content first
    (n_chars desc, doc_id tiebreak). ONE window keyed by domain —
    Spark rewrites the rank+filter to WindowGroupLimit, so the
    per-partition top-K is computed map-side before the shuffle."""
    c = _canonicalized(spark, sf_dir)
    w = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        c.select("domain", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= DOMAIN_CAP)
    )


@query(
    "web_url_curation",
    oracle=f"""
    WITH staged AS ({_STAGE_SQL}),
    canon AS ({_CANON_SQL}),
    survivors AS (
      SELECT domain, doc_id, n_chars FROM (
        SELECT domain, doc_id, n_chars,
               row_number() OVER (PARTITION BY curl
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM canon
      ) WHERE rk = 1
    ),
    stats AS ({_DOMAIN_STATS_SQL}),
    gated AS (
      SELECT s.* FROM survivors s
      JOIN stats st USING (domain) WHERE NOT st.blocked
    ),
    capped AS (
      SELECT domain, doc_id, n_chars FROM (
        SELECT domain, doc_id, n_chars,
               row_number() OVER (PARTITION BY domain
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM gated
      ) WHERE rk <= {DOMAIN_CAP}
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM capped GROUP BY domain
    """,
)
def web_url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end URL-layer curation composite: canonicalize →
    URL-dedup (keep-best per canonical) → domain-reputation gate
    (broadcast census semi-join) → per-domain cap → per-domain yield
    report. The chain a web pipeline runs BEFORE content dedup; one
    lazy plan, two window shuffles + one domain-keyed aggregate, the
    census broadcast (pinned: test_domain_gate_census_broadcast)."""
    c = _canonicalized(spark, sf_dir)
    w_url = Window.partitionBy("curl").orderBy(F.col("n_chars").desc(), "doc_id")
    survivors = (
        c.select("domain", "doc_id", "n_chars", F.row_number().over(w_url).alias("rk"))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    ok = domain_stats(c).filter(~F.col("blocked")).select("domain")
    gated = survivors.join(F.broadcast(ok), "domain", "left_semi")
    w_dom = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), "doc_id")
    capped = gated.select(
        "domain", "n_chars", F.row_number().over(w_dom).alias("rk")
    ).filter(F.col("rk") <= DOMAIN_CAP)
    return capped.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


# ---------------------------------------------------------------------------
# HTML boilerplate strip
# ---------------------------------------------------------------------------

# Entity decode order is part of the contract: &amp; LAST, so encoded
# entities ('&amp;lt;') decode one level only — same chain both engines.
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html(col: Column) -> Column:
    """Tag/script/style removal + fixed-entity decode + whitespace
    collapse — the extraction step between a raw crawl and the text
    tier. Pure expressions; RE2-compatible patterns (no backrefs) so
    the DuckDB oracle runs the same regexes."""
    x = F.regexp_replace(col, "(?is)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, "(?is)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, "<[^>]+>", " ")
    for ent, rep in _ENTITIES:
        x = F.replace(x, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(x, "\\s+", " "))


_HTML_STAGE_SQL = """
      SELECT doc_id,
             '<html><head><title>' || source || '</title>'
             || '<style>p{margin:0}</style>'
             || '<script type="text/javascript">var a=1 && 2;</script>'
             || '</head><body data-x="1"><h1>' || upper(lang) || '</h1><p>'
             || text || ' &amp; tail &lt;b&gt;</p><br/>'
             || '<div class="ft">&quot;footer&quot;</div></body></html>' AS html
      FROM documents
"""


def stage_html(docs: DataFrame) -> DataFrame:
    """documents wrapped in a deterministic HTML template (script,
    style, attributes, entities) — mirrored in _HTML_STAGE_SQL."""
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"), F.lit("</title>"),
        F.lit("<style>p{margin:0}</style>"),
        F.lit('<script type="text/javascript">var a=1 && 2;</script>'),
        F.lit('</head><body data-x="1"><h1>'), F.upper(F.col("lang")),
        F.lit("</h1><p>"), F.col("text"), F.lit(" &amp; tail &lt;b&gt;</p><br/>"),
        F.lit('<div class="ft">&quot;footer&quot;</div></body></html>'),
    )
    return docs.select("doc_id", html.alias("html"))


@query(
    "text_html_strip",
    oracle=f"""
    WITH staged AS ({_HTML_STAGE_SQL})
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\\s+', ' ', 'g')) AS clean_text
    FROM staged
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction over the staged corpus: script/style
    bodies dropped whole, tags dropped, the fixed entity set decoded,
    whitespace collapsed. The round-trip is value-checked: the clean
    text must reproduce title + heading + body + decoded entities
    exactly. Map-side only (zero shuffle)."""
    return stage_html(table(spark, sf_dir, "documents")).select(
        "doc_id", strip_html(F.col("html")).alias("clean_text")
    )
