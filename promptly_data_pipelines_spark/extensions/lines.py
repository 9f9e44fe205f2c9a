"""Cross-document line-level deduplication (boilerplate removal).

Web-curation pipelines (CCNet, RefinedWeb, Dolma) drop *lines* that
repeat across many documents — site navigation, cookie banners,
copyright footers — before any document-level dedup runs: the
boilerplate otherwise both inflates near-dup similarity and pollutes
the training corpus with template text. The reference's curated layer
has no line tier (its documents are rows, dbt/promptly/models/curated/
curated_provider.sql:1-20); this module supplies the operator the
100 TB corpus path needs.

The fixture corpus has no newlines, so the registered query stages a
faithful miniature of the real workload: every document gets its
source's 4-token site template prepended (one "line" of per-site
boilerplate shared by every doc of that source), and "lines" are
fixed 4-token segments — the same slice-by-stride construction as
text_chunk_windows, stride == width. A real deployment splits on
'\\n' instead; ``line_dedup`` takes the already-exploded lines frame,
so the segmentation policy is the caller's.

Scale design (100 TB):
- the lines frame is persisted once and feeds both derivations (hot
  line census + anti-join), mirroring the signature-table pattern in
  extensions/dedup.py:280-290 — without it the corpus is scanned and
  re-exploded twice;
- the hot-line census (count(DISTINCT doc_id) >= threshold) output is
  tiny by construction — boilerplate lines are the heavy tail of the
  line-frequency distribution, the census keeps only lines above the
  threshold — so it broadcasts into the anti-join and the line stream
  never shuffles for the filter (pinned:
  tests/test_plan_quality.py::test_line_dedup_hot_census_broadcast);
- document reassembly is ONE groupBy(doc_id) with an in-row
  array_sort — no order-by, no window over the full line stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import table
from ..registry import query
from .text import words

SEG_TOKENS = 4  # pseudo-line width (tokens); real corpora split on \n
HOT_DOC_FREQ = 5  # a line present in >= this many docs is boilerplate

# Per-site template prepended by the staging step: 4 tokens = exactly
# one segment, so the boilerplate aligns with the line grid the way a
# real template line aligns with '\n' splits.
_TEMPLATE_SQL = "'site ' || source || ' home login ' || text"


def _template_col() -> F.Column:
    return F.concat_ws(
        " ", F.lit("site"), F.col("source"), F.lit("home"), F.lit("login"), F.col("text")
    )


def split_lines(d: DataFrame, seg_tokens: int = SEG_TOKENS) -> DataFrame:
    """(doc_id, text) -> (doc_id, seg_idx, line): fixed-width token
    segments, stride == width (each token in exactly one line). Pure
    expression tree — tokenize, sequence of starts, slice — all
    map-side; the explosion happens after column pruning."""
    w = words("text")
    t = d.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    starts = F.sequence(F.lit(0), F.size("w") - 1, F.lit(seg_tokens))
    s = t.select("doc_id", "w", F.explode(starts).alias("start"))
    return s.select(
        "doc_id",
        (F.col("start") / seg_tokens).cast("bigint").alias("seg_idx"),
        F.array_join(F.slice(F.col("w"), F.col("start") + 1, F.lit(seg_tokens)), " ").alias(
            "line"
        ),
    )


def hot_lines(lines: DataFrame, min_doc_freq: int = HOT_DOC_FREQ) -> DataFrame:
    """Boilerplate census: lines appearing in >= min_doc_freq distinct
    documents. Output is the heavy tail only — small by construction,
    broadcastable."""
    return (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= min_doc_freq)
    )


def line_dedup(
    lines: DataFrame, min_doc_freq: int = HOT_DOC_FREQ
) -> DataFrame:
    """Drop boilerplate lines, reassemble documents in line order.

    Documents whose every line is boilerplate drop out entirely (the
    CCNet convention: a template-only page carries no content worth
    keeping). Returns (doc_id, n_lines_kept, clean_text)."""
    hot = hot_lines(lines, min_doc_freq)
    kept = lines.join(F.broadcast(hot.select("line")), "line", "left_anti")
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("clean_text"),
    )


@query(
    "text_line_dedup",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, {_TEMPLATE_SQL} AS text FROM documents
    ),
    t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM staged
    ),
    s AS (
      SELECT doc_id, w, unnest(range(0, len(w), {SEG_TOKENS})) AS start
      FROM t WHERE len(w) > 0
    ),
    lines AS (
      SELECT doc_id,
             CAST(start // {SEG_TOKENS} AS BIGINT) AS seg_idx,
             array_to_string(w[start + 1 : start + {SEG_TOKENS}], ' ') AS line
      FROM s
    ),
    hot AS (
      SELECT line FROM lines GROUP BY line
      HAVING count(DISTINCT doc_id) >= {HOT_DOC_FREQ}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines_kept,
           array_to_string(
             list_transform(
               list_sort(list({{'seg_idx': seg_idx, 'line': line}})),
               x -> x.line), ' ') AS clean_text
    FROM lines
    WHERE line NOT IN (SELECT line FROM hot)
    GROUP BY doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal over the staged corpus: the per-site
    template line (shared by every doc of a source, df ~ 70-190 >>
    {HOT_DOC_FREQ}) is detected and stripped from every document,
    along with any natural 4-gram segment that repeats across >=
    {HOT_DOC_FREQ} docs; unique content lines survive and documents
    reassemble in original order."""
    d = table(spark, sf_dir, "documents")
    staged = d.select("doc_id", _template_col().alias("text"))
    lines = split_lines(staged).persist(StorageLevel.MEMORY_AND_DISK)
    return line_dedup(lines)


# ------------------------------------------- duplicated-span fraction

GRAM_TOKENS = 8  # sliding n-gram width for cross-doc span duplication
GRAM_HOT_DF = 3  # an n-gram in >= this many docs marks a duplicated span

# 8-token per-site template: exactly one template-pure 8-gram per doc
# (position 0); grams that straddle template and content are
# doc-specific and must NOT count as duplicated.
_SPAN_TEMPLATE_SQL = (
    "'site ' || source || ' home login privacy terms contact about ' || text"
)


def _span_template_col() -> F.Column:
    return F.concat_ws(
        " ",
        F.lit("site"),
        F.col("source"),
        F.lit("home login privacy terms contact about"),
        F.col("text"),
    )


@query(
    "text_dup_span_fraction",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, {_SPAN_TEMPLATE_SQL} AS text FROM documents
    ),
    t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM staged
    ),
    g AS (
      SELECT doc_id, len(w) AS n_tokens, unnest(range(0, len(w) - {GRAM_TOKENS} + 1)) AS pos, w
      FROM t WHERE len(w) >= {GRAM_TOKENS}
    ),
    grams AS (
      SELECT doc_id, n_tokens, pos,
             array_to_string(w[pos + 1 : pos + {GRAM_TOKENS}], ' ') AS gram
      FROM g
    ),
    hot AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING count(DISTINCT doc_id) >= {GRAM_HOT_DF}
    ),
    cov AS (
      SELECT doc_id,
             CAST(len(list_distinct(flatten(
               list_transform(list(pos), p -> range(p, p + {GRAM_TOKENS}))
             ))) AS BIGINT) AS n_dup_tokens
      FROM grams WHERE gram IN (SELECT gram FROM hot)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           coalesce(cov.n_dup_tokens, 0) AS n_dup_tokens,
           CAST(coalesce(cov.n_dup_tokens, 0) AS DOUBLE) / len(t.w) AS dup_frac
    FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id
    """,
)
def text_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span fraction — the RefinedWeb/Gopher
    ``dup_ngram_frac`` quality signal: which share of a document's
    tokens sits inside an {GRAM_TOKENS}-gram that also appears in >=
    {GRAM_HOT_DF} other documents. Line dedup REMOVES aligned
    boilerplate; this measures UNALIGNED duplication (quotes, mirrored
    passages, licence blocks at arbitrary offsets) as a per-doc filter
    feature. Staging injects an 8-token site template so each doc
    carries exactly one template-pure gram; straddling grams are
    doc-specific and must not be counted.

    Scale: sliding grams explode ~n_tokens rows/doc (vs the line
    tier's n/width) — this op is the expensive one of the family, so
    the hot census joins back SEMI (broadcast, grams stream never
    shuffles) and coverage is computed in-row from match positions
    (union of [pos, pos+{GRAM_TOKENS}) intervals via
    sequence/flatten/array_distinct), one groupBy(doc) of the
    match rows only. The final fraction is an exact integer ratio —
    emitted unrounded because identical int inputs divide identically
    in both engines."""
    d = table(spark, sf_dir, "documents")
    staged = d.select("doc_id", _span_template_col().alias("text"))
    w = words("text")
    # Persist the TOKENIZED frame, not just the grams: `base` (every
    # doc's token count, incl. docs too short to gram) and the gram
    # expansion both derive from it — persisting only grams left base
    # re-scanning + re-tokenizing the corpus (review finding; the
    # single-scan invariant is now asserted by the plan test).
    t = staged.select("doc_id", w.alias("w")).persist(StorageLevel.MEMORY_AND_DISK)
    g = t.filter(F.size("w") >= GRAM_TOKENS).select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.col("w"),
        F.explode(F.sequence(F.lit(0), F.size("w") - GRAM_TOKENS)).alias("pos"),
    )
    grams = g.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.array_join(F.slice(F.col("w"), F.col("pos") + 1, F.lit(GRAM_TOKENS)), " ").alias(
            "gram"
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hot = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("gram_df"))
        .filter(F.col("gram_df") >= GRAM_HOT_DF)
        .select("gram")
    )
    cov = (
        grams.join(F.broadcast(hot), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.size(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            F.collect_list("pos"),
                            lambda p: F.sequence(p, p + GRAM_TOKENS - 1),
                        )
                    )
                )
            )
            .cast("bigint")
            .alias("n_dup_tokens")
        )
    )
    base = t.select("doc_id", F.size("w").cast("bigint").alias("n_tokens"))
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_tokens"), F.lit(0).cast("bigint")).alias("n_dup_tokens"),
        (
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("double") / F.col("n_tokens")
        ).alias("dup_frac"),
    )


# ------------------------------------------ duplicated-span REMOVAL

@query(
    "text_remove_dup_spans",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, {_SPAN_TEMPLATE_SQL} AS text FROM documents
    ),
    t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM staged
    ),
    g AS (
      SELECT doc_id, unnest(range(0, len(w) - {GRAM_TOKENS} + 1)) AS pos, w
      FROM t WHERE len(w) >= {GRAM_TOKENS}
    ),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(w[pos + 1 : pos + {GRAM_TOKENS}], ' ') AS gram
      FROM g
    ),
    hot AS (
      SELECT gram, min(doc_id) AS keeper FROM grams GROUP BY gram
      HAVING count(DISTINCT doc_id) >= {GRAM_HOT_DF}
    ),
    cut AS (
      SELECT gr.doc_id,
             list_distinct(flatten(
               list_transform(list(gr.pos), p -> range(p, p + {GRAM_TOKENS}))
             )) AS cut
      FROM grams gr JOIN hot h ON gr.gram = h.gram AND gr.doc_id <> h.keeper
      GROUP BY gr.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(c.cut), 0) AS BIGINT) AS n_removed,
           -- coalesce: duckdb array_to_string([]) is NULL, spark
           -- array_join([]) is '' — a fully-removed doc must agree
           coalesce(array_to_string(
             list_filter(
               list_transform(
                 range(0, len(t.w)),
                 i -> CASE WHEN c.cut IS NULL OR NOT list_contains(c.cut, i)
                           THEN t.w[i + 1] END),
               x -> x IS NOT NULL),
             ' '), '') AS clean_text
    FROM t LEFT JOIN cut c ON t.doc_id = c.doc_id
    """,
)
def text_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span REMOVAL — the operation of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", ExactSubstr): text_dup_span_fraction MEASURES unaligned
    duplication; this strips it, keeping one canonical occurrence.
    Every {GRAM_TOKENS}-gram appearing in >= {GRAM_HOT_DF} distinct
    docs is a duplicated span; the doc with the smallest doc_id
    containing the gram keeps its occurrences, every other doc has the
    covered token positions removed and its text reassembled in
    original token order. Docs shorter than the gram width pass
    through untouched. Staging matches text_dup_span_fraction (8-token
    per-site template), so the template survives in exactly one doc
    per template value and is stripped everywhere else.

    Scale (100 TB): same shape as the fraction op — the gram stream is
    never shuffled for the filter (hot census is the heavy-tail tiny
    side, broadcast into the equi-join), coverage union + token drop
    are in-row array ops, one groupBy(doc) of match rows only. The
    paper's suffix-array construction is a single-machine design; the
    fixed-width gram census is the distributable equivalent and is the
    industry form (Dolma, RedPajama-v2 use gram-based span marking).
    The token filter is O(n_tokens · |cut|) per doc — |cut| is bounded
    by n_tokens, and both live in one row; no cross-row work."""
    d = table(spark, sf_dir, "documents")
    staged = d.select("doc_id", _span_template_col().alias("text"))
    t = staged.select("doc_id", words("text").alias("w")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    grams = (
        t.filter(F.size("w") >= GRAM_TOKENS)
        .select(
            "doc_id",
            F.col("w"),
            F.explode(F.sequence(F.lit(0), F.size("w") - GRAM_TOKENS)).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.slice(F.col("w"), F.col("pos") + 1, F.lit(GRAM_TOKENS)), " "
            ).alias("gram"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hot = (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("gram_df"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("gram_df") >= GRAM_HOT_DF)
        .select("gram", "keeper")
    )
    cut = (
        grams.join(F.broadcast(hot), "gram")
        .filter(F.col("doc_id") != F.col("keeper"))
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.collect_list("pos"),
                        lambda p: F.sequence(p, p + GRAM_TOKENS - 1),
                    )
                )
            ).alias("cut")
        )
    )
    return t.join(cut, "doc_id", "left").select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.coalesce(F.size("cut"), F.lit(0)).cast("bigint").alias("n_removed"),
        F.array_join(
            F.filter(
                F.col("w"),
                lambda tok, i: F.col("cut").isNull() | ~F.array_contains("cut", i),
            ),
            " ",
        ).alias("clean_text"),
    )
