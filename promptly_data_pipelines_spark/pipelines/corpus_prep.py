"""End-to-end training-corpus curation (north-star composite — the
reference's pipeline ends at curated relational tables; this is the
text-corpus analog a pretraining shop runs over the same engine):

    profile → quality-filter → PII-scrub → exact-dedup → pack

Every stage is an already-verified operator reused from the library —
quality features (extensions.text), PII redaction (scrub_pii), exact
dedup survivor choice (dedup._normalized + md5 window), sequence
packing (packing.pack_assignments) — chained into ONE lazy plan so
Catalyst sees the whole pipeline: the quality filter prunes before
the scrub projection, the dedup shuffle carries only (hash, doc_id,
lang, scrubbed), and packing's two-phase prefix runs on survivors
only. The full composite is SQL-expressible, so unlike most
"pipeline" demos it carries a complete DuckDB oracle.

Scale shape: filter+scrub are map-side; dedup is one shuffle on the
content hash; packing is the sharded prefix sum (see packing.py).
Nothing here is quadratic and nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..extensions.dedup import _normalized
from ..extensions.packing import pack_assignments
from ..extensions.text import STOP_SQL_LITERAL, STOPWORDS, scrub_pii, words

MIN_WORDS = 30
MIN_STOP_RATIO = 0.03  # natural-prose floor: below ≈ tables/code/noise

_STOP_SQL = STOP_SQL_LITERAL  # single-sourced in extensions/text.py


def curate_corpus(d: DataFrame) -> DataFrame:
    """(doc_id, lang, text) → packed curated corpus. See module doc."""
    ws = words("text")
    n_words = F.size(ws)
    stop_ratio = (
        F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS))).cast("double") / n_words
    )
    kept = d.withColumn("n_words", n_words).withColumn("stop_ratio", stop_ratio).filter(
        (F.col("n_words") >= MIN_WORDS) & (F.col("stop_ratio") >= MIN_STOP_RATIO)
    )
    scrubbed = kept.select(
        "doc_id", "lang", "n_words", scrub_pii("text").alias("text")
    )
    hashed = _normalized(scrubbed).select(
        "doc_id", "lang", "n_words", "text", F.md5("norm_text").alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    survivors = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "n_words", "text")
    )
    packed = pack_assignments(survivors.select("lang", "doc_id", "text"))
    # n_words == n_tokens provably: the PII replacement tags contain no
    # spaces and the patterns cannot match across a space, so the
    # scrub never changes the word count. Re-deriving n_words from the
    # packed frame avoids the self-join on the survivors subtree that
    # would evaluate the whole scan→filter→scrub→dedup plan twice and
    # add a doc_id shuffle just to copy an identical value.
    return packed.select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_words"),
        "n_tokens",
        "start_token",
        "bin_id",
        "bin_offset",
    )


@query(
    "corpus_prep",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, lang, text,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
             CAST(len(list_filter(string_split(text, ' '), w -> w IN {_STOP_SQL})) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> '')) AS stop_ratio
      FROM documents
    ),
    kept AS (
      SELECT * FROM quality
      WHERE n_words >= {MIN_WORDS} AND stop_ratio >= {MIN_STOP_RATIO}
    ),
    scrubbed AS (
      SELECT doc_id, lang, n_words,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g'),
               '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g') AS text
      FROM kept
    ),
    hashed AS (
      SELECT *, md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS content_hash
      FROM scrubbed
    ),
    survivors AS (
      SELECT doc_id, lang, n_words, text FROM (
        SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
        FROM hashed
      ) WHERE rn = 1
    ),
    toks AS (
      SELECT lang, doc_id, n_words,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM survivors
    ),
    pref AS (
      SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_token
      FROM toks
    )
    SELECT lang, doc_id, CAST(n_words AS INTEGER) AS n_words, n_tokens, start_token,
           CAST(start_token // 2048 AS BIGINT) AS bin_id,
           CAST(start_token % 2048 AS BIGINT) AS bin_offset
    FROM pref
    """,
)
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation composite over ``documents`` (module docstring has
    the stage list and scale shape). Local tier — the driver window is
    full — but carries a FULL DuckDB oracle across all five chained
    stages, so pytest parity-checks the whole pipeline, not just its
    pieces."""
    return curate_corpus(table(spark, sf_dir, "documents"))
