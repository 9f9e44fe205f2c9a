"""End-to-end WEB-corpus curation composite (r6 session-2 analog of
corpus_prep.py, over the boilerplate/learned tier):

    stage (per-site template) → line-dedup (strip boilerplate)
    → min-length gate → unigram-LM perplexity scoring (hash-split
    train) → per-language head/middle/tail terciles → mix report

This is the CCNet pipeline skeleton: dedup boilerplate FIRST (the
template would otherwise dominate both the LM and the length gate),
then score fluency under a language model trained on the cleaned
corpus itself, then cut per-language terciles that downstream
sampling draws from head-heavy. Every stage reuses an
already-verified operator — extensions.lines.split_lines/line_dedup
for the boilerplate tier, and the SHARED LM machinery from
extensions.classify (lm_counts / cross_entropy_frame /
tercile_buckets plus their SQL fragment twins), so the scoring
pipeline is single-sourced across classify_nb_lang,
text_perplexity_buckets and this composite — chained in ONE lazy
plan, with the complete chain mirrored in a single DuckDB oracle
assembled from the same fragments.

Scale shape: line dedup is the census + broadcast anti-join
(lines.py); the LM model is vocabulary-bounded and broadcasts; the
tercile window partitions by lang. One corpus-sized shuffle per
stage boundary, nothing quadratic, nothing collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import table
from ..registry import query
from ..extensions.classify import (
    _SQL_BUCKET,
    SQL_CE,
    SQL_LM_MODEL,
    SQL_NTILE,
    SQL_TERCILE,
    cross_entropy_frame,
    doc_word_multiplicity,
    lm_counts,
    tercile_buckets,
)
from ..extensions.lines import (
    HOT_DOC_FREQ,
    SEG_TOKENS,
    _TEMPLATE_SQL,
    _template_col,
    line_dedup,
    split_lines,
)
from ..extensions.sampling import TRAIN_BUCKET, hash_bucket
from ..extensions.text import words

MIN_CLEAN_WORDS = 8  # post-dedup floor: template-only shells drop here


@query(
    "web_corpus_prep",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, lang, {_TEMPLATE_SQL} AS text FROM documents
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
    ),
    cleaned AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 list_sort(list({{'seg_idx': seg_idx, 'line': line}})),
                 x -> x.line), ' ') AS clean_text
      FROM lines
      WHERE line NOT IN (SELECT line FROM hot)
      GROUP BY doc_id
    ),
    gated AS (
      SELECT c.doc_id, d.lang,
             list_filter(string_split(c.clean_text, ' '), w -> w <> '') AS w
      FROM cleaned c JOIN documents d ON c.doc_id = d.doc_id
      WHERE len(list_filter(string_split(c.clean_text, ' '), w -> w <> ''))
            >= {MIN_CLEAN_WORDS}
    ),
    train_toks AS (
      SELECT lang, unnest(w) AS word FROM gated
      WHERE {_SQL_BUCKET} < {TRAIN_BUCKET}
    ),
    {SQL_LM_MODEL},
    doc_words AS (
      SELECT doc_id, lang, word, CAST(count(*) AS BIGINT) AS m
      FROM (SELECT doc_id, lang, unnest(w) AS word FROM gated)
      GROUP BY 1, 2, 3
    ),
    {SQL_CE}
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           round(sum(round(h, 4)), 4) AS sum_ce
    FROM (
      SELECT *, {SQL_TERCILE} AS bucket
      FROM (SELECT *, {SQL_NTILE} AS nt FROM ce)
    )
    GROUP BY lang, bucket
    """,
)
def web_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full web-curation chain over the staged corpus; returns the
    per-(lang, bucket) mix report — doc counts, token mass, and
    cross-entropy totals — the table a data-mixing step consumes to
    set head/middle/tail sampling rates per language."""
    d = table(spark, sf_dir, "documents")
    staged = d.select("doc_id", _template_col().alias("text"))
    lines = split_lines(staged).persist(StorageLevel.MEMORY_AND_DISK)
    cleaned = line_dedup(lines).select("doc_id", "clean_text")

    gated = (
        cleaned.join(d.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", words("clean_text").alias("w"))
        .filter(F.size("w") >= MIN_CLEAN_WORDS)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    train_toks = gated.filter(hash_bucket("doc_id") < TRAIN_BUCKET).select(
        "lang", F.explode("w").alias("word")
    )
    cnt, tot, vocab = lm_counts(train_toks)
    doc_words = doc_word_multiplicity(
        gated.select("doc_id", "lang", F.explode("w").alias("word")), "doc_id", "lang"
    )
    ce = cross_entropy_frame(doc_words, cnt, tot, vocab)
    return tercile_buckets(ce).groupBy("lang", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.round(F.sum(F.round("h", 4)), 4).alias("sum_ce"),
    )
