"""Text analysis over the ``documents`` table (SURVEY.md §2j X6):
tokenization + counts, quality scoring, language ID, BPE-ish token
counting, document fingerprinting. All built-in expressions (split/
explode/aggregate lambdas) — whole text processing stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is")

# THE SQL IN-list literal for STOPWORDS — one definition (review
# finding: three modules had re-derived it; quoting/escaping changes
# must land everywhere at once when STOPWORDS grows)
STOP_SQL_LITERAL = "('" + "','".join(STOPWORDS) + "')"

# ONE definition of the tokenizer vocabulary size — text_vocab_coverage
# (builds the table) and text_tokenize_vocab (applies it) must agree,
# in both engines, or the applied ids silently diverge from the
# published coverage curve.
VOCAB_SIZE = 512

# Tiny per-language marker-word profiles for the heuristic language ID.
# Real profiles would be char-trigram frequency tables; the mechanism
# (score per language, argmax) is identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "von", "ist"),
    "fr": ("le", "et", "de", "est"),
    "es": ("el", "y", "de", "es"),
    "zh": ("de", "le", "shi", "he"),
}


def words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda w: w != "")


def norm_text(text: "Column | str" = "text") -> "F.Column":
    """THE dedup/fingerprint normalization (collapse runs of spaces,
    trim, lowercase) — one definition shared by dedup._normalized,
    doc_fingerprint, doc_winnowing and text_doc_profile, so the
    fingerprint can never silently desynchronize from the dedup key
    it claims to equal."""
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(c, " +", " ")))


def lang_best(ws: "F.Column") -> "F.Column":
    """Marker-vote language argmax over a distinct-word array: the
    (score, -ord, lang) struct-array max, tiebreaking toward the
    alphabetically-first language. One definition shared by
    text_lang_id and text_doc_profile."""
    scored = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(ws, F.array(*[F.lit(m) for m in marks]))).alias(
                    "score"
                ),
                F.lit(-i).alias("ord"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, marks) in enumerate(sorted(LANG_MARKERS.items()))
        ]
    )
    return F.array_max(scored)


@query(
    "text_token_counts",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM toks WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 25
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: corpus token frequencies, top-25. explode → hash agg with
    map-side combine; at 100 TB this is the canonical word-count shuffle
    (one row per distinct token per map partition)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode_outer(words("text")).alias("token"))
        .filter(F.col("token").isNotNull())  # explode would infer a
        # size>0 filter that re-evaluates the split per row (see
        # dedup.ngram_jaccard_pairs)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(25)
    )


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_char,
           CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INTEGER) AS n_words,
           CAST(len(list_filter(string_split(text, ' '),
                w -> w IN ('the','a','an','of','and','to','in','is'))) AS INTEGER) AS n_stop,
           round(CAST(len(list_filter(string_split(text, ' '),
                w -> w IN ('the','a','an','of','and','to','in','is'))) AS DOUBLE)
             / len(list_filter(string_split(text, ' '), w -> w <> '')), 4) AS stop_ratio,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(list_filter(string_split(text, ' '), w -> w <> '')), 4) AS avg_word_len
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: per-document quality features — length, word count, stopword
    ratio, mean word length. Pure expression tree (array lambdas), no
    shuffle at all: embarrassingly parallel over document partitions."""
    d = table(spark, sf_dir, "documents")
    ws = words("text")
    n_words = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    return d.select(
        "doc_id",
        F.length("text").alias("n_char"),
        n_words.alias("n_words"),
        n_stop.alias("n_stop"),
        F.round(n_stop.cast("double") / n_words, 4).alias("stop_ratio"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words, 4
        ).alias("avg_word_len"),
    )


@query(
    "text_token_count_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_tokens
    FROM documents
    """,
)
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: BPE-ish regex tokenizer count (word / number / punctuation
    classes — the pre-tokenization split GPT-style BPE applies before
    merges). regexp_count is codegen'd; no data movement."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("int").alias("n_tokens"),
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token
    ),
    idf AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(tf.tf * n.n_docs AS DOUBLE) / idf.df AS score
      FROM tf JOIN idf USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: characteristic terms per document — TF-IDF-shaped scoring
    with a rational score (tf·N/df, no logarithm: libm last-ulp
    behavior differs between engines; the ranking is identical). Two
    shuffles (tf, df) + a broadcast of the tiny df table + windowed
    top-3. The df table is vocabulary-sized — at 100 TB still tiny
    relative to the corpus, always the broadcast side."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode_outer(words("text")).alias("token")).filter(
        F.col("token").isNotNull()  # see ngram_jaccard_pairs: explode
        # would infer size>0 and double-evaluate the split
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # r16 optimization-round note: count(*) was A/B'd against this
    # countDistinct — the physical plans are byte-identical (Catalyst
    # recognizes doc_id as a grouping key of tf and folds the distinct
    # away: plans/r16/text_tfidf_topk_{before,after}.txt), so the
    # original form stays.
    idf = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # driver-side scalar: one tiny action, constant-folded into the plan
    scored = tf.join(F.broadcast(idf), "token").select(
        "doc_id",
        "token",
        ((F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "score", "rk")
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))), 1, 16) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: document fingerprint — normalize whitespace/case, hash, keep
    64 bits. The exact-dedup key (see dedup.dedup_exact) and the
    cheapest change-detection signal for incremental pipelines."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", F.substring(F.md5(norm_text()), 1, 16).alias("fingerprint"))


_WINNOW_ORACLE = """
    WITH d AS (
      SELECT doc_id,
             substr(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), 1, 32768) AS norm
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(norm) - 8 + 1, 1) + 1),
                            i -> CAST(('0x' || substr(md5(substr(norm, i, 8)), 17, 16))::UBIGINT
                                      % 9223372036854775808 AS BIGINT)) AS grams
      FROM d
    ),
    wm AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(grams) - 4, 0) + 1),
                                          i -> list_min(grams[i + 1 : i + 4]))) AS fps
      FROM g
    )
    SELECT DISTINCT doc_id, unnest(fps) AS fingerprint FROM wm
    ORDER BY doc_id, fingerprint
"""


@query("doc_winnowing", oracle=_WINNOW_ORACLE)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: rolling-hash document fingerprinting via winnowing
    (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS algorithm):
    hash every k-char-gram (k=8; md5h63 since r6 — the cross-engine
    family of extensions/hashing.py, which upgraded this query from
    rows-only to a full value-hash oracle; swap back to xxhash64 at
    production scale per the hashing module note), slide a window of
    w=4 consecutive gram hashes, keep each window's minimum —
    guaranteeing any match of length ≥ w+k-1 shares a fingerprint.
    Output: distinct selected fingerprints per doc, the index for
    plagiarism/near-dup lookup. Map-side until the final
    explode-distinct.

    r9 rewrite, found by the plan-tax sweep: the r6 form built the
    windows with a transform whose lambda SLICED the grams expression
    — interpreted HOFs do no common-subexpression elimination, so
    every window index re-evaluated every gram md5: O(n²) md5 calls
    per document (measured 24.5 s for 500 short docs at sf0.01 —
    execution-bound, same-plan re-runs identical). Now ONE aggregate
    fold over grams carries a ring of the last w−1 hashes and emits
    each full window's min — grams is referenced once, O(n·w), same
    bits (value-hash oracle unchanged; 0.25 s on the same data).
    The fps accumulator appends only when the window min CHANGES
    (classic winnowing runs share minima), bounding append copies;
    the remaining worst case (adversarial alternating minima) is
    O(n²/w) array copies, which the 32 Ki char cap below bounds.

    r17 A/B, negative kept as documentation: an Arrow kernel twin
    (hashlib md5 per gram with a batch memo + numpy sliding-window
    min) measured row-identical (545,883 rows at sf0.1) and a WASH —
    1.34 s HOF fold vs 1.43 s kernel, same session. Unlike simhash
    (whose 17-lane SWAR fold lost 60% to per-token vote math), this
    fold's cost IS the per-gram md5, which both engines pay at C
    speed; the O(n·w) ring rewrite already removed the interpreted
    waste. Expression form kept."""
    from .hashing import md5h63

    k, w = 8, 4
    big = F.lit((1 << 63) - 1)  # ring sentinel: > any md5h63 value
    d = table(spark, sf_dir, "documents")
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism).withColumn(
        "norm", F.substring(norm_text(), 1, 32768)
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("norm") - k + 1, F.lit(1))),
        lambda i: md5h63(F.col("norm").substr(i, F.lit(k))),
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("cnt"),
        F.array_repeat(big, w - 1).alias("ring"),  # last w-1 hashes, MAX-padded
        F.array().cast("array<long>").alias("fps"),
    )

    def merge(acc: F.Column, h: F.Column) -> F.Column:
        m = F.least(
            *[F.element_at(acc["ring"], i + 1) for i in range(w - 1)], h
        )
        return F.struct(
            (acc["cnt"] + 1).alias("cnt"),
            F.concat(F.slice(acc["ring"], 2, w - 2), F.array(h)).alias("ring"),
            F.when(
                (acc["cnt"] + 1 >= w)
                & (
                    (F.size(acc["fps"]) == 0)
                    | (F.element_at(acc["fps"], -1) != m)
                ),
                F.array_append(acc["fps"], m),
            )
            .otherwise(acc["fps"])
            .alias("fps"),
        )

    def finish(acc: F.Column) -> F.Column:
        # short docs (< w grams): one truncated window over all grams —
        # the ring's MAX sentinels never win the min (≥1 real hash)
        return F.when(
            acc["cnt"] < w,
            F.array(F.least(*[F.element_at(acc["ring"], i + 1) for i in range(w - 1)])),
        ).otherwise(acc["fps"])

    fps = F.array_distinct(F.aggregate(grams, zero, merge, finish))
    return (
        d.select("doc_id", F.explode_outer(fps).alias("fingerprint"))
        .filter(F.col("fingerprint").isNotNull())  # explode would infer
        # size>0, re-running the whole winnowing expression below the
        # repartition exchange (see dedup.ngram_jaccard_pairs)
        .distinct()
        .orderBy("doc_id", "fingerprint")
    )


@query(
    "text_lang_id",
    oracle="""
    WITH ws AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             len(list_intersect(w, ['der','und','von','ist'])) AS s_de,
             len(list_intersect(w, ['the','and','of','is']))   AS s_en,
             len(list_intersect(w, ['el','y','de','es']))      AS s_es,
             len(list_intersect(w, ['le','et','de','est']))    AS s_fr,
             len(list_intersect(w, ['de','le','shi','he']))    AS s_zh
      FROM ws
    )
    SELECT doc_id,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred,
           lang AS lang_declared,
           (CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END) = lang AS agrees
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: n-gram/marker-word language ID. Scores each language profile
    by marker hits, argmax with alphabetically-first tiebreak —
    implemented as an expression over array_intersect (no UDF; the
    oracle expresses the same argmax as a >= CASE cascade in
    alphabetical order). Returns doc_id, predicted lang, declared
    lang, and agreement flag."""
    d = table(spark, sf_dir, "documents")
    best = lang_best(F.array_distinct(words("text")))
    return d.select(
        "doc_id",
        best.getField("lang").alias("lang_pred"),
        F.col("lang").alias("lang_declared"),
        (best.getField("lang") == F.col("lang")).alias("agrees"),
    )


@query(
    "text_doc_profile",
    oracle="""
    WITH ws AS (
      SELECT doc_id, lang, text,
             list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    feat AS (
      SELECT doc_id, lang, text, w,
             list_distinct(w) AS wd,
             len(list_filter(w, x -> x IN ('the','a','an','of','and','to','in','is'))) AS n_stop
      FROM ws
    ),
    scored AS (
      SELECT *,
             len(list_intersect(wd, ['der','und','von','ist'])) AS s_de,
             len(list_intersect(wd, ['the','and','of','is']))   AS s_en,
             len(list_intersect(wd, ['el','y','de','es']))      AS s_es,
             len(list_intersect(wd, ['le','et','de','est']))    AS s_fr,
             len(list_intersect(wd, ['de','le','shi','he']))    AS s_zh
      FROM feat
    )
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_char,
           CAST(len(w) AS INTEGER) AS n_words,
           CAST(n_stop AS INTEGER) AS n_stop,
           round(CAST(n_stop AS DOUBLE) / len(w), 4) AS stop_ratio,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w), 4) AS avg_word_len,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_tokens_regex,
           substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))), 1, 16) AS fingerprint,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred,
           lang AS lang_declared
    FROM scored
    """,
)
def text_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 composite (driver row for the per-document text-analysis
    family; the singles above are local-only and document each
    operator): quality features (length, word count, stopword ratio,
    mean word length), BPE-ish regex token count, normalized content
    fingerprint, and marker-word language ID — one documents scan, all
    array/regex expressions JVM-side, zero shuffles (embarrassingly
    parallel over document partitions — the exact shape a 100 TB
    corpus-scoring pass needs)."""
    d = table(spark, sf_dir, "documents")
    ws = words("text")
    n_words = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    best = lang_best(F.array_distinct(ws))
    norm = norm_text()
    return d.select(
        "doc_id",
        F.length("text").alias("n_char"),
        n_words.alias("n_words"),
        n_stop.alias("n_stop"),
        F.round(n_stop.cast("double") / n_words, 4).alias("stop_ratio"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words,
            4,
        ).alias("avg_word_len"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("int")
        .alias("n_tokens_regex"),
        F.substring(F.md5(norm), 1, 16).alias("fingerprint"),
        best.getField("lang").alias("lang_pred"),
        F.col("lang").alias("lang_declared"),
    )


# PII scrubbing: pre-training corpora redact contact identifiers before
# anything else sees the text. Patterns are chosen to parse identically
# under Java regex (Spark) and RE2 (DuckDB): no backreferences, no
# lookaround, ASCII word boundaries only.
_PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
)


def scrub_pii(text_col) -> "F.Column":
    """Chained global regexp_replace over the PII patterns (applied in
    declaration order — email first so its local part cannot be
    re-matched as an SSN-shaped digit run). Pure JVM expression: one
    projection pass, embarrassingly parallel at any corpus size."""
    out = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


@query(
    "pii_scrub",
    oracle="""
    SELECT doc_id, lang,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))
              + len(regexp_extract_all(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                  '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS INT)
             AS n_redactions
    FROM documents
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus (north-star op, beyond the
    reference's scope): emails, IPv4s, SSN-shaped ids replaced with
    typed tags; n_redactions counts the substitutions
    actually performed (each pattern counted on the text AFTER the
    preceding patterns applied — overlapping matches not double-
    counted), so the redaction volume is auditable per doc. The fixture corpus is
    synthetic prose (usually zero matches) — the behavior pins live in
    tests/test_modules.py on adversarial strings; this query proves
    engine parity of the patterns themselves."""
    d = table(spark, sf_dir, "documents")
    # Count each pattern on the PROGRESSIVELY scrubbed text, not the
    # original: patterns overlap ('123-45-6789@mail.com' is one email
    # replacement, but the SSN pattern also matches inside it), so
    # per-pattern counts over the original over-count the replacements
    # actually performed. Counting pattern k after patterns 1..k-1
    # applied makes n_redactions exactly the number of substitutions.
    stage = F.col("text")
    n_red = F.lit(0)
    for pat, repl in _PII_PATTERNS:
        n_red = n_red + F.size(F.regexp_extract_all(stage, F.lit(pat), F.lit(0)))
        stage = F.regexp_replace(stage, pat, repl)
    return d.select(
        "doc_id",
        "lang",
        scrub_pii("text").alias("scrubbed"),
        n_red.cast("int").alias("n_redactions"),
    )

@query(
    "text_repetition",
    oracle="""
    WITH w0 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    base AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words FROM w0),
    tok AS (SELECT doc_id, unnest(w) AS token FROM w0),
    wc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
    ws AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_words,
             CAST(max(c) AS BIGINT) AS top_word_n
      FROM wc GROUP BY 1
    ),
    bg0 AS (
      SELECT doc_id, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
      FROM w0 WHERE len(w) >= 2
    ),
    bt AS (SELECT doc_id, unnest(bg) AS b FROM bg0),
    bc AS (SELECT doc_id, b, count(*) AS c FROM bt GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n FROM bc GROUP BY 1),
    m AS (
      SELECT doc_id, n_words, n_distinct_words, top_word_n, top_bigram_n,
             CAST(n_distinct_words AS DOUBLE) / n_words AS distinct_ratio,
             CAST(top_word_n AS DOUBLE) / n_words AS top_word_frac,
             CAST(top_bigram_n AS DOUBLE) / (n_words - 1) AS top_bigram_frac
      FROM base JOIN ws USING (doc_id) JOIN bs USING (doc_id)
    )
    SELECT *,
           (distinct_ratio >= 0.33 AND top_word_frac <= 0.15
            AND top_bigram_frac <= 0.10) AS keep
    FROM m
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 extension — repetition-based quality filtering, the Gopher /
    MassiveText rule family (Rae et al. 2021, table A1: "fraction of
    characters in the most common n-gram", duplicate-line fractions):
    a document whose text is dominated by one word or one repeated
    n-gram is boilerplate/spam and is dropped before training. Per
    document: word count, distinct-word count, the count of the most
    frequent word and bigram, the derived fractions, and the keep
    verdict (distinct_ratio >= 0.33, top_word_frac <= 0.15,
    top_bigram_frac <= 0.10 — thresholds set at the corpus tails so
    both verdicts occur; line-based Gopher rules are inapplicable
    here, the fixture corpus is single-line).

    Plan — ONE corpus scan, zero joins: words and bigrams are tagged
    ('w'/'b') structs concatenated into a single array, so one explode
    feeds one (doc, kind, token) count and one per-doc rollup where
    every stat is a conditional aggregate — n_words = sum of word
    counts, n_distinct = count of word rows, tops = conditional max.
    Both agg stages are partial-agg-safe (map-side combine), both
    shuffles are keyed by doc_id (bounded rows per doc → no skew). The
    naive form — separate base/word/bigram branches joined on doc_id —
    scans the corpus three times; at 100 TB that is 200 TB of wasted
    IO. Fractions are emitted UNROUNDED: both engines divide identical
    integers in IEEE doubles, so equality is exact (rounding a
    quotient is the parity trap — operators/aggregates.py rules).
    Docs with <2 words have no bigram and drop out on both sides (the
    conditional-max null filter here, the inner join in the oracle);
    the corpus minimum is 10 words, so nothing is lost in practice."""
    d = table(spark, sf_dir, "documents")
    par = d.sparkSession.sparkContext.defaultParallelism
    w = d.repartition(par).select("doc_id", words("text").alias("w"))
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(" ", F.element_at("w", i), F.element_at("w", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tagged = F.concat(
        F.transform(F.col("w"), lambda t: F.struct(F.lit("w").alias("k"), t.alias("t"))),
        F.transform(bigrams, lambda b: F.struct(F.lit("b").alias("k"), b.alias("t"))),
    )
    tok = (
        w.select("doc_id", F.explode_outer(tagged).alias("kt"))
        .filter(F.col("kt").isNotNull())
        .select("doc_id", F.col("kt.k").alias("k"), F.col("kt.t").alias("t"))
    )
    is_w = F.col("k") == "w"
    stats = (
        tok.groupBy("doc_id", "k", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(is_w, F.col("c"))).cast("int").alias("n_words"),
            F.count(F.when(is_w, F.lit(1))).alias("n_distinct_words"),
            F.max(F.when(is_w, F.col("c"))).alias("top_word_n"),
            F.max(F.when(~is_w, F.col("c"))).alias("top_bigram_n"),
        )
        # <2-word docs have no bigram row: the oracle's inner join
        # drops them, the conditional max leaves a null — same set
        .filter(F.col("top_bigram_n").isNotNull())
    )
    m = stats.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "top_word_n",
        "top_bigram_n",
        (F.col("n_distinct_words").cast("double") / F.col("n_words")).alias(
            "distinct_ratio"
        ),
        (F.col("top_word_n").cast("double") / F.col("n_words")).alias("top_word_frac"),
        (F.col("top_bigram_n").cast("double") / (F.col("n_words") - 1)).alias(
            "top_bigram_frac"
        ),
    )
    return m.withColumn(
        "keep",
        (F.col("distinct_ratio") >= 0.33)
        & (F.col("top_word_frac") <= 0.15)
        & (F.col("top_bigram_frac") <= 0.10),
    )


@query(
    "text_length_histogram",
    oracle="""
    WITH b AS (
      SELECT lang,
             LEAST(CAST(floor(n_chars / 50) AS BIGINT), 10) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM documents
      GROUP BY 1, 2
    )
    SELECT lang, bucket, bucket * 50 AS bucket_lo, n_docs,
           CAST(sum(n_docs) OVER (PARTITION BY lang ORDER BY bucket) AS BIGINT)
             AS cum_docs,
           CAST(sum(n_docs) OVER (PARTITION BY lang ORDER BY bucket) AS BIGINT)
             / CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS cdf
    FROM b
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 extension: per-language document-length histogram + CDF —
    the length-profile report a curation pipeline uses to pick
    truncation/packing thresholds (the percentile companion to
    ``pack_sequences``). Fixed-width buckets (50 chars, capped at the
    10th so the top bucket absorbs the tail) keep the aggregation
    all-integer: ONE hash aggregate over the corpus reduces to ≤
    n_langs × 11 rows, and the window pass for the CDF runs on that
    tiny aggregate, not the corpus. At 100 TB this is the right
    shape: histogram-then-window, never a corpus-wide sort or exact
    percentile. cdf is an unrounded bigint/bigint quotient (identical
    operands → identical double on both engines)."""
    d = table(spark, sf_dir, "documents")
    b = d.groupBy(
        "lang",
        F.least(F.floor(F.col("n_chars") / F.lit(50)), F.lit(10).cast("bigint")).alias(
            "bucket"
        ),
    ).agg(F.count("*").alias("n_docs"))
    w_cum = Window.partitionBy("lang").orderBy("bucket")
    w_all = Window.partitionBy("lang")
    return b.select(
        "lang",
        "bucket",
        (F.col("bucket") * 50).alias("bucket_lo"),
        "n_docs",
        F.sum("n_docs").over(w_cum).alias("cum_docs"),
        (F.sum("n_docs").over(w_cum) / F.sum("n_docs").over(w_all)).alias("cdf"),
    )


@query(
    "text_quality_prune",
    oracle="""
    WITH q AS (
      SELECT doc_id, lang,
             round(CAST(len(list_filter(string_split(text, ' '),
                    w -> w IN ('the','a','an','of','and','to','in','is'))) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> '')), 4)
               AS stop_ratio
      FROM documents
    )
    SELECT doc_id, lang, stop_ratio,
           percent_rank() OVER (PARTITION BY lang ORDER BY stop_ratio) AS q_rank,
           (percent_rank() OVER (PARTITION BY lang ORDER BY stop_ratio) >= 0.2)
             AS keep
    FROM q
    """,
)
def text_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 extension: quantile-based quality pruning — drop the worst
    20% of docs PER LANGUAGE by stopword ratio (the DCLM/Gopher-style
    relative cut: an absolute threshold tuned on English silently
    guts low-resource languages, so the cut point must be a
    per-group percentile, not a constant). percent_rank is
    (rank-1)/(n-1): both factors are integers from the same ordering,
    so the quotient is bit-identical across engines, and ties (equal
    rounded ratios) share a rank — no order-dependence. One window
    over one scan; the quality feature reuses the
    ``text_quality_score`` expression (already parity-proven).

    Scale shape: partitionBy(lang) windows shuffle once on lang; a
    skewed lang (English is always >50% of a web corpus) makes this
    the classic hot-partition window — at 100 TB swap exact
    percent_rank for a two-pass approx-quantile cut (compute the p20
    threshold per lang on an aggregate, broadcast it back), which the
    histogram+CDF in ``text_length_histogram`` demonstrates. Exact
    rank is the oracle-checkable form."""
    d = table(spark, sf_dir, "documents")
    ws = words("text")
    stop_ratio = F.round(
        F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS))).cast("double") / F.size(ws), 4
    )
    w = Window.partitionBy("lang").orderBy("stop_ratio")
    q = d.select("doc_id", "lang", stop_ratio.alias("stop_ratio"))
    return q.select(
        "doc_id",
        "lang",
        "stop_ratio",
        F.percent_rank().over(w).alias("q_rank"),
        (F.percent_rank().over(w) >= 0.2).alias("keep"),
    )


def token_counts(d: DataFrame) -> DataFrame:
    """Corpus word-count frame (token, n) — the ONE definition shared
    by text_vocab_coverage (ranking/coverage) and text_tokenize_vocab
    (vocab application), so the two can never desynchronize on
    tokenization or counting."""
    return (
        d.select(F.explode_outer(words("text")).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n
      FROM toks WHERE token <> '' GROUP BY token
    ), ranked AS (
      SELECT token, n,
             CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS token_id,
             CAST(sum(n) OVER (ORDER BY n DESC, token) AS BIGINT) AS cum_n,
             CAST(sum(n) OVER () AS BIGINT) AS total_n
      FROM counts
    )
    SELECT token, n, token_id, cum_n, cum_n / total_n AS coverage
    FROM ranked WHERE token_id <= {VOCAB_SIZE}
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 extension: vocabulary construction — the frequency table a
    tokenizer build starts from: top-512 tokens get contiguous ids in
    frequency order plus CUMULATIVE corpus coverage (what fraction of
    all token occurrences the first k vocab entries explain — the
    curve that picks the vocab size). (n DESC, token) is a total
    order, so ids and the running sum are deterministic and the
    default RANGE window frame equals ROWS.

    Scale shape: the corpus-sized work is the one word-count shuffle
    (map-side combine, same as ``text_token_counts``); the ranking
    window then runs on the DISTINCT-TOKEN table, orders of magnitude
    smaller — a global window there is a single modest partition even
    at 100 TB vocab sizes (~10^7 rows). The grand total is a second
    FRAME of the same window spec (unbounded-following), which
    Catalyst folds into the ONE Window operator — a naive
    ``counts.agg(sum)`` branch joined back would recompute the whole
    word-count shuffle a second time (no exchange reuse across the
    differing aggregates; measured 2 scans + 2 shuffles), and a
    partition-less window on the big side would be worse still. Plan
    pin: single parquet scan, single Window, no join."""
    d = table(spark, sf_dir, "documents")
    counts = token_counts(d)
    w = Window.orderBy(F.col("n").desc(), "token")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = counts.select(
        "token",
        "n",
        F.row_number().over(w).cast("bigint").alias("token_id"),
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n").over(w_all).cast("bigint").alias("total_n"),
    )
    return ranked.filter(F.col("token_id") <= VOCAB_SIZE).select(
        "token", "n", "token_id", "cum_n",
        (F.col("cum_n") / F.col("total_n")).alias("coverage"),
    )


@query(
    "text_tokenize_vocab",
    oracle=f"""
    WITH counts AS (
      SELECT token, count(*) AS n FROM (
        SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
        FROM documents
      ) GROUP BY token
    ),
    vocab AS (
      SELECT token, CAST(rk AS BIGINT) AS id FROM (
        SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rk FROM counts
      ) WHERE rk <= {VOCAB_SIZE}
    ),
    toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS tok,
               generate_subscripts(list_filter(string_split(text, ' '), w -> w <> ''), 1) AS pos
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), w -> w <> '')) > 0
      ) t
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (v.id IS NULL) AS BIGINT) AS n_unk,
           CAST(sum(coalesce(v.id, 0)) AS BIGINT) AS ids_sum,
           array_to_string(list(coalesce(v.id, 0) ORDER BY t.pos)[1:5], '-') AS ids_head
    FROM toks t LEFT JOIN vocab v ON t.tok = v.token
    GROUP BY doc_id
    """,
)
def text_tokenize_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 completion — APPLY the trained vocabulary: encode every
    document to token ids (the text→ids step between curation and
    sequence packing). The vocab is the same frequency table
    ``text_vocab_coverage`` builds (top-512 by count desc, token; ids
    1..512 in that order; OOV → 0), collected once — ≤512 entries,
    bounded metadata exactly like the Bloom bitset — and re-entering
    the plan as a LITERAL map, so encoding is a pure in-row
    ``transform`` over the token array: no explode, no join, no
    shuffle; the only corpus-sized jobs are the one word-count shuffle
    that builds the vocab and the map-side encode itself. At 100 TB
    with a 100k-entry real vocab the literal map becomes a broadcast
    join on exploded tokens (same values, explode+join plan — the
    oracle here IS that form, proving the two shapes agree).

    Output is the checkable per-doc summary (count, OOV count, id
    checksum, first-5 ids) rather than the raw ids array — the array
    is what a real pipeline writes, the summary is what a cross-engine
    hash can verify."""
    d = table(spark, sf_dir, "documents")
    ws = words("text")
    counts = (
        token_counts(d)
        .orderBy(F.col("n").desc(), "token")
        .limit(VOCAB_SIZE)
        .collect()
    )
    pairs = []
    for i, r in enumerate(counts):
        pairs.extend([F.lit(r["token"]), F.lit(i + 1)])
    if pairs:
        vocab_map = F.create_map(*pairs)
        # vocab_map[w], not .getItem(w): Column-key getItem is deprecated
        # since Spark 3.0 and warns on every run
        encode = lambda w: F.coalesce(vocab_map[w], F.lit(0)).cast("bigint")  # noqa: E731
    else:
        # empty corpus -> empty vocab: everything is OOV (create_map()
        # with no entries types as map<void,void> and can't be probed)
        encode = lambda w: F.lit(0).cast("bigint")  # noqa: E731
    ids = F.transform(ws, encode)
    t = d.filter(F.size(ws) > 0).select("doc_id", ids.alias("ids"))
    return t.select(
        "doc_id",
        F.size("ids").cast("bigint").alias("n_tokens"),
        F.size(F.filter(F.col("ids"), lambda i: i == 0)).cast("bigint").alias("n_unk"),
        F.aggregate(F.col("ids"), F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "ids_sum"
        ),
        F.array_join(
            F.transform(F.slice(F.col("ids"), 1, 5), lambda i: i.cast("string")), "-"
        ).alias("ids_head"),
    )


# ------------------------------------------------ unicode normalization


@query(
    "text_nfc_normalize",
    oracle="""
    WITH staged AS (
      SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS raw FROM documents
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_chars_raw,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_nfc,
           nfc_normalize(raw) AS text_nfc
    FROM staged
    """,
)
def text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the first step of any multilingual
    corpus pipeline (mixed NFC/NFD sources make identical strings hash
    differently, silently breaking exact dedup and tokenizer vocab
    lookups). The fixture corpus is ASCII, so the staging step
    manufactures the real-world hazard deterministically: every 'a'
    becomes 'a' + U+0301 (combining acute) — the DECOMPOSED form of
    'á' — and normalization must re-compose it (1 char, not 2; char
    counts prove it happened).

    Java's String has no normalizer reachable from Spark SQL exprs, so
    this is a legitimate Python-path op: an Arrow-vectorized pandas
    UDF over ``unicodedata.normalize`` (zero per-row Python calls at
    the Spark boundary; the loop is C-level inside the batch). Pure
    map-side — no shuffle, partitioning follows the scan."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    def _nfc_fn(s):
        return s.map(lambda t: None if t is None else unicodedata.normalize("NFC", t))

    nfc = pandas_udf(_nfc_fn, "string")

    d = table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        # 'a' + U+0301 combining acute: the DECOMPOSED form (2 chars)
        F.regexp_replace("text", "a", "a\u0301").alias("raw"),
    )
    return staged.select(
        "doc_id",
        F.length("raw").cast("bigint").alias("n_chars_raw"),
        F.length(nfc(F.col("raw"))).cast("bigint").alias("n_chars_nfc"),
        nfc(F.col("raw")).alias("text_nfc"),
    )


# ------------------------------------------------ collocation mining (PMI)

PMI_MIN_COUNT = 5  # bigrams below this support are noise


@query(
    "text_pmi_bigrams",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    uni AS (
      SELECT unnest(w) AS tok FROM toks
    ),
    ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ucnt),
    big AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2)
    ),
    bcnt AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
    btot AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM bcnt)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS pair_count,
           round(ln((CAST(c12 AS DOUBLE) / nb) /
                    ((CAST(u1.c AS DOUBLE) / n) * (CAST(u2.c AS DOUBLE) / n))), 4)
             AS pmi
    FROM bcnt
    JOIN ucnt u1 ON bcnt.w1 = u1.tok
    JOIN ucnt u2 ON bcnt.w2 = u2.tok
    CROSS JOIN tot CROSS JOIN btot
    WHERE c12 >= {PMI_MIN_COUNT}
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token pairs, the standard phrase-detection statistic (Church &
    Hanks 1990; word2vec's phrase pass uses the same score). High-PMI
    pairs become tokenizer merge candidates / phrase units; a support
    floor ({PMI_MIN_COUNT}) kills the long noise tail.

    Scale: bigrams come from an in-row slice (zip of w with its own
    tail) — the explode is corpus-token-sized, the counts are
    map-side-combined groupBys, and the unigram table joins back by
    word (vocabulary-sized, broadcastable). The two grand totals are
    single-row frames cross-joined in (broadcast by definition). PMI
    is rounded at 4dp: the inputs to ln() are exact integer ratios,
    but ln itself may differ in the last ulp across libm
    implementations."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(words("text").alias("w"))
    uni = toks.select(F.explode("w").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count("*").alias("c"))
    tot = ucnt.agg(F.sum("c").cast("bigint").alias("n"))
    big = (
        toks.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bcnt = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    btot = bcnt.agg(F.sum("c12").cast("bigint").alias("nb"))
    u1 = ucnt.select(F.col("tok").alias("t1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("tok").alias("t2"), F.col("c").alias("c2"))
    out = (
        bcnt.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(F.broadcast(u1), F.col("w1") == F.col("t1"))
        .join(F.broadcast(u2), F.col("w2") == F.col("t2"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    return out.select(
        "w1",
        "w2",
        F.col("c12").cast("bigint").alias("pair_count"),
        F.round(
            F.log(
                (F.col("c12").cast("double") / F.col("nb"))
                / (
                    (F.col("c1").cast("double") / F.col("n"))
                    * (F.col("c2").cast("double") / F.col("n"))
                )
            ),
            4,
        ).alias("pmi"),
    )


# ------------------------------------------------ character entropy


@query(
    "text_char_entropy",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(replace(text, ' ', ''), '') AS cs
      FROM documents
      WHERE length(replace(text, ' ', '')) > 0
    )
    SELECT doc_id,
           CAST(len(cs) AS BIGINT) AS n_chars,
           round(-list_sum(list_transform(
             list_sort(list_distinct(cs)),
             ch -> (CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / len(cs))
                   * ln(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / len(cs))
           )), 4) AS char_entropy
    FROM t WHERE len(cs) > 0
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the character distribution per document — a
    classic gibberish/boilerplate signal (near-zero = repeated-char
    runs or padding; natural language sits in a band, and both ends
    get pruned). Entirely in-row: char split, sorted distinct
    alphabet, per-char count via array filter (O(alphabet × len) —
    alphabet is small by definition), entropy as an in-row transform +
    sum. No shuffle, no UDF; partitioning follows the scan.

    Float parity: the per-char terms sum over the SORTED distinct
    alphabet so both engines add in the same order; ln() may still
    differ in the last ulp, so the result rounds at 4dp."""
    return char_entropy_frame(table(spark, sf_dir, "documents"))


def char_entropy_frame(d: DataFrame) -> DataFrame:
    """(doc_id, text, ...) → (doc_id, n_chars, char_entropy). Split out
    from the registered query so the empty/whitespace-doc guard is
    unit-testable with injected rows."""
    squeezed = F.replace(F.col("text"), F.lit(" "), F.lit(""))
    cs = F.split(squeezed, "")
    # Guard on the CHARACTER LENGTH, not size(cs): split-on-"" of an
    # empty string returns [''] (size 1) in BOTH engines, so a
    # size(cs) > 0 filter would let empty/whitespace-only docs through
    # with a bogus (n_chars=1, entropy=0) row — review finding, pinned
    # by test_char_entropy_drops_empty_docs.
    t = d.filter(F.length(squeezed) > 0).select("doc_id", cs.alias("cs"))
    n = F.size("cs").cast("double")
    term = lambda ch: (  # noqa: E731
        (F.size(F.filter(F.col("cs"), lambda x: x == ch)).cast("double") / n)
        * F.log(F.size(F.filter(F.col("cs"), lambda x: x == ch)).cast("double") / n)
    )
    ent = -F.aggregate(
        F.transform(F.array_sort(F.array_distinct("cs")), term),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return t.select(
        "doc_id",
        F.size("cs").cast("bigint").alias("n_chars"),
        F.round(ent, 4).alias("char_entropy"),
    )


# ------------------------------------------------ RAKE keyphrases

RAKE_TOP_K = 20


@query(
    "text_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, w, i, w[i] AS tok
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w,
               unnest(range(1, len(list_filter(string_split(text, ' '), x -> x <> '')) + 1)) AS i
        FROM documents
      )
    ),
    marked AS (
      SELECT doc_id, i, tok, tok IN {STOP_SQL_LITERAL} AS is_stop,
             sum(CASE WHEN tok IN {STOP_SQL_LITERAL} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS run_id
      FROM toks
    ),
    cands AS (
      SELECT doc_id, run_id,
             list_transform(list_sort(list({{'i': i, 'tok': tok}})), x -> x.tok) AS phrase_words
      FROM marked WHERE NOT is_stop
      GROUP BY doc_id, run_id
      HAVING count(*) >= 2
    ),
    cand_words AS (
      SELECT doc_id, run_id, len(phrase_words) AS plen,
             array_to_string(phrase_words, ' ') AS phrase,
             unnest(phrase_words) AS word
      FROM cands
    ),
    wstats AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS degree
      FROM cand_words GROUP BY word
    ),
    scored AS (
      SELECT c.doc_id, c.run_id, c.phrase,
             round(sum(CAST(s.degree AS DOUBLE) / s.freq), 4) AS score
      FROM cand_words c JOIN wstats s USING (word)
      GROUP BY c.doc_id, c.run_id, c.phrase
    ),
    best AS (
      SELECT phrase, max(score) AS score,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM scored GROUP BY phrase
    )
    SELECT phrase, score, n_docs FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, phrase) AS rk FROM best
    ) WHERE rk <= {RAKE_TOP_K}
    """,
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (length ≥ 2); each word
    scores degree/frequency over the candidate corpus (degree = total
    length of candidates containing it — co-occurrence reach; freq =
    raw count), a phrase scores the sum of its words, and the corpus
    top-{RAKE_TOP_K} come back with document support. TF-IDF finds
    characteristic single TOKENS per doc; RAKE finds multi-word
    PHRASES corpus-wide — the keyphrase surface a tagging/indexing
    pipeline wants.

    Scale: run segmentation is a per-doc running count (window
    partitioned by doc over token positions); word stats are
    vocabulary-sized and join back broadcast; the final top-k is a
    rank over the distinct-phrase table. Score sums (few exact
    rationals per phrase) round at 4dp — groupBy sum order is
    engine-specific, the usual discipline."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(words("text")).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    is_stop = F.col("tok").isin(*STOPWORDS)
    wr = Window.partitionBy("doc_id").orderBy("i")
    marked = toks.select(
        "doc_id",
        "i",
        "tok",
        is_stop.alias("is_stop"),
        F.sum(is_stop.cast("int")).over(wr).alias("run_id"),
    )
    cands = (
        marked.filter(~F.col("is_stop"))
        .groupBy("doc_id", "run_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))), lambda x: x["tok"]
            ).alias("phrase_words")
        )
        .filter(F.size("phrase_words") >= 2)
    )
    cand_words = cands.select(
        "doc_id",
        "run_id",
        F.size("phrase_words").alias("plen"),
        F.array_join("phrase_words", " ").alias("phrase"),
        F.explode("phrase_words").alias("word"),
    )
    wstats = cand_words.groupBy("word").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    scored = (
        cand_words.join(F.broadcast(wstats), "word")
        .groupBy("doc_id", "run_id", "phrase")
        .agg(F.round(F.sum(F.col("degree").cast("double") / F.col("freq")), 4).alias("score"))
    )
    # DISTINCT docs (review finding): a phrase occurring as two runs in
    # one doc is one document of support, not two
    best = scored.groupBy("phrase").agg(
        F.max("score").alias("score"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    wk = Window.orderBy(F.col("score").desc(), "phrase")
    return (
        best.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= RAKE_TOP_K)
        .select("phrase", "score", "n_docs")
    )


# ------------------------------------------------ compression-ratio gate

# Dyadic bounds (exactly representable) for the Gopher/RefinedWeb-style
# compressibility gate: ratio < LOW → pathologically repetitive
# (boilerplate, keyboard mash held down); ratio > HIGH → near-random
# bytes (minified blobs, base64, binary mis-decoded as text). Real
# pipelines tune these per corpus; the mechanism is the operator.
COMPRESS_RATIO_LOW = 0.25
COMPRESS_RATIO_HIGH = 0.96875  # 31/32


@query("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the classic cheap quality
    signal (used by Gopher/RefinedWeb-class curation): highly
    repetitive text compresses too WELL, random/binary junk too
    POORLY; both tails are cut. DEFLATE is not expressible in DuckDB
    SQL, so this is a rows-only registry entry — the value contract
    is pinned instead by tests/test_modules.py recomputing ratios
    with direct zlib on the collected fixture (exact equality, same
    library).

    Spark shape: one Arrow-vectorized pandas UDF (the zlib loop is
    C-level per batch), pure map-side — no shuffle, output partitions
    follow the scan; the gate itself is a JVM-side expression over
    the returned length. At 100 TB this is one pass over text bytes,
    ~100 MB/s/core of DEFLATE level-6 throughput."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    def _clen(s):
        return s.map(
            lambda t: None if t is None else len(zlib.compress(t.encode("utf-8"), 6))
        )

    clen = pandas_udf(_clen, "long")

    d = table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        clen(F.col("text")).alias("n_compressed"),
    )
    ratio = F.col("n_compressed").cast("double") / F.col("n_bytes").cast("double")
    return staged.where(F.col("n_bytes") > 0).select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        ratio.alias("compression_ratio"),
        (
            (ratio >= F.lit(COMPRESS_RATIO_LOW))
            & (ratio <= F.lit(COMPRESS_RATIO_HIGH))
        ).alias("keep"),
    )
