"""Learned quality/routing filters: distributed Naive Bayes and
unigram-LM perplexity.

Web-corpus pipelines gate documents with cheap learned classifiers
(fastText language ID, logistic quality scorers trained on
reference-vs-crawl text) and LM fluency scores (CCNet perplexity
buckets). The trainable core those share is: featurize → count
statistics per class over the training split → broadcast the model →
score the corpus in one pass. This module implements that loop
natively in Spark — the model IS two count tables, so training is two
map-side-combined groupBys and "deploying" the model is a broadcast
join, no ML runtime needed.

ONE definition of the LM machinery: the count-model builder, the
smoothed log-prob join, the cross-entropy aggregate, and the tercile
window exist once here (Spark helpers + SQL fragments) and are reused
by classify_nb_lang, text_perplexity_buckets AND
pipelines.web_corpus — a smoothing or rounding change in one place
cannot silently diverge from the others or their oracles (review
finding, r6 session 2).

Scale design (100 TB):
- the training pass is bounded by (classes × vocabulary), and the
  model tables broadcast (the exploded corpus token stream never
  shuffles against them);
- scoring aggregates the token stream to (doc, word, multiplicity)
  FIRST, then joins the model — the join runs on the compressed
  per-doc vocabulary, not the raw token stream (NB additionally
  expands ×|classes| on that compressed stream);
- the argmax / tercile windows partition by doc / lang — never a
  global sort.

Float-parity note: log-likelihoods are sums of ln() of exact integer
ratios; ln and the sum order differ across engines in the last ulps,
so scores are rounded (6dp) BEFORE any ordering in BOTH engines, and
reported values round at 4dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .sampling import TRAIN_BUCKET, hash_bucket
from .text import words

_SQL_BUCKET = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 256"

# ------------------------- shared LM machinery (Spark + SQL, ONE copy)

# Count model over a `train_toks(lang, word)` CTE.
SQL_LM_MODEL = """cnt AS (
      SELECT lang, word, CAST(count(*) AS BIGINT) AS c FROM train_toks GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
    vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM cnt)"""

# Add-one-smoothed per-doc cross-entropy over a
# `doc_words(doc_id, lang, word, m)` CTE and the model CTEs above.
SQL_CE = """ce AS (
      SELECT d.doc_id, d.lang, CAST(sum(d.m) AS BIGINT) AS n_tokens,
             -sum(d.m * ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (t.tot + vocab.v)))
               / sum(d.m) AS h
      FROM doc_words d
      JOIN tot t ON d.lang = t.lang
      CROSS JOIN vocab
      LEFT JOIN cnt c ON c.lang = d.lang AND c.word = d.word
      GROUP BY d.doc_id, d.lang
    )"""

SQL_NTILE = "ntile(3) OVER (PARTITION BY lang ORDER BY round(h, 6), doc_id)"
SQL_TERCILE = "CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"


def lm_counts(train_toks: DataFrame):
    """(lang, word) token stream → (cnt, tot, vocab) count-model
    frames — the Spark twin of SQL_LM_MODEL."""
    cnt = train_toks.groupBy("lang", "word").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("tot"))
    vocab = cnt.agg(F.countDistinct("word").alias("v"))
    return cnt, tot, vocab


def doc_word_multiplicity(toks: DataFrame, *keys: str) -> DataFrame:
    """Compress a token stream to (keys..., word, m) BEFORE any model
    join — the join then runs on per-doc vocabulary, not raw tokens."""
    return toks.groupBy(*keys, "word").agg(F.count("*").cast("bigint").alias("m"))


def smoothed_scored(doc_words: DataFrame, cnt, tot, vocab) -> DataFrame:
    """Join the broadcast count model onto a compressed (…, lang,
    word, m) stream; adds c/tot/v columns for the smoothed term."""
    cnt_k = cnt.select(F.col("lang").alias("c_lang"), F.col("word").alias("c_word"), "c")
    return (
        doc_words.join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(cnt_k),
            (F.col("lang") == F.col("c_lang")) & (F.col("word") == F.col("c_word")),
            "left",
        )
    )


def add_one_logprob(count_col: F.Column, denom_col: F.Column) -> F.Column:
    """ln((count+1) / denom) — THE add-one smoothing term. Order-1
    passes denom = tot + V; the bigram path passes denom = c1 + V.
    One definition (review finding: the bigram query had re-derived
    this inline, where a smoothing fix would not have reached it)."""
    return F.log(
        (F.coalesce(count_col, F.lit(0)) + 1).cast("double") / denom_col
    )


def ce_aggregate(scored: DataFrame, keys: list, m_col: str, lp: F.Column) -> DataFrame:
    """Per-key cross-entropy: -Σ m·lp / Σ m plus the evidence count —
    shared by the order-1 and order-2 paths."""
    return scored.groupBy(*keys).agg(
        F.sum(m_col).cast("bigint").alias("n_tokens"),
        (-F.sum(F.col(m_col) * lp) / F.sum(m_col)).alias("h"),
    )


def _smoothed_logprob() -> F.Column:
    """Order-1 smoothing term over the model-joined columns."""
    return add_one_logprob(F.col("c"), F.col("tot") + F.col("v"))


def cross_entropy_frame(doc_words: DataFrame, cnt, tot, vocab) -> DataFrame:
    """(doc_id, lang, word, m) → (doc_id, lang, n_tokens, h) — the
    Spark twin of SQL_CE."""
    return ce_aggregate(
        smoothed_scored(doc_words, cnt, tot, vocab),
        ["doc_id", "lang"],
        "m",
        _smoothed_logprob(),
    )


def tercile_buckets(ce: DataFrame) -> DataFrame:
    """Adds the per-language head/middle/tail bucket (ntile over
    round(h,6) with doc_id tiebreak) — the Spark twin of
    SQL_NTILE/SQL_TERCILE."""
    w = Window.partitionBy("lang").orderBy(F.round("h", 6), "doc_id")
    return ce.withColumn("nt", F.ntile(3).over(w)).withColumn(
        "bucket",
        F.when(F.col("nt") == 1, "head")
        .when(F.col("nt") == 2, "middle")
        .otherwise("tail"),
    )


def _hash_split(d: DataFrame) -> DataFrame:
    return d.select(
        "doc_id", "lang", "text", (hash_bucket("doc_id") < TRAIN_BUCKET).alias("is_train")
    )


def _tok_stream(d: DataFrame, *cols: str) -> DataFrame:
    return d.select(*cols, F.explode_outer(words("text")).alias("word")).filter(
        F.col("word").isNotNull()
    )


# ------------------------------------------------------- Naive Bayes


@query(
    "classify_nb_lang",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, text,
             {_SQL_BUCKET} < {TRAIN_BUCKET} AS is_train
      FROM documents
    ),
    train_toks AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
      FROM split WHERE is_train
    ),
    {SQL_LM_MODEL},
    priors AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM split WHERE is_train GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM split WHERE is_train),
    test_toks AS (
      SELECT doc_id, lang AS true_lang,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
      FROM split WHERE NOT is_train
    ),
    doc_words AS (
      SELECT doc_id, true_lang, word, CAST(count(*) AS BIGINT) AS m
      FROM test_toks GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT d.doc_id, d.true_lang, p.lang,
             ln(CAST(p.n_docs AS DOUBLE) / n.n_train)
               + sum(d.m * ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (t.tot + vocab.v)))
               AS score
      FROM doc_words d
      CROSS JOIN priors p
      JOIN tot t ON p.lang = t.lang
      CROSS JOIN vocab CROSS JOIN n
      LEFT JOIN cnt c ON c.lang = p.lang AND c.word = d.word
      GROUP BY d.doc_id, d.true_lang, p.lang, p.n_docs, n.n_train
    )
    SELECT doc_id, true_lang, lang AS pred_lang,
           round(score, 4) AS score,
           lang = true_lang AS correct
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY round(score, 6) DESC, lang) AS rk
      FROM scored
    ) WHERE rk = 1
    """,
)
def classify_nb_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train multinomial NB on the hash-split train documents, predict
    ``lang`` for every held-out document. Returns (doc_id, true_lang,
    pred_lang, score, correct). The ×|classes| expansion runs on the
    compressed (doc, word, m) stream; the count model comes from the
    shared lm_counts — only the class-prior argmax is NB-specific."""
    split = _hash_split(table(spark, sf_dir, "documents"))
    train = split.filter("is_train")
    test = split.filter("NOT is_train")

    cnt, tot, vocab = lm_counts(_tok_stream(train, "lang"))
    priors = train.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    n = train.agg(F.count("*").cast("bigint").alias("n_train"))

    test_toks = _tok_stream(
        test.withColumnRenamed("lang", "true_lang"), "doc_id", "true_lang"
    )
    doc_words = doc_word_multiplicity(test_toks, "doc_id", "true_lang")

    model = (
        priors.join(tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n))
        .select("lang", "n_docs", "tot", "v", "n_train")
    )
    cnt_k = cnt.select(F.col("lang").alias("c_lang"), F.col("word").alias("c_word"), "c")
    expanded = doc_words.crossJoin(F.broadcast(model)).join(
        F.broadcast(cnt_k),
        (F.col("lang") == F.col("c_lang")) & (F.col("word") == F.col("c_word")),
        "left",
    )
    scored = expanded.groupBy("doc_id", "true_lang", "lang", "n_docs", "n_train").agg(
        (
            F.log(F.first("n_docs").cast("double") / F.first("n_train"))
            + F.sum(F.col("m") * _smoothed_logprob())
        ).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.round("score", 6).desc(), "lang")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("pred_lang"),
            F.round("score", 4).alias("score"),
            (F.col("lang") == F.col("true_lang")).alias("correct"),
        )
    )


# ------------------------------------------------- perplexity buckets


@query(
    "text_perplexity_buckets",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, text,
             {_SQL_BUCKET} < {TRAIN_BUCKET} AS is_train
      FROM documents
    ),
    train_toks AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
      FROM split WHERE is_train
    ),
    {SQL_LM_MODEL},
    test_toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
      FROM split WHERE NOT is_train
    ),
    doc_words AS (
      SELECT doc_id, lang, word, CAST(count(*) AS BIGINT) AS m
      FROM test_toks GROUP BY 1, 2, 3
    ),
    {SQL_CE}
    SELECT doc_id, lang, round(h, 4) AS cross_entropy,
           {SQL_TERCILE} AS bucket
    FROM (
      SELECT *, {SQL_NTILE} AS nt
      FROM ce
    )
    """,
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score each held-out document
    under its own language's unigram LM (trained on the hash split,
    add-one smoothing — the KenLM role, reduced to order-0 so both
    engines can compute it exactly) and cut each language into
    head/middle/tail terciles of cross-entropy. Downstream mixing then
    samples head-heavy — the CCNet recipe for favoring fluent text
    without a supervised quality label. Entirely assembled from the
    shared LM helpers above."""
    split = _hash_split(table(spark, sf_dir, "documents"))
    cnt, tot, vocab = lm_counts(_tok_stream(split.filter("is_train"), "lang"))
    doc_words = doc_word_multiplicity(
        _tok_stream(split.filter("NOT is_train"), "doc_id", "lang"), "doc_id", "lang"
    )
    ce = cross_entropy_frame(doc_words, cnt, tot, vocab)
    return tercile_buckets(ce).select(
        "doc_id",
        "lang",
        F.round("h", 4).alias("cross_entropy"),
        "bucket",
    )


# --------------------------------------------- bigram LM perplexity


@query(
    "text_perplexity_bigram",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, text,
             {_SQL_BUCKET} < {TRAIN_BUCKET} AS is_train
      FROM documents
    ),
    train_toks AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
      FROM split WHERE is_train
    ),
    vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM train_toks),
    train_pairs AS (
      SELECT lang, w[i] AS w1, w[i + 1] AS w2
      FROM (
        SELECT lang, w, unnest(range(1, len(w))) AS i
        FROM (
          SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM split WHERE is_train
        ) WHERE len(w) >= 2
      )
    ),
    bcnt AS (
      SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM train_pairs GROUP BY 1, 2, 3
    ),
    ctx AS (SELECT lang, w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bcnt GROUP BY 1, 2),
    test_pairs AS (
      SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
      FROM (
        SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i
        FROM (
          SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM split WHERE NOT is_train
        ) WHERE len(w) >= 2
      )
    ),
    doc_pairs AS (
      SELECT doc_id, lang, w1, w2, CAST(count(*) AS BIGINT) AS m
      FROM test_pairs GROUP BY 1, 2, 3, 4
    ),
    ce AS (
      SELECT d.doc_id, d.lang, CAST(sum(d.m) AS BIGINT) AS n_bigrams,
             -sum(d.m * ln(CAST(coalesce(b.c12, 0) + 1 AS DOUBLE)
                           / (coalesce(x.c1, 0) + vocab.v)))
               / sum(d.m) AS h
      FROM doc_pairs d
      CROSS JOIN vocab
      LEFT JOIN ctx x ON x.lang = d.lang AND x.w1 = d.w1
      LEFT JOIN bcnt b ON b.lang = d.lang AND b.w1 = d.w1 AND b.w2 = d.w2
      WHERE vocab.v > 0
      GROUP BY d.doc_id, d.lang
    )
    SELECT doc_id, lang, n_bigrams, round(h, 4) AS cross_entropy,
           {SQL_TERCILE} AS bucket
    FROM (SELECT *, {SQL_NTILE} AS nt FROM ce)
    """,
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 upgrade of text_perplexity_buckets: score held-out
    documents under a per-language BIGRAM LM — P(w2|w1) with add-one
    smoothing over (context count, train vocab) — and tercile per
    language. Bigram models separate fluent word ORDER from fluent
    word CHOICE (a unigram model scores a shuffled document
    identically; the bigram model does not), which is why real CCNet
    filtering uses order-n KenLM. Unseen contexts degrade to 1/V —
    the standard add-one floor.

    Same scale posture as the shared machinery: the model is bounded
    by observed bigrams (≪ vocab², Heaps again), broadcast; the doc
    stream compresses to (doc, w1, w2, multiplicity) before the model
    joins; terciles ride the shared SQL_NTILE/SQL_TERCILE fragments
    and tercile_buckets helper. Documents under 2 words carry no
    bigram evidence and drop (documented contract)."""
    split = _hash_split(table(spark, sf_dir, "documents"))
    train = split.filter("is_train")
    test = split.filter("NOT is_train")

    vocab = (
        _tok_stream(train, "lang")
        .agg(F.countDistinct("word").alias("v"))
    )

    def pairs(d: DataFrame, *keys: str) -> DataFrame:
        w = words("text")
        t = d.select(*keys, w.alias("w")).filter(F.size("w") >= 2)
        p = F.explode(
            F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        )
        return t.select(*keys, p.alias("p")).select(*keys, "p.w1", "p.w2")

    bcnt = pairs(train, "lang").groupBy("lang", "w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )
    ctx = bcnt.groupBy("lang", "w1").agg(F.sum("c12").cast("bigint").alias("c1"))

    doc_pairs = pairs(test, "doc_id", "lang").groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count("*").cast("bigint").alias("m")
    )
    ctx_k = ctx.select(
        F.col("lang").alias("x_lang"), F.col("w1").alias("x_w1"), "c1"
    )
    bcnt_k = bcnt.select(
        F.col("lang").alias("b_lang"),
        F.col("w1").alias("b_w1"),
        F.col("w2").alias("b_w2"),
        "c12",
    )
    # v > 0 guard (review finding): with an EMPTY train split the
    # vocab is 0 and every unseen denominator coalesces to 0 — ANSI
    # DIVIDE_BY_ZERO. No model, no scores: all test rows drop, the
    # same shape the unigram path gets from its inner model join.
    scored = (
        doc_pairs.crossJoin(F.broadcast(vocab))
        .filter(F.col("v") > 0)
        .join(
            F.broadcast(ctx_k),
            (F.col("lang") == F.col("x_lang")) & (F.col("w1") == F.col("x_w1")),
            "left",
        )
        .join(
            F.broadcast(bcnt_k),
            (F.col("lang") == F.col("b_lang"))
            & (F.col("w1") == F.col("b_w1"))
            & (F.col("w2") == F.col("b_w2")),
            "left",
        )
    )
    lp = add_one_logprob(
        F.col("c12"), F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    )
    ce = ce_aggregate(scored, ["doc_id", "lang"], "m", lp).withColumnRenamed(
        "n_tokens", "n_bigrams"
    )
    return tercile_buckets(ce).select(
        "doc_id", "lang", "n_bigrams", F.round("h", 4).alias("cross_entropy"), "bucket"
    )
