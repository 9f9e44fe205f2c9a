"""Corpus retrieval: inverted index build, positional phrase search,
and BM25 ranking — the index-side operators a training-data pipeline
runs right after curation (decontamination lookups, targeted corpus
search, retrieval-augmented filtering all sit on exactly this).

The reference has no retrieval surface at all (its Trino SQL stops at
LIKE — SURVEY.md §2); this family is part of the north-star
"training-data pipeline at 100 TB" tier the build brief adds, next to
dedup (extensions/dedup.py) and similarity (extensions/similarity.py):
where similarity answers "what is NEAR this embedding", retrieval
answers "which documents CONTAIN these terms", and the two share the
decontamination use case (exact-term and near-duplicate leakage).

Tokenization is the repo-wide convention (text.py:42): split on a
single space, drop empties — mirrored in every oracle as
``list_filter(string_split(text,' '), w -> w <> '')``.

Scale design, per operator:

- **index_inverted_build** — the classic two-level agg: one shuffle to
  (doc_id, term) for tf, one vocabulary-sized shuffle to term for
  df/cf. Posting lists are the scale hazard (a stopword's postings at
  100 TB exceed any row), so the materialized column is a BOUNDED
  head (first ``POSTINGS_HEAD`` doc_ids): rank-per-term is filtered
  BEFORE collect_list, which Spark 3.5+ executes as WindowGroupLimit
  — a partial per-partition top-k, never a full per-term sort buffer.
  df/cf stay exact from the unbounded agg; a production index writes
  full postings sharded by (term, doc_id range) instead of one row.
- **index_phrase_search** — ZERO-shuffle positional matching: the
  token array zips with its own 1-shifted slice and the adjacency
  flags map to match positions (lambdas touch only their element
  args — see the function docstring for why the element_at-probe
  form was O(n²)), so the scan emits one already-final row per
  matching document. No explode, no self-join on (doc_id, pos),
  nothing moves; Catalyst keeps the whole thing inside one
  WholeStageCodegen over the parquet scan. This is the form a 100 TB
  phrase grep wants: cost = one pass over text bytes, output =
  matches only.
- **text_bm25_topk** — BM25 with every constant dyadic (k1=1.25,
  b=0.75, so k1+1=2.25 and 1-b=0.25 are exact doubles) and the IDF
  left as the exact rational (2N-2df+1)/(2df+1) instead of its log:
  libm last-ulp differences between engines would break exact-double
  parity, and for per-(term,doc) scoring the transform is monotone so
  every rank is identical (same discipline as text_tfidf_topk's
  rational score, text.py:187). Per-doc length and tf shuffle once;
  term stats and the 5-term query set are vocabulary-sized and
  broadcast; the final top-k window runs over 5 term partitions.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified
# 'pd.Series' type hints against these globals (PEP 563 strings)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

POSTINGS_HEAD = 32  # doc_ids materialized per term; df/cf stay exact
BM25_K1 = 1.25  # dyadic on purpose: exactly representable, so k1+1 is too
BM25_B = 0.75  # dyadic: 1-b = 0.25 exact
N_QUERY_TERMS = 5
TOPK = 3


def _words(c):
    """The repo-wide tokenizer (text.py:42): single-space split, drop
    empties. Oracles mirror it with list_filter(string_split(...))."""
    return F.filter(F.split(c, " "), lambda w: w != "")


@query(
    "index_inverted_build",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           array_to_string(list_sort(list(doc_id))[1:32], ',') AS postings_head
    FROM tf GROUP BY term
    """,
)
def index_inverted_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: per term, exact document
    frequency (df), exact corpus frequency (cf), and the first
    POSTINGS_HEAD sorted doc_ids. The head is rank-filtered BEFORE
    collect_list so the plan is a WindowGroupLimit partial top-k plus
    a vocabulary-sized join — no unbounded per-term sort buffer (the
    difference between "works" and "hot term OOMs the executor" at
    100 TB). One pipeline, one definition: _build_index is the single
    implementation (index_delta_merge and the bucketed serving path
    reuse it), this query just renders the head array as the string
    the driver hashes — so a cap/ordering/tokenizer change cannot
    silently diverge between the full build and the merge contract
    (r11 review finding)."""
    return _build_index(table(spark, sf_dir, "documents")).select(
        "term", "df", "cf", F.array_join("head", ",").alias("postings_head")
    )


@query(
    "index_phrase_search",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id,
             unnest(list_transform(ws, (x, i) -> struct_pack(pos := i - 1, token := x)),
                    recursive := true)
      FROM w
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) AS INT) AS first_pos
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.token = 'table' AND b.token = 'scan'
    GROUP BY a.doc_id
    """,
)
def index_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search ("table scan") with ZERO shuffles: the
    token array is zipped with its own 1-shifted slice, the adjacency
    flags map to match positions, and the whole thing stays one
    expression tree in the scan's codegen stage. Emits (doc_id,
    n_matches, first_pos) for matching docs only. The oracle
    cross-checks with the classical exploded self-join form — two
    independent formulations of phrase adjacency.

    Expression-shape note (the r11 bench caught this): the obvious
    form — filter(sequence(1, n-1), i -> element_at(ws, i) = ...) —
    re-evaluates the OUTER ``ws`` subexpression on every lambda call
    (interpreted higher-order functions do no common-subexpression
    elimination, same finding as doc_winnowing's r9 O(n²) fix), which
    re-tokenizes the document per position: O(n²) per doc, measured
    2.0 s at sf0.1. In this form every lambda touches only its own
    element arguments, so ``ws`` is evaluated O(1) times per row —
    0.2 s for the same scan."""
    return _phrase_query(spark, sf_dir, ("table", "scan"))


def phrase_match_positions(ws, terms):
    """0-based start positions where ``terms`` occurs contiguously in
    the token-array column ``ws`` — a pure expression for ANY phrase
    length k: the j-th shifted slice of ws compares against terms[j]
    and the k boolean arrays AND together via zip_with (every lambda
    touches only its element args — never the outer ws; see
    index_phrase_search's O(n²) note)."""
    k = len(terms)
    if k < 1:
        raise ValueError("phrase needs at least one term")
    npos = F.greatest(F.size(ws) - (k - 1), F.lit(0))
    flags = F.transform(F.slice(ws, 1, npos), lambda x: x == terms[0])

    def _and_term(term):
        # closure factory, NOT a default arg: PySpark derives the
        # lambda-variable count from the function signature, and a
        # `t=t` default would read as a 3-arg lambda to zip_with
        return lambda f, x: f & (x == term)

    for j, t in enumerate(terms[1:], start=1):
        flags = F.zip_with(flags, F.slice(ws, 1 + j, npos), _and_term(t))
    return F.filter(
        F.transform(flags, lambda b, i: F.when(b, i).otherwise(F.lit(-1))),
        lambda v: v >= 0,
    )


def _phrase_query(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...]
) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    positions = phrase_match_positions(_words(F.col("text")), terms)
    return (
        d.select("doc_id", positions.alias("pos0"))
        .where(F.size("pos0") > 0)
        .select(
            "doc_id",
            F.size("pos0").cast("long").alias("n_matches"),
            F.element_at("pos0", 1).cast("int").alias("first_pos"),
        )
    )


@query(
    "index_phrase3_search",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id,
             unnest(list_transform(ws, (x, i) -> struct_pack(pos := i - 1, token := x)),
                    recursive := true)
      FROM w
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) AS INT) AS first_pos
    FROM tok a
    JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    WHERE a.token = 'table' AND b.token = 'scan' AND c.token = 'merge'
    GROUP BY a.doc_id
    """,
)
def index_phrase3_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k=3 instantiation of phrase_match_positions ("table scan
    merge") — pins that the generalized slice-AND construction is
    correct beyond bigrams, against the triple-self-join oracle. Still
    zero Exchanges; cost is k slice comparisons per row, linear in
    both document length and phrase length."""
    return _phrase_query(spark, sf_dir, ("table", "scan", "merge"))


@query(
    "text_bm25_topk",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
      FROM documents
    ), tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), stats AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), consts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM w
    ), qt AS (
      SELECT term, df FROM stats ORDER BY df DESC, term LIMIT 5
    ), scored AS (
      SELECT tf.term, tf.doc_id,
             (CAST(2 * n - 2 * qt.df + 1 AS DOUBLE) / CAST(2 * qt.df + 1 AS DOUBLE))
             * ((CAST(tf.tf AS DOUBLE) * 2.25)
                / (CAST(tf.tf AS DOUBLE)
                   + 1.25 * (0.25 + 0.75 * (CAST(w.dl AS DOUBLE) / avgdl)))) AS score
      FROM tf
      JOIN qt ON tf.term = qt.term
      JOIN w ON tf.doc_id = w.doc_id
      CROSS JOIN consts
    )
    SELECT term, doc_id, score, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT term, doc_id, score,
             row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-3 documents for the corpus's 5 highest-df terms.
    Exact-double parity by construction: k1/b dyadic, IDF the exact
    rational (2N-2df+1)/(2df+1) (monotone in the log form — identical
    ranks, no libm), and both engines evaluate the identically-
    parenthesized expression over identical integer inputs. Plan: ONE
    corpus shuffle — doc length rides the tf groupBy as a dependent
    key — then term stats, the 5-term query set, and (n, avgdl) all
    join back broadcast; the final window is a WindowGroupLimit
    partial top-k over 5 term partitions.

    The tf subtree is deliberately COMPUTED TWICE (once under the
    broadcast query-term side, once for scoring) rather than
    persisted or df-derived via a window: a term-keyed window over
    the full tf table would shuffle corpus-sized data onto skewed
    stopword keys, and an r11 A/B at sf0.1 measured persist vs
    recompute at 2.97 vs 3.04 s steady-state — the second scan's
    map-side work is cheap next to its vocabulary-sized shuffle, so
    the simpler recompute form wins at any scale where the corpus
    outgrows cache.

    r17 re-probe (r16 verdict #4), two negatives kept as documentation:
    (a) the duplicated tf subtree is genuinely computed twice — AQE/
    ReuseExchange never fires on it because Generate (explode) nodes
    defeat plan canonicalization (verified: a dup aggregate subtree
    without a Generate reuses, the same subtree behind explode(split)
    does not — the same reason the dedup signature tables need explicit
    persists); the r11 persist-vs-recompute wash therefore stands.
    (b) filtering the token stream to the 5 query terms BEFORE the
    scoring aggregate (broadcast qt below the groupBy) is row-identical
    and shrinks the scoring exchange to 5 terms, but measured 2.35 →
    3.82 s same-session: the scoring tokenize then WAITS on the qt
    broadcast (whole stats branch) instead of running concurrently with
    it — the two-independent-branches schedule beats the smaller
    shuffle at any size where the corpus fits the cluster's concurrent
    capacity; at 100 TB the filtered form is the right trade and this
    note is the pointer."""
    d = table(spark, sf_dir, "documents")
    ws = _words(F.col("text"))
    # dl rides along as a grouping key, so tf and doc length come out
    # of ONE corpus shuffle — no second (doc_id)-keyed join at scale
    # (dl is functionally dependent on doc_id; the extra key is free).
    tf = (
        d.select("doc_id", F.size(ws).alias("dl"), F.explode(ws).alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    consts = d.select(F.size(ws).alias("dl")).agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
    )
    qt = stats.orderBy(F.col("df").desc(), F.col("term").asc()).limit(N_QUERY_TERMS)
    idf = (2 * F.col("n") - 2 * F.col("df") + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(consts))
        .select(
            "term",
            "doc_id",
            (idf * ((tf_d * F.lit(1.0 + BM25_K1)) / denom)).alias("score"),
        )
    )
    win = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= TOPK)
        .select("term", "doc_id", "score", F.col("rnk").cast("int").alias("rnk"))
    )


def _build_index(d: DataFrame) -> DataFrame:
    """index_inverted_build's core over an arbitrary documents frame:
    exact df/cf per term + the bounded sorted postings head."""
    ws = _words(F.col("text"))
    tf = (
        d.select("doc_id", F.explode(ws).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    head = (
        tf.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("term").orderBy(F.col("doc_id").asc())
            ),
        )
        .where(F.col("rn") <= POSTINGS_HEAD)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("head"))
    )
    return stats.join(head, "term")


@query(
    "index_delta_merge",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           array_to_string(list_sort(list(doc_id))[1:32], ',') AS postings_head
    FROM tf GROUP BY term
    """,
)
def index_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: build the index on the base
    corpus (doc_id % 5 != 0) and a DELTA index on the rest, then merge
    index-to-index — df/cf add (delta doc sets are disjoint by
    construction), and the merged postings head is the first
    POSTINGS_HEAD of the concatenated heads. That head merge is EXACT,
    not approximate: any doc among the first K of the union is among
    the first K of whichever side it came from, so head_K(A ∪ B) ⊆
    head_K(A) ∪ head_K(B). The oracle recomputes the FULL corpus index
    from scratch — asserting merge(base, delta) == full rebuild, the
    contract that lets a 100 TB deployment index only the new crawl
    slice instead of re-shuffling the whole corpus. Merge cost is
    vocabulary-sized (two index frames), independent of corpus bytes."""
    d = table(spark, sf_dir, "documents")
    base = _build_index(d.where(F.col("doc_id") % 5 != 0))
    delta = _build_index(d.where(F.col("doc_id") % 5 == 0))
    return merge_indexes(base, delta)


def merge_indexes(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two disjoint-corpus indexes built by _build_index: df/cf
    add; heads concatenate, sort, and re-cap (exact — see
    index_delta_merge). Property-tested for ARBITRARY disjoint splits
    in tests/test_properties.py, not just the %5 example."""
    merged = base.unionByName(delta)
    return merged.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.array_join(
            F.slice(
                F.sort_array(F.flatten(F.collect_list("head"))),
                1,
                POSTINGS_HEAD,
            ),
            ",",
        ).alias("postings_head"),
    )


@query(
    "index_boolean_and",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(ws, x -> x = 'table')) AS BIGINT) AS tf_table,
           CAST(len(list_filter(ws, x -> x = 'scan')) AS BIGINT) AS tf_scan,
           CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf_merge
    FROM w
    WHERE len(list_filter(ws, x -> x = 'table')) > 0
      AND len(list_filter(ws, x -> x = 'scan')) > 0
      AND len(list_filter(ws, x -> x = 'merge')) > 0
    """,
)
def index_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) retrieval for ['table','scan','merge'] with
    per-term frequencies — like index_phrase_search, a pure expression
    tree over the token array: no explode, no postings join, zero
    shuffles. At 100 TB this is one codegen'd pass over text bytes
    emitting only matching docs; the postings-intersection formulation
    (the oracle-side classic) would shuffle three posting lists
    instead."""
    d = table(spark, sf_dir, "documents")
    ws = _words(F.col("text"))

    def tf_of(term: str):
        return F.size(F.filter(ws, lambda x: x == term)).cast("long")

    out = d.select(
        "doc_id",
        tf_of("table").alias("tf_table"),
        tf_of("scan").alias("tf_scan"),
        tf_of("merge").alias("tf_merge"),
    )
    return out.where(
        (F.col("tf_table") > 0) & (F.col("tf_scan") > 0) & (F.col("tf_merge") > 0)
    )


@query(
    "text_bm25_search",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), tfs AS (
      SELECT doc_id,
             CAST(len(list_filter(ws, x -> x = 'table')) AS BIGINT) AS tf1,
             CAST(len(list_filter(ws, x -> x = 'scan'))  AS BIGINT) AS tf2,
             CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf3,
             CAST(len(ws) AS BIGINT) AS dl
      FROM w
    ), consts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
             CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
      FROM tfs
    )
    SELECT doc_id,
           ((CAST(2 * n - 2 * df1 + 1 AS DOUBLE) / CAST(2 * df1 + 1 AS DOUBLE))
              * ((CAST(tf1 AS DOUBLE) * 2.25)
                 / (CAST(tf1 AS DOUBLE)
                    + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
            + (CAST(2 * n - 2 * df2 + 1 AS DOUBLE) / CAST(2 * df2 + 1 AS DOUBLE))
              * ((CAST(tf2 AS DOUBLE) * 2.25)
                 / (CAST(tf2 AS DOUBLE)
                    + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))))
            + (CAST(2 * n - 2 * df3 + 1 AS DOUBLE) / CAST(2 * df3 + 1 AS DOUBLE))
              * ((CAST(tf3 AS DOUBLE) * 2.25)
                 / (CAST(tf3 AS DOUBLE)
                    + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) AS score,
           CAST((CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS INT) AS n_terms
    FROM tfs CROSS JOIN consts
    WHERE tf1 + tf2 + tf3 > 0
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-at-a-time BM25 for the fixed query ['table', 'scan',
    'merge']: top-10 documents by SUMMED score — the shape an actual
    retrieval call has, vs text_bm25_topk's per-term census.

    The whole query runs with ZERO wide shuffles: per-doc term
    frequencies come from size(filter(ws, =term)) expressions (no
    explode, no (doc,term) shuffle), the corpus statistics (N, avgdl,
    df per query term) collapse to ONE map-side-combined 1-row
    aggregate that broadcasts back, and the final top-10 is a
    TakeOrdered (per-partition top-k, never a global sort). Two scans
    of text bytes total.

    Float parity is by construction, extending the text_bm25_topk
    discipline to SUMS: with a fixed term list the score is the
    explicit left-associated s_table + s_scan + s_merge in BOTH
    engines — no collect_list/fold ordering to trust — and each s_i
    is exactly 0.0 when tf_i = 0 (zero numerator), so absent terms
    contribute nothing without a conditional. Ties at the LIMIT
    boundary break on doc_id in both engines."""
    d = table(spark, sf_dir, "documents")
    ws = _words(F.col("text"))

    def tf_of(term: str):
        return F.size(F.filter(ws, lambda x: x == term)).cast("long")

    tfs = d.select(
        "doc_id",
        tf_of("table").alias("tf1"),
        tf_of("scan").alias("tf2"),
        tf_of("merge").alias("tf3"),
        F.size(ws).cast("long").alias("dl"),
    )
    consts = tfs.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
        F.sum((F.col("tf1") > 0).cast("long")).alias("df1"),
        F.sum((F.col("tf2") > 0).cast("long")).alias("df2"),
        F.sum((F.col("tf3") > 0).cast("long")).alias("df3"),
    )

    def s_of(tf_col: str, df_col: str):
        idf = (2 * F.col("n") - 2 * F.col(df_col) + 1).cast("double") / (
            2 * F.col(df_col) + 1
        ).cast("double")
        tf_d = F.col(tf_col).cast("double")
        denom = tf_d + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
        )
        return idf * ((tf_d * F.lit(1.0 + BM25_K1)) / denom)

    score = (s_of("tf1", "df1") + s_of("tf2", "df2")) + s_of("tf3", "df3")
    n_terms = (
        (F.col("tf1") > 0).cast("int")
        + (F.col("tf2") > 0).cast("int")
        + (F.col("tf3") > 0).cast("int")
    )
    return (
        tfs.crossJoin(F.broadcast(consts))
        .where(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select("doc_id", score.alias("score"), n_terms.alias("n_terms"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def stage_index_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> str:
    """Persist the inverted index as an external parquet table bucketed
    (and sorted) on ``term`` — the retrieval analogue of the ANN
    family's build/serve split (similarity.py: build once, serve
    many). Idempotent per session+sf; returns the table name."""
    import os
    import tempfile

    from ..operators.bucketing import _safe_name, sink_bucketed
    from ..operators.scans import _session_tag

    tag = _safe_name(
        f"{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}"
    )
    name = f"pdp_bkt_index_{tag}"
    path = os.path.join(tempfile.gettempdir(), f"pdp_bkt_index_{tag}")
    sink_bucketed(
        index_inverted_build(spark, sf_dir), name, path, n_buckets, "term"
    )
    return name


@query(
    "index_term_lookup",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           array_to_string(list_sort(list(doc_id))[1:32], ',') AS postings_head
    FROM tf
    WHERE term IN ('table', 'scan', 'merge')
    GROUP BY term
    """,
)
def index_term_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-side term lookup against the PERSISTED bucketed index:
    the equality-set filter on the bucket column prunes the scan to
    ≤3 of 16 buckets (SelectedBucketsCount — pinned in
    tests/test_retrieval.py with autoBucketedScan off, the same conf
    dance as tests/test_bucketing.py: the planner reverts scans that
    avoid no exchange to plain reads, where the sortBy(term)
    row-group stats still skip) — the bucketed analogue of partition
    pruning, and the reason a served index answers term queries
    reading ~1/n of the index bytes instead of all of them. The
    oracle recomputes the same three postings rows from the raw
    corpus, so staleness or a mis-bucketed write flips the hash.
    Build cost is paid once in stage_index_bucketed (the timed serve
    path is the point-read)."""
    name = stage_index_bucketed(spark, sf_dir)
    return spark.table(name).where(F.col("term").isin("table", "scan", "merge"))


KWIC_CTX = 3  # context tokens either side of the match


@query(
    "text_kwic",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id, ws,
             unnest(list_transform(ws, (x, i) -> struct_pack(pos := i - 1, token := x)),
                    recursive := true)
      FROM w
    )
    -- coalesce: a degenerate slice (ws[1:0]) is NULL in DuckDB but an
    -- empty array in Spark; both must render as ''
    SELECT doc_id, CAST(pos AS INT) AS pos,
           coalesce(array_to_string(ws[greatest(pos - 2, 1) : pos], ' '), '') AS left_ctx,
           coalesce(array_to_string(ws[pos + 2 : pos + 4], ' '), '') AS right_ctx
    FROM tok WHERE token = 'table'
    """,
)
def text_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance for 'table': every occurrence
    with up to KWIC_CTX tokens of context either side — the corpus
    inspection tool a curation engineer reaches for right after a
    phrase grep ("show me HOW this term is used"). Match positions
    come from phrase_match_positions with k=1 (exercising the
    generalized matcher's single-term path); the context slices run on
    a MATERIALIZED ws column after the per-match explode — ordinary
    slice expressions on an attribute, never an outer-column probe
    inside a lambda (the O(n²) trap this module documents). Row
    expansion is partition-local; zero wide shuffles."""
    d = table(spark, sf_dir, "documents")
    ws = _words(F.col("text"))
    staged = d.select(
        "doc_id",
        ws.alias("ws"),
        F.explode(phrase_match_positions(ws, ("table",))).alias("pos"),
    )
    p = F.col("pos")  # 0-based match position; slices below are 1-based
    left_start = F.greatest(p - 2, F.lit(1))
    return staged.select(
        "doc_id",
        p.cast("int").alias("pos"),
        F.array_join(
            F.slice(F.col("ws"), left_start, p - left_start + 1), " "
        ).alias("left_ctx"),
        F.array_join(F.slice(F.col("ws"), p + 2, F.lit(KWIC_CTX)), " ").alias(
            "right_ctx"
        ),
    )


def build_positional_index(docs: DataFrame) -> DataFrame:
    """Positional postings (r11 verdict #7): ``(term, doc_id,
    positions sorted array<int>, tf)`` — one row per (term, doc), NOT
    one row per term: a hot term's postings stay distributed across
    rows/partitions instead of accreting into a single unbounded
    per-term buffer (the OOM the ranking index's bounded HEADS exist
    to avoid; positional matching needs full postings for the QUERIED
    terms, so the bound moves from truncation to row granularity).
    Build cost: posexplode (one scan) + ONE (term, doc)-keyed shuffle
    with map-side combine; collect_list is per-(term, doc) — bounded
    by a document's tf — and sort_array makes the arrival order
    deterministic. Serving persists/buckets this table exactly like
    stage_index_bucketed does the ranking index."""
    toks = docs.select(
        "doc_id", F.posexplode(_words(F.col("text"))).alias("pos", "term")
    )
    return toks.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"),
        F.count("*").cast("long").alias("tf"),
    )


def positional_phrase_match(index: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """Index-only phrase matching over positional postings: for phrase
    terms t0..tk, a match starts at s iff every tj's postings contain
    s+j — so intersect t0's positions with each tj's positions shifted
    by −j. Pure array expressions (array_intersect on attributes;
    lambdas touch only their element args — the module's O(n²) rule),
    k−1 doc_id equi-joins of term-filtered postings, NO text rescan.
    Emits the scan-based contract: (doc_id, n_matches, first_pos)."""
    if len(terms) < 1:
        raise ValueError("phrase needs at least one term")
    joined = index.where(F.col("term") == terms[0]).select(
        "doc_id", F.col("positions").alias("common")
    )

    def _shift(offset: int):
        # closure factory, NOT a `j=j` default arg: PySpark derives the
        # lambda-variable count from the Python signature, so a default
        # arg turns this into transform's 2-arg (element, index) form
        # and the shift silently binds to the array index (the exact
        # arity pitfall this module documents)
        return lambda x: x - offset

    for j, t in enumerate(terms[1:], start=1):
        nxt = index.where(F.col("term") == t).select(
            "doc_id",
            F.transform("positions", _shift(j)).alias(f"_p{j}"),
        )
        joined = joined.join(nxt, "doc_id").select(
            "doc_id",
            F.array_intersect("common", f"_p{j}").alias("common"),
        )
    return joined.where(F.size("common") > 0).select(
        "doc_id",
        F.size("common").cast("long").alias("n_matches"),
        F.array_min("common").cast("int").alias("first_pos"),
    )


@query(
    "index_positional_phrase",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id,
             unnest(list_transform(ws, (x, i) -> struct_pack(pos := i - 1, token := x)),
                    recursive := true)
      FROM w
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) AS INT) AS first_pos
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.token = 'table' AND b.token = 'scan'
    GROUP BY a.doc_id
    """,
)
def index_positional_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search ("table scan") answered ENTIRELY from the
    positional index — the build/serve symmetry the BM25 family
    already has (r11 verdict #7): index_phrase_search rescans text
    (right when the corpus is at hand), this form is what a deployment
    runs against the persisted postings — term-filtered postings
    joined by doc_id, positions intersected after a shift, zero
    contact with the text column. Oracles twice over: the DuckDB
    adjacency self-join here, and bit-equality with the scan-based
    index_phrase_search pinned in tests/test_retrieval.py."""
    idx = build_positional_index(table(spark, sf_dir, "documents"))
    return positional_phrase_match(idx, ("table", "scan"))


def stage_positional_index_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> str:
    """Persist the positional postings as an external parquet table
    bucketed (and sorted) on ``term`` — the same build-once/serve-many
    layout as stage_index_bucketed, so phrase queries prune to the
    queried terms' buckets instead of scanning the corpus-sized
    postings table. Idempotent per session+sf; returns the table name."""
    import os
    import tempfile

    from ..catalog import table as _table
    from ..operators.bucketing import _safe_name, sink_bucketed
    from ..operators.scans import _session_tag

    tag = _safe_name(
        f"{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}"
    )
    name = f"pdp_bkt_posidx_{tag}"
    path = os.path.join(tempfile.gettempdir(), f"pdp_bkt_posidx_{tag}")
    sink_bucketed(
        build_positional_index(_table(spark, sf_dir, "documents")),
        name,
        path,
        n_buckets,
        "term",
    )
    return name


@query(
    "index_positional_serve",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id,
             unnest(list_transform(ws, (x, i) -> struct_pack(pos := i - 1, token := x)),
                    recursive := true)
      FROM w
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) AS INT) AS first_pos
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.token = 'table' AND b.token = 'scan'
    GROUP BY a.doc_id
    """,
)
def index_positional_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search served from the PERSISTED bucketed positional
    index — the full production shape: the staging write is the
    amortized build (same contract as join_bucketed /
    index_term_lookup: the timed call includes it; downstream queries
    reuse the table), and each phrase term's postings read prunes to
    its term buckets (SelectedBucketsCount pinned in
    tests/test_retrieval.py). Point-read serving cost is the pruned
    scan + one doc_id join per extra term — the text column is never
    touched."""
    name = stage_positional_index_bucketed(spark, sf_dir)
    return positional_phrase_match(spark.table(name), ("table", "scan"))


def merge_positional_delta(base_index: DataFrame, delta_docs: DataFrame) -> DataFrame:
    """Incremental maintenance for the positional index, latest-wins at
    DOC granularity (the re-crawl contract: a document that reappears
    in the delta REPLACES its old postings wholesale — concatenating
    positions would corrupt phrase adjacency): drop the base rows of
    every doc present in the delta (broadcast-able doc-id anti join —
    the delta's doc list is delta-sized), index the delta, union.
    Merge == full rebuild EXACTLY (proven in tests/test_retrieval.py
    for overlapping and disjoint deltas), the same contract the
    ranking index's merge_indexes carries — cost is bounded by the
    delta plus one anti-join pass over the base index rows."""
    delta_ids = delta_docs.select("doc_id").distinct()
    kept = base_index.join(F.broadcast(delta_ids), "doc_id", "left_anti")
    # canonical column order: the USING-join moves doc_id first, and a
    # positional consumer (exceptAll, writers) must see the build's shape
    return kept.select("term", "doc_id", "positions", "tf").unionByName(
        build_positional_index(delta_docs)
    )


def _varint_delta_encode(positions) -> bytes:
    """Sorted int positions → delta + LEB128 varint bytes (the classic
    postings codec: gaps are small, so most gaps fit one byte)."""
    out = bytearray()
    prev = 0
    for p in positions:
        gap = int(p) - prev
        if gap < 0:
            raise ValueError("positions must be sorted for delta coding")
        prev = int(p)
        while True:
            b = gap & 0x7F
            gap >>= 7
            if gap:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def _varint_delta_decode(blob: bytes) -> list[int]:
    out: list[int] = []
    acc = shift = 0
    prev = 0
    for byte in blob:
        acc |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
            continue
        prev += acc
        out.append(prev)
        acc = shift = 0
    if shift or acc:
        raise ValueError("truncated varint in postings blob")
    return out


def compress_postings(index: DataFrame) -> DataFrame:
    """Positional postings with the positions column delta-varint
    packed (term, doc_id, tf, postings_z binary) — the storage form a
    persisted index ships: gaps within a document are small, so the
    packed column runs ~4-8× under the int-array encoding (ratio
    measured in tests/test_retrieval.py, never asserted blind).
    Arrow-batched pandas_udf — the codec crosses the Python boundary
    once per batch, exactly like the repo's image codecs."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def pack(positions: pd.Series) -> pd.Series:
        return positions.map(_varint_delta_encode)

    return index.select(
        "term", "doc_id", "tf", pack("positions").alias("postings_z")
    )


def decompress_postings(compressed: DataFrame) -> DataFrame:
    """Inverse of compress_postings — exact round-trip (property-
    tested): (term, doc_id, positions array<int>, tf) back out."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def unpack(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: _varint_delta_decode(bytes(b)))

    return compressed.select(
        "term", "doc_id", unpack("postings_z").alias("positions"), "tf"
    )


@query(
    "index_positional_compressed",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id,
             unnest(list_transform(ws, (x, i) -> struct_pack(pos := i - 1, token := x)),
                    recursive := true)
      FROM w
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) AS INT) AS first_pos
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.token = 'table' AND b.token = 'scan'
    GROUP BY a.doc_id
    """,
)
def index_positional_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search through the COMPRESSED postings: build → varint
    pack → unpack → match, oracle-checked against the same adjacency
    self-join as the uncompressed forms — the codec's exactness is on
    the value-hash path, not just unit-tested. A deployment stores
    postings_z and decodes only the queried terms' rows (the term
    filter lands before the decode UDF, so the Python hop sees two
    terms' postings, never the corpus)."""
    idx = build_positional_index(table(spark, sf_dir, "documents"))
    packed = compress_postings(idx)
    queried = packed.where(F.col("term").isin("table", "scan"))
    return positional_phrase_match(decompress_postings(queried), ("table", "scan"))
