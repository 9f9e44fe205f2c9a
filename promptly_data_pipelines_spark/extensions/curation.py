"""Corpus-curation operators a training-data pipeline runs between
cleaning and export (reference scope: the curated/ dbt layer,
`dbt/promptly/models/curated/curated_provider.sql:1-20`, generalized to
the LLM-corpus tier the build brief mandates): RAG chunking, weighted
sampling, leakage-safe splits, semantic dedup, BPE pair statistics,
curriculum staging.

Every op here is hash-deterministic (the md5 family documented in
extensions/dedup.py) and oracle-checked against DuckDB in the local
parity tier. Scale notes per op; none of them global-sorts or
all-pairs.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .dedup import _md5_word, _MASK63, _normalized
from .sampling import TRAIN_BUCKET, VAL_BUCKET, hash_bucket
from .similarity import dot
from .text import STOP_SQL_LITERAL, STOPWORDS, words

# ONE definition of the fluency proxy (stopword ratio, 4dp) shared by
# curriculum_stages and corpus_token_budget in BOTH engines — the two
# orderings must never diverge from each other or from their oracles.
_TOKS_SQL = "list_filter(string_split(text, ' '), w -> w <> '')"
_STOP_IN_SQL = STOP_SQL_LITERAL  # single-sourced in extensions/text.py
_FLUENCY_SQL = (
    f"round(CAST(len(list_filter(string_split(text, ' '), w -> w IN {_STOP_IN_SQL}))"
    f" AS DOUBLE) / len({_TOKS_SQL}), 4)"
)


def _fluency_cols() -> tuple:
    """(n_words, fluency) Column pair — the Spark twin of _FLUENCY_SQL."""
    ws = words("text")
    n_words = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    return n_words, F.round(n_stop.cast("double") / n_words, 4)

# ---------------------------------------------------------------- chunking

CHUNK_TOKENS = 32  # window width (tokens)
CHUNK_STRIDE = 24  # window stride -> 8-token overlap between chunks


# Shared by text_chunk_windows (expression form) AND udfs.udtf_chunk_windows
# (Python UDTF form): both implementations must be value-identical, so
# both are checked against this ONE oracle.
CHUNK_WINDOWS_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    s AS (
      SELECT doc_id, w, unnest(range(0, len(w), {CHUNK_STRIDE})) AS start
      FROM t WHERE len(w) > 0
    )
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(least({CHUNK_TOKENS}, len(w) - start) AS BIGINT) AS n_tokens,
           array_to_string(w[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text
    FROM s
    """


@query(
    "text_chunk_windows",
    oracle=CHUNK_WINDOWS_ORACLE,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: overlapping {CHUNK_TOKENS}-token windows at
    stride {CHUNK_STRIDE} (8-token overlap keeps retrieval context
    across chunk boundaries). Whole-row expression tree — tokenize,
    ``sequence`` of window starts, ``posexplode``-free slice per start
    — so the op is embarrassingly parallel: no shuffle, no UDF, and
    the chunk explosion happens AFTER the scan's column pruning (only
    ``text`` is read). At 100 TB chunking is the map side of the
    embed/export stage; output partitioning follows the input's.

    Window starts are 0, stride, 2*stride, ... strictly below the token
    count, so every token lands in ≥1 chunk and the tail chunk is
    allowed to run short (``n_tokens`` < width) rather than re-reading
    the tail twice — the convention retrieval stacks expect."""
    d = table(spark, sf_dir, "documents")
    ws = words("text")
    t = d.select("doc_id", ws.alias("w")).filter(F.size("w") > 0)
    starts = F.sequence(F.lit(0), F.size("w") - 1, F.lit(CHUNK_STRIDE))
    s = t.select("doc_id", "w", F.explode(starts).alias("start"))
    return s.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.least(F.lit(CHUNK_TOKENS), F.size("w") - F.col("start"))
        .cast("bigint")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("w"), F.col("start") + 1, F.lit(CHUNK_TOKENS)), " "
        ).alias("chunk_text"),
    )


# ------------------------------------------------------- weighted sampling


@query(
    "sample_weighted_priority",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 16))::UBIGINT
                  % 9223372036854775808 AS BIGINT)
               // greatest(n_chars, 1) AS sample_key
      FROM documents
    )
    SELECT doc_id, lang, n_chars, sample_key FROM (
      SELECT *, row_number() OVER (
               PARTITION BY lang ORDER BY sample_key, doc_id) AS rn
      FROM keyed
    ) WHERE rn <= 5
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 5 docs per language,
    weight = n_chars (longer docs proportionally likelier): each row
    gets priority key ``hash // weight`` and the k smallest keys per
    group win — the integer-exact cousin of A-ES reservoir sampling
    (A-ES keys are ``-ln(u)/w``; ``h/w`` with uniform h is monotone in
    the weight with the same hash-determinism, and staying in integer
    division is what keeps the key bit-identical across engines — the
    float ln/pow forms are not reproducible cross-engine, the trap
    operators/aggregates.py documents).

    Scale: one shuffle (the per-lang window), and the rank-limit
    rewrites to WindowGroupLimit so each partition keeps only its
    local top-k before the shuffle — never a global sort. Rerun-stable:
    a doc's key never changes as the corpus grows, so incremental
    exports agree with full reruns on the shared prefix."""
    d = table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        _md5_word(F.col("doc_id").cast("string"), 17, _MASK63).alias("h"),
        F.greatest(F.col("n_chars"), F.lit(1)).alias("wt"),
        # h DIV wt, not h / wt: float division would round the 63-bit
        # hash through a 53-bit mantissa before truncation
    ).selectExpr("doc_id", "lang", "n_chars", "h DIV wt AS sample_key")
    w = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "lang", "n_chars", "sample_key")
    )


# ------------------------------------------------- leakage-safe splitting


@query(
    "dataset_split_grouped",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 8)) AS BIGINT)
               % 256 AS bucket
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN bucket < {TRAIN_BUCKET} THEN 'train'
                WHEN bucket < {VAL_BUCKET} THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """,
)
def dataset_split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the hash bucket is computed on
    the GROUP key (``source``) rather than the row id, so every document
    from one source lands in the same split — near-duplicate documents
    cluster within sources, and row-level splits (``dataset_split``)
    leak them across the train/test boundary, inflating eval. Same
    ~80/10/10 bucket thresholds and md5 arithmetic as the row-level
    split; still a pure scan-pushed predicate, no shuffle, no RNG."""
    d = table(spark, sf_dir, "documents")
    b = hash_bucket("source")
    split = (
        F.when(b < TRAIN_BUCKET, "train").when(b < VAL_BUCKET, "val").otherwise("test")
    )
    return d.select("doc_id", "source", split.alias("split"))


# ------------------------------------------------------- semantic dedup

N_SEM_PLANES = 8  # 256 angular cells


def _sem_planes() -> list[list[float]]:
    """±1 (Rademacher) hyperplanes, seeded — deterministic across runs
    and embeddable verbatim in both the Spark plan and the oracle SQL
    (±1.0 floats print exactly; Gaussian planes would round-trip
    through decimal text)."""
    rng = random.Random(11)
    return [
        [rng.choice((1.0, -1.0)) for _ in range(64)] for _ in range(N_SEM_PLANES)
    ]


_PLANES = _sem_planes()
_SQL_BUCKET = " + ".join(
    f"(CASE WHEN round(list_dot_product(vec, {p}), 6) > 0 THEN {1 << j} ELSE 0 END)"
    for j, p in enumerate(_PLANES)
)


@query(
    "dedup_semantic_keep_best",
    oracle=f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    sig AS (SELECT doc_id, {_SQL_BUCKET} AS bucket FROM e),
    j AS (
      SELECT d.doc_id, d.n_chars, s.bucket
      FROM documents d JOIN sig s USING (doc_id)
    ),
    r AS (
      SELECT doc_id, n_chars, bucket,
             first_value(doc_id) OVER w AS kept_doc_id,
             row_number() OVER w AS rn
      FROM j
      WINDOW w AS (PARTITION BY bucket ORDER BY n_chars DESC, doc_id)
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, doc_id, kept_doc_id, n_chars
    FROM r WHERE rn > 1
    """,
)
def dedup_semantic_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: embed-space cells via
    {N_SEM_PLANES} fixed Rademacher hyperplanes (sign of the dot
    product, rounded to 6dp before thresholding so borderline cells
    can't flip between engines), keep the highest-quality document per
    cell (longest text, doc_id tiebreak) and emit the removed rows with
    their keeper. The real SemDeDup uses k-means cells + an intra-cell
    cosine threshold — the learned-cell variant here is
    ``similarity.learned_centroids`` (IVF), and the verify step is
    ``dedup_embedding_cosine``; this op contributes the keep-best-
    per-cell reduction with a fully oracle-checkable cell function.

    Scale: signatures are a map-side expression over each vector
    (planes enter the plan as literals, k·dim doubles); the only
    shuffle is the per-cell window, keyed by bucket — never pairwise.
    Cell count (2^planes) is the skew knob: more planes → smaller
    cells → more balanced windows."""
    e = table(spark, sf_dir, "embeddings").withColumn(
        "vec", F.col("embedding").cast("array<double>")
    )
    sig = None
    for j, plane in enumerate(_PLANES):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bit = (F.round(dot(F.col("vec"), lit_plane), 6) > 0).cast("int")
        term = bit * F.lit(1 << j)
        sig = term if sig is None else sig + term
    buckets = e.select(F.col("vec_id").alias("doc_id"), sig.alias("bucket"))
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = d.join(buckets, "doc_id")
    w = Window.partitionBy("bucket").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        j.select(
            "doc_id",
            "n_chars",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.first("doc_id").over(w).alias("kept_doc_id"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") > 1)
        .select("bucket", "doc_id", "kept_doc_id", "n_chars")
    )


# ------------------------------------------------------ BPE pair counts


@query(
    "text_bpe_pair_counts",
    oracle="""
    WITH t AS (
      SELECT list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    idx AS (
      SELECT w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2
    ),
    p AS (SELECT w[i] AS tok_a, w[i + 1] AS tok_b FROM idx)
    SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM p GROUP BY 1, 2
    ORDER BY n_pairs DESC, tok_a, tok_b
    LIMIT 30
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner statistic of one BPE/WordPiece merge round: corpus-wide
    adjacent-token-pair frequencies, top 30 (the argmax pair is what a
    tokenizer trainer would merge next; reference scope = the token
    analytics the brief's text tier mandates). Pair construction is an
    in-row array lambda (indexively zipping ``w`` with its own shift) —
    tokens never explode before pairing, so the shuffle moves (pair,
    count) partials, combiner-reduced map-side. At 100 TB this is the
    canonical word-count shape: one shuffle keyed by pair, then a
    global top-k that TakeOrderedAndProject keeps on the driver at k
    rows per partition."""
    d = table(spark, sf_dir, "documents")
    ws = words("text")
    t = d.select(ws.alias("w")).filter(F.size("w") >= 2)
    pairs = F.transform(
        F.slice(F.col("w"), 1, F.size("w") - 1),
        lambda x, i: F.struct(
            x.alias("tok_a"), F.element_at(F.col("w"), i + 2).alias("tok_b")
        ),
    )
    return (
        t.select(F.explode(pairs).alias("p"))
        .select("p.tok_a", "p.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "tok_a", "tok_b")
        .limit(30)
    )


# ------------------------------------------------------ curriculum stages


@query(
    "curriculum_stages",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {_FLUENCY_SQL} AS fluency
      FROM documents
      WHERE len({_TOKS_SQL}) > 0
    )
    SELECT doc_id, lang, fluency,
           CAST(ntile(4) OVER (
             PARTITION BY lang ORDER BY fluency DESC, doc_id) AS INTEGER) AS stage
    FROM scored
    """,
)
def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment: quartile stages per language on a fluency
    proxy (stopword ratio, 4dp — the cheap stand-in for a model-based
    difficulty score), stage 1 = most fluent, trained first. ``ntile``
    is partitioned BY LANG, not global — the window distributes across
    the cluster and doubles as the semantically-right grouping
    (difficulty is only comparable within a language). A global-sort
    ntile would serialize 100 TB through one partition; if a single
    global curriculum is ever needed, the scalable form is approx
    quantile cutpoints broadcast as a map-side bucket expression."""
    d = table(spark, sf_dir, "documents")
    n_words, fluency = _fluency_cols()
    scored = d.filter(n_words > 0).select("doc_id", "lang", fluency.alias("fluency"))
    w = Window.partitionBy("lang").orderBy(F.col("fluency").desc(), "doc_id")
    return scored.withColumn("stage", F.ntile(4).over(w).cast("int"))


# --------------------------------------------------- token-budget selection

SOURCE_TOKEN_BUDGET = 2000


@query(
    "corpus_token_budget",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             {_FLUENCY_SQL} AS fluency
      FROM documents
      WHERE len({_TOKS_SQL}) > 0
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY fluency DESC, doc_id) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {SOURCE_TOKEN_BUDGET}
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (the data-mixing step: each source
    gets a token quota and contributes its best documents up to it):
    greedy by fluency within each source, running token sum, keep while
    the cumulative count stays inside the budget. One shuffle — the
    per-source window — and the running sum is the frame-default
    cumulative aggregate, so partitions stream; no global sort, no
    second pass. At 100 TB the quota table (per-source budgets from the
    mixture design) would broadcast in place of the constant."""
    d = table(spark, sf_dir, "documents")
    n_words, fluency = _fluency_cols()
    scored = d.filter(n_words > 0).select(
        "doc_id",
        "source",
        n_words.cast("bigint").alias("n_tokens"),
        fluency.alias("fluency"),
    )
    w = Window.partitionBy("source").orderBy(F.col("fluency").desc(), "doc_id")
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .filter(F.col("cum_tokens") <= SOURCE_TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


# ------------------------------------------- split-contamination metric


@query(
    "split_contamination",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, lang, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 256 AS bucket
      FROM documents
    ),
    s AS (
      SELECT lang,
             CASE WHEN bucket < {TRAIN_BUCKET} THEN 'train' ELSE 'test' END AS split,
             {_TOKS_SQL} AS w
      FROM a WHERE bucket < {TRAIN_BUCKET} OR bucket >= {VAL_BUCKET}
    ),
    sh AS (
      SELECT DISTINCT lang, split,
             unnest(list_transform(range(1, len(w) - 3),
                                   i -> array_to_string(w[i : i + 4], ' '))) AS g
      FROM s WHERE len(w) >= 5
    ),
    c AS (
      SELECT lang, g FROM sh GROUP BY lang, g HAVING count(DISTINCT split) = 2
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_shared_5grams
    FROM c GROUP BY lang
    """,
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity metric: 5-gram contamination across the
    train/test boundary of the ROW-LEVEL split (``dataset_split``'s
    buckets) — the number of distinct word 5-grams per language that
    occur in both a train and a test document. This is the measurement
    that motivates ``dataset_split_grouped``: row-level splits leak
    near-duplicate text across the boundary, and this query makes the
    leak a number a DQ gate can threshold.

    Scale shape: shingles are built in-row and deduped per (lang,
    split, gram) before the gram-keyed shuffle — the same posting-list
    shape as MinHash candidate generation (extensions/dedup.py), linear
    in corpus size, never pairwise. The two aggregations (gram
    bothness, per-lang count) are map-side combined."""
    d = table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    ws = words("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 4),
        lambda i: F.array_join(F.slice(F.col("w"), i, 5), " "),
    )
    s = (
        d.filter((b < TRAIN_BUCKET) | (b >= VAL_BUCKET))
        .select(
            "lang",
            F.when(b < TRAIN_BUCKET, "train").otherwise("test").alias("split"),
            ws.alias("w"),
        )
        .filter(F.size("w") >= 5)
        .select("lang", "split", F.explode(grams).alias("g"))
        .distinct()
    )
    return (
        s.groupBy("lang", "g")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") == 2)
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_shared_5grams"))
    )


# ---------------------------------------------------- eval-set builder


@query(
    "eval_set_build",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, source, text,
             CAST(('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 8)) AS BIGINT)
               % 256 AS sb
      FROM documents
    ),
    train AS (
      SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS h
      FROM b WHERE sb < {TRAIN_BUCKET}
    ),
    test AS (
      SELECT doc_id, lang, source,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS h
      FROM b WHERE sb >= {VAL_BUCKET}
    ),
    clean AS (
      SELECT t.doc_id, t.lang, t.source FROM test t
      WHERE NOT EXISTS (SELECT 1 FROM train tr WHERE tr.h = t.h)
    )
    SELECT doc_id, lang, source FROM (
      SELECT *, row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM clean
    ) WHERE rn <= 10
    """,
)
def eval_set_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-set build composite — the pieces of this module
    composed into the query a real pipeline ships: take the TEST side
    of the leakage-safe grouped split, drop any document whose
    normalized content hash also occurs in the TRAIN side (exact
    decontamination — run BEFORE capping so removals don't shrink the
    final set), then cap at 10 docs per language in deterministic
    hash order (the stratified-sample rule). Output: a balanced,
    train-disjoint eval set.

    Scale note: unlike ``decontaminate_exact`` (whose benchmark side
    is eval-suite-sized and broadcasts), here the anti-join's right
    side is the TRAIN corpus — both sides are corpus-scale, so the
    anti-join shuffles on content_hash (no broadcast hint; hashes
    only, text pruned). The cap is the WindowGroupLimit shape."""
    d = table(spark, sf_dir, "documents")
    sb = hash_bucket("source")
    hashed = _normalized(d).withColumn("h", F.md5("norm_text"))
    train = hashed.filter(sb < TRAIN_BUCKET).select("h")
    test = hashed.filter(sb >= VAL_BUCKET).select("doc_id", "lang", "source", "h")
    clean = test.join(train, "h", "left_anti")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        clean.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------- BPE merge training

BPE_MERGES = 6  # merge rounds the registered trainer runs
BPE_MIN_PAIR = 2  # stop early below this support


def bpe_merge_step(seqs: DataFrame, tok_a: str, tok_b: str) -> DataFrame:
    """Apply ONE merge (tok_a, tok_b) -> tok_a||tok_b to every symbol
    sequence, greedy left-to-right non-overlapping — the classic BPE
    scan, as an in-row ``aggregate`` fold (no UDF): walk the symbols,
    and when the accumulator's tail is tok_a and the current symbol is
    tok_b, replace the tail with the merged symbol. Non-overlap holds
    because a just-merged tail equals tok_a||tok_b, which can never
    equal tok_a again (tok_b is non-empty)."""
    merged = tok_a + tok_b
    return seqs.withColumn(
        "seq",
        F.aggregate(
            "seq",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(tok_a))
                & (x == F.lit(tok_b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        ),
    )


def bpe_train(wc: DataFrame, n_merges: int = BPE_MERGES) -> list:
    """Byte-pair-encoding trainer (Sennrich et al. 2016) over a
    word-frequency table (word, n). Returns the merge list
    [(step, tok_a, tok_b, merged, pair_count)].

    Scale design: real BPE trainers never iterate the corpus — they
    iterate the WORD-COUNT table, which is vocabulary-sized (Heaps'
    law: ~millions of rows at 100 TB, not billions), after ONE corpus
    shuffle builds it. Each round is: weighted adjacent-pair count
    (in-row pairing, map-side-combined groupBy), a driver-side argmax
    of ONE row (the merge decision is model metadata — the same
    driver/executor split every distributed trainer uses), and a
    map-side fold applying the merge. Rounds persist + unpersist their
    sequence table so lineage stays flat over hundreds of merges."""
    from pyspark.storagelevel import StorageLevel

    seqs = wc.select("n", F.split("word", "").alias("seq")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    merges = []
    for step in range(n_merges):
        pairs = (
            seqs.filter(F.size("seq") >= 2)
            .select(
                "n",
                F.explode(
                    F.transform(
                        F.slice(F.col("seq"), 1, F.size("seq") - 1),
                        lambda x, i: F.struct(
                            x.alias("a"), F.element_at(F.col("seq"), i + 2).alias("b")
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("c"))
        )
        best = pairs.orderBy(F.col("c").desc(), "a", "b").first()
        if best is None or best.c < BPE_MIN_PAIR:
            break
        merges.append((step, best.a, best.b, best.a + best.b, int(best.c)))
        nxt = bpe_merge_step(seqs, best.a, best.b).persist(StorageLevel.MEMORY_AND_DISK)
        nxt.count()  # materialize before dropping the parent cache
        seqs.unpersist()
        seqs = nxt
    seqs.unpersist()
    return merges


@query("bpe_train_merges")
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {BPE_MERGES} BPE merges on the corpus word counts and
    return the merge table — the tokenizer model a downstream
    ``text_tokenize_vocab``-style applier would consume. No SQL oracle:
    the merge loop is iterative with a data-dependent argmax per round
    (not expressible as one query); correctness is pinned instead by
    an exact-equality property test against a sequential reference
    BPE (tests/test_properties.py), the same evidence pattern as
    connected components."""
    d = table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode_outer(words("text")).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    rows = bpe_train(wc)
    if not rows:
        return spark.createDataFrame(
            [], "step int, tok_a string, tok_b string, merged string, pair_count bigint"
        )
    return spark.createDataFrame(
        rows, "step int, tok_a string, tok_b string, merged string, pair_count bigint"
    )


@query("bpe_apply_compression")
def bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer loop: train {BPE_MERGES} merges
    (bpe_train), then APPLY them to every document and report the
    per-doc symbol counts before/after — the compression the learned
    merges buy, which is the number a tokenizer-budget planner needs
    per corpus slice. Application replays the merge list in training
    order over each doc's char stream with the same in-row greedy fold
    the trainer uses (bpe_merge_step), so apply-time tokenization is
    definitionally consistent with training. Per-word fold via an
    in-row nested transform: docs explode to words ONCE, fold, then
    re-aggregate counts — one shuffle per direction, model inlined as
    plan literals.

    No SQL oracle (data-dependent merge list); correctness rides on
    the trainer's exact-equality property test plus the apply
    invariants pinned in tests/test_modules.py (symbol count shrinks
    monotonically per merge; concatenating a doc's symbols
    reconstructs its text)."""
    d = table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode_outer(words("text")).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    merges = bpe_train(wc)

    toks = d.select("doc_id", F.explode_outer(words("text")).alias("word")).filter(
        F.col("word").isNotNull()
    )
    seqs = toks.select("doc_id", F.split("word", "").alias("seq"))
    n_before = seqs.groupBy("doc_id").agg(
        F.sum(F.size("seq")).cast("bigint").alias("n_symbols_chars")
    )
    for _, a, b, _m, _c in merges:
        seqs = bpe_merge_step(seqs, a, b)
    n_after = seqs.groupBy("doc_id").agg(
        F.sum(F.size("seq")).cast("bigint").alias("n_symbols_bpe")
    )
    return n_before.join(n_after, "doc_id").select(
        "doc_id",
        "n_symbols_chars",
        "n_symbols_bpe",
        (F.col("n_symbols_bpe").cast("double") / F.col("n_symbols_chars")).alias(
            "compression"
        ),
    )
