"""Deduplication family over ``documents`` (SURVEY.md §2j X3-X4):
exact, MinHash+LSH, SimHash, n-gram Jaccard. The scale story:

- exact: hash-groupBy on a 64-bit fingerprint — one shuffle keyed by
  hash, no full-text comparison ever crosses the wire.
- MinHash+LSH: shingle → k minhashes → band buckets → join within
  buckets only. Candidate generation is linear + one shuffle on band
  keys; no O(n²) pair enumeration.
- SimHash: 64-bit signature via per-token hash bit-voting; near-dups
  share signatures up to small Hamming distance.
- n-gram Jaccard: the exact verifier — run on LSH candidates at scale;
  here also run blocked by (lang) to give the oracle a checkable
  all-pairs form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import table
from ..registry import query
from .text import norm_text, words

# the split-family boundary (ONE definition, sampling.py) — the
# incremental-dedup corpus/arrival partition must track it
from .sampling import TRAIN_BUCKET

N_HASHES = 16
N_BANDS = 4  # 4 rows per band

# The md5-derived cross-engine hash family lives in .hashing (shared
# with text.doc_winnowing — text.py can't import from here, dedup
# imports text); re-exported so existing callers keep their names.
from .hashing import (  # noqa: F401
    _MASK58,
    _MASK62,
    _MASK63,
    _SQL_H1,
    _SQL_H2,
    _SQL_H63,
    _md5_word,
    md5h63,
)


def _normalized(d: DataFrame) -> DataFrame:
    return d.withColumn("norm_text", norm_text())


@query(
    "dedup_exact",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS content_hash
      FROM documents
    )
    SELECT content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM keyed
    GROUP BY content_hash
    HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: exact dedup via content-hash groupBy. Survivor = min(doc_id)
    (deterministic, unlike dropDuplicates). Only hash+id shuffle; the
    text column is pruned before the exchange."""
    d = _normalized(table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", F.md5("norm_text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def _minhash_kernel(shingle_len: int = 3):
    """mapInPandas kernel computing per-doc MinHash signatures — the
    Arrow twin of the explode→md5→groupBy-mins expression form (r17
    optimization round, guide §4.2 + §2.3: the expression form
    materialized one posting row per shingle and re-aggregated them
    through a (doc_id)-keyed hash aggregate; the kernel emits the 16
    finished mins per doc MAP-SIDE, so the posting stream never exists
    and the signature build has ZERO shuffle). Bit-identical to the
    expression twin (pinned by test_minhash_kernel_bit_identical):

    - tokenize exactly like words(): split on single space, drop
      empties (the simhash kernel precedent, proven at every SF);
    - per shingle, hashlib.md5 == JVM md5 byte-for-byte; h1/h2 take
      the same digest windows and masks as _md5_word (bytes 8..16 &
      MASK62, bytes 0..8 & MASK58);
    - h_i = h1 + i·h2 in exact int64 arithmetic (max < 2^63 by the
      mask construction — the same ANSI-overflow bound the JVM form
      relies on), min per position is order-free;
    - docs with < shingle_len words emit NO row — the groupBy-over-
      empty-postings semantics of the expression form.

    A per-batch memo hashes each DISTINCT shingle once (Zipf: template
    clusters share most shingles — the skew tier's exact shape),
    where the expression form pays one md5 per posting row."""

    def fn(batches):
        from hashlib import md5

        import numpy as np
        import pandas as pd

        m62 = (1 << 62) - 1
        m58 = (1 << 58) - 1
        ii = np.arange(N_HASHES, dtype=np.int64)
        cols = [f"mh_{i}" for i in range(N_HASHES)]
        for pdf in batches:
            memo: dict[str, tuple[int, int]] = {}
            out_ids: list[int] = []
            out_sigs: list = []
            for doc_id, t in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                ws = [w for w in t.split(" ") if w] if t else []
                n = len(ws)
                if n < shingle_len:
                    continue  # zero shingles → no signature row
                n_sh = n - shingle_len + 1
                h1 = np.empty(n_sh, dtype=np.int64)
                h2 = np.empty(n_sh, dtype=np.int64)
                for j in range(n_sh):
                    s = " ".join(ws[j : j + shingle_len])
                    hv = memo.get(s)
                    if hv is None:
                        dg = md5(s.encode()).digest()
                        hv = (
                            int.from_bytes(dg[8:16], "big") & m62,
                            int.from_bytes(dg[:8], "big") & m58,
                        )
                        memo[s] = hv
                    h1[j] = hv[0]
                    h2[j] = hv[1]
                out_ids.append(doc_id)
                out_sigs.append(
                    (h1[:, None] + ii[None, :] * h2[:, None]).min(axis=0)
                )
            sig = (
                np.stack(out_sigs)
                if out_sigs
                else np.empty((0, N_HASHES), dtype=np.int64)
            )
            res = {"doc_id": np.array(out_ids, dtype=np.int64)}
            for i, c in enumerate(cols):
                res[c] = sig[:, i]
            yield pd.DataFrame(res)

    return fn


_MINHASH_SCHEMA = "doc_id bigint, " + ", ".join(
    f"mh_{i} bigint" for i in range(N_HASHES)
)


def minhash_signatures(
    d: DataFrame, shingle_len: int = 3, use_kernel: bool = True
) -> DataFrame:
    """Word-shingle MinHash: derive N_HASHES hash values per shingle by
    double hashing (h_i = h1 + i·h2, the Kirsch–Mitzenmacher
    construction — ONE md5 per shingle instead of N seeded hashes, and
    oracle-expressible: DuckDB computes the identical h1/h2 from the
    same md5 hex), take the per-doc min of each.

    r17 production form: the Arrow kernel (_minhash_kernel) — one
    map-side pass, zero shuffle (the expression form's posting explode
    + per-doc re-aggregation is gone), bit-identical values. The
    expression form stays below (use_kernel=False) as the independent
    reference twin, the simhash_signatures/_np pattern.

    The input is repartitioned first: fixture tables are single-row-
    group parquet (unsplittable → 1 scan task), and shingling+16
    hashes is the expensive stage — one small shuffle of raw docs buys
    full-width parallelism for it. On a real multi-file table the
    repartition is a no-op cost-wise (AQE coalesces).

    Rows with a NULL ``doc_id`` are dropped on both paths: a null key
    names no document (the twin's groupBy would otherwise merge every
    null-keyed text into one signature, and the kernel cannot hold a
    null id)."""
    d = d.filter(F.col("doc_id").isNotNull())
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    if use_kernel:
        return d.select("doc_id", "text").mapInPandas(
            _minhash_kernel(shingle_len), _MINHASH_SCHEMA
        )
    # Guard short documents: with fewer than shingle_len words the
    # sequence upper bound goes negative (descending sequence → slice
    # at start 0 throws). Such docs have no w-shingles — emit an empty
    # array so they simply drop out of the posting explode, matching
    # the zero-shingle semantics.
    w = words("text")
    shingle_arr = F.when(
        F.size(w) >= shingle_len,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - shingle_len),
            lambda i: F.array_join(F.slice(w, i + 1, shingle_len), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # explode_outer, not explode: plain explode makes the optimizer
    # infer `size(shingle_arr) > 0`, which is substituted with the
    # whole shingling expression and pushed below the repartition
    # exchange — re-shingling every doc on the pre-exchange scan task
    # (measured 9× this stage's cost on the jaccard twin). The cheap
    # isNotNull drops the one null row emitted per shingle-less doc.
    # no dropDuplicates: min() is duplicate-insensitive, so dedup'ing
    # (doc_id, shingle) first would add a full extra shuffle of the
    # exploded posting stream (~45× corpus rows) for a bit-identical
    # result — the groupBy's map-side partial min already collapses
    # each map partition to one row per doc before the only exchange.
    shingled = d.select("doc_id", F.explode_outer(shingle_arr).alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    # h1/h2 computed once per posting row (codegen CSE shares the md5
    # digest between them); the 16 aggregate inputs are then two-term
    # arithmetic. Masks make every h_i nonnegative and < 2^63 — no
    # ANSI overflow (see the hash-family note at the top).
    hashed = shingled.select(
        "doc_id",
        _md5_word(F.col("shingle"), 17, _MASK62).alias("h1"),
        _md5_word(F.col("shingle"), 1, _MASK58).alias("h2"),
    )
    mins = [
        F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]
    return hashed.groupBy("doc_id").agg(*mins)


ROWS_PER_BAND = N_HASHES // N_BANDS
BAND_KEY_COLS = ["band"] + [f"r{r}" for r in range(ROWS_PER_BAND)]


def lsh_band_keys(df: DataFrame, id_col: str, sig_col: str) -> DataFrame:
    """(id, sig-array) → exploded (id, sig, band, r0..r3) LSH band
    keys: the join key is the band's ``ROWS_PER_BAND`` consecutive
    minhash VALUES as fixed-width long columns (values, not a re-hash
    — oracle-expressible, and key equality is exactly band equality
    with zero collision slack; longs keep the shuffle fixed-width and
    the join comparison branchless, where the earlier stringified key
    paid per-row long→string formatting plus byte-wise compares). ONE
    definition of the banding layout — dedup_near_text and
    decontaminate_near must bucket identically or their candidate
    sets silently diverge; both join on ``BAND_KEY_COLS``."""
    return df.select(
        id_col,
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(sig_col)
                            .getItem(b * ROWS_PER_BAND + r)
                            .alias(f"r{r}")
                            for r in range(ROWS_PER_BAND)
                        ],
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col,
        sig_col,
        F.col("bk.band").alias("band"),
        *[F.col(f"bk.r{r}").alias(f"r{r}") for r in range(ROWS_PER_BAND)],
    )


def est_jaccard(sig_a, sig_b):
    """Estimated Jaccard = fraction of agreeing minhash positions —
    the one formula both LSH consumers share."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
    ) / F.lit(float(N_HASHES))


# Shared oracle-SQL fragment builders for the minhash/banding mirrors —
# ONE generator each for the signature mins, the band explode, the band
# key equality, and the est-jaccard expression, used by BOTH
# _NEAR_TEXT_ORACLE and dedup_incremental's oracle. The banding layout
# is exactly what lsh_band_keys warns must stay identical across
# consumers; one SQL generator per fragment keeps the mirrors provably
# in sync the same way BAND_KEY_COLS does for the Spark side.


def _sql_sig_mins() -> str:
    return ", ".join(f"min(h1 + {i}*h2)" for i in range(N_HASHES))


def _sql_bands(extra_cols: str = "") -> str:
    """UNION ALL band explode over a `sig` CTE; ``extra_cols`` (e.g.
    "in_corpus, ") are carried through unchanged."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {extra_cols}sig, {b} AS band, "
        + ", ".join(
            f"sig[{b * ROWS_PER_BAND + r + 1}] AS r{r}"
            for r in range(ROWS_PER_BAND)
        )
        + " FROM sig"
        for b in range(N_BANDS)
    )


def _sql_band_eq(a: str, b: str) -> str:
    return " AND ".join(f"{a}.r{r} = {b}.r{r}" for r in range(ROWS_PER_BAND))


def _sql_est(sig_a: str, sig_b: str) -> str:
    return (
        f"len(list_filter(range(1, {N_HASHES + 1}), i -> {sig_a}[i] = {sig_b}[i]))"
        f" / {float(N_HASHES)}"
    )


# DuckDB mirror of minhash_signatures → lsh_band_keys → band self-join
# → est_jaccard, value-identical because both engines derive h1/h2 from
# the same md5 hex window (hash-family note at the top of this module).
_NEAR_TEXT_ORACLE = f"""
    WITH w0 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS shingles
      FROM w0
    ),
    post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hp AS (
      SELECT doc_id, {_SQL_H1.format(x='s')} AS h1, {_SQL_H2.format(x='s')} AS h2
      FROM post
    ),
    sig AS (
      SELECT doc_id,
             [{_sql_sig_mins()}] AS sig
      FROM hp GROUP BY doc_id
    ),
    bands AS ({_sql_bands()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band = b.band
       AND {_sql_band_eq('a', 'b')}
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round({_sql_est('sig_a', 'sig_b')}, 4) AS est_jaccard
    FROM cand
    WHERE {_sql_est('sig_a', 'sig_b')} >= 0.5
    ORDER BY doc_a, doc_b
"""


def _lsh_candidate_pairs(d: DataFrame, pair_cols=None) -> DataFrame:
    """LSH candidate generation over a documents frame, shared by
    dedup_near_text (est-Jaccard verify) and dedup_near_text_exact
    (exact verify, ids only) so the band-join semantics can never
    drift between the two — the same ONE-definition rule
    BAND_KEY_COLS enforces for the key layout. ``pair_cols``, when
    given, is a callable producing extra columns from the joined
    a/b sides; it is evaluated IN the join projection, BEFORE the
    candidate dropDuplicates, so pair-level verdicts (est-Jaccard)
    ride the dedup exchange as one double instead of two 16-long
    signature arrays — the r9 A/B measured the array-carrying form
    ~10% slower locally, and at crawl scale the candidate stream is
    output-sized so every byte per row is shuffle bytes.

    Same materialize-the-index shape as dedup_simhash: the band
    self-join reads the signature table twice and exchange reuse does
    not deduplicate the shingle+16-hash subtree — persist + force so
    the corpus is shingled once per run, then both join sides read the
    (doc_id, 16×long) cache. Cache lifetime follows the library
    convention (see shingle_postings): ContextCleaner releases it once
    the returned plan's references are GC'd — fine for the run-once
    query shape."""
    sig = minhash_signatures(d).persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()
    sig_arr = sig.select(
        "doc_id", F.array(*[f"mh_{i}" for i in range(N_HASHES)]).alias("sig")
    )
    bands = lsh_band_keys(sig_arr, "doc_id", "sig")
    extra = pair_cols() if pair_cols is not None else []
    # r16 A/B note (guide §1: measure, then decide): applying the
    # caller's est-Jaccard threshold BEFORE this dropDuplicates was
    # tried and REVERTED — the filter on the aliased projection gets
    # pushed into the join condition, double-evaluating the 16-element
    # est fold per candidate, and LSH band candidates mostly PASS the
    # threshold (full-band equality already implies high est), so the
    # exchange saves almost nothing: same-session skew10 A/B measured
    # a wash (6.0 s filtered-early vs 6.3 s as-is, inside the line's
    # noise band) — keep the simpler committed form. Contrast
    # dedup_simhash, where the same move WON big (hamming is two
    # scalar ops and most block collisions fail the ≤3 verify:
    # skew10 15.8 s → 2.6-3.1 s).
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            [
                F.col("a.band") == F.col("b.band"),
                *[
                    F.col(f"a.r{r}") == F.col(f"b.r{r}")
                    for r in range(ROWS_PER_BAND)
                ],
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *extra,
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


@query("dedup_near_text", oracle=_NEAR_TEXT_ORACLE)
def dedup_near_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: MinHash+LSH near-dup candidates. Signatures → band keys
    (hash of 4 consecutive minhashes) → self-join within (band, key)
    buckets → estimated Jaccard = fraction of matching minhashes.
    Pairs sharing ≥1 band are candidates; emit those with est ≥ 0.5.
    At 100 TB the band join is the only pairwise step and touches only
    colliding docs; est is computed in the join projection so the
    candidate dedup exchange never carries signature arrays."""
    cand = _lsh_candidate_pairs(
        table(spark, sf_dir, "documents"),
        pair_cols=lambda: [
            F.round(est_jaccard(F.col("a.sig"), F.col("b.sig")), 4).alias(
                "est_jaccard"
            )
        ],
    )
    return (
        cand.filter(F.col("est_jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


# LSH-prefiltered EXACT verify: the 100 TB form of n-gram Jaccard.
# The inverted-index form (dedup_ngram_jaccard) emits one pair row per
# SHARED SHINGLE — S·C(c,2) rows for a template cluster of c docs with
# S shingles each, which the r7 skew10 stress slice measured at ~36×
# cost for 10× rows. This composite generates candidates from LSH band
# buckets (C(c,2) pairs per cluster, independent of S) and verifies
# each candidate with ONE in-row array_intersect over the two shingle
# sets — the per-shingle pair stream never exists, and no df-cap is
# needed because no posting list is ever materialized.
_NEAR_TEXT_EXACT_ORACLE = f"""
    WITH w0 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS shingles
      FROM w0
    ),
    post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hp AS (
      SELECT doc_id, {_SQL_H1.format(x='s')} AS h1, {_SQL_H2.format(x='s')} AS h2
      FROM post
    ),
    sig AS (
      SELECT doc_id,
             [{_sql_sig_mins()}] AS sig
      FROM hp GROUP BY doc_id
    ),
    bands AS ({_sql_bands()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band
       AND {_sql_band_eq('a', 'b')}
       AND a.doc_id < b.doc_id
    ),
    gs AS (SELECT doc_id, list_distinct(shingles) AS g FROM sh),
    ex AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(ga.g, gb.g)) AS inter,
             len(ga.g) AS sza, len(gb.g) AS szb
      FROM cand c
      JOIN gs ga ON ga.doc_id = c.doc_a
      JOIN gs gb ON gb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / (sza + szb - inter), 4) AS jaccard
    FROM ex
    WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.5
"""


@query("dedup_near_text_exact", oracle=_NEAR_TEXT_EXACT_ORACLE)
def dedup_near_text_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 scale path: LSH candidate generation + EXACT Jaccard verify.

    This is the composition a 100 TB near-dup pass actually runs (the
    MinHash/LSH literature's candidate→verify split): band buckets
    bound the candidate pairs per doc, then each pair is verified with
    one in-row ``array_intersect`` of the two 64-bit shingle-fingerprint
    sets. Contrast dedup_ngram_jaccard, whose inverted index emits one
    row per (shared shingle, pair) — exact over ALL pairs, but
    superlinear on dense near-dup clusters (r7 skew10: ~36× cost for
    10× rows, decomposition in BASELINE.md round 8); that form remains
    the all-pairs verifier for candidate sets and small blocks.

    Determinism: the candidate set is a pure function of the md5-derived
    hash family (oracle mirrors it value-exactly), and the verify is
    exact integer arithmetic — so unlike est-Jaccard output this
    composite is fully value-hashable. Recall is the LSH S-curve:
    pairs at J≈0.5 surface with p≈0.23, template/mirror clusters
    (J≥0.9) with p≈0.999 — the regime the stress slice models.

    Scale shape: signatures + gsets are one shingling pass each (no
    pair-stream shuffle); candidates shuffle-join the gset table on
    doc_id twice (plain equi-joins, AQE-balanced); the intersect is
    in-row. No df-cap required — no posting list is materialized, so
    there is no per-shingle reduce-state risk."""
    d = table(spark, sf_dir, "documents")
    cand = _lsh_candidate_pairs(d)
    w = words("text")
    gset = F.when(
        F.size(w) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 2),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(w, i, 3))),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    par = d.sparkSession.sparkContext.defaultParallelism
    gs = d.repartition(par).select("doc_id", gset.alias("g"))
    verified = (
        cand.join(gs.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga")), "doc_a")
        .join(gs.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga", "gb")).alias("inter"),
            F.size("ga").alias("sza"),
            F.size("gb").alias("szb"),
        )
    )
    jac = F.col("inter").cast("double") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        verified.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS vec,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT doc_a, doc_b, round(cos_sim, 6) AS cos_sim FROM (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) AS cos_sim
      FROM e a JOIN e b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X5: embedding-cosine near-dup pairs — semantic dedup. Blocked
    on ``label`` (the cluster/bucket key; at 100 TB this is an
    IVF/LSH cell from similarity.py, never all-pairs). Norms are
    precomputed per vector so each pair costs one dot product.
    The pair join is SHUFFLED on the block key — never a broadcast of
    the corpus: at 100 TB the build side would be the corpus itself
    (broadcast OOM). The ``shuffle_hash`` hint pins a shuffled hash
    join even locally, where tiny size stats would otherwise tempt the
    planner into a broadcast (tests/test_plan_quality.py asserts no
    BroadcastExchange); its per-partition build side is one block's
    replica — bounded by cell size. If cells outgrow executor memory,
    swap the hint to ``merge`` (sort-merge spills; ~1.3× slower here).

    Parallelism inside a block: the label key alone has few distinct
    values (blocks are coarse), so the join key is (label, salt) — one
    side keeps its hash salt, the other replicates across all 16
    salts — spreading each block's pair generation over 16 tasks
    instead of one. Each (x, y) pair still arises exactly once (x
    meets y's replica at x's salt). Replication multiplies one side's
    shuffle volume by the constant salt count — bounded and
    AQE-splittable, unlike a corpus broadcast."""
    from .similarity import dot

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    e = e.withColumn("nrm", F.sqrt(dot(F.col("vec"), F.col("vec"))))
    n_salts = 16
    a = e.withColumn("salt", F.pmod(F.xxhash64("vec_id"), F.lit(n_salts))).alias("a")
    b = (
        e.withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
        .hint("shuffle_hash")
        .alias("b")
    )
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        pairs.select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.4)
        .select("doc_a", "doc_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


_LANE_MASK = 0x0001000100010001  # bits {0,16,32,48}: four 16-bit counter lanes


def simhash_signatures(d: DataFrame) -> DataFrame:
    """63-bit SimHash per doc from per-token hash bit votes (positive
    bit → +1, else −1; sign of the sum per bit position), computed
    with SWAR bit-slicing: each of 16 lane accumulators packs FOUR
    16-bit counters into one long (``acc + ((h >> i) &
    0x0001000100010001)`` accumulates the popcounts of bit positions
    i, i+16, i+32, i+48 in parallel lanes). Lanes overflow only beyond
    65 535 tokens per doc (far above any real document — and a cap
    upstream is the right guard at 100 TB). The per-bit vote sign is
    recovered per doc: bit set ⟺ 2·popcount(bit) > n_tokens,
    identical to the sign-of-±1-sum formulation (pinned bit-for-bit
    by the sf0.001 pairs test across the r5 rewrite).

    r5 form: a per-ROW higher-order ``F.aggregate`` over the hashed
    token array — no explode, no token-row shuffle, no groupBy. The
    r1→r4 history of this operator is shuffle-shedding: r1 exploded
    tokens into 64 per-bit ``sum(when(...))`` aggregates, r2 cut that
    to 16 SWAR sums (still explode + hash-agg over ~45× the corpus
    row count), r5 makes the signature a pure map-side expression —
    the ONLY shuffle left in dedup_simhash is the band join itself.

    r9 form: ARRAY accumulator instead of r5's 17-field struct, with
    the 63-bit reassembly as ONE ``aggregate`` over ``sequence(0,62)``
    using runtime-index lane decode (``call_function('shiftright',
    lane, i - i%16)`` — the pyspark wrapper only takes literal shift
    amounts, the SQL function takes a column). Same bits (pinned
    bit-for-bit across the rewrite at every sf tier, plus against the
    independent numpy twin simhash_signatures_np): what changed is
    PLAN size. The r5 form's 63 unrolled reassembly terms each
    referenced the full 17-lane aggregate and CollapseProject inlined
    it into every term — ~1.5 s of DRIVER-side analysis per plan
    construction, constant in data size (measured: same-plan re-runs
    at 50k docs took 0.15 s; fresh plans 1.6 s). The array form's
    tree references the accumulator O(1) times: fresh-plan 0.25 s,
    and execution is slightly FASTER too (a primitive long array
    beats building a 17-field struct per token). At 100 TB plan
    analysis amortizes away — but on any interactive/per-batch use
    (streaming micro-batches, bench, the driver's 50-query sweep) it
    is pure per-invocation tax."""
    # enforce the lane-width precondition instead of documenting it:
    # votes beyond 65535 tokens would carry into the adjacent 16-bit
    # lane and corrupt two bit positions. Truncation (not rejection)
    # keeps pathological concatenation dumps flowing — a 65k-token
    # prefix is statistically the same signature.
    hashes = F.transform(
        F.slice(words("text"), 1, 65535), lambda w: md5h63(w)
    )
    # accumulator slots: [0] = n_tokens, [1..16] = SWAR lanes l0..l15
    # (lane i packs popcounts of bit positions i, i+16, i+32, i+48 in
    # four 16-bit counter fields)
    lane_idx = F.array(*[F.lit(i) for i in range(-1, 16)])  # -1 = the n slot
    zero = F.array_repeat(F.lit(0).cast("long"), 17)
    acc = F.aggregate(
        hashes,
        zero,
        lambda a, h: F.zip_with(
            a,
            lane_idx,
            lambda x, i: F.when(i == -1, x + 1).otherwise(
                x
                + F.call_function("shiftright", h, i).bitwiseAND(F.lit(_LANE_MASK))
            ),
        ),
    )

    # decode from the column reference (NOT the aggregate expression):
    # popcount of bit i lives in lane (i%16)'s (i//16)-th 16-bit field
    accc = F.col("acc")
    n = F.element_at(accc, 1)

    def _cnt(i: F.Column) -> F.Column:
        lane = F.element_at(accc, F.pmod(i, F.lit(16)) + F.lit(2))
        return F.call_function(
            "shiftright", lane, i - F.pmod(i, F.lit(16))
        ).bitwiseAND(F.lit(0xFFFF))

    sig = F.aggregate(
        F.sequence(F.lit(0), F.lit(62)),  # 63 bits: stay within signed long
        F.lit(0).cast("long"),
        lambda s, i: s
        + F.when(
            _cnt(i) * 2 > n,
            F.call_function("shiftleft", F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long")),
    )
    # Zero-token (empty/null) docs must drop out, as the explode
    # form's filter did — an all-zero signature would band-join every
    # empty doc against every other. The predicate is deliberately on
    # the RAW text (trim != ''), equivalent to size(words)==0 under
    # the space-only split: filtering on the accumulator instead makes
    # Catalyst substitute the whole aggregate into the Filter node and
    # evaluate it twice (caught by
    # test_explode_heavy_exprs_not_recomputed_below_exchange).
    packed = d.filter(F.trim(F.col("text")) != "").select("doc_id", acc.alias("acc"))
    return packed.select("doc_id", sig.alias("simhash"))


def _simhash_kernel(batches):
    """Vectorized twin of simhash_signatures' expression tree, same
    math in numpy: per doc, tokenize exactly like words() (split on
    single space, drop empties, cap 65535), hash each DISTINCT token
    once per batch (md5 low-8-bytes & MASK63 — byte-identical to
    md5h63; the memo exploits Zipf: the batch vocabulary is ~10×
    smaller than its token stream, and the expression form re-hashes
    every occurrence), then take per-bit majority votes with one
    (tokens × 63) bit matrix per doc. Integer-only arithmetic, so the
    output is bit-identical to the expression form — pinned by
    test_simhash_np_bit_identical across every sf tier."""
    from hashlib import md5

    import numpy as np
    import pandas as pd

    mask63 = (1 << 63) - 1
    shifts = np.arange(63, dtype=np.uint64)
    weights = np.uint64(1) << shifts
    for pdf in batches:
        memo: dict[str, int] = {}
        sigs = np.zeros(len(pdf), dtype=np.int64)
        for r, t in enumerate(pdf["text"].tolist()):
            toks = [w for w in t.split(" ") if w][:65535]
            n = len(toks)
            if n == 0:
                continue  # all-zero signature, same as the empty fold
            hs = np.empty(n, dtype=np.uint64)
            for j, w in enumerate(toks):
                h = memo.get(w)
                if h is None:
                    h = int.from_bytes(md5(w.encode()).digest()[8:16], "big") & mask63
                    memo[w] = h
                hs[j] = h
            cnt = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sigs[r] = int(weights[2 * cnt > n].sum())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sigs})


def simhash_signatures_np(d: DataFrame) -> DataFrame:
    """The kernel form of simhash_signatures: same filter, same
    signature bits, built in an Arrow-batched numpy kernel instead of
    the 17-lane SWAR HOF fold. Adopted into dedup_simhash after the
    r9 A/B (see BASELINE.md): the expression form's per-row fold is
    the measured 60% of dedup_simhash's cost, and two independent
    implementations agreeing bit-for-bit is itself a correctness
    check the single-implementation form can't give."""
    src = d.filter(F.trim(F.col("text")) != "").select("doc_id", "text")
    return src.mapInPandas(_simhash_kernel, "doc_id bigint, simhash bigint")


# DuckDB mirror of simhash_signatures → pigeonhole block join →
# Hamming verify. The LEFT JOIN keeps docs whose token list is empty
# after the split (e.g. tab-only text): Spark's trim-filter keeps them
# with an all-zero signature, so the oracle must too.
_SIMHASH_ORACLE = f"""
    WITH d0 AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '')[1:65535] AS w
      FROM documents WHERE trim(text) <> ''
    ),
    tok AS (SELECT doc_id, unnest(w) AS t FROM d0),
    th AS (SELECT doc_id, {_SQL_H63.format(x='t')} AS h FROM tok),
    agg AS (
      SELECT doc_id, count(*) AS n,
             {', '.join(f'sum((h >> {i}) & 1) AS c{i}' for i in range(63))}
      FROM th GROUP BY doc_id
    ),
    sig AS (
      SELECT d.doc_id,
             ({' + '.join(f'CASE WHEN 2*a.c{i} > a.n THEN CAST({1 << i} AS BIGINT) ELSE 0 END' for i in range(63))}) AS simhash
      FROM d0 d LEFT JOIN agg a ON d.doc_id = a.doc_id
    ),
    blk AS (
      SELECT doc_id, simhash, u.b AS blk, (simhash >> (u.b * 16)) & 65535 AS key
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) u
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM blk a JOIN blk b
        ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_a, doc_b
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: SimHash near-dup pairs within Hamming distance ≤ 3, via the
    block-and-verify scheme: split the 63-bit signature into 4 blocks
    — any pair within distance 3 must match exactly on ≥1 block
    (pigeonhole), so candidates come from 4 equi-joins on block keys
    (linear + shuffle, never all-pairs), then the exact Hamming
    distance (bit_count of XOR) verifies. Identical-signature exact
    clusters fall out as distance 0."""
    max_hamming = 3
    n_blocks = max_hamming + 1
    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # The band join consumes the signature table TWICE (both sides of
    # the self-join) and exchange reuse does not deduplicate the
    # subtree — so materialize it once: persist + count, then join
    # from cache. The signature table is (doc_id, simhash) = 16
    # bytes/doc — at 100 TB of text it is GBs, and building it as an
    # explicitly materialized index (here: cache; in production: a
    # written table) is the standard shape. Cuts the corpus
    # scan+hash+aggregate from 2× to 1× per run.
    # cache lifetime: ContextCleaner-released, like dedup_near_text
    sig = simhash_signatures(d.repartition(par)).persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()  # force: both join sides must read the cache, not recompute
    # block b = bits [b*16, b*16+15] (last block 15 bits of the 63)
    blocked = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit((1 << 16) - 1))
                        .alias("key"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a, b = blocked.alias("a"), blocked.alias("b")
    # r16 (guide §2.3 "shuffle fewer bytes"): hamming is a pure
    # function of the pair, so compute it IN the join projection and
    # filter BEFORE the dropDuplicates exchange — the distinct used to
    # shuffle every block-colliding candidate (incl. all the ones the
    # verify then rejects) carrying both 8-byte signatures; now only
    # verified pairs shuffle, as (doc_a, doc_b, hamming). Identical
    # result: filter-then-distinct ≡ distinct-then-filter for a
    # deterministic per-pair predicate, and every duplicate of a pair
    # carries the same hamming.
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


DF_CAP = 256  # max document frequency a shingle may have and still join

# Shared oracle CTE block: 3-gram-shingle Jaccard pairs over `documents`
# (the DuckDB mirror of ngram_jaccard_pairs). Ends with `jpairs`
# (doc_a, doc_b, jaccard) so both the pair query and the
# connected-components clustering query reuse one definition.
_JACCARD_PAIR_CTES = f"""
    w0 AS (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    ws AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gset
      FROM w0
    ),
    sized AS (SELECT doc_id, lang, gset, len(gset) AS sz FROM ws),
    post AS (SELECT doc_id, lang, sz, unnest(gset) AS sh FROM sized),
    live AS (
      SELECT sh, lang FROM post GROUP BY sh, lang
      HAVING count(*) BETWEEN 2 AND {DF_CAP}
    ),
    jpairs AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS DOUBLE) /
               (max(a.sz) + max(b.sz) - count(*)) AS jaccard
        FROM post a JOIN post b
          ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
         AND least(a.sz, b.sz) * 2 >= greatest(a.sz, b.sz)
        JOIN live l ON l.sh = a.sh AND l.lang = a.lang
        GROUP BY a.doc_id, b.doc_id
      ) WHERE jaccard >= 0.5
    )
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_PAIR_CTES}
    SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard FROM jpairs
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: exact 3-gram-shingle Jaccard within (lang) blocks — the
    verifier stage of near-dup dedup, computed via an inverted index
    grouped by shingle (one scan, one shingling pass, no self-join):

    - Shingles are 3-gram sequences hashed to 64-bit xxhash64
      fingerprints (the oracle intersects the raw strings — equal
      unless a 64-bit collision occurs, ~1e-11 over the corpus).
    - Each doc explodes to (shingle, doc) postings; postings group by
      (shingle, lang) into sorted (doc_id, sz) lists, and ordered
      candidate pairs are emitted in-row with higher-order functions —
      groupBy(pair) count(*) then yields |A∩B| exactly, only for pairs
      sharing ≥1 live shingle. The grouping key (tens of thousands of
      distinct shingles) shuffles evenly, unlike a lang-blocked pair
      join (5 keys → 5 tasks).
    - Skew guard (the 100 TB posting-list risk): document frequency is
      pre-counted per (shingle, lang) — a partial-agg-safe count — and
      over-cap shingles (ubiquitous boilerplate — useless for
      distinguishing near-dups, but a df² pair blow-up) are dropped by
      a broadcast anti-join BEFORE any posting list is collected, so
      no reduce task ever materializes more than DF_CAP postings for
      one shingle. Lists sized < 2 (can't pair) drop right after the
      aggregation, before any pair exists. Doc sizes stay
      pre-cap (capped shingles count in |A|,|B| but not the
      intersection — conservative: J is under- never over-estimated);
      the oracle applies the identical rule.
    - Size-band pruning inside the pair generator: J ≥ 0.5 requires
      min(|A|,|B|)/max ≥ 0.5 (integer-arithmetic form, exact) — pruned
      pairs never reach the shuffle.
    - Short-doc guard: <3 words → empty shingle set (the raw
      F.sequence bound would go negative and slice(start=0) throws);
      such docs drop out of the posting explode, matching the oracle's
      empty range().
    - documents is scanned ONCE (plan-pinned in
      tests/test_plan_quality.py) — the r2 posting self-join expanded
      into two full copies of the shingling subtree, and the explode's
      inferred size>0 filter re-shingled the corpus below the exchange
      (see ngram_jaccard_pairs for the explode_outer fix).

    SCALE CONTRACT (r7 verdict finding #1, decomposition in BASELINE.md
    round 8): this form is exact over ALL pairs, and its pair stream is
    Σ_sh C(df_sh, 2) rows — on a corpus with dense near-dup clusters
    (c template copies sharing S shingles → S·C(c,2) rows per cluster)
    that is superlinear in cluster density, measured ~36× cost for 10×
    rows on the r7 skew10 slice. That is inherent to the inverted-index
    algorithm, not a plan defect. Use it as the all-pairs verifier for
    candidate sets and bounded blocks; the 100 TB / dense-crawl path is
    dedup_near_text_exact (LSH candidates → in-row array_intersect
    verify — pair count independent of doc length), which replaced this
    query in the bench skew suite in r8.

    r17 A/B (r16 verdict #2), negative kept as documentation: an Arrow
    postings kernel (tokenize+shingle+md5-hash per batch with a shingle
    memo, emitting the exploded (doc_id, sz, lang, sh) stream map-side
    — legal because the oracle intersects raw strings, so the shingle
    hash family is engine-internal) measured row-identical and 1.80 →
    1.71 s same-session at sf0.1 — inside the line's noise band, and it
    trades the JVM's few-ns-per-shingle xxhash64 for a Python-side
    crypto hash, strictly worse per byte at scale (hashing.py's own
    100 TB note points the OTHER way, md5 → xxhash64). The shuffles
    (census, lists, pair groupBy) are the real cost and the kernel
    changes none of them. Expression form kept."""
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"))


def shingle_postings(d: DataFrame, cache_handle: list | None = None) -> DataFrame:
    """Exploded (doc_id, sz, lang, sh) shingle postings for a
    (doc_id, lang, text) frame. The shingled pre-explode frame is
    persisted (MEMORY_AND_DISK) because the postings feed two
    branches — the df-count hot-shingle pre-filter and the posting
    lists — and each would otherwise re-scan + re-shingle the corpus.

    Cache lifetime: the persisted frame is released by the
    ContextCleaner once every plan reference is GC'd, which is fine
    for run-once queries but accumulates corpus-sized cached blocks
    when a long-lived process calls this in a loop or keeps the
    returned frame around. Callers that need deterministic cleanup
    pass ``cache_handle=[]``: the persisted frame is appended to it,
    and after materializing the results they call ``.unpersist()`` on
    each entry."""
    w = words("text")
    shingles = F.when(
        F.size(w) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 2),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(w, i, 3))),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    par = d.sparkSession.sparkContext.defaultParallelism
    ws = d.repartition(par).select(  # single-row-group input: 1 scan task otherwise
        "doc_id", "lang", shingles.alias("gset")
    )
    # MEMORY_AND_DISK: the frame feeds two branches (the df-count
    # pre-filter and the posting lists) — without the persist each
    # branch would re-scan + re-shingle the corpus. Spill-safe at scale
    # (gset is ~8 bytes/token, comparable to the corpus itself), and
    # the ContextCleaner unpersists it once the plan is unreferenced.
    sized = ws.withColumn("sz", F.size("gset")).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_handle is not None:
        cache_handle.append(sized)
    # explode_outer + isNotNull, NOT plain explode: explode makes the
    # optimizer infer `size(gset) > 0` — substituted with the whole
    # shingle expression and pushed below the repartition exchange,
    # where it re-shingles every document on the single pre-exchange
    # scan task (measured 9× the cost of this stage at sf0.1).
    # explode_outer infers no such filter; the cheap isNotNull on the
    # generated column drops the <3-word docs' single null posting.
    return sized.select(
        "doc_id", "sz", "lang", F.explode_outer("gset").alias("sh")
    ).filter(F.col("sh").isNotNull())


def capped_postings(
    post: DataFrame, df_cap: int = DF_CAP, broadcast_hot: bool = True
) -> DataFrame:
    """The df-cap skew guard: drop every posting of an over-cap "hot"
    shingle BEFORE any posting list is collected. df is pre-counted
    per (sh, lang) — partial-agg safe, map-side combine collapses each
    map partition to distinct shingles — and the over-cap list (the
    Zipf head: license boilerplate, ubiquitous trigrams) is tiny in
    distinct count, so it broadcasts; the anti-join removes hot
    postings map-side. No reduce task downstream ever sees more than
    df_cap postings for one shingle.

    ``broadcast_hot=False`` selects the documented fallback for a
    corpus whose over-cap head itself outgrows broadcast (worst case
    postings/df_cap distinct shingles): the anti-join then shuffles on
    (sh, lang), exactly the partitioning the downstream groupBy needs,
    so the exchange is shared and total shuffle volume is unchanged."""
    hot = (
        post.groupBy("sh", "lang")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("sh", "lang")
    )
    return post.join(F.broadcast(hot) if broadcast_hot else hot, ["sh", "lang"], "left_anti")


def ngram_jaccard_pairs(
    d: DataFrame,
    df_cap: int = DF_CAP,
    threshold: float = 0.5,
    broadcast_hot: bool = True,
    cache_handle: list | None = None,
) -> DataFrame:
    """Library form of dedup_ngram_jaccard over any (doc_id, lang, text)
    frame — see the query docstring for the algorithm and scale notes.
    ``broadcast_hot``/``cache_handle`` pass through to capped_postings /
    shingle_postings (hot-head broadcast fallback; deterministic
    unpersist for long-lived callers)."""
    post = shingle_postings(d, cache_handle=cache_handle)
    # Pair generation is grouped-by-shingle, not a posting self-join:
    # collect the (doc_id, sz) list per (sh, lang), keep lists sized
    # 2..df_cap (df < 2 can't pair; df > cap is ubiquitous boilerplate —
    # useless for distinguishing near-dups but a df² pair blow-up), and
    # emit ordered pairs in-row with higher-order functions. One corpus
    # scan, one shingling pass, one posting shuffle.
    #
    # The df cap is enforced BEFORE collect_list (round-3 verdict
    # finding #1) by capped_postings: the hot-shingle anti-join drops
    # an over-cap shingle's postings map-side, so no reduce task ever
    # materializes a posting list longer than df_cap.
    post_ok = capped_postings(post, df_cap, broadcast_hot=broadcast_hot)
    # Per-group collect state is now bounded by df_cap structs; lists
    # sized < 2 (singleton shingles — the long tail, cheap to carry
    # one row each) drop right after.
    lists = (
        post_ok.groupBy("sh", "lang")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sz"))).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    # sort_array orders by doc_id (first struct field), so pairing each
    # element only with its successors yields exactly the doc_a < doc_b
    # pairs; the size-band prune (J ≥ t needs min ≥ t·max, applied with
    # a conservative 1e-6 slack against float rounding — pruned-late
    # borderline pairs are re-checked by the exact final filter either
    # way) applies in-row before the pair ever reaches the shuffle.
    n = F.size(F.col("docs"))
    pair_arrays = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.filter(
                F.transform(
                    F.slice(F.col("docs"), i + 2, n),
                    lambda y: F.struct(
                        x["doc_id"].alias("doc_a"),
                        x["sz"].alias("sza"),
                        y["doc_id"].alias("doc_b"),
                        y["sz"].alias("szb"),
                    ),
                ),
                lambda p: F.least(p["sza"], p["szb"]).cast("double")
                >= F.lit(threshold) * F.greatest(p["sza"], p["szb"]) - F.lit(1e-6),
            ),
        )
    )
    pairs = (
        lists.select(F.explode_outer(pair_arrays).alias("p"))
        .filter(F.col("p").isNotNull())
        .groupBy("p.doc_a", "p.doc_b", "p.sza", "p.szb")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("sza") + F.col("szb") - F.col("c"))
    return (
        pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def decontaminate_exact(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Training-set decontamination, exact path: drop corpus documents
    whose normalized content hash appears in the benchmark/eval set
    (the train-test-overlap removal every LLM data pipeline runs
    before export). A left anti join on the 64-bit content hash — the
    benchmark side is eval-suite-sized (thousands of docs), so it
    broadcasts; the corpus never shuffles."""
    c = _normalized(corpus).withColumn("content_hash", F.md5("norm_text"))
    b = _normalized(benchmark).select(F.md5("norm_text").alias("content_hash")).distinct()
    return c.join(F.broadcast(b), "content_hash", "left_anti").drop(
        "norm_text", "content_hash"
    )


def decontaminate_near(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Near-dup decontamination: drop corpus docs sharing a MinHash-LSH
    band bucket with any benchmark doc AND estimated Jaccard ≥ 0.5 —
    catches paraphrased/partially-overlapping leakage the exact hash
    misses. Cross-dataset variant of dedup_near_text: corpus bands
    join benchmark bands (benchmark side tiny → broadcast); candidates
    verify on signature agreement; matched doc_ids anti-join back."""
    sig_c = minhash_signatures(corpus).select(
        "doc_id", F.array(*[f"mh_{i}" for i in range(N_HASHES)]).alias("sig")
    )
    sig_b = minhash_signatures(benchmark).select(
        F.col("doc_id").alias("b_doc_id"),
        F.array(*[f"mh_{i}" for i in range(N_HASHES)]).alias("b_sig"),
    )
    bc = lsh_band_keys(sig_c, "doc_id", "sig")
    bb = lsh_band_keys(sig_b, "b_doc_id", "b_sig")
    est = est_jaccard("sig", "b_sig")
    contaminated = (
        bc.join(F.broadcast(bb), BAND_KEY_COLS)
        .filter(est >= 0.5)
        .select("doc_id")
        .distinct()
    )
    return corpus.join(contaminated, "doc_id", "left_anti")


@query(
    "dedup_decontaminate",
    oracle="""
    WITH normed AS (
      SELECT doc_id, lang, source,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS content_hash
      FROM documents
    ),
    bench AS (
      SELECT DISTINCT content_hash FROM normed WHERE doc_id % 97 = 0
    )
    SELECT c.doc_id, c.lang, c.source
    FROM normed c
    WHERE c.doc_id % 97 <> 0
      AND NOT EXISTS (SELECT 1 FROM bench b WHERE b.content_hash = c.content_hash)
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination (north-star op the reference lacks):
    every 97th document plays the held-out benchmark; the rest is the
    training corpus, and any training doc whose normalized content
    exactly matches a benchmark doc is removed (dedup_exact's cluster
    structure guarantees non-trivial removals in the fixture). The
    near-dup sweep (decontaminate_near, MinHash-LSH across datasets)
    is the second pass at scale — module-tested, not oracle-expressible
    (xxhash64)."""
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    return decontaminate_exact(corpus, benchmark).select("doc_id", "lang", "source")


def connected_components(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list via the
    alternating large-star / small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    scale-grade way to turn near-dup PAIRS into dedup CLUSTERS:
    transitive closure would explode quadratically on big cliques,
    and naive min-label propagation needs O(diameter) rounds; the
    star rounds converge in O(log n) and every round is plain
    groupBy + join (partial-agg-safe min, shuffle keyed by node id).

    Per round on the symmetric edge view:

    - large-star: every node ``u`` links each strictly-larger neighbor
      to ``m = min(N(u) ∪ {u})`` — pulls whole neighborhoods toward
      the local minimum without ever creating an upward edge.
    - small-star: every node links its smaller-or-equal neighbors and
      itself to the minimum of that set — flattens chains into stars.

    The driver loop stops at a fixed point (edge multiset stable,
    compared by count + order-insensitive hash sum — both computed on
    the checkpointed frame, no recompute). ``localCheckpoint`` per
    round truncates lineage, otherwise the plan doubles every
    iteration. At fixed point each component is a star rooted at its
    minimum id, so labels read straight off the edges.

    Pass ``stats={}`` to receive ``stats["rounds"]`` — the number of
    large+small-star rounds executed before the fixed point — so tests
    can pin the O(log n) convergence claim with a counter instead of
    wall time.

    Returns (doc_id, cluster_rep): one row per node that appears in
    ``edges``, rep = smallest doc_id in its component (the canonical
    survivor every dedup pipeline keeps). Singletons never enter the
    edge list and so are absent — callers treat missing as
    "its own cluster".
    """
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(df: DataFrame):
        # hash summed as decimal(20,0) → decimal(30,0) accumulator:
        # summing raw 64-bit hashes overflows long under ANSI mode
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(20,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def canonical(pairs: DataFrame) -> DataFrame:
        return (
            pairs.filter(F.col("x") != F.col("m"))
            .select(
                F.least("x", "m").alias("u"), F.greatest("x", "m").alias("v")
            )
            .distinct()
        )

    sig = signature(e)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m = min over ALL neighbors ∪ self; emit (v, m)
        # for each neighbor v > u
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("x"), "m")
        )
        e = canonical(large).localCheckpoint(eager=True)
        # small-star on the larger endpoint: m = min over the strictly-
        # smaller neighbors (all < u); emit (x, m) for x ∈ Γ⁻(u) ∪ {u}
        ge = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        mins_s = ge.groupBy("u").agg(F.min("v").alias("m"))
        small = ge.join(mins_s, "u").select(F.col("v").alias("x"), "m").union(
            mins_s.select(F.col("u").alias("x"), "m")
        )
        e = canonical(small).localCheckpoint(eager=True)
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_iter} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    # fixed point = stars rooted at component minima: u is the rep on
    # every canonical edge; the rep itself is a member too
    members = e.select(F.col("u").alias("cluster_rep"), F.col("v").alias("doc_id"))
    reps = e.select(F.col("u").alias("cluster_rep"), F.col("u").alias("doc_id")).distinct()
    return members.union(reps).select("doc_id", "cluster_rep")


@query(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jpairs
      UNION
      SELECT doc_b, doc_a FROM jpairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, min(v) AS cluster_rep FROM reach GROUP BY u),
    csize AS (
      SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY cluster_rep
    )
    SELECT c.doc_id, c.cluster_rep, s.cluster_size,
           (c.doc_id = c.cluster_rep) AS is_canonical
    FROM comp c JOIN csize s USING (cluster_rep)
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 completion — pairs → CLUSTERS: near-dup dedup is only done
    once pairwise matches are folded into transitive groups and one
    canonical doc survives per group (A~B, B~C must drop two docs even
    though A~C was never emitted). Exact n-gram Jaccard pairs
    (``ngram_jaccard_pairs`` — same plan the driver checks as
    dedup_ngram_jaccard) feed ``connected_components`` (large-star /
    small-star, O(log n) rounds); output is one row per clustered doc
    with its component's canonical representative (min doc_id),
    cluster size, and the keep/drop verdict. The oracle mirrors the
    clustering with a recursive min-label closure over the identical
    pair CTE — safe at oracle SF, while the Spark side uses the
    closure-free star algorithm that survives 100 TB cliques.
    Reference scope: the reference dedups via row_number over exact
    keys only (dbt staging models); transitive near-dup clustering is
    part of the training-data extension surface (SURVEY.md §2j)."""
    pairs = ngram_jaccard_pairs(table(spark, sf_dir, "documents"))
    comp = connected_components(pairs)
    sizes = comp.groupBy("cluster_rep").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "cluster_rep").select(
        "doc_id",
        "cluster_rep",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_rep")).alias("is_canonical"),
    )


def containment_pairs(
    d: DataFrame,
    df_cap: int = DF_CAP,
    threshold: float = 0.6,
    broadcast_hot: bool = True,
    cache_handle: list | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: c / min(|A|,|B|) — the
    doc-inside-doc detector Jaccard structurally misses (a 100-shingle
    doc fully quoted inside a 10,000-shingle doc has containment 1.0
    but Jaccard 0.01, so no size-band survives: unlike
    ngram_jaccard_pairs there is deliberately NO size prune here).
    Same single-scan inverted-index machinery as the Jaccard verifier
    (shingle_postings → df-cap → grouped-by-shingle in-row pair
    emission); only the final formula and the absent band prune
    differ. At 100 TB the df cap is what bounds the pair fan-out —
    the quoted-boilerplate shingles a containment check hunts are
    exactly the high-df head, so tune df_cap UP for this op when
    recall on ubiquitous boilerplate matters more than cost."""
    post = shingle_postings(d, cache_handle=cache_handle)
    post_ok = capped_postings(post, df_cap, broadcast_hot=broadcast_hot)
    lists = (
        post_ok.groupBy("sh", "lang")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sz"))).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    n = F.size(F.col("docs"))
    pair_arrays = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, n),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    x["sz"].alias("sza"),
                    y["doc_id"].alias("doc_b"),
                    y["sz"].alias("szb"),
                ),
            ),
        )
    )
    pairs = (
        lists.select(F.explode_outer(pair_arrays).alias("p"))
        .filter(F.col("p").isNotNull())
        .groupBy("p.doc_a", "p.doc_b", "p.sza", "p.szb")
        .agg(F.count("*").alias("c"))
    )
    cont = F.col("c").cast("double") / F.least(F.col("sza"), F.col("szb"))
    return (
        pairs.select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", F.round("containment", 4).alias("containment"))
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH w0 AS (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    ws AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gset
      FROM w0
    ),
    sized AS (SELECT doc_id, lang, gset, len(gset) AS sz FROM ws),
    post AS (SELECT doc_id, lang, sz, unnest(gset) AS sh FROM sized),
    live AS (
      SELECT sh, lang FROM post GROUP BY sh, lang
      HAVING count(*) BETWEEN 2 AND {DF_CAP}
    ),
    cpairs AS (
      SELECT doc_a, doc_b, containment FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS DOUBLE) / least(max(a.sz), max(b.sz)) AS containment
        FROM post a JOIN post b
          ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        JOIN live l ON l.sh = a.sh AND l.lang = a.lang
        GROUP BY a.doc_id, b.doc_id
      ) WHERE containment >= 0.6
    )
    SELECT doc_a, doc_b, round(containment, 4) AS containment FROM cpairs
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 companion: asymmetric containment pairs over ``documents`` —
    see ``containment_pairs``. Candidates whose smaller side is ≥60%
    inside the larger are quote/boilerplate-wrapping relationships the
    symmetric Jaccard threshold can't see at size ratios beyond 2:1
    (the Jaccard band prune's own cutoff)."""
    return containment_pairs(table(spark, sf_dir, "documents"))


def incremental_near_dedup(corpus: DataFrame, arrivals: DataFrame) -> DataFrame:
    """Incremental near-dup admission — the ONLINE form of
    dedup_near_text: an arriving batch is checked against the EXISTING
    corpus signature index (never against the raw corpus text) and
    against itself, without ever re-running dedup over the corpus.
    Verdict per arriving doc: ``dup_corpus`` (est-Jaccard ≥ 0.5 with
    any indexed corpus doc — ``dup_of`` = the smallest such doc_id),
    else ``dup_batch`` (matches a smaller-id doc within the batch —
    the deterministic keep-first rule; note it compares against ALL
    smaller ids, not just kept ones — the standard streaming
    approximation, documented over the transitive-closure form that
    would need iteration), else ``kept``.

    Scale shape: at 100 TB the corpus side is a MAINTAINED signature
    table (doc_id, 16 longs — built once, appended per admitted
    batch), so per batch the cost is hashing the arrivals plus two
    band equi-joins whose corpus side is index-sized, never
    corpus-text-sized. Here the index is built in-query from the
    corpus frame so the whole operator stays oracle-checkable."""
    sig_c = minhash_signatures(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    sig_c.count()
    sig_a = minhash_signatures(arrivals).persist(StorageLevel.MEMORY_AND_DISK)
    sig_a.count()
    arr_c = sig_c.select(
        F.col("doc_id").alias("c_doc_id"),
        F.array(*[f"mh_{i}" for i in range(N_HASHES)]).alias("c_sig"),
    )
    arr_a = sig_a.select(
        "doc_id", F.array(*[f"mh_{i}" for i in range(N_HASHES)]).alias("sig")
    )
    bc = lsh_band_keys(arr_c, "c_doc_id", "c_sig")
    ba = lsh_band_keys(arr_a, "doc_id", "sig")
    est_c = est_jaccard("sig", "c_sig")
    cor = (
        ba.join(bc, BAND_KEY_COLS)
        .filter(est_c >= 0.5)
        .groupBy("doc_id")
        .agg(F.min("c_doc_id").alias("dup_of_corpus"))
    )
    b1 = ba.select(
        F.col("doc_id").alias("p_doc_id"),
        F.col("sig").alias("p_sig"),
        *[F.col(c) for c in BAND_KEY_COLS],
    )
    est_b = est_jaccard("sig", "p_sig")
    bat = (
        ba.join(b1, BAND_KEY_COLS)
        .filter((F.col("p_doc_id") < F.col("doc_id")) & (est_b >= 0.5))
        .groupBy("doc_id")
        .agg(F.min("p_doc_id").alias("dup_of_batch"))
    )
    verdict = (
        F.when(F.col("dup_of_corpus").isNotNull(), "dup_corpus")
        .when(F.col("dup_of_batch").isNotNull(), "dup_batch")
        .otherwise("kept")
    )
    return (
        arrivals.select("doc_id")
        .join(cor, "doc_id", "left")
        .join(bat, "doc_id", "left")
        .select(
            "doc_id",
            verdict.alias("verdict"),
            F.coalesce("dup_of_corpus", "dup_of_batch").alias("dup_of"),
        )
    )




@query(
    "dedup_incremental",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 256 < {TRAIN_BUCKET} AS in_corpus
      FROM documents
    ),
    w0 AS (
      SELECT doc_id, in_corpus,
             list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM base
    ),
    sh AS (
      SELECT doc_id, in_corpus,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS shingles
      FROM w0
    ),
    post AS (SELECT doc_id, in_corpus, unnest(shingles) AS s FROM sh),
    hp AS (
      SELECT doc_id, in_corpus,
             {_SQL_H1.format(x='s')} AS h1, {_SQL_H2.format(x='s')} AS h2
      FROM post
    ),
    sig AS (
      SELECT doc_id, in_corpus, [{_sql_sig_mins()}] AS sig
      FROM hp GROUP BY doc_id, in_corpus
    ),
    bands AS ({_sql_bands('in_corpus, ')}),
    cor AS (
      SELECT a.doc_id, CAST(min(c.doc_id) AS BIGINT) AS dup_of_corpus
      FROM bands a JOIN bands c
        ON NOT a.in_corpus AND c.in_corpus
       AND a.band = c.band AND {_sql_band_eq('a', 'c')}
      WHERE {_sql_est('a.sig', 'c.sig')} >= 0.5
      GROUP BY a.doc_id
    ),
    bat AS (
      SELECT a.doc_id, CAST(min(c.doc_id) AS BIGINT) AS dup_of_batch
      FROM bands a JOIN bands c
        ON NOT a.in_corpus AND NOT c.in_corpus AND c.doc_id < a.doc_id
       AND a.band = c.band AND {_sql_band_eq('a', 'c')}
      WHERE {_sql_est('a.sig', 'c.sig')} >= 0.5
      GROUP BY a.doc_id
    )
    SELECT b.doc_id,
           CASE WHEN cor.dup_of_corpus IS NOT NULL THEN 'dup_corpus'
                WHEN bat.dup_of_batch IS NOT NULL THEN 'dup_batch'
                ELSE 'kept' END AS verdict,
           coalesce(cor.dup_of_corpus, bat.dup_of_batch) AS dup_of
    FROM base b
    LEFT JOIN cor ON b.doc_id = cor.doc_id
    LEFT JOIN bat ON b.doc_id = bat.doc_id
    WHERE NOT b.in_corpus
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 online form: admit an arriving batch (docs hashing to the
    ~20% bucket tail — reusing the split-family hash so the partition
    is deterministic) against the signature index of the existing
    ~80% corpus. See ``incremental_near_dedup`` for semantics and the
    maintained-index scale story."""
    from .sampling import hash_bucket

    d = table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    return incremental_near_dedup(
        d.filter(b < TRAIN_BUCKET), d.filter(b >= TRAIN_BUCKET)
    )


@query(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jpairs
      UNION
      SELECT doc_b, doc_a FROM jpairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, min(v) AS cluster_rep FROM reach GROUP BY u),
    ranked AS (
      SELECT c.doc_id, c.cluster_rep, d.n_chars,
             row_number() OVER (
               PARTITION BY c.cluster_rep
               ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_rep, CAST(n_chars AS BIGINT) AS n_chars,
           (rk = 1) AS keep
    FROM ranked
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection by QUALITY: the min-id
    canonical of ``dedup_cluster_cc`` is arbitrary — a curation
    pipeline keeps each near-dup cluster's BEST member (here: longest
    doc, doc_id tiebreak; in production a quality-score column — the
    policy is one orderBy away). Same verified machinery: exact
    Jaccard pairs → connected components → one window per cluster over
    the cluster-sized member frame (never the corpus), joined with the
    quality attribute from the source table. The oracle replays the
    identical recursive-closure clustering and the identical ranking.

    This is the SemDeDup-style keep-best applied to the TEXT near-dup
    graph (the embedding-cell variant is dedup_semantic_keep_best) —
    together they cover both halves of the survivor-selection
    surface."""
    d = table(spark, sf_dir, "documents")
    comp = connected_components(ngram_jaccard_pairs(d))
    ranked = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_rep").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        ranked.withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_rep",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            (F.col("rk") == 1).alias("keep"),
        )
    )
