"""Vector similarity search over ``embeddings`` (SURVEY.md §2j X5):
brute-force cosine top-k as the exact baseline; IVF, PQ and IVF-PQ as
the approximate scale paths.

Scale posture: the query set is always the broadcast side (q ≪ n);
the corpus never shuffles. Brute force is one pass over corpus
partitions with a per-partition top-k then a k-way merge
(TakeOrderedAndProject shape per query via window rank). IVF prunes
that pass to nprobe/nlist of the corpus.

Every ranked result is built from three helpers: ``_queries`` (the
query set with its hoisted norm), ``_scored`` (the hoisted cosine,
rounded to 6 dp) and ``_top_k`` (the per-query rank with the vec_id
tie-break).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import table
from ..registry import query

TOP_K = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors
# IVF recall contract: overlap/exact >= RECALL_NUM/TOP_K (0.8) per query.
# Observed per-query overlap: sf0.001 {5,4,4,5,4}, sf0.01 all 5,
# sf0.1 {5,4,5,5,4} — the contract holds everywhere, with a full point
# of margin at the driver's correctness SF (0.01).
RECALL_NUM = 4
IVF_ITERS = 3  # Lloyd iterations of the coarse k-means (learned_centroids)


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with + aggregate — JVM expression, no UDF.
    Inputs are cast to double first so accumulation order and width
    match the oracle exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _cents_row(cents: DataFrame) -> DataFrame:
    """The whole centroid table as ONE row carrying an
    array<struct<cent_id,cvec,cnorm>> column — the broadcast shape the
    map-only assignment forms consume. array_sort fixes the order
    (collect_list is shuffle-order-dependent; cent_id leads the
    struct, so the sort is a deterministic id sort). Size bound: the
    array is nlist·dim doubles; beyond ~10^5 centroids (≈50 MB) coarse
    assignment should move to a GEMM mapInPandas kernel like
    _gemm_candidates instead.

    Each struct carries its centroid's norm, computed once per
    centroid here rather than once per (row × centroid) pair — the same
    expression over the same doubles (see _scored_cells)."""
    return cents.select(
        "cent_id",
        "cvec",
        F.sqrt(dot(F.col("cvec"), F.col("cvec"))).alias("cnorm"),
    ).agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cvec", "cnorm"))).alias(
            "_cents"
        )
    )


def _scored_cells(vec: Column, nrm: Column) -> Column:
    """Per-row array of struct(dist, cent_id) against the broadcast
    '_cents' column: ``1 - cosine(vec, cvec)`` evaluated in-row, so
    array_min / array_sort over it order by (dist ASC, cent_id ASC)
    (struct comparison is lexicographic).

    Both norms are hoisted: ``nrm`` is the row's own norm, computed in
    a projection BELOW the centroid crossJoin (an attribute here, so
    interpreted HOF evaluation cannot re-expand it per centroid), and
    ``c.cnorm`` is the per-centroid constant from _cents_row. The
    expression is bit-identical to ``1 - cosine(vec, cvec)``: dot(a,b)
    / (sqrt(dot(a,a)) * sqrt(dot(b,b))) with the two sqrt factors
    produced by the same `dot` over the same values in the same
    multiplication order — only the re-evaluations go (k+1 dots per
    row instead of 3k). test_cosine_norm_hoist_bit_identical pins the
    same argument for the query-side form (_hoisted_cosine)."""
    return F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (1 - dot(vec, c["cvec"]) / (nrm * c["cnorm"])).alias("dist"),
            c["cent_id"].alias("cent_id"),
        ),
    )


def _with_nrm(df: DataFrame, vec_col: str, out: str = "_nrm") -> DataFrame:
    """Append sqrt(dot(vec,vec)) as ``out`` — the row-norm hoist all
    assignment/scoring forms share. Must be a SEPARATE projection
    below the centroid/query join so the norm is evaluated once per
    row (see _scored_cells)."""
    return df.select(
        "*", F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias(out)
    )


def _queries(e: DataFrame, *keep: Column) -> DataFrame:
    """The query set of a (vec_id, vec) corpus: (query_id, qvec, *keep,
    _qnrm) for vec_id < N_QUERIES, the query norm hoisted into its own
    projection. Five rows — every search broadcasts it."""
    return _with_nrm(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), *keep
        ),
        "qvec",
        out="_qnrm",
    )


def _hoisted_cosine() -> Column:
    """cosine(qvec, vec) over a (query × corpus) pair frame carrying
    both hoisted norms (_qnrm from _queries, _nrm from _with_nrm):
    dot(qvec, vec) / (_qnrm * _nrm). Each norm is the same `dot` over
    the same values as inside `cosine`, multiplied in the same order,
    so the value is bit-identical to cosine(qvec, vec) (pinned by
    test_cosine_norm_hoist_bit_identical) while each norm is computed
    once per row instead of twice per pair."""
    return dot(F.col("qvec"), F.col("vec")) / (F.col("_qnrm") * F.col("_nrm"))


def _scored(pairs: DataFrame, *keep: str) -> DataFrame:
    """(query_id, vec_id, *keep, cos_sim): the hoisted cosine rounded to
    6 dp — the value every exact and re-ranked result publishes."""
    return pairs.select(
        "query_id", "vec_id", *keep, F.round(_hoisted_cosine(), 6).alias("cos_sim")
    )


def _top_k(scored: DataFrame, k: int, by: Column | None = None) -> DataFrame:
    """Each query's first ``k`` rows of ``scored`` in (``by``, vec_id)
    order, numbered ``rk`` (bigint); ``by`` defaults to cos_sim DESC.
    The vec_id tie-break keeps the selection deterministic across
    engines — the oracles mirror it with the same row_number window."""
    if by is None:
        by = F.col("cos_sim").desc()
    w = Window.partitionBy("query_id").orderBy(by, F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= k
    )


def _cells_from_rows(rows):
    """(cids, C): collected centroid rows as numpy arrays in cent_id
    order — nlist·dim doubles, model metadata that rides the cell
    kernels' closures."""
    import numpy as np

    rows = sorted(rows, key=lambda r: int(r.cent_id))
    return (
        np.array([int(r.cent_id) for r in rows], dtype=np.int64),
        np.array([list(r.cvec) for r in rows], dtype=np.float64),
    )


def _cell_dists(C, M):
    """(nrm, D) for a batch ``M`` (rows × dim) against the centroid
    matrix ``C`` (cells × dim, cent_id order): nrm = sqrt(Σx²) per row
    and D[r, j] = 1.0 − dot(M[r], C[j]) / (nrm[r]·cnorm[j]), the
    `_scored_cells` distance with the same operand order. Every Σ folds
    over dims left to right, one vectorized op per dim, reproducing the
    JVM `dot` fold exactly — never np.dot/np.sum, whose pairwise/SIMD
    reassociation rounds differently. The Lloyd core of both cell
    kernels."""
    import numpy as np

    def fold(a, b):
        acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
        for i in range(a.shape[-1]):
            acc = acc + a[..., i] * b[..., i]
        return acc

    nrm = np.sqrt(fold(M, M))
    cnorm = np.sqrt(fold(C, C))
    D = 1.0 - fold(M[:, None, :], C[None, :, :]) / (nrm[:, None] * cnorm[None, :])
    return nrm, D


def _cell_topn_kernel(cells, n: int, id_col: str, vec_col: str, nrm_col: str):
    """mapInPandas kernel for coarse (IVF) cell assignment — the
    Arrow-vectorized twin of the `_scored_cells` + array_sort/array_min
    expression form (the interpreted per-(row × centroid) cosine fold
    was the whole cost of learned_centroids / _cell_assign: 3.6 s +
    1.3 s of the ivfpq build at sf0.1 even with hoisted norms). Emits
    each input row's ``n`` nearest cells in (dist ASC, cent_id ASC)
    order, plus the row's hoisted norm. Bit-identical by construction
    (pinned by test_cell_assign_kernel_bit_identical): distances come
    from _cell_dists, and a stable argsort over the cent_id-ordered
    distance matrix keeps cent_id order on equal dists (the struct
    (dist, cent_id) lexicographic tie-break) and sorts NaN last
    (Spark's double ordering). The expression form stays in-tree
    (_cell_assign_expr / _scored_cells) as the independent reference
    twin."""
    cids, C = cells

    def fn(batches):
        import numpy as np
        import pandas as pd

        if len(cids) == 0:  # empty centroid table: no cells to assign (the
            return  # explode-of-empty-slice behavior of the expr twin)
        take = min(n, len(cids))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm, D = _cell_dists(C, M)
            idx = np.argsort(D, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), take),
                    vec_col: [
                        v for v in pdf[vec_col] for _ in range(take)
                    ],
                    nrm_col: np.repeat(nrm, take),
                    "cell": cids[idx].reshape(-1),
                }
            )

    return fn


def _cell_sums_kernel(cells, vec_col: str):
    """mapInPandas kernel for ONE Lloyd means pass ("aggregate before
    you shuffle"): assigns each row to its nearest cell with EXACTLY the
    `_cell_topn_kernel(n=1)` logic (_cell_dists, stable-argsort
    first-min/NaN-last), but instead of emitting corpus rows for a
    downstream posexplode→groupBy means reduce, it accumulates per-cell
    vector sums and counts ACROSS ALL BATCHES OF THE TASK and emits one
    (cent_id, n, s[dim]) partial row per non-empty cell per task. The
    exchange then carries k·n_tasks partial rows instead of corpus×dim
    posexploded rows — the row-level means reduce cost ~2.2 s of the
    ivfpq build at sf0.1, all of it shuffle/aggregate plumbing around
    an argmin the assignment kernel had already paid for.

    Result identity: the published means are round(Σx/Σn, 6); the
    row-level form's round(avg(x), 6) accumulates the same values in
    partition/merge order (already nondeterministic run to run — the
    6 dp round is what makes Lloyd deterministic, see
    learned_centroids). The partial-sum order here is just another
    accumulation order under that same contract; centroid equality vs
    the expression twin is pinned by
    test_cell_assign_kernel_bit_identical and was verified at
    sf0.001/0.01/0.1."""
    cids, C = cells

    def fn(batches):
        import numpy as np
        import pandas as pd

        if len(cids) == 0:
            return
        sums = None
        counts = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if sums is None:
                sums = np.zeros((len(cids), M.shape[1]), dtype=np.float64)
                counts = np.zeros(len(cids), dtype=np.int64)
            _, D = _cell_dists(C, M)
            # stable argsort[:, 0] ≡ _cell_topn_kernel(n=1): first-min
            # tie-break toward the lower cent_id, NaN sorts last
            idx = np.argsort(D, axis=1, kind="stable")[:, 0]
            for j in np.unique(idx):
                rows = M[idx == j]
                sums[j] += rows.sum(axis=0)
                counts[j] += rows.shape[0]
        if sums is not None:
            nz = np.nonzero(counts)[0]
            if len(nz):
                yield pd.DataFrame(
                    {
                        "cent_id": cids[nz],
                        "n": counts[nz],
                        "s": [sums[j].tolist() for j in nz],
                    }
                )

    return fn


def _cell_means_from_partials(partials: DataFrame) -> DataFrame:
    """(cent_id, cvec) means from _cell_sums_kernel partial rows:
    round(Σs/Σn, 6) per dim — the same F.round HALF_UP the row-level
    round(avg) form (_means) publishes, over totals instead of raw
    values. The reduce input is k·n_tasks rows (model-sized at any
    corpus size)."""
    return (
        partials.select("cent_id", "n", F.posexplode("s").alias("pos", "val"))
        .groupBy("cent_id", "pos")
        .agg(F.round(F.sum("val") / F.sum("n"), 6).alias("m"))
        .groupBy("cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
            ).alias("cvec")
        )
    )


def _means(assigned: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """Per-group mean vectors of member rows: posexplode ``vec`` →
    groupBy(*keys, pos) avg rounded 6 dp → ``cvec`` re-assembled in dim
    order (distributed; never collects vectors). Serves the
    learned_centroids reference twin (per cell) and pq_train (per
    subspace code)."""
    return (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
            ).alias("cvec")
        )
    )


def _doubled(df: DataFrame, out: str = "vec") -> DataFrame:
    return df.withColumn(out, F.col("embedding").cast("array<double>"))


_EXACT_TOPK_CTE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_dot_product(q.qvec, e.vec) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(e.vec, e.vec))),
                   6) AS cos_sim
      FROM q CROSS JOIN e
      WHERE e.vec_id <> q.query_id
    ),
    exact AS (
      SELECT query_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        FROM scored
      ) WHERE rk <= {TOP_K}
    )"""


@query(
    "similarity_topk",
    oracle=_EXACT_TOPK_CTE + "\n    SELECT query_id, vec_id, cos_sim, rk FROM exact",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 baseline: exact brute-force cosine top-k. Queries (vec_id<5)
    broadcast against the full corpus; rank on cosine rounded to 6dp
    with vec_id tiebreak keeps selection deterministic across engines."""
    e = _doubled(table(spark, sf_dir, "embeddings"))
    pairs = (
        _with_nrm(e, "vec")
        .crossJoin(F.broadcast(_queries(e)))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    return _top_k(_scored(pairs), TOP_K)


def learned_centroids(e: DataFrame, use_kernel: bool = True) -> DataFrame:
    """Deterministic k-means (Lloyd) over the corpus, DataFrame-native:

    - init: the positional stand-ins (vec_id ≡ 0 mod 64) — fixed, so
      every run starts identically;
    - iterate IVF_ITERS times: assign each vector to its nearest
      centroid MAP-SIDE, then recompute per-cell means (distributed;
      never collects vectors). A crossJoin-explode + row_number window
      would SORT-SHUFFLE k·n assignment rows per iteration — at 10^9
      vectors × 64 cells a 64× row-amplified network pass paid for an
      argmin over constants.

    The production form is one map-side pass per iteration: the Arrow
    kernel assigns every row AND accumulates per-cell vector sums and
    counts across its task's batches (_cell_sums_kernel), so the only
    exchange carries k·n_tasks partial rows. ``use_kernel=False`` is
    the JVM-expression reference twin (array_min over _scored_cells
    against the one-row broadcast centroid array, then the row-level
    means reduce), kept so the kernel is pinned bit-identical against
    an independent implementation
    (test_cell_assign_kernel_bit_identical).

    Means are rounded to 6 dp so double accumulation order cannot make
    runs diverge; per-iteration centroids are re-materialized through
    the driver (k·dim scalars — metadata, not data) to keep the plan
    flat. At 100 TB each iteration is one corpus scan; 3 iterations is
    the classic cheap-recall sweet spot, and the assignment pass is
    the same one the index build needs anyway."""
    spark = e.sparkSession
    cents = e.filter(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("vec").alias("cvec")
    )
    if not cents.head(1):
        # an index build over an empty (or seed-less) corpus is a
        # config/ordering error in the pipeline, not a searchable
        # index — fail with the reason, not a downstream stack trace
        raise ValueError(
            "learned_centroids: empty corpus (no centroid seeds, vec_id % 64 == 0)"
        )
    if not use_kernel:
        en = _with_nrm(e.select("vec"), "vec")
        for _ in range(IVF_ITERS):
            assigned = en.crossJoin(F.broadcast(_cents_row(cents))).select(
                F.array_min(_scored_cells(F.col("vec"), F.col("_nrm")))[
                    "cent_id"
                ].alias("cent_id"),
                "vec",
            )
            means = _means(assigned, ["cent_id"], "vec")
            cents = spark.createDataFrame(means.collect(), schema=means.schema)
        return cents
    cells = _cells_from_rows(cents.collect())
    src = e.select("vec")
    for _ in range(IVF_ITERS):
        partials = src.mapInPandas(
            _cell_sums_kernel(cells, "vec"),
            "cent_id bigint, n bigint, s array<double>",
        )
        rows = _cell_means_from_partials(partials).collect()
        cells = _cells_from_rows(rows)
    return spark.createDataFrame(rows, schema="cent_id bigint, cvec array<double>")


def _exact_rows_with_flag(
    spark: SparkSession, sf_dir: str, flag: str, ok: Column, **approx: DataFrame
) -> DataFrame:
    """The driver-checkable form of an approximate search: the EXACT
    top-k rows (deterministic, oracle-mirrored) plus one per-query
    boolean ``flag`` = ``ok``, a predicate over the query's exact-row
    count ``n_exact`` and, for each named approximate result in
    ``approx``, a column of that name counting the exact rows it
    recovered (0 when none). If the approximate path regresses below
    its contract on any query, the flag flips and the value hash goes
    red. The exact rows are collected into a local frame: k·q rows (25
    at the defaults) feed every overlap and the final join, so the
    corpus pass runs once and no cache needs a lifecycle."""
    exact_plan = similarity_topk(spark, sf_dir)
    exact = spark.createDataFrame(exact_plan.collect(), schema=exact_plan.schema)
    counts = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    for name, rows in approx.items():
        hits = (
            exact.join(rows.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias(name))
        )
        counts = counts.join(hits, "query_id", "left").fillna(0, subset=[name])
    flags = counts.select("query_id", ok.alias(flag))
    return exact.join(F.broadcast(flags), "query_id").select(
        "query_id", "vec_id", "cos_sim", "rk", flag
    )


@query(
    "similarity_topk_ivf",
    # the IVF search is approximate, so its rows can't be value-hashed
    # directly — the query emits the EXACT top-k rows plus a per-query
    # recall contract computed from the IVF candidates INSIDE the
    # query: ivf_recall_ok = (n_overlap * TOP_K >= n_exact *
    # RECALL_NUM), i.e. recall >= 0.8, in pure integer arithmetic
    # (0.8*5 in doubles is 4.000000000000000222 — ceil would demand 5).
    # The oracle asserts TRUE.
    oracle=_EXACT_TOPK_CTE
    + "\n    SELECT query_id, vec_id, cos_sim, rk, TRUE AS ivf_recall_ok FROM exact",
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 scale path, driver-checkable form: exact top-k rows joined
    with a per-query IVF recall contract (see the oracle note above).
    The raw approximate result set is similarity_topk_ivf_raw; bench.py
    records its recall at the bench SF."""
    return _exact_rows_with_flag(
        spark,
        sf_dir,
        "ivf_recall_ok",
        F.col("n_overlap") * F.lit(TOP_K) >= F.col("n_exact") * F.lit(RECALL_NUM),
        n_overlap=similarity_topk_ivf_raw(spark, sf_dir),
    )


@query("similarity_topk_ivf_raw")  # approximate: no oracle
def similarity_topk_ivf_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 scale path: IVF-style coarse quantization with LEARNED
    centroids (deterministic k-means, see learned_centroids). Each
    corpus vector is indexed in its N_ASSIGN=2 nearest cells
    (multi-assignment: the standard IVF mitigation for boundary loss —
    a neighbor just across a cell border stays findable at the cost of
    2× index size); queries probe their nprobe nearest cells and
    search only those buckets, nprobe adapting to the cell count (see
    _default_nprobe). Same top-k contract as the exact query; recall
    is approximate so the check is rows-only — tests/test_modules.py
    pins recall ≥ 0.8, and bench.py records
    secondary.similarity_ivf_recall at the bench SF."""
    e = _doubled(table(spark, sf_dir, "embeddings"))
    return ivf_topk(e, learned_centroids(e))


N_ASSIGN = 2  # IVF multi-assignment width — ONE definition for all paths


def _default_nprobe(nlist: int) -> int:
    """The adaptive nprobe = max(3, ceil(nlist/3)), shared by ivf_topk
    and the IVF-PQ composite so a retune cannot leave the composite
    probing a different fraction than the recall pins were measured
    at. Recall follows the probed corpus FRACTION, not the probe
    count: a fixed nprobe=3 probed 3/8 cells at sf0.001 (recall 0.88)
    but 3/32 at sf0.1 (recall 0.48). Sweep at sf0.1, nlist=32: nprobe
    3 → 0.48, 8 → 0.80, 16 → 0.96; this rule's 11 → 0.92 with ~3×
    pruning. The synthetic embeddings are near-uniform — ANN-hostile,
    recall tracks probed fraction — so the ratio is the honest knob: a
    clustered real corpus moves the whole curve up and the ratio
    down."""
    return max(3, -(-nlist // 3))


def _cell_assign(e: DataFrame, cents: DataFrame, n_assign: int) -> DataFrame:
    """(vec_id, vec, _nrm, cell): each corpus vector indexed in its
    n_assign nearest cells — shared by ivf_topk and the IVF-PQ
    composite so cell semantics cannot drift. MAP-ONLY: the per-row
    top-n runs in the Arrow kernel (_cell_topn_kernel), one map-side
    pass with zero shuffle (plan pin test_cell_assign_is_map_only),
    bit-identical cells (pinned vs _cell_assign_expr), and the row's
    hoisted norm rides along for the downstream cosine."""
    return e.select("vec_id", "vec").mapInPandas(
        _cell_topn_kernel(
            _cells_from_rows(cents.collect()), n_assign, "vec_id", "vec", "_nrm"
        ),
        "vec_id bigint, vec array<double>, _nrm double, cell bigint",
    )


def _cell_assign_expr(e: DataFrame, cents: DataFrame, n_assign: int) -> DataFrame:
    """JVM-expression reference twin of _cell_assign (norm-hoisted
    array_sort/slice form) — kept for the kernel's bit-identity pin."""
    top = F.slice(
        F.array_sort(_scored_cells(F.col("vec"), F.col("_nrm"))), 1, n_assign
    )
    return (
        _with_nrm(e.select("vec_id", "vec"), "vec")
        .crossJoin(F.broadcast(_cents_row(cents)))
        .select("vec_id", "vec", "_nrm", F.explode(top).alias("ent"))
        .select("vec_id", "vec", "_nrm", F.col("ent.cent_id").alias("cell"))
    )


def _cell_probes(q: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qvec, _qnrm, cell): each query's nprobe nearest cells
    — same map-only top-n shape as _cell_assign."""
    return q.select("query_id", "qvec").mapInPandas(
        _cell_topn_kernel(
            _cells_from_rows(cents.collect()), nprobe, "query_id", "qvec", "_qnrm"
        ),
        "query_id bigint, qvec array<double>, _qnrm double, cell bigint",
    )


def ivf_topk(e: DataFrame, cents: DataFrame) -> DataFrame:
    """IVF search given a centroid table: corpus vectors in their
    N_ASSIGN nearest cells, queries probing their _default_nprobe(nlist)
    nearest cells."""
    nprobe = _default_nprobe(cents.count())  # centroid table: tiny
    probes = _cell_probes(_queries(e), cents, nprobe)
    pairs = (
        _cell_assign(e, cents, N_ASSIGN)
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    # score BEFORE the dedup exchange: cosine is a pure function of the
    # pair, so the exchange carries (ids, double) instead of both raw
    # vectors (≈1 KB/row), and the surviving value is identical
    # whichever duplicate wins. Multi-assignment can surface the same
    # (query, vector) pair through two shared cells — dedupe before
    # ranking.
    return _top_k(_scored(pairs).dropDuplicates(["query_id", "vec_id"]), TOP_K)


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm,
           round(list_aggregate(embedding::DOUBLE[], 'sum'), 6) AS comp_sum
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 support: per-vector L2 norm + component sum — the
    normalization pass an ANN index build runs first (norms
    precomputed once, stored alongside the vector)."""
    e = _doubled(table(spark, sf_dir, "embeddings"))
    return e.select(
        "vec_id",
        "label",
        F.round(F.sqrt(dot(F.col("vec"), F.col("vec"))), 6).alias("l2_norm"),
        F.round(
            F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("comp_sum"),
    )



@query(
    "similarity_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS q_label, vec AS qvec
          FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id, e.label,
             round(list_dot_product(q.qvec, e.vec) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(e.vec, e.vec))),
                   6) AS cos_sim
      FROM q CROSS JOIN e
      WHERE e.label <> q.q_label
    )
    SELECT query_id, vec_id, label, cos_sim, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each query vector, the 3 most-similar corpus vectors whose LABEL
    DIFFERS — maximally confusable non-matches, the negatives that
    actually move an embedding model (random negatives are trivially
    separable). Same broadcast-queries + per-partition-top-k plan as
    ``similarity_topk`` with the label-mismatch predicate applied
    before ranking; at 100 TB the pruned variant swaps the corpus scan
    for IVF probing exactly like similarity_topk_ivf does."""
    e = _doubled(table(spark, sf_dir, "embeddings"))
    pairs = (
        _with_nrm(e, "vec")
        .crossJoin(F.broadcast(_queries(e, F.col("label").alias("q_label"))))
        .filter(F.col("label") != F.col("q_label"))
    )
    return _top_k(_scored(pairs, "label"), 3)

@query(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    s AS (
      SELECT vec_id, vec,
             list_max(list_transform(vec, x -> abs(x))) AS scale
      FROM e
    ),
    q AS (
      SELECT vec_id, scale,
             list_transform(vec, x -> CAST(floor(x * 127.0 / scale) AS BIGINT)) AS qv
      FROM s WHERE scale > 0
    )
    SELECT vec_id, round(scale, 6) AS q_scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the memory
    lever that makes 100 TB ANN serving fit: per-vector absmax scale,
    q_i = floor(x_i·127/scale) ∈ [-127,127], 4× smaller than float32
    and 8× smaller than the float64 compute form, with dequant error
    bounded by scale/127 per component (bound pinned in
    tests/test_curation.py). Pure in-row array lambdas, no shuffle.
    The checkable output is the quantized table's per-vector summary
    (scale, sum, L1) — both engines compute identical values because
    floor and IEEE multiply/divide are exact-matched, avoiding the
    round()-at-boundary trap the oracle-parity docs describe; the
    full int8 array column is what a real pipeline would persist."""
    e = _doubled(table(spark, sf_dir, "embeddings"))
    s = e.select(
        "vec_id",
        "vec",
        F.array_max(F.transform(F.col("vec"), lambda x: F.abs(x))).alias("scale"),
    ).filter(F.col("scale") > 0)
    qv = F.transform(
        F.col("vec"), lambda x: F.floor(x * F.lit(127.0) / F.col("scale")).cast("bigint")
    )
    q = s.select("vec_id", "scale", qv.alias("qv"))
    return q.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("q_scale"),
        F.aggregate(F.col("qv"), F.lit(0).cast("bigint"), lambda a, v: a + v).alias("q_sum"),
        F.aggregate(
            F.col("qv"), F.lit(0).cast("bigint"), lambda a, v: a + F.abs(v)
        ).alias("q_l1"),
    )


# ---------------------------------------------------------- PCA projection

PCA_K = 8  # components kept by the registered projection


def pca_fit(e: DataFrame, dim: int, k: int = PCA_K):
    """Distributed PCA fit: one Arrow-batched pass computes per-batch
    moment partials (n, Σx, Σx·xᵀ) via mapInPandas — vectorized numpy
    inside each batch, (1 + dim + dim²) scalars out per batch — and
    the driver combines the partials and eigendecomposes the dim×dim
    covariance (4096 doubles here: model-sized, like the k-means
    centroids of learned_centroids — NOT a lineage hazard).
    Returns (mean: list[float], components: list[list[float]]) with
    components sorted by descending eigenvalue, each sign-normalized
    (first nonzero coordinate positive) so the model is deterministic
    up to float summation order.

    At 100 TB the reduce stays exactly this shape — partials are
    O(dim²) per batch regardless of rows; only eigh is driver-side,
    on a matrix whose size is data-independent."""
    import numpy as np
    import pandas as pd

    def moments(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "n": [m.shape[0]],
                    "s": [m.sum(axis=0).tolist()],
                    "o": [(m.T @ m).ravel().tolist()],
                }
            )

    parts = e.select("embedding").mapInPandas(
        moments, schema="n long, s array<double>, o array<double>"
    ).collect()
    import numpy as np

    n = sum(p.n for p in parts)
    s = np.sum([p.s for p in parts], axis=0)
    o = np.sum([p.o for p in parts], axis=0).reshape(dim, dim)
    mean = s / n
    cov = o / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = vecs[:, ::-1][:, :k].T  # top-k rows
    for i in range(comps.shape[0]):  # deterministic sign
        j = np.flatnonzero(np.abs(comps[i]) > 1e-12)
        if len(j) and comps[i, j[0]] < 0:
            comps[i] = -comps[i]
    return mean.tolist(), comps.tolist()


@query("embedding_pca_project")
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction before ANN indexing / semantic dedup:
    project every embedding onto the top-{PCA_K} principal components
    (fit distributed, see pca_fit). The projection itself is a pure
    JVM expression — the mean and components inline as array literals
    (model-sized), each output coordinate a zip_with dot product — so
    the scoring pass is map-side, no Python, no shuffle. No SQL
    oracle: eigendecomposition is not SQL-expressible; correctness is
    pinned by a property test against numpy full-data PCA
    (tests/test_properties.py), tolerance-based because covariance
    partials sum in partition order."""
    e = table(spark, sf_dir, "embeddings")
    probe = e.select("embedding").first()
    if probe is None:
        # empty corpus: there is nothing to fit or project — an empty,
        # schema-stable frame, not a crash (degenerate-input sweep)
        return spark.createDataFrame([], "vec_id bigint, label int, proj array<double>")
    dim = len(probe.embedding)
    mean, comps = pca_fit(e, dim)
    m_lit = F.array(*[F.lit(float(v)) for v in mean])
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"), m_lit, lambda x, m: x - m
    )
    proj = F.array(
        *[
            dot(centered, F.array(*[F.lit(float(v)) for v in c])).alias(f"p{i}")
            for i, c in enumerate(comps)
        ]
    )
    return e.select("vec_id", "label", proj.alias("proj"))


# ------------------------------------------------- k-center coreset

K_CENTERS = 4


def _kcenter_oracle(k: int = K_CENTERS) -> str:
    """Unrolled greedy k-center: d_{j} = min(d_{j-1}, dist to newest
    center), next center = argmax d (round 6, vec_id tiebreak) —
    identical arithmetic to the Spark loop (squared euclidean via the
    dot-product identity |a|²+|b|²-2ab, the proven-parity
    list_dot_product / fold pair)."""
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)",
        "n2 AS (SELECT vec_id, vec, list_dot_product(vec, vec) AS nn FROM e)",
        "c0 AS (SELECT vec_id, vec, nn FROM n2 WHERE vec_id = (SELECT min(vec_id) FROM e))",
    ]
    prev_d = None
    for j in range(1, k):
        # greatest(0.0, ...) before rounding: the |a|²+|b|²-2ab identity
        # can go tiny-negative for distinct-but-near points (catastrophic
        # cancellation); without the clamp the Spark early stop at d<=0
        # could truncate the coreset on such a pair.
        new_d = (
            "round(greatest(0.0, p.nn + c.nn - 2 * list_dot_product(p.vec, c.vec)), 6)"
        )
        d_expr = new_d if prev_d is None else f"least(p.d, {new_d})"
        parts.append(
            f"""d{j} AS (
      SELECT p.vec_id, p.vec, p.nn, {d_expr} AS d
      FROM {'n2' if prev_d is None else f'd{j - 1}'} p CROSS JOIN c{j - 1} c
    )"""
        )
        parts.append(
            f"""c{j} AS (
      SELECT vec_id, vec, nn, d FROM d{j} ORDER BY d DESC, vec_id LIMIT 1
    )"""
        )
        prev_d = True
    finals = ["SELECT CAST(0 AS BIGINT) AS sel_order, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c0"]
    for j in range(1, k):
        finals.append(f"SELECT CAST({j} AS BIGINT), vec_id, d FROM c{j}")
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(finals)


@query("embedding_coreset_kcenter", oracle=_kcenter_oracle())
def embedding_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-maximizing coreset: greedy k-center (Gonzalez 1985,
    2-approximation of the optimal covering radius) over the embedding
    corpus — pick the point farthest from the selected set, {K_CENTERS}
    rounds. The selection a curation pipeline uses to build a small
    maximally-diverse subset (eval seeds, annotation batches,
    cluster-initialization) where similarity sampling would pick
    near-duplicates. Returns (sel_order, vec_id, radius) — radius is
    the selected point's distance at selection, i.e. the covering
    radius the set had BEFORE it joined; the seed is the min-id point
    (deterministic, no RNG).

    Scale: each round is ONE map-side distance update against the
    newest center (broadcast as plan literals — center count is k,
    model-sized) + one argmax (TakeOrdered, k rows to the driver). The
    min-distance column folds incrementally, so round j costs one
    O(dim) dot product per point, not j of them. Distances use the
    |a|²+|b|²-2ab identity over the SAME left-to-right dot-product
    fold both engines share (similarity_topk's proven-parity
    machinery); argmax orders on round(d, 6) with vec_id tiebreak.
    Contract: the unrolled oracle assumes ≥ {K_CENTERS} distinct
    points (always true of the fixture corpus); on degenerate corpora
    the Spark side stops early rather than emit duplicate centers
    (kcenter_select, pinned by test_kcenter_early_stop)."""
    e = _doubled(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "vec", dot(F.col("vec"), F.col("vec")).alias("nn")
    )
    return kcenter_select(spark, e)


def kcenter_select(spark: SparkSession, e: DataFrame, k: int = K_CENTERS) -> DataFrame:
    """Greedy k-center over a (vec_id, vec, nn) frame. Stops early when
    the farthest remaining point is distance 0 from the selected set
    (corpus has < k distinct points: without the stop the argmax
    re-picks a center and the "diversity" set contains duplicates). The min-distance frame is persisted per round and the
    previous round's cache released, so round j really is ONE new dot
    product per point (the chained-withColumn form re-evaluated every
    prior round's expression on each action — measured O(k²))."""
    e = e.persist()
    seed = e.orderBy("vec_id").first()
    if seed is None:
        e.unpersist()
        return spark.createDataFrame([], "sel_order bigint, vec_id bigint, radius double")
    selected = [(0, seed.vec_id, None)]
    cur_vec, cur_nn = seed.vec, seed.nn
    df = e
    prev_cached = None
    have_d = False
    for j in range(1, k):
        c_lit = F.array(*[F.lit(float(v)) for v in cur_vec])
        # clamp before rounding (mirrored in the oracle): cancellation in
        # |a|²+|b|²-2ab can round to a tiny NEGATIVE distance for distinct
        # near points, which would trip the d<=0 early stop and truncate
        # the coreset before k genuinely distinct centers
        nd = F.round(
            F.greatest(
                F.lit(0.0),
                F.col("nn") + F.lit(float(cur_nn)) - 2 * dot(F.col("vec"), c_lit),
            ),
            6,
        )
        df = df.withColumn("d", F.least(F.col("d"), nd) if have_d else nd).persist()
        have_d = True
        nxt = df.orderBy(F.col("d").desc(), "vec_id").first()
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = df
        if nxt is None or float(nxt.d) <= 0:
            break  # every remaining point coincides with a center
        selected.append((j, nxt.vec_id, float(nxt.d)))
        cur_vec, cur_nn = nxt.vec, nxt.nn
    if prev_cached is not None:
        prev_cached.unpersist()
    e.unpersist()
    return spark.createDataFrame(
        selected, "sel_order bigint, vec_id bigint, radius double"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the third ANN path, and the memory one.
# IVF prunes WHICH vectors a query touches; PQ shrinks WHAT each touch
# costs: a 64-dim float64 vector (512 B) becomes PQ_M=4 one-byte codes
# (4 B, 128×) plus a shared m×k codebook. At 100 TB of embeddings the
# encoded corpus fits where the raw one cannot, and the ADC scan joins
# 4-byte codes — raw vectors are read only for the shortlist re-rank.
# (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011 — public method, standard serving pattern.)
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces (64-dim → 4 × 16-dim slices)
PQ_DIM = 16  # dims per subspace
PQ_K = 16  # codes per subspace codebook
PQ_SHORTLIST_MIN = 50  # ADC shortlist floor; the effective size is
# max(this, corpus/5) — like IVF's adaptive nprobe, recall follows the
# SHORTLISTED FRACTION on the ANN-hostile near-uniform fixture.
# Sweep (aggregate recall at sf0.001/0.01/0.1): fixed 50 →
# 0.72/0.80/0.56; 10% → 0.72/0.80/0.84; 20% → 0.92/0.88/0.92
# (per-query min 4/5). 20% is honest for uniform synthetic data — a
# clustered real corpus concentrates the ADC mass and the fraction
# drops by orders of magnitude; PQ_K=32 measured WORSE at small SFs
# (0.60/0.64) — 2 Lloyd iterations can't separate 32 codes there.


def _sq_dist(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² — JVM expression, same fold discipline as dot()."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _slice_sub(s: int) -> Column:
    return F.slice(F.col("vec"), s * PQ_DIM + 1, PQ_DIM)


def _codebook_by_sub(cents: DataFrame) -> dict[int, list[tuple[int, list[float]]]]:
    """Collected codebook as {sub: [(code, cvec)] sorted by code} —
    m·k·PQ_DIM doubles, model-sized, safe on the driver."""
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for r in cents.collect():
        by_sub.setdefault(int(r.sub), []).append((int(r.code), list(r.cvec)))
    return {s: sorted(v) for s, v in by_sub.items()}


def _code_expr(svec: Column, codes: list[tuple[int, list[float]]]) -> Column:
    """Argmin over the LITERAL codebook, fully in-row: distances to the
    k codes as a literal-array expression, argmin via array_position of
    the min (first match == lowest code on 6dp-rounded ties — the same
    determinism contract as a window rank). Embedding the codebook as
    plan literals (it is k·PQ_DIM doubles — a model, not data) makes
    code assignment a MAP-SIDE expression: a join+window form shuffles
    the whole subvector stream per assignment pass, which at 100 TB is
    a full-corpus network pass paid for an argmin over 16 constants.

    The zip_with+aggregate HOF distance is DELIBERATE (measured):
    unrolling Σ(aᵢ-bᵢ)² into k·PQ_DIM literal getItem/mul/add terms —
    the "codegen-friendly" form — ran 7× SLOWER (6.8 s vs 0.9 s per
    cached-corpus encode pass): the ~4k-node expression tree defeats
    whole-stage codegen and falls back to node-at-a-time interpreted
    eval, while the HOF's small lambda loop is a tight interpreted
    loop. The measurement is recorded in BASELINE.md."""
    d_arr = F.array(
        *[
            F.round(_sq_dist(svec, F.array(*[F.lit(float(x)) for x in cvec])), 6)
            for _, cvec in codes
        ]
    )
    # codes are dense 0..k-1 (empty-cell guard preserves them), so the
    # 1-based first-match position maps directly to the code id
    return (F.array_position(d_arr, F.array_min(d_arr)) - 1).cast("int")


PQ_TRAIN_SAMPLE_TARGET = 4096  # codebook training sample size (see pq_train)


def pq_train(
    spark: SparkSession,
    e: DataFrame,
    iters: int = 1,
    n_corpus: int | None = None,
    sample_target: int = PQ_TRAIN_SAMPLE_TARGET,
    assign_fn=None,
) -> DataFrame:
    """Per-subspace Lloyd codebooks, deterministic end to end: seeds are
    the subvectors of vec_id < PQ_K (fixed, no RNG), means round at 6dp,
    assignment ties break toward the lowest code, and a code that loses
    all members keeps its previous center (standard empty-cell guard).

    iters defaults to 1: recall measured 0.88/0.88/1.0 across
    sf0.001/0.01/0.1 with ONE iteration vs 0.92/0.88/0.92 with two — on
    the near-uniform fixture the second corpus pass buys nothing (at
    sf0.1 it is strictly worse), and each pass is the dominant PQ
    cost. A clustered real corpus is where more iterations pay
    (tools/probe_pq.py measures both).

    Training runs on a DETERMINISTIC SAMPLE (the FAISS-style posture):
    codebooks are k·PQ_DIM-double models and never need the full
    corpus — vectors with vec_id % mod == 0 train them, where mod =
    max(1, n_corpus // sample_target) keeps ~sample_target training
    vectors at ANY corpus size. At 100 TB this caps every Lloyd pass
    at a fixed-size input (the full-corpus passes are encode + ADC,
    both single-scan); at the parity fixtures (n ≤ 2000 ≤ target) mod
    resolves to 1 — the sample IS the corpus, so fixture results are
    unchanged by construction (pinned in test_modules). Pass n_corpus
    when the caller already counted; None counts here.
    Each iteration: one MAP-SIDE assignment pass over the corpus —
    the default ``assign_fn`` is the Arrow kernel
    (:func:`_assigned_subvectors`, codebook riding the Python closure;
    the literal-codebook JVM form ``_assigned_subvectors_expr`` /
    ``_code_expr`` is kept as the bit-identity reference twin) + the
    irreducible k-means reduce (_means per (sub, code)); the codebook
    is re-materialized through the driver per iteration,
    metadata-sized like learned_centroids. Returns the (sub, code,
    cvec) frame a serving layer would persist as the index metadata."""
    seed_rows = sorted(
        e.filter(F.col("vec_id") < PQ_K).select("vec_id", "vec").collect(),
        key=lambda r: r.vec_id,
    )
    if len(seed_rows) < PQ_K:
        raise ValueError(
            f"pq_train: empty corpus or too few seed vectors "
            f"(need vec_id 0..{PQ_K - 1}, found {len(seed_rows)})"
        )
    if n_corpus is None:
        n_corpus = e.count()
    mod = max(1, n_corpus // sample_target)
    train = e if mod == 1 else e.filter(F.col("vec_id") % mod == 0)
    by_sub = {
        s: [
            (code, list(r.vec)[s * PQ_DIM : (s + 1) * PQ_DIM])
            for code, r in enumerate(seed_rows)
        ]
        for s in range(PQ_M)
    }
    for _ in range(iters):
        assigned = (assign_fn or _assigned_subvectors)(train, by_sub)
        means = _means(assigned, ["sub", "code"], "svec")
        new = {(int(r.sub), int(r.code)): list(r.cvec) for r in means.collect()}
        by_sub = {
            s: [(c, new.get((s, c), old)) for c, old in by_sub[s]]
            for s in range(PQ_M)
        }
    return spark.createDataFrame(
        [(s, c, v) for s in range(PQ_M) for c, v in by_sub[s]],
        "sub int, code int, cvec array<double>",
    )


def _assigned_subvectors_expr(
    e: DataFrame, by_sub: dict[int, list[tuple[int, list[float]]]]
) -> DataFrame:
    """(vec_id, sub, svec, code) with the code computed in-row against
    the literal codebook — zero shuffle before the consumer's reduce.
    The JVM-expression REFERENCE TWIN of _assigned_subvectors, kept so
    the Arrow-kernel production form is pinned bit-identical against
    an independent implementation (the simhash_signatures /
    simhash_signatures_np precedent)."""
    entries = F.array(
        *[
            F.struct(
                _slice_sub(s).alias("svec"),
                _code_expr(_slice_sub(s), by_sub[s]).alias("code"),
            )
            for s in range(PQ_M)
        ]
    )
    return e.select("vec_id", F.posexplode(entries).alias("sub", "ent")).select(
        "vec_id", "sub", F.col("ent.svec").alias("svec"), F.col("ent.code").alias("code")
    )


def _round6_np(d):
    """Vectorized twin of Spark's round(double, 6) = HALF_UP on the
    double's shortest decimal representation (BigDecimal.valueOf →
    setScale(6, HALF_UP)). Fast path: floor(x·1e6 + 0.5)/1e6 — exact
    except within float error of a .5 boundary, where the binary
    product can disagree with the decimal-string rounding; those few
    elements within the suspect window are recomputed exactly via
    decimal.Decimal(repr(x)), which sees the same shortest-repr digits
    BigDecimal.valueOf does. Inputs here are squared distances ≥ 0, so
    no negative-HALF_UP branch is needed.

    The suspect window SCALES with the value: the binary error of
    x·1e6 is ~ulp(scaled), which exceeds a fixed 1e-7 once the scaled
    value passes ~4.5e8 (squared distances ≳ 450) — a boundary case
    there could take the fast path and misround. The window is
    max(1e-7, 4·ulp(scaled)), so large-magnitude inputs route their
    near-.5 cases through the exact Decimal path too."""
    import numpy as np

    scaled = d * 1e6
    fast = np.floor(scaled + 0.5) / 1e6
    suspect = np.abs(scaled - np.floor(scaled) - 0.5) < np.maximum(
        1e-7, 4 * np.spacing(scaled)
    )
    if suspect.any():
        import decimal

        q = decimal.Decimal("0.000001")
        flat = fast.reshape(-1)
        dflat = d.reshape(-1)
        for i in np.nonzero(suspect.reshape(-1))[0]:
            flat[i] = float(
                decimal.Decimal(repr(float(dflat[i]))).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
            )
    return fast


def _pq_codes_kernel(by_sub: dict[int, list[tuple[int, list[float]]]], with_svec: bool):
    """mapInPandas kernel computing the per-subspace code assignment —
    the Arrow-vectorized twin of _code_expr (the interpreted
    zip_with/aggregate fold was ~10 s of an 18.6 s ivfpq build at
    sf0.1; one numpy pass over each Arrow batch does the same flops at
    native speed). Bit-identical by construction and pinned by
    test_pq_codes_kernel_bit_identical:

    - Σ(aᵢ−bᵢ)² is accumulated SEQUENTIALLY over dims (a Python loop
      of vectorized elementwise ops), reproducing the JVM fold's
      left-to-right order exactly — never np.sum/np.dot, whose pairwise
      /SIMD reassociation rounds differently;
    - distances round at 6 dp via _round6_np (HALF_UP twin);
    - argmin over the code-ordered distance array: np.argmin returns
      the FIRST minimum — the same lowest-code tie-break as
      array_position(d_arr, array_min(d_arr))."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        cbs = {
            s: np.array([cv for _, cv in codes], dtype=np.float64)
            for s, codes in by_sub.items()
        }
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            M = np.array(pdf["vec"].tolist(), dtype=np.float64)
            vec_ids = pdf["vec_id"].to_numpy()
            out_id, out_sub, out_code, out_svec = [], [], [], []
            for s in range(PQ_M):
                S = M[:, s * PQ_DIM : (s + 1) * PQ_DIM]
                C = cbs[s]  # k × PQ_DIM, code order
                dists = np.empty((n, len(C)), dtype=np.float64)
                for c in range(len(C)):
                    acc = np.zeros(n, dtype=np.float64)
                    for i in range(PQ_DIM):  # sequential: JVM fold order
                        diff = S[:, i] - C[c, i]
                        acc = acc + diff * diff
                    dists[:, c] = _round6_np(acc)
                codes = np.argmin(dists, axis=1).astype(np.int32)
                out_id.append(vec_ids)
                out_sub.append(np.full(n, s, dtype=np.int32))
                out_code.append(codes)
                if with_svec:
                    out_svec.extend(list(S))
            res = {
                "vec_id": np.concatenate(out_id),
                "sub": np.concatenate(out_sub),
                "code": np.concatenate(out_code),
            }
            if with_svec:
                res["svec"] = out_svec
            yield pd.DataFrame(res)

    return fn


def _assigned_subvectors(
    e: DataFrame, by_sub: dict[int, list[tuple[int, list[float]]]]
) -> DataFrame:
    """(vec_id, sub, svec, code) — Arrow-kernel form (see
    _pq_codes_kernel); still one map-side pass, zero shuffle before
    the consumer's reduce, codebook riding the closure instead of the
    plan literals. _assigned_subvectors_expr is the JVM reference twin."""
    return e.select("vec_id", "vec").mapInPandas(
        _pq_codes_kernel(by_sub, with_svec=True),
        "vec_id bigint, sub int, code int, svec array<double>",
    ).select("vec_id", "sub", "svec", "code")


def pq_encode(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, sub, code) — the compressed corpus: PQ_M small ints per
    vector, computed in ONE map-side pass (no join, no shuffle —
    plan-pinned); this is the table a serving layer materializes
    (4 B/vector where the raw corpus is 512 B). The code argmin runs
    in the Arrow kernel (_pq_codes_kernel): 4.8 s → ~0.6 s per encode
    pass at sf0.1 against the interpreted HOF form, bit-identical
    (pinned vs pq_encode_expr)."""
    by_sub = _codebook_by_sub(cents)
    return e.select("vec_id", "vec").mapInPandas(
        _pq_codes_kernel(by_sub, with_svec=False),
        "vec_id bigint, sub int, code int",
    )


def pq_encode_expr(e: DataFrame, cents: DataFrame) -> DataFrame:
    """JVM-expression reference twin of pq_encode (codebook as plan
    literals) — kept for the bit-identity pin, exactly like
    simhash_signatures vs simhash_signatures_np."""
    by_sub = _codebook_by_sub(cents)
    codes = F.array(*[_code_expr(_slice_sub(s), by_sub[s]) for s in range(PQ_M)])
    return e.select("vec_id", F.posexplode(codes).alias("sub", "code"))


@query("similarity_topk_pq")  # approximate: recall pinned in tests
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 memory-scale path: PQ/ADC shortlist + exact re-rank — the
    production serving pattern (asymmetric distance computation):

    1. train per-subspace codebooks (pq_train, deterministic Lloyd);
    2. encode the corpus once (pq_encode — 4 one-byte codes/vector);
    3. per query, precompute the m×k table of partial squared
       distances query-subvector↔codebook-entry (n_queries·PQ_M·PQ_K
       rows — model-sized, broadcast);
    4. ADC scan: join the ENCODED corpus (codes, not vectors) to the
       partial table on (sub, code), sum the m partials per
       (query, vec) — approximate distance without touching a single
       raw corpus float;
    5. exact re-rank: fetch raw vectors for the adaptive shortlist
       (max(PQ_SHORTLIST_MIN, corpus/5) best ADC candidates) only,
       exact cosine, emit top-{TOP_K} in similarity_topk's schema.

    Scale: step 4 reads 4 B/vector instead of 512 — the corpus's raw
    floats are touched only for shortlist×queries rows in step 5.
    Recall vs exact top-k is pinned ≥0.8 in tests; approximate by
    design, so rows-only (the same posture similarity_topk_ivf_raw
    has; the driver-checkable contract row is the IVF one)."""
    # The corpus feeds five consumers (count, train seeds, train
    # assignment, encode, re-rank) — persist the cast frame so the
    # parquet scan + array<double> cast happens ONCE (~1 s per pass at
    # sf0.1, repeated per consumer, was most of this query's time).
    # Cache lifetime follows the library convention (shingle_postings /
    # dedup_near_text): ContextCleaner reclaims it once the returned
    # plan's references are GC'd — acceptable for the run-once query
    # shape, and bench/parity runs clearCache() between invocations.
    # NOTE this is a corpus-sized (512 B/vector) cache: at cluster
    # scale a serving layer does NOT cache raw vectors — it builds the
    # index once via pq_index_save and serves from the 4 B/vector
    # codes; this in-session form exists for the one-shot
    # query/benchmark shape where the five scans would otherwise
    # dominate.
    e = _doubled(table(spark, sf_dir, "embeddings")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_corpus = e.count()
    cents = pq_train(spark, e, n_corpus=n_corpus)
    return _pq_adc_rerank(e, pq_encode(e, cents), cents, n_corpus)


def _pq_adc_rerank(
    e: DataFrame,
    enc: DataFrame,
    cents: DataFrame,
    n_corpus: int,
    cand: DataFrame | None = None,
    shortlist_k: int | None = None,
) -> DataFrame:
    """Steps 3-5 of the PQ serving path (partial-distance broadcast →
    ADC scan over codes → adaptive shortlist → exact re-rank), shared
    by the in-session query, the persisted-index search and the IVF-PQ
    composite so the three can never drift. ``cand`` (query_id, vec_id)
    restricts the ADC scan to a candidate set — the IVF-pruned form;
    None scans every code against every query (flat PQ)."""
    if shortlist_k is None:
        shortlist_k = max(PQ_SHORTLIST_MIN, -(-n_corpus // 5))
    q = _queries(e)
    qsub = q.select(
        "query_id",
        F.posexplode(
            F.array(*[F.slice(F.col("qvec"), s * PQ_DIM + 1, PQ_DIM) for s in range(PQ_M)])
        ).alias("sub", "qsvec"),
    )
    partials = (
        qsub.join(F.broadcast(cents), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            F.round(_sq_dist(F.col("qsvec"), F.col("cvec")), 6).alias("pd"),
        )
    )
    if cand is None:
        codes, keys = enc, ["sub", "code"]
    else:
        # IVF-pruned: codes join the candidate (query, vec) pairs first,
        # so only the probed cells' codes are ever scored
        codes, keys = cand.join(enc, "vec_id"), ["query_id", "sub", "code"]
    adc = (
        codes.join(F.broadcast(partials), keys)
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("pd"), 6).alias("adc_dist"))
    )
    shortlist = _top_k(adc, shortlist_k, F.col("adc_dist").asc()).select(
        "query_id", "vec_id"
    )
    # the corpus-side norm is computed once per corpus row in a
    # projection BELOW the shortlist join, not once per (query ×
    # shortlist) pair
    pairs = shortlist.join(_with_nrm(e.select("vec_id", "vec"), "vec"), "vec_id").join(
        F.broadcast(q), "query_id"
    )
    return _top_k(_scored(pairs), TOP_K)


# ---------------------------------------------------------------------------
# Index persistence — the serving pattern. similarity_topk_pq /
# similarity_topk_ivfpq measure build+search in one shot; production
# builds ONCE (the index is the artifact: m×k codebook + 4 B/vector
# codes, plus cells for IVF-PQ) and serves many query batches against
# it. The *_index_save / *_index_search pairs split the two costs so
# each is measurable and the search path provably never re-trains or
# re-encodes. Both index formats share the PQ layer (_save_pq_layer,
# _write_codes) and the meta row (_write_meta).
# ---------------------------------------------------------------------------


def _write_codes(e: DataFrame, cb: DataFrame, index_dir: str, mode: str) -> None:
    """codes.parquet (vec_id, sub, code — 4 B/vector): ``e`` encoded
    with codebook ``cb``, overwriting on a build, appending on a grow."""
    pq_encode(e, cb).write.mode(mode).parquet(os.path.join(index_dir, "codes.parquet"))


def _save_pq_layer(spark: SparkSession, e: DataFrame, n: int, index_dir: str) -> None:
    """The PQ layer of either index: codebook.parquet (sub, code, cvec —
    m·k rows, model metadata) trained on ``e`` (``n`` rows), then
    codes.parquet."""
    cb = pq_train(spark, e, n_corpus=n)
    cb.write.mode("overwrite").parquet(os.path.join(index_dir, "codebook.parquet"))
    _write_codes(e, cb, index_dir, "overwrite")


def _write_meta(
    spark: SparkSession, index_dir: str, n_corpus: int, nlist: int | None = None
) -> None:
    """meta.parquet, one row, committed after every other layer: the
    corpus size rides with the index so a search derives its adaptive
    shortlist WITHOUT a count job over the raw corpus, plus nlist for
    an IVF-PQ index."""
    if nlist is None:
        row, schema = (n_corpus,), "n_corpus bigint"
    else:
        row, schema = (n_corpus, nlist), "n_corpus bigint, nlist int"
    spark.createDataFrame([row], schema).write.mode("overwrite").parquet(
        os.path.join(index_dir, "meta.parquet")
    )


def pq_index_save(spark: SparkSession, e: DataFrame, dest_dir: str) -> None:
    """Build and persist the PQ index under ``dest_dir``: the PQ layer
    (codebook.parquet + codes.parquet) and meta.parquet (n_corpus). The
    build touches the corpus several times (count, codebook seed/train,
    encode) — persist bounds that to ONE source read; everything after
    the build reads codes only."""
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = e.count()
        _save_pq_layer(spark, e, n, dest_dir)
        _write_meta(spark, dest_dir, n)
    finally:
        e.unpersist()


def pq_index_search(spark: SparkSession, index_dir: str, e: DataFrame) -> DataFrame:
    """ADC + exact re-rank against a PERSISTED index: the scan side is
    codes.parquet (4 B/vector); raw vectors are read only for the
    shortlist re-rank join. Queries are the standard vec_id < N_QUERIES
    set of ``e``; output schema matches similarity_topk. Results are
    identical to similarity_topk_pq built in-session from the same
    corpus (pinned in tests) — the persisted index changes WHEN the
    build cost is paid, not what is computed."""
    cents = spark.read.parquet(os.path.join(index_dir, "codebook.parquet"))
    enc = spark.read.parquet(os.path.join(index_dir, "codes.parquet"))
    n_corpus = int(
        spark.read.parquet(os.path.join(index_dir, "meta.parquet")).head().n_corpus
    )
    return _pq_adc_rerank(e, enc, cents, n_corpus)


@query("similarity_topk_ivfpq")  # approximate: recall pinned in tests
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 composed serving shape — IVF × PQ, the architecture a 100 TB
    ANN deployment actually runs (FAISS "IVFx,PQy"):

    - IVF cells prune WHICH vectors a query touches (probes cover
      ~nprobe/nlist of the corpus; candidates come from an equi-join
      of cell assignments with the broadcast probe table);
    - PQ codes shrink WHAT each touch costs (the candidate scoring
      reads 4 B/vector codes via ADC, not raw floats);
    - exact re-rank on the ADC shortlist restores top-k quality.

    Codes encode RAW vectors, not per-cell residuals (FAISS
    by_residual=false): residual codebooks would couple the coarse and
    fine trainings into a two-stage dependency for a recall gain that
    the flat-corpus fixture cannot measure; the trade is documented
    rather than silently taken. The ADC shortlist is max(floor,
    ⌈n/3⌉) — wider than flat PQ's n/5 because the composite pays TWO
    approximation stages (IVF coverage × ADC ranking): a sweep
    measured n/5 at exactly 0.80 recall at sf0.001 (zero margin) vs
    n/3 at 0.84/1.0/0.92 across sf0.001/0.01/0.1. Cost honesty: the
    wider shortlist means the exact RE-RANK reads ~67% MORE raw
    vectors than flat PQ (n/3 vs n/5) — what IVF prunes is the ADC
    CODE scan (~60% of codes at these settings, and the probed
    fraction is the tunable knob); the composite wins where the code
    scan dominates, which is the 100 TB regime, not the re-rank.
    Approximate by design → rows-only; recall vs exact is pinned ≥0.8
    at sf0.001 in tests and recorded at the bench SF
    (secondary.similarity_ivfpq_recall)."""
    # Corpus cache: same consumers/justification/lifetime as
    # similarity_topk_pq (see the NOTE there).
    e = _doubled(table(spark, sf_dir, "embeddings")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_corpus = e.count()
    cents = learned_centroids(e)
    nlist = cents.count()
    cb = pq_train(spark, e, n_corpus=n_corpus)
    enc = pq_encode(e, cb)
    assigned = _cell_assign(e, cents, N_ASSIGN).select("vec_id", "cell")
    return _ivfpq_search(e, cents, cb, enc, assigned, n_corpus, nlist)


def _ivfpq_search(
    e: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    enc: DataFrame,
    assigned: DataFrame,
    n_corpus: int,
    nlist: int,
) -> DataFrame:
    """The IVF-PQ search half (probe → candidate equi-join → pruned ADC
    → re-rank), shared by the in-session query and the persisted-index
    form so the two cannot drift."""
    probes = _cell_probes(_queries(e), cents, _default_nprobe(nlist)).select(
        "query_id", "cell"
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    shortlist_k = max(PQ_SHORTLIST_MIN, -(-n_corpus // 3))
    return _pq_adc_rerank(e, enc, cb, n_corpus, cand=cand, shortlist_k=shortlist_k)


def ivfpq_index_save(spark: SparkSession, e: DataFrame, dest_dir: str) -> None:
    """Persist the IVF-PQ index under ``dest_dir``: centroids.parquet
    (coarse cells — nlist·dim doubles, model metadata), assign.parquet
    (vec_id, cell — the inverted lists, N_ASSIGN rows/vector), the PQ
    layer (codebook.parquet + codes.parquet, as pq_index_save writes
    it), and meta.parquet (n_corpus + nlist). The build touches the
    corpus several times (count, k-means, cell assign, codebook train,
    encode) — persist bounds that to ONE source read; every subsequent
    query batch probes cells and scans codes only.

    The coarse layer (k-means → centroids → inverted lists) and the PQ
    layer share no data dependency — only the persisted corpus — so
    they run as two concurrent driver threads. Lloyd's per-iteration
    barrier collects serialize each BRANCH, not the build: while one
    branch waits on a collect, the other's tasks fill the idle
    executors. Outputs are byte-identical (each branch is deterministic
    and writes disjoint paths); meta commits last, after both branches.
    Each branch tags its jobs, so the first branch to fail cancels the
    other's jobs before its error is raised, instead of waiting for the
    sibling to finish work that will be thrown away."""
    import uuid
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    sc = spark.sparkContext
    build = f"ivfpq-build-{uuid.uuid4().hex}"
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = e.count()

        def _coarse_layer() -> int:
            cents = learned_centroids(e)
            nlist = cents.count()
            cents.write.mode("overwrite").parquet(
                os.path.join(dest_dir, "centroids.parquet")
            )
            _cell_assign(e, cents, N_ASSIGN).select("vec_id", "cell").write.mode(
                "overwrite"
            ).parquet(os.path.join(dest_dir, "assign.parquet"))
            return nlist

        def _tagged(layer, fn):
            def run():  # job tags and descriptions are per thread
                sc.addJobTag(f"{build}-{layer}")
                sc.setJobDescription(f"ivfpq build: {layer}")
                return fn()

            return run

        with ThreadPoolExecutor(max_workers=2) as pool:
            coarse = pool.submit(_tagged("coarse", _coarse_layer))
            fine = pool.submit(
                _tagged("pq", lambda: _save_pq_layer(spark, e, n, dest_dir))
            )
            layer = {coarse: "coarse", fine: "pq"}
            done, pending = wait(layer, return_when=FIRST_EXCEPTION)
            failed = [f for f in done if f.exception() is not None]
            # a cancel reaches only running jobs: repeat it until the
            # sibling stops at its next job
            while failed and pending:
                for f in pending:
                    sc.cancelJobsWithTag(f"{build}-{layer[f]}")
                pending = wait(pending, timeout=0.1).not_done
            if failed:
                raise failed[0].exception()
            nlist = coarse.result()
        _write_meta(spark, dest_dir, n, nlist)
    finally:
        e.unpersist()


def ivfpq_index_search(spark: SparkSession, index_dir: str, e: DataFrame) -> DataFrame:
    """IVF-PQ search against a PERSISTED index: probes come from the
    stored centroids, candidates from the stored inverted lists, ADC
    from the stored codes — raw vectors are read only for the re-rank.
    Results identical to similarity_topk_ivfpq built in-session from
    the same corpus (pinned in tests)."""
    cents = spark.read.parquet(os.path.join(index_dir, "centroids.parquet"))
    assigned = spark.read.parquet(os.path.join(index_dir, "assign.parquet"))
    cb = spark.read.parquet(os.path.join(index_dir, "codebook.parquet"))
    enc = spark.read.parquet(os.path.join(index_dir, "codes.parquet"))
    meta = spark.read.parquet(os.path.join(index_dir, "meta.parquet")).head()
    return _ivfpq_search(
        e, cents, cb, enc, assigned, int(meta.n_corpus), int(meta.nlist)
    )


GEMM_MARGIN = 2  # per-batch candidate factor (top MARGIN·k per query per batch)


def _gemm_candidates(qids, qmat, take_k: int):
    """mapInPandas kernel: per Arrow batch, normalize the corpus block
    V (b×d) once, score ALL queries in one BLAS call (Vn @ Qnᵀ), and
    emit each query's top ``take_k`` rows of the block WITH their raw
    vectors. Selection by numpy double; the caller re-scores with the
    oracle-exact expression, so numpy's pairwise-summation order can
    only perturb which candidates ship, never a published value — and
    the 2k margin means a perturbation would need k simultaneous
    sub-1e-15 ties to evict a true top-k member from a block."""
    import numpy as np
    import pandas as pd

    qn = qmat / np.sqrt((qmat * qmat).sum(axis=1, keepdims=True))

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["vec"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            Vn = V / np.sqrt((V * V).sum(axis=1, keepdims=True))
            S = Vn @ qn.T  # b×q: the whole block × all queries, one GEMM
            take = min(take_k, len(ids))
            out_q, out_v, out_vec = [], [], []
            for j, qid in enumerate(qids):
                idx = np.argpartition(-S[:, j], take - 1)[:take]
                keep = idx[ids[idx] != qid]  # self never ships
                out_q.append(np.full(len(keep), qid))
                out_v.append(ids[keep])
                out_vec.extend(V[keep])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "vec": out_vec,
                }
            )

    return fn


@query(
    "similarity_topk_gemm",
    oracle=_EXACT_TOPK_CTE + "\n    SELECT query_id, vec_id, cos_sim, rk FROM exact",
)
def similarity_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 baseline, BLAS form — the same exact top-k contract as
    similarity_topk, computed the way a 100 TB corpus demands. The HOF
    form evaluates Σaᵢbᵢ per (query, vector) pair inside codegen —
    clean, but row-at-a-time arithmetic. Here one mapInPandas pass
    scores every query against each Arrow block in a single dense
    matmul (BLAS runs ~10-100× the flop rate of per-row expression
    eval at n·q·d scale), keeps the top 2k per query per block
    (bounded: blocks·q·2k candidate rows — never the corpus), then
    re-scores ONLY those candidates with the same hoisted cosine the
    HOF form uses (_scored), so the published cos_sim doubles are
    bit-identical to similarity_topk and the DuckDB oracle. Correctness
    does not depend on block boundaries: any true top-k member ranks
    within its own block's top-k, so it always ships as a candidate.
    The corpus never shuffles; queries ride into the kernel as a
    closure (q·d doubles)."""
    e = _doubled(table(spark, sf_dir, "embeddings"))
    q = _queries(e)
    qrows = q.select("query_id", "qvec").collect()
    if not qrows:
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, cos_sim double, rk bigint"
        )
    import numpy as np

    qids = [int(r.query_id) for r in qrows]
    qmat = np.array([r.qvec for r in qrows], dtype=np.float64)
    cands = e.select("vec_id", "vec").mapInPandas(
        _gemm_candidates(qids, qmat, GEMM_MARGIN * TOP_K),
        "query_id bigint, vec_id bigint, vec array<double>",
    )
    pairs = _with_nrm(cands, "vec").join(F.broadcast(q), "query_id")
    return _top_k(_scored(pairs), TOP_K)


def ivfpq_index_add_vectors(
    spark: SparkSession, index_dir: str, new_e: DataFrame
) -> int:
    """Grow a persisted IVF-PQ index WITHOUT retraining: assign the new
    vectors to the STORED coarse centroids (no k-means re-run — cell
    geometry is the model) and encode them with the STORED codebook (a
    model is a model — daily arrivals don't re-fit it, exactly as the
    inverted index's delta merge never re-tokenizes the old corpus,
    retrieval.py), append their PQ codes and inverted-list rows, bump
    meta.n_corpus (nlist unchanged). Returns the number of vectors
    added; an empty batch is a no-op returning 0.

    Replay guard: incoming vec_ids must be absent from the CODES store
    (a replayed batch would otherwise double its vectors into every
    shortlist) — one column-pruned semi join over the codes ids, at
    100 TB the cheapest scan in the index. Codes are therefore
    appended FIRST and the inverted lists SECOND: a grow that dies
    between the two appends and retries fails LOUDLY (codes committed
    ⇒ guard trips) rather than silently duplicating the batch's
    inverted-list rows (assign committed first ⇒ guard passes ⇒
    2×N_ASSIGN rows per vector)."""
    existing = spark.read.parquet(os.path.join(index_dir, "codes.parquet"))
    n_dup = new_e.join(existing.select("vec_id"), "vec_id", "left_semi").count()
    if n_dup:
        raise ValueError(
            f"ivfpq_index_add_vectors: {n_dup} incoming vec_ids already in the "
            "index — delta batches must carry fresh ids (replay?)"
        )
    n_new = new_e.count()
    if not n_new:
        return 0
    cents = spark.read.parquet(os.path.join(index_dir, "centroids.parquet"))
    cb = spark.read.parquet(os.path.join(index_dir, "codebook.parquet"))
    _write_codes(new_e, cb, index_dir, "append")
    _cell_assign(new_e, cents, N_ASSIGN).select("vec_id", "cell").write.mode(
        "append"
    ).parquet(os.path.join(index_dir, "assign.parquet"))
    meta = spark.read.parquet(os.path.join(index_dir, "meta.parquet")).head()
    _write_meta(spark, index_dir, int(meta.n_corpus) + n_new, int(meta.nlist))
    return n_new


@query(
    "ivfpq_index_delta_add",
    # contract form in the similarity_topk_ivf family: the published
    # rows are the exact top-k on the grown corpus (oracle-mirrored)
    # plus a per-query boolean — recall HOLDS VS A FROM-SCRATCH REBUILD
    # on the grown corpus, i.e. the delta-grown index may lose at most
    # ONE exact neighbor per query relative to the rebuild (integer
    # slack for model-training noise: the synthetic embeddings are
    # near-uniform, ANN-hostile, so models fitted without the delta
    # 20% can legitimately tie-break one boundary neighbor away). If
    # delta maintenance ever costs more than that anywhere, the boolean
    # flips and the value hash goes red.
    oracle=_EXACT_TOPK_CTE
    + "\n    SELECT query_id, vec_id, cos_sim, rk, TRUE AS delta_recall_ok FROM exact",
)
def ivfpq_index_delta_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed serving index is incrementally maintainable end to
    end: build the IVF-PQ index on the base ~80% of the corpus,
    delta-add the remaining ~20% against the FROZEN coarse centroids
    AND frozen codebook (ivfpq_index_add_vectors — new vectors get
    N_ASSIGN inverted-list rows + PQ codes, no k-means or codebook
    re-run), build the from-scratch rival on the full corpus, serve
    the standard queries from BOTH stores, and contract the
    delta-grown index's per-query exact-neighbor overlap against the
    rebuild's (≥ rebuild − 1). The staging writes are inside the query
    on purpose (the join_bucketed precedent: the build IS the amortized
    cost; the serve path reads cells and codes only). At 100 TB a
    daily 0.2% arrival costs one encode+assign pass over the delta
    instead of re-training and re-encoding the corpus."""
    from ..cdc.staging import fresh_staging_dir

    e = _doubled(table(spark, sf_dir, "embeddings"))
    # the base keeps the deterministic seed range (pq_train seeds its
    # codebook from vec_id 0..PQ_K-1); the delta is every 5th id above
    is_delta = (F.col("vec_id") >= PQ_K) & (F.col("vec_id") % 5 == 3)
    staging = fresh_staging_dir(spark, sf_dir, "ivfpq_delta")
    grown_idx = staging + "/grown"
    rebuild_idx = staging + "/rebuild"
    ivfpq_index_save(spark, e.where(~is_delta), grown_idx)
    ivfpq_index_add_vectors(spark, grown_idx, e.where(is_delta))
    ivfpq_index_save(spark, e, rebuild_idx)
    return _exact_rows_with_flag(
        spark,
        sf_dir,
        "delta_recall_ok",
        F.col("n_grown") + F.lit(1) >= F.col("n_rebuild"),
        n_grown=ivfpq_index_search(spark, grown_idx, e),
        n_rebuild=ivfpq_index_search(spark, rebuild_idx, e),
    )
