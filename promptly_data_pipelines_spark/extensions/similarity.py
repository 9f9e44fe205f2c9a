"""Vector similarity search over ``embeddings`` (SURVEY.md §2j X5):
brute-force cosine top-k as the exact baseline, an IVF-style
coarse-quantized variant as the scale path.

Scale posture: the query set is always the broadcast side (q ≪ n);
the corpus never shuffles. Brute force is one pass over corpus
partitions with a per-partition top-k then a k-way merge
(TakeOrderedAndProject shape per query via window rank). IVF prunes
that pass to nprobe/nlist of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

TOP_K = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors
# IVF recall contract: overlap/exact >= RECALL_NUM/TOP_K (0.8) per query.
# Observed per-query overlap (r7 probe): sf0.001 {5,4,4,5,4}, sf0.01 all 5,
# sf0.1 {5,4,5,5,4} — the contract holds everywhere with the driver's
# correctness SF (0.01) at a full point of margin.
RECALL_NUM = 4


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
    array is nlist·dim doubles — the same bytes the old per-row
    broadcast table carried; beyond ~10^5 centroids (≈50 MB) coarse
    assignment should move to a GEMM mapInPandas kernel like
    _gemm_candidates instead.

    r16 (optimization round, guide §1.2 "per-task work"): each struct
    carries its centroid's norm, precomputed ONCE per centroid here —
    the old form's per-row `cosine` re-evaluated sqrt(dot(cvec,cvec))
    for every (row × centroid) pair, i.e. a third of the assignment
    flops spent recomputing nlist constants per row. Same expression,
    same doubles — bit-identical scores (see _scored_cells)."""
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
    '_cents' column: the same `1 - cosine` expression the window form
    computed per exploded row, now evaluated in-row — array_min /
    array_sort over it reproduce the window's (dist ASC, cent_id ASC)
    order bit-for-bit (struct comparison is lexicographic), proven by
    the r13 A/B: identical assignments at sf0.001 and sf0.1 for both
    the argmin and the top-n forms.

    r16: both norms are HOISTED — ``nrm`` is the row's own norm,
    computed once per row in a projection BELOW the centroid
    crossJoin (an attribute here, so interpreted-HOF evaluation can't
    re-expand it per centroid), and ``c.cnorm`` is the per-centroid
    constant from _cents_row. The expression is algebraically AND
    bit-identically the old ``1 - cosine(vec, cvec)``: dot(a,b) /
    (sqrt(dot(a,a)) * sqrt(dot(b,b))) with the two sqrt factors
    produced by the same `dot` expression over the same values in the
    same multiplication order — only the redundant re-evaluations are
    gone (k+1 dots per row instead of 3k). Bit-equality is pinned by
    tests/test_modules.py::test_scored_cells_norm_hoist_bit_identical."""
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


def _cells_list(cents: DataFrame) -> list[tuple[int, list[float], float]]:
    """Collected (cent_id, cvec, cnorm) sorted by cent_id — nlist·dim
    doubles, model metadata (the same bytes _cents_row broadcasts; the
    collect mirrors _codebook_by_sub's established pattern). cnorm is
    the same left-to-right Σx² fold the JVM `dot` performs, through
    math.sqrt — bit-identical to sqrt(dot(cvec,cvec))."""
    return _cells_from_rows(cents.collect())


def _cell_topn_kernel(
    cells: list[tuple[int, list[float], float]],
    n: int,
    id_col: str,
    vec_col: str,
    nrm_col: str,
):
    """mapInPandas kernel for coarse (IVF) cell assignment — the
    Arrow-vectorized twin of the `_scored_cells` + array_sort/array_min
    expression form (r16 optimization round, guide §4.2: the
    interpreted per-(row × centroid) cosine fold was the whole cost of
    learned_centroids / _cell_assign — measured 3.6 s + 1.3 s of the
    ivfpq build at sf0.1 AFTER the norm hoist). Emits each input row's
    ``n`` nearest cells in (dist ASC, cent_id ASC) order, plus the
    row's hoisted norm. Bit-identical by construction (pinned by
    test_cell_assign_kernel_bit_identical):

    - dot products accumulate SEQUENTIALLY over dims (vectorized over
      rows), reproducing the JVM fold's left-to-right order — never
      np.dot/np.sum;
    - dist = 1.0 − dot/(nrm·cnorm), the hoisted cosine form, same
      operand order;
    - per-row ranking via stable argsort over the cent_id-ordered
      distance matrix: equal dists keep cent_id order (the struct
      (dist, cent_id) lexicographic tie-break) and NaN sorts last
      (Spark's double ordering).
    The expression form stays in-tree (_cell_assign_expr /
    _scored_cells) as the independent reference twin."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        k = len(cells)
        if k == 0:  # empty centroid table: no cells to assign (the
            return  # explode-of-empty-slice behavior of the expr twin)
        take = min(n, k)
        cids = np.array([c for c, _, _ in cells], dtype=np.int64)
        C = np.array([v for _, v, _ in cells], dtype=np.float64)
        cn = np.array([x for _, _, x in cells], dtype=np.float64)
        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                continue
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d = M.shape[1]
            acc = np.zeros(n_rows, dtype=np.float64)
            for i in range(d):  # sequential: JVM fold order
                acc = acc + M[:, i] * M[:, i]
            nrm = np.sqrt(acc)
            D = np.empty((n_rows, k), dtype=np.float64)
            for j in range(k):
                accj = np.zeros(n_rows, dtype=np.float64)
                for i in range(d):
                    accj = accj + M[:, i] * C[j, i]
                D[:, j] = 1.0 - accj / (nrm * cn[j])
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


def _cell_sums_kernel(cells: list[tuple[int, list[float], float]], vec_col: str):
    """mapInPandas kernel for ONE Lloyd means pass (r17 optimization
    round, guide §2.3 "aggregate before you shuffle"): assigns each row
    to its nearest cell with EXACTLY the `_cell_topn_kernel(n=1)` logic
    (sequential per-dim dot folds, hoisted norms, stable-argsort
    first-min/NaN-last), but instead of emitting corpus rows for a
    downstream posexplode→groupBy means reduce, it accumulates per-cell
    vector sums and counts ACROSS ALL BATCHES OF THE TASK and emits one
    (cent_id, n, s[dim]) partial row per non-empty cell per task. The
    exchange then carries k·n_tasks partial rows instead of corpus×dim
    posexploded rows — the r16 means reduce was the remaining ~2.2 s of
    the ivfpq build, all of it shuffle/aggregate plumbing around an
    argmin the assignment kernel had already paid for.

    Result identity: the published means are round(Σx/Σn, 6); the old
    form's round(avg(x), 6) accumulated the same values in partition/
    merge order (already nondeterministic run-to-run — the 6 dp round
    is what makes Lloyd deterministic, see learned_centroids). The
    partial-sum order here is just another accumulation order under
    that same contract; centroid equality vs the expression twin is
    pinned by test_cell_assign_kernel_bit_identical and was verified
    at sf0.001/0.01/0.1 (see OPTIMIZATION_r17.md)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        k = len(cells)
        if k == 0:
            return
        cids = np.array([c for c, _, _ in cells], dtype=np.int64)
        C = np.array([v for _, v, _ in cells], dtype=np.float64)
        cn = np.array([x for _, _, x in cells], dtype=np.float64)
        sums = None
        counts = None
        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                continue
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d = M.shape[1]
            if sums is None:
                sums = np.zeros((k, d), dtype=np.float64)
                counts = np.zeros(k, dtype=np.int64)
            acc = np.zeros(n_rows, dtype=np.float64)
            for i in range(d):  # sequential: JVM fold order
                acc = acc + M[:, i] * M[:, i]
            nrm = np.sqrt(acc)
            D = np.empty((n_rows, k), dtype=np.float64)
            for j in range(k):
                accj = np.zeros(n_rows, dtype=np.float64)
                for i in range(d):
                    accj = accj + M[:, i] * C[j, i]
                D[:, j] = 1.0 - accj / (nrm * cn[j])
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
    round(Σs/Σn, 6) per dim — the same F.round HALF_UP the old
    round(avg) form published, over totals instead of raw values. The
    reduce input is k·n_tasks rows (model-sized at any corpus size)."""
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
    # r16 norm hoist (guide §1.2): cosine's two sqrt(dot(x,x)) factors
    # are per-row / per-query constants — computed once per side below
    # the crossJoin instead of 3 dots per (row × query) pair. Same
    # expression, same operand order, bit-identical cos_sim (pinned by
    # the full value-hash oracle + test_scored_cells_norm_hoist...).
    e = _with_nrm(_doubled(table(spark, sf_dir, "embeddings")), "vec")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("_nrm").alias("_qnrm"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("_qnrm") * F.col("_nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def learned_centroids(
    e: DataFrame, iters: int = 3, use_kernel: bool = True
) -> DataFrame:
    """Deterministic k-means (Lloyd) over the corpus, DataFrame-native:

    - init: the positional stand-ins (vec_id ≡ 0 mod 64) — fixed, so
      every run starts identically;
    - iterate: assign each vector to its nearest centroid MAP-SIDE
      (array_min over per-row distances against the one-row broadcast
      centroid array — see _scored_cells; r13 replaced the
      crossJoin-explode + row_number window, whose sort SHUFFLED k·n
      assignment rows per iteration — at 10^9 vectors × 64 cells
      that's a 64× row-amplified network pass paid for an argmin over
      constants), then recompute per-cell means via posexplode →
      groupBy(cell, dim) (distributed; never collects vectors).
      The r13 A/B: assignments bit-equal to the window form at both
      parity SFs; locally the swap is ~10% (13.8 → 12.4 s on a 200k
      × 64-cell probe — single-node shuffle is cheap and the HOF
      cosine dominates), the shuffle elimination is the cluster win.

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
        # JVM-expression reference twin (norm-hoisted form) — kept so
        # the Arrow-kernel production path below is pinned bit-identical
        # against an independent implementation
        en = _with_nrm(e.select("vec"), "vec")
        for _ in range(iters):
            assigned = en.crossJoin(F.broadcast(_cents_row(cents))).select(
                F.array_min(_scored_cells(F.col("vec"), F.col("_nrm")))[
                    "cent_id"
                ].alias("cent_id"),
                "vec",
            )
            means = _cell_means(assigned)
            cents = spark.createDataFrame(means.collect(), schema=means.schema)
        return cents
    # r16 kernel form, r17 partial-sums rewrite (guide §2.3/§5): each
    # Lloyd iteration is ONE map-side pass — the Arrow kernel assigns
    # every row to its nearest cell AND accumulates per-cell vector
    # sums+counts across its task's batches (_cell_sums_kernel), so
    # the only exchange per iteration carries k·n_tasks partial rows
    # instead of corpus×dim posexploded assignment rows. The collected
    # means (k·dim scalars — model metadata) feed the next iteration's
    # kernel closure; the DataFrame form is built ONCE after the loop
    # (the r16 form also ran a per-iteration createDataFrame whose
    # intermediate frames were never consumed). Assignment logic and
    # the published round(mean, 6) values are pinned against the
    # expression twin by test_cell_assign_kernel_bit_identical.
    cells = _cells_list(cents)
    src = e.select("vec")
    rows = None
    for _ in range(iters):
        partials = src.mapInPandas(
            _cell_sums_kernel(cells, "vec"),
            "cent_id bigint, n bigint, s array<double>",
        )
        rows = _cell_means_from_partials(partials).collect()
        cells = _cells_from_rows(rows)
    if rows is None:  # iters=0: the seed table IS the model
        return cents
    return spark.createDataFrame(rows, schema="cent_id bigint, cvec array<double>")


def _cell_means(assigned: DataFrame) -> DataFrame:
    """The per-cell mean reduce shared by both learned_centroids forms:
    posexplode → groupBy(cent_id, pos) avg rounded 6dp → re-assembled
    cvec (distributed; never collects vectors)."""
    return (
        assigned.select("cent_id", F.posexplode("vec").alias("pos", "val"))
        .groupBy("cent_id", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy("cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
            ).alias("cvec")
        )
    )


def _cells_from_rows(rows) -> list[tuple[int, list[float], float]]:
    """(cent_id, cvec, cnorm) sorted by cent_id from collected centroid
    rows — the driver-side twin of _cells_list for rows already in
    hand (per-iteration Lloyd updates)."""
    import math

    out = []
    for r in sorted(rows, key=lambda r: int(r.cent_id)):
        cv = [float(x) for x in r.cvec]
        acc = 0.0
        for x in cv:
            acc = acc + x * x
        out.append((int(r.cent_id), cv, math.sqrt(acc)))
    return out


@query(
    "similarity_topk_ivf",
    # the IVF search is approximate, so its rows can't be value-hashed
    # directly — instead the query emits the EXACT top-k rows (fully
    # deterministic, mirrored below)
    # plus a per-query recall contract computed from the IVF candidates
    # INSIDE the query: ivf_recall_ok = (n_overlap * TOP_K >= n_exact *
    # RECALL_NUM), i.e. recall >= 0.8, in pure integer arithmetic
    # (0.8*5 in doubles is 4.000000000000000222 — ceil would demand 5).
    # The oracle asserts TRUE: if IVF recall ever regresses below the
    # contract on any query, the boolean flips and the hash goes red.
    oracle=_EXACT_TOPK_CTE
    + "\n    SELECT query_id, vec_id, cos_sim, rk, TRUE AS ivf_recall_ok FROM exact",
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 scale path, driver-checkable form: exact top-k rows joined
    with a per-query IVF recall contract (see the oracle note above).
    The raw approximate result set is similarity_topk_ivf_raw; exact
    recall at the bench SF is recorded every round by bench.py."""
    # exact feeds three consumers (overlap, flags, final join) — run the
    # brute-force corpus pass ONCE and pin its k·q rows (25 at the
    # defaults: bounded result-set state, not data) as a local frame.
    # r7 used .persist(), which leaked cached frames across the ~190-query
    # parity sweep (never unpersisted — ADVICE r7); an eager materialize
    # of a k·q-row frame needs no cache lifecycle at any corpus size.
    exact_plan = similarity_topk(spark, sf_dir)
    exact = spark.createDataFrame(exact_plan.collect(), schema=exact_plan.schema)
    ivf = similarity_topk_ivf_raw(spark, sf_dir)
    overlap = (
        exact.join(ivf.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    flags = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("n_overlap"), F.lit(0)) * F.lit(TOP_K)
                >= F.col("n_exact") * F.lit(RECALL_NUM)
            ).alias("ivf_recall_ok"),
        )
    )
    return exact.join(F.broadcast(flags), "query_id").select(
        "query_id", "vec_id", "cos_sim", "rk", "ivf_recall_ok"
    )


@query("similarity_topk_ivf_raw")  # approximate: no oracle
def similarity_topk_ivf_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 scale path: IVF-style coarse quantization with LEARNED
    centroids (deterministic k-means, see learned_centroids — round 1
    used positional stand-ins). Each corpus vector is indexed in its
    n_assign=2 nearest cells (multi-assignment: the standard IVF
    mitigation for boundary loss — a neighbor just across a cell border
    stays findable at the cost of 2× index size); queries probe their
    nprobe nearest cells and search only those buckets.

    nprobe ADAPTS to the cell count (round-5 fix): a fixed nprobe=3
    probed 3/8 cells at sf0.001 (recall 0.88) but 3/32 at sf0.1
    (recall 0.48, caught by the bench recall line the r4 verdict asked
    for) — the probed corpus FRACTION, not the probe count, is what
    recall follows, so the default nprobe = max(3, ceil(nlist/3))
    holds the fraction as nlist grows with the corpus (sweep at sf0.1,
    nlist=32: nprobe 3 → 0.48, 8 → 0.80, 16 → 0.96; the default's 11
    → 0.92 with ~3× pruning). The synthetic embeddings are
    near-uniform — ANN-hostile, recall tracks probed fraction — so
    the ratio is the honest knob: a clustered real corpus moves the
    whole curve up and the ratio down. Same top-k contract as the
    exact query; recall is approximate so the check is rows-only —
    tests/test_modules.py pins recall ≥ 0.8, and bench.py records
    secondary.similarity_ivf_recall at the bench SF every round."""
    e = _doubled(table(spark, sf_dir, "embeddings"))
    return ivf_topk(e, learned_centroids(e))


N_ASSIGN = 2  # IVF multi-assignment width — ONE definition for all paths


def _default_nprobe(nlist: int) -> int:
    """The adaptive-nprobe rule (r5: recall follows the probed corpus
    FRACTION, so the ratio is the knob) — ONE definition shared by
    ivf_topk and the IVF-PQ composite so a retune cannot silently
    leave the composite probing a different fraction than the recall
    pins were measured at."""
    return max(3, -(-nlist // 3))


def _cell_assign(e: DataFrame, cents: DataFrame, n_assign: int) -> DataFrame:
    """(vec_id, vec, _nrm, cell): each corpus vector indexed in its
    n_assign nearest cells — shared by ivf_topk and the IVF-PQ
    composite so cell semantics cannot drift. MAP-ONLY (r13): the
    former crossJoin-explode + row_number window SORT-SHUFFLED all k·n
    candidate rows to rank an argmin over constants (the 100× hazard:
    at 10^9 vectors that's a 64×-amplified network pass). r16: the
    per-row top-n runs in the Arrow kernel (_cell_topn_kernel) instead
    of interpreted array_sort(_scored_cells) expressions — still one
    map-side pass, zero shuffle (the plan pin
    test_cell_assign_is_map_only holds unchanged), bit-identical cells
    (pinned vs _cell_assign_expr), and the row's hoisted norm rides
    along for the downstream cosine."""
    return e.select("vec_id", "vec").mapInPandas(
        _cell_topn_kernel(_cells_list(cents), n_assign, "vec_id", "vec", "_nrm"),
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
    """(query_id, qvec, cell): each query's nprobe nearest cells —
    same map-only top-n shape as _cell_assign."""
    return q.select("query_id", "qvec").mapInPandas(
        _cell_topn_kernel(_cells_list(cents), nprobe, "query_id", "qvec", "_qnrm"),
        "query_id bigint, qvec array<double>, _qnrm double, cell bigint",
    )


def ivf_topk(
    e: DataFrame,
    cents: DataFrame,
    nprobe: int | None = None,
    n_assign: int = N_ASSIGN,
) -> DataFrame:
    """IVF search given a centroid table; ``nprobe=None`` selects the
    adaptive default max(3, ceil(nlist/3)) — see similarity_topk_ivf."""
    if nprobe is None:
        nprobe = _default_nprobe(cents.count())  # centroid table: tiny
    assigned = _cell_assign(e, cents, n_assign)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    probes = _cell_probes(q, cents, nprobe)
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        # r16: score BEFORE the dedup exchange — the candidate rows
        # used to carry both raw vectors (≈1 KB/row) through the
        # dropDuplicates shuffle just to compute cosine afterwards;
        # cosine is a pure function of the pair, so computing it in the
        # join projection shrinks the exchange to (ids, double) and the
        # surviving value is identical whichever duplicate wins
        # (guide §2.3 "project before the exchange"). Norms hoisted as
        # everywhere (bit-identical — see _scored_cells).
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("_qnrm") * F.col("_nrm")),
                6,
            ).alias("cos_sim"),
        )
        # multi-assignment can surface the same (query, vector) pair
        # through two shared cells — dedupe before ranking
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


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


N_PLANES = 16  # hyperplane-LSH signature width


def hyperplane_signatures(e: DataFrame, dim: int, seed: int = 7) -> DataFrame:
    """Random-hyperplane LSH (SimHash for real vectors): sign of the
    dot product against N_PLANES fixed pseudo-random hyperplanes packs
    into a 16-bit signature; cos(θ) similarity maps to Hamming
    proximity (P[bit agree] = 1 - θ/π). The planes are generated
    driver-side from a fixed seed (deterministic across runs and
    engines) and enter the plan as literal arrays — JVM-side dot
    products via zip_with/aggregate, no UDF, no shuffle: one linear
    pass, embarrassingly parallel at any corpus size."""
    import random

    rng = random.Random(seed)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(N_PLANES)
    ]
    sig = None
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(F.col("vec"), lit_plane) > 0, F.lit(1)).otherwise(0)
        term = bit.cast("int") * F.lit(2**i).cast("int")
        sig = term if sig is None else sig + term
    return e.select("vec_id", "vec", sig.alias("hsig"))


def similar_pairs_hyperplane(e: DataFrame, max_hamming: int = 2) -> DataFrame:
    """ANN candidate pairs via hyperplane-LSH signatures, pigeonhole
    block join (dedup_simhash's scheme on embedding vectors): the
    16-bit signature splits into max_hamming+1 blocks — any pair
    within the Hamming budget matches exactly on ≥1 block — so
    candidates come from equi-joins on block keys (linear + shuffle,
    never all-pairs), verified by exact signature Hamming distance.
    Complements IVF: no centroid training, recall governed by plane
    count; the right choice for streaming/incremental corpora where
    retraining centroids is awkward."""
    n_blocks = max_hamming + 1
    bits_per_block = N_PLANES // n_blocks
    mask = (1 << bits_per_block) - 1
    blocked = e.select(
        "vec_id",
        "hsig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col("hsig"), b * bits_per_block)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "hsig", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a, b = blocked.alias("a"), blocked.alias("b")
    # r17 (r16 advice): the dedup_simhash filter-before-distinct
    # rewrite, applied to the identical shape it was missed on —
    # hamming (two scalar ops) is computed IN the join projection and
    # the ≤ max_hamming verify runs BEFORE the candidate dropDuplicates,
    # so rejected block collisions never reach the dedup exchange and
    # the exchange row carries (ids, int) instead of two signatures.
    # Same result: filter∘distinct ≡ distinct∘filter for a
    # deterministic per-pair predicate (every duplicate of a pair
    # carries the same hamming).
    hamming = F.bit_count(F.col("a.hsig").bitwiseXOR(F.col("b.hsig")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
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
    # r16 norm hoist — same bit-identical rewrite as similarity_topk
    e = _with_nrm(_doubled(table(spark, sf_dir, "embeddings")), "vec")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("vec").alias("qvec"),
        F.col("_nrm").alias("_qnrm"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("_qnrm") * F.col("_nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("query_id", "vec_id", "label", "cos_sim", "rk")
    )


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
    centroids at extensions/similarity.py:85 — NOT a lineage hazard).
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
        # could truncate the coreset on such a pair (advice finding).
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
    (corpus has < k distinct points — review finding: without the stop
    the argmax re-picks a center and the "diversity" set contains
    duplicates). The min-distance frame is persisted per round and the
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
        # the coreset before k genuinely distinct centers (advice finding)
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
# r7 sweep (aggregate recall at sf0.001/0.01/0.1): fixed 50 →
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
    determinism contract as the window form it replaced). Embedding the
    codebook as plan literals (it is k·PQ_DIM doubles — a model, not
    data) makes code assignment a MAP-SIDE expression: the r7 review
    found the original join+window form shuffled the whole subvector
    stream per assignment pass, which at 100 TB is a full-corpus
    network pass paid for an argmin over 16 constants.

    The zip_with+aggregate HOF distance is DELIBERATE (r8 measured):
    unrolling Σ(aᵢ-bᵢ)² into k·PQ_DIM literal getItem/mul/add terms —
    the "codegen-friendly" form — ran 7× SLOWER (6.8 s vs 0.9 s per
    cached-corpus encode pass): the ~4k-node expression tree defeats
    whole-stage codegen and falls back to node-at-a-time interpreted
    eval, while the HOF's small lambda loop is a tight interpreted
    loop. Measured, not assumed — see BASELINE.md round 8."""
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

    iters defaults to 1 (r8): the r8 decomposition measured recall
    0.88/0.88/1.0 across sf0.001/0.01/0.1 with ONE iteration vs
    0.92/0.88/0.92 with two — on the near-uniform fixture the second
    corpus pass buys nothing (at sf0.1 it is strictly worse), and each
    pass is the dominant PQ cost. A clustered real corpus is where
    more iterations pay; the knob stays exposed.

    Training runs on a DETERMINISTIC SAMPLE (r8, the FAISS-style
    posture): codebooks are k·PQ_DIM-double models and never need the
    full corpus — vectors with vec_id % mod == 0 train them, where mod
    = max(1, n_corpus // sample_target) keeps ~sample_target training
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
    irreducible k-means reduce (groupBy (sub, code, pos) means); the
    codebook is re-materialized through the driver per iteration,
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
        means = (
            assigned.select("sub", "code", F.posexplode("svec").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
                ).alias("cvec")
            )
        )
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
    r16: the JVM-expression REFERENCE TWIN of _assigned_subvectors —
    kept so the Arrow-kernel production form is pinned bit-identical
    against an independent implementation (the simhash_signatures /
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

    The suspect window SCALES with the value (r16 advice): the binary
    error of x·1e6 is ~ulp(scaled), which exceeds a fixed 1e-7 once
    the scaled value passes ~4.5e8 (squared distances ≳ 450) — a
    boundary case there could take the fast path and misround. The
    window is max(1e-7, 4·ulp(scaled)), so large-magnitude inputs
    route their near-.5 cases through the exact Decimal path too."""
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
    the Arrow-vectorized twin of _code_expr (r16 optimization round,
    guide §4.2: the interpreted zip_with/aggregate fold was ~10 s of
    the 18.6 s ivfpq build at sf0.1; one numpy pass over each Arrow
    batch does the same flops at native speed). Bit-identical by
    construction and pinned by test_pq_codes_kernel_bit_identical:

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
    (4 B/vector where the raw corpus is 512 B). r16: the code argmin
    runs in the Arrow kernel (_pq_codes_kernel) instead of interpreted
    per-row HOF expressions — bit-identical (pinned vs pq_encode_expr),
    measured 4.8 s → ~0.6 s per encode pass at sf0.1."""
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
    # parquet scan + array<double> cast happens ONCE (r8 decomposition:
    # ~1 s/pass repeated per consumer was most of the old 11.3 s).
    # Cache lifetime follows the library convention (shingle_postings /
    # dedup_near_text): ContextCleaner reclaims it once the returned
    # plan's references are GC'd — acceptable for the run-once query
    # shape, and bench/parity runs clearCache() between invocations.
    # NOTE this is a corpus-sized (512 B/vector) cache: at cluster
    # scale a serving layer does NOT cache raw vectors — it builds the
    # index once via pq_index_save (one scan, no cache needed) and
    # serves from the 4 B/vector codes; this in-session form exists
    # for the one-shot query/benchmark shape where the five scans
    # would otherwise dominate.
    from pyspark.storagelevel import StorageLevel

    e = _doubled(table(spark, sf_dir, "embeddings")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_corpus = e.count()
    cents = pq_train(spark, e, n_corpus=n_corpus)
    enc = pq_encode(e, cents)
    return _pq_adc_rerank(e, enc, cents, n_corpus, TOP_K)


def _pq_adc_rerank(
    e: DataFrame,
    enc: DataFrame,
    cents: DataFrame,
    n_corpus: int,
    top_k: int,
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
    # r16: the query table carries its hoisted norm (5 rows — free);
    # the rerank below then pays sqrt(dot) once per shortlist VECTOR
    # instead of three dots per pair (bit-identical, see _scored_cells)
    q = _with_nrm(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
        ),
        "qvec",
        out="_qnrm",
    )
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
    if cand is not None:
        # IVF-pruned ADC: codes join the candidate (query, vec) pairs
        # first, so only probed cells' codes are ever scored
        adc = (
            cand.join(enc, "vec_id")
            .join(F.broadcast(partials), ["query_id", "sub", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")
            .agg(F.round(F.sum("pd"), 6).alias("adc_dist"))
        )
    else:
        adc = (
            enc.join(F.broadcast(partials), ["sub", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")
            .agg(F.round(F.sum("pd"), 6).alias("adc_dist"))
        )
    short_w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
    shortlist = (
        adc.withColumn("srk", F.row_number().over(short_w))
        .filter(F.col("srk") <= shortlist_k)
        .select("query_id", "vec_id")
    )
    # r17: the CORPUS-side norm is hoisted too (the r16 sweep's
    # acknowledged leftover) — computed once per corpus row in a
    # projection BELOW the shortlist join instead of once per
    # (query × shortlist) pair; same expression, same operand order,
    # bit-identical cos_sim (the _scored_cells argument).
    rerank = (
        shortlist.join(_with_nrm(e.select("vec_id", "vec"), "vec"), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("_qnrm") * F.col("_nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        rerank.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= top_k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


# ---------------------------------------------------------------------------
# PQ index persistence — the serving pattern (r8). similarity_topk_pq
# measures build+search in one shot; production builds ONCE (the index
# is the artifact: m×k codebook + 4 B/vector codes) and serves many
# query batches against the persisted index. pq_index_save/search split
# the two costs so each is measurable and the search path provably
# never re-trains or re-encodes.
# ---------------------------------------------------------------------------


def pq_index_save(
    spark: SparkSession, e: DataFrame, dest_dir: str, iters: int = 1
) -> None:
    """Build and persist the PQ index under ``dest_dir``: codebook.parquet
    (sub, code, cvec — m·k rows, model metadata) and codes.parquet
    (vec_id, sub, code — the 4 B/vector compressed corpus). The build
    touches the corpus several times (count, codebook seed/train,
    encode) — persist bounds that to ONE source read (r8 advice: the
    uncached form re-scanned the source per pass, the exact cost the
    in-session path's persist was added to avoid); everything after
    the build reads codes only."""
    import os

    from pyspark.storagelevel import StorageLevel

    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = e.count()
        cents = pq_train(spark, e, iters=iters, n_corpus=n)
        cents.write.mode("overwrite").parquet(
            os.path.join(dest_dir, "codebook.parquet")
        )
        pq_encode(e, cents).write.mode("overwrite").parquet(
            os.path.join(dest_dir, "codes.parquet")
        )
        # corpus size rides with the index (meta.parquet, one row): the
        # serving path derives its adaptive shortlist from it WITHOUT a
        # per-batch count job over the raw corpus (review finding — the
        # amortized path was paying a full count per search call)
        spark.createDataFrame([(n,)], "n_corpus bigint").write.mode(
            "overwrite"
        ).parquet(os.path.join(dest_dir, "meta.parquet"))
    finally:
        e.unpersist()


def pq_index_search(
    spark: SparkSession,
    index_dir: str,
    e: DataFrame,
    top_k: int = TOP_K,
) -> DataFrame:
    """ADC + exact re-rank against a PERSISTED index: the scan side is
    codes.parquet (4 B/vector); raw vectors are read only for the
    shortlist re-rank join. Queries are the standard vec_id < N_QUERIES
    set of ``e``; output schema matches similarity_topk. Results are
    identical to similarity_topk_pq built in-session from the same
    corpus (pinned in tests) — the persisted index changes WHEN the
    build cost is paid, not what is computed."""
    import os

    cents = spark.read.parquet(os.path.join(index_dir, "codebook.parquet"))
    enc = spark.read.parquet(os.path.join(index_dir, "codes.parquet"))
    n_corpus = int(
        spark.read.parquet(os.path.join(index_dir, "meta.parquet"))
        .head()
        .n_corpus
    )
    return _pq_adc_rerank(e, enc, cents, n_corpus, top_k)


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
    approximation stages (IVF coverage × ADC ranking) and the r8
    sweep measured n/5 at exactly 0.80 recall at sf0.001 (zero
    margin, the ADVICE-r7 IVF lesson) vs n/3 at 0.84/1.0/0.92 across
    sf0.001/0.01/0.1. Cost honesty: the wider shortlist means the
    exact RE-RANK reads ~67% MORE raw vectors than flat PQ (n/3 vs
    n/5) — what IVF prunes is the ADC CODE scan (~60% of codes at
    these settings, and the probed fraction is the tunable knob);
    the composite wins where the code scan dominates, which is the
    100 TB regime, not the re-rank. Approximate by design →
    rows-only; recall vs exact is pinned ≥0.8 at sf0.001 in tests
    and recorded at the bench SF every round
    (secondary.similarity_ivfpq_recall)."""
    # Corpus cache: same consumers/justification/lifetime as
    # similarity_topk_pq (see the NOTE there — run-once query shape,
    # ContextCleaner reclaim, clearCache between bench/parity runs;
    # a serving deployment uses the persisted-index path instead and
    # never caches raw vectors).
    from pyspark.storagelevel import StorageLevel

    e = _doubled(table(spark, sf_dir, "embeddings")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_corpus = e.count()
    cents = learned_centroids(e)
    nlist = cents.count()
    cb = pq_train(spark, e, n_corpus=n_corpus)
    enc = pq_encode(e, cb)
    assigned = _cell_assign(e, cents, n_assign=N_ASSIGN).select("vec_id", "cell")
    return _ivfpq_search(e, cents, cb, enc, assigned, n_corpus, nlist, TOP_K)


def _ivfpq_search(
    e: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    enc: DataFrame,
    assigned: DataFrame,
    n_corpus: int,
    nlist: int,
    top_k: int,
) -> DataFrame:
    """The IVF-PQ search half (probe → candidate equi-join → pruned ADC
    → re-rank), shared by the in-session query and the persisted-index
    form so the two cannot drift."""
    nprobe = _default_nprobe(nlist)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    probes = _cell_probes(q, cents, nprobe).select("query_id", "cell")
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    shortlist_k = max(PQ_SHORTLIST_MIN, -(-n_corpus // 3))
    return _pq_adc_rerank(
        e, enc, cb, n_corpus, top_k, cand=cand, shortlist_k=shortlist_k
    )


def ivfpq_index_save(
    spark: SparkSession, e: DataFrame, dest_dir: str, iters: int = 1
) -> None:
    """Persist the IVF-PQ index under ``dest_dir``: centroids.parquet
    (coarse cells — nlist·dim doubles, model metadata), assign.parquet
    (vec_id, cell — the inverted lists, N_ASSIGN rows/vector),
    codebook.parquet + codes.parquet (the PQ layer), and meta.parquet
    (n_corpus + nlist). The build touches the corpus several times
    (count, k-means, cell assign, codebook train, encode) — persist
    bounds that to ONE source read (r8 advice); every subsequent
    query batch probes cells and scans codes only.

    r17 (guide §2.6 "overlap independent jobs"): the coarse layer
    (k-means → centroids → inverted lists) and the fine layer
    (codebook train → codes) share no data dependency — only the
    persisted corpus — so they run as two concurrent driver threads.
    Lloyd's per-iteration barrier collects serialize each BRANCH, not
    the build: while one branch waits on a collect, the other's tasks
    fill the idle executors (the guide's back-fill shape). Outputs are
    byte-identical (each branch is deterministic and writes disjoint
    paths); meta commits last, after both branches. Each branch tags
    its jobs, so the first branch to fail cancels the other's jobs
    before its error is raised, instead of waiting for the sibling to
    finish work that will be thrown away."""
    import os
    import uuid
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark.storagelevel import StorageLevel

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

        def _fine_layer() -> None:
            cb = pq_train(spark, e, iters=iters, n_corpus=n)
            cb.write.mode("overwrite").parquet(
                os.path.join(dest_dir, "codebook.parquet")
            )
            pq_encode(e, cb).write.mode("overwrite").parquet(
                os.path.join(dest_dir, "codes.parquet")
            )

        def _tagged(layer, fn):
            def run():  # job tags and descriptions are per thread
                sc.addJobTag(f"{build}-{layer}")
                sc.setJobDescription(f"ivfpq build: {layer}")
                return fn()

            return run

        with ThreadPoolExecutor(max_workers=2) as pool:
            coarse = pool.submit(_tagged("coarse", _coarse_layer))
            fine = pool.submit(_tagged("pq", _fine_layer))
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
        spark.createDataFrame([(n, nlist)], "n_corpus bigint, nlist int").write.mode(
            "overwrite"
        ).parquet(os.path.join(dest_dir, "meta.parquet"))
    finally:
        e.unpersist()


def ivfpq_index_search(
    spark: SparkSession,
    index_dir: str,
    e: DataFrame,
    top_k: int = TOP_K,
) -> DataFrame:
    """IVF-PQ search against a PERSISTED index: probes come from the
    stored centroids, candidates from the stored inverted lists, ADC
    from the stored codes — raw vectors are read only for the re-rank.
    Results identical to similarity_topk_ivfpq built in-session from
    the same corpus (pinned in tests)."""
    import os

    cents = spark.read.parquet(os.path.join(index_dir, "centroids.parquet"))
    assigned = spark.read.parquet(os.path.join(index_dir, "assign.parquet"))
    cb = spark.read.parquet(os.path.join(index_dir, "codebook.parquet"))
    enc = spark.read.parquet(os.path.join(index_dir, "codes.parquet"))
    meta = spark.read.parquet(os.path.join(index_dir, "meta.parquet")).head()
    return _ivfpq_search(
        e, cents, cb, enc, assigned, int(meta.n_corpus), int(meta.nlist), top_k
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
    re-scores ONLY those candidates with the same zip_with/aggregate
    expression the HOF form uses, so the published cos_sim doubles are
    bit-identical to similarity_topk and the DuckDB oracle. Correctness
    does not depend on block boundaries: any true top-k member ranks
    within its own block's top-k, so it always ships as a candidate.
    The corpus never shuffles; queries ride into the kernel as a
    closure (q·d doubles)."""
    e = _doubled(table(spark, sf_dir, "embeddings"))
    qrows = (
        e.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "vec").collect()
    )
    if not qrows:
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, cos_sim double, rk bigint"
        )
    import numpy as np

    qids = [int(r.vec_id) for r in qrows]
    qmat = np.array([r.vec for r in qrows], dtype=np.float64)
    cands = e.select("vec_id", "vec").mapInPandas(
        _gemm_candidates(qids, qmat, GEMM_MARGIN * TOP_K),
        "query_id bigint, vec_id bigint, vec array<double>",
    )
    # r17 norm hoist (the r16 sweep's acknowledged leftover): the
    # query norm is a per-query constant (5 rows) and the candidate's
    # own norm is computed once per candidate row in a projection
    # BELOW the broadcast join — dot/(qnrm·nrm) with the same operand
    # order as cosine(), bit-identical (test_cosine_norm_hoist...).
    q = _with_nrm(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
        ),
        "qvec",
        out="_qnrm",
    )
    rescored = (
        _with_nrm(cands, "vec")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("_qnrm") * F.col("_nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def _assert_delta_ids_disjoint(
    spark: SparkSession, codes_path: str, new_e: DataFrame, op: str
) -> None:
    """Shared replay guard for both index formats (r13 review: two
    copies risked diverging semantics): incoming vec_ids must be
    absent from the CODES store — the guard's single source of truth,
    which is why every grow appends codes FIRST. One column-pruned
    semi join over the codes ids (at 100 TB the cheapest scan in the
    index)."""
    existing = spark.read.parquet(codes_path).select("vec_id")
    n_dup = new_e.join(existing, "vec_id", "left_semi").count()
    if n_dup:
        raise ValueError(
            f"{op}: {n_dup} incoming vec_ids already in the index — "
            "delta batches must carry fresh ids (replay?)"
        )


def pq_index_add_vectors(
    spark: SparkSession, index_dir: str, new_e: DataFrame
) -> int:
    """Grow a persisted PQ index WITHOUT retraining (r12 verdict #3):
    encode the new vectors with the STORED codebook (a model is a
    model — daily arrivals don't re-fit it, exactly as the inverted
    index's delta merge never re-tokenizes the old corpus,
    retrieval.py), append the codes to the store, bump meta.n_corpus.
    Returns the number of vectors added.

    Guards: new vec_ids must be DISJOINT from the store's (a replayed
    batch would otherwise double its vectors into every shortlist) —
    checked with one column-pruned semi join over the codes store
    (reads the vec_id column only; at 100 TB that column is the
    cheapest scan in the index). Recall contract vs a from-scratch
    rebuild on the grown corpus is pinned in tests and carried
    in-query by pq_index_delta_add."""
    import os

    cb = spark.read.parquet(os.path.join(index_dir, "codebook.parquet"))
    codes_path = os.path.join(index_dir, "codes.parquet")
    _assert_delta_ids_disjoint(spark, codes_path, new_e, "pq_index_add_vectors")
    n_new = new_e.count()
    if not n_new:
        return 0
    pq_encode(new_e, cb).write.mode("append").parquet(codes_path)
    meta_path = os.path.join(index_dir, "meta.parquet")
    n_old = int(spark.read.parquet(meta_path).head().n_corpus)
    spark.createDataFrame([(n_old + n_new,)], "n_corpus bigint").write.mode(
        "overwrite"
    ).parquet(meta_path)
    return n_new


def ivfpq_index_add_vectors(
    spark: SparkSession, index_dir: str, new_e: DataFrame
) -> int:
    """IVF-PQ twin of :func:`pq_index_add_vectors`: assign new vectors
    to the STORED coarse centroids (no k-means re-run — cell geometry
    is the model), append their inverted-list rows and PQ codes, bump
    meta.n_corpus (nlist unchanged). Same disjoint-id guard."""
    import os

    cents = spark.read.parquet(os.path.join(index_dir, "centroids.parquet"))
    cb = spark.read.parquet(os.path.join(index_dir, "codebook.parquet"))
    codes_path = os.path.join(index_dir, "codes.parquet")
    assign_path = os.path.join(index_dir, "assign.parquet")
    _assert_delta_ids_disjoint(
        spark, codes_path, new_e, "ivfpq_index_add_vectors"
    )
    n_new = new_e.count()
    if not n_new:
        return 0
    # CODES first, ASSIGN second (r13 review): the replay guard reads
    # codes, so a grow that dies between the two appends and retries
    # must fail LOUDLY (codes committed ⇒ guard trips) rather than
    # silently duplicate the batch's inverted-list rows (assign
    # committed first ⇒ guard passes ⇒ 2×N_ASSIGN rows per vector)
    pq_encode(new_e, cb).write.mode("append").parquet(codes_path)
    _cell_assign(new_e, cents, N_ASSIGN).select("vec_id", "cell").write.mode(
        "append"
    ).parquet(assign_path)
    meta_path = os.path.join(index_dir, "meta.parquet")
    meta = spark.read.parquet(meta_path).head()
    spark.createDataFrame(
        [(int(meta.n_corpus) + n_new, int(meta.nlist))],
        "n_corpus bigint, nlist int",
    ).write.mode("overwrite").parquet(meta_path)
    return n_new


@query(
    "pq_index_delta_add",
    # Contract form in the similarity_topk_ivf family, but the claim is
    # the r12 verdict's exact wording: recall HOLDS VS A FROM-SCRATCH
    # REBUILD on the grown corpus. The published rows are the EXACT
    # top-k on the grown corpus (deterministic, mirrored by the oracle)
    # plus a per-query boolean — the delta-grown index may lose at most
    # ONE exact neighbor per query relative to the rebuild (integer
    # slack for codebook-training noise: the synthetic embeddings are
    # near-uniform, ANN-hostile, so a codebook fitted without the delta
    # 20% can legitimately tie-break one boundary neighbor away). If
    # delta maintenance ever costs more than that anywhere, the boolean
    # flips and the value hash goes red.
    oracle=_EXACT_TOPK_CTE
    + "\n    SELECT query_id, vec_id, cos_sim, rk, TRUE AS delta_recall_ok FROM exact",
)
def pq_index_delta_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index maintenance end to end (r12 verdict #3): build the PQ
    index on the BASE ~80% of the corpus, delta-add the remaining ~20%
    with the stored codebook (pq_index_add_vectors — no retraining),
    build the from-scratch rival on the full corpus, serve the standard
    queries from BOTH stores, and contract the delta-grown index's
    per-query overlap with exact against the rebuild's (≥ rebuild − 1).
    The staging writes are inside the query on purpose (the
    join_bucketed precedent: the build IS the amortized cost; the
    measured serve path reads codes only). At 100 TB this is the
    daily-arrival path — the rebuild rival exists here precisely to
    show what delta-add avoids re-paying: re-training and re-encoding
    the entire corpus for a 0.2% arrival."""
    from ..cdc.staging import fresh_staging_dir

    e = _doubled(table(spark, sf_dir, "embeddings"))
    # base keeps the deterministic seed range (pq_train seeds its
    # codebook from vec_id 0..PQ_K-1); the delta is every 5th id above
    is_delta = (F.col("vec_id") >= PQ_K) & (F.col("vec_id") % 5 == 3)
    staging = fresh_staging_dir(spark, sf_dir, "pq_delta")
    grown_idx = staging + "/grown"
    rebuild_idx = staging + "/rebuild"
    pq_index_save(spark, e.where(~is_delta), grown_idx)
    pq_index_add_vectors(spark, grown_idx, e.where(is_delta))
    pq_index_save(spark, e, rebuild_idx)

    return _delta_recall_rows(
        spark,
        sf_dir,
        pq_index_search(spark, grown_idx, e),
        pq_index_search(spark, rebuild_idx, e),
    )


def _delta_recall_rows(
    spark: SparkSession,
    sf_dir: str,
    grown_topk: DataFrame,
    rebuild_topk: DataFrame,
) -> DataFrame:
    """Shared contract tail for the delta-add queries (pq +  ivfpq):
    exact top-k rows on the grown corpus, plus a per-query boolean —
    the delta-grown index may lose at most ONE exact neighbor per
    query relative to the from-scratch rebuild. Factored so the two
    index formats cannot drift on what 'recall holds' means."""
    exact_plan = similarity_topk(spark, sf_dir)
    exact = spark.createDataFrame(exact_plan.collect(), schema=exact_plan.schema)

    def per_query_overlap(approx: DataFrame, name: str) -> DataFrame:
        return (
            exact.join(
                approx.select("query_id", "vec_id"),
                ["query_id", "vec_id"],
                "left_semi",
            )
            .groupBy("query_id")
            .agg(F.count("*").alias(name))
        )

    ov_grown = per_query_overlap(grown_topk, "n_grown")
    ov_rebuild = per_query_overlap(rebuild_topk, "n_rebuild")
    flags = (
        exact.select("query_id")
        .distinct()
        .join(ov_grown, "query_id", "left")
        .join(ov_rebuild, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("n_grown"), F.lit(0)) + F.lit(1)
                >= F.coalesce(F.col("n_rebuild"), F.lit(0))
            ).alias("delta_recall_ok"),
        )
    )
    return exact.join(F.broadcast(flags), "query_id").select(
        "query_id", "vec_id", "cos_sim", "rk", "delta_recall_ok"
    )


@query(
    "ivfpq_index_delta_add",
    # same contract form as pq_index_delta_add: published rows are the
    # exact top-k (oracle-mirrored) + the per-query delta-recall flag
    oracle=_EXACT_TOPK_CTE
    + "\n    SELECT query_id, vec_id, cos_sim, rk, TRUE AS delta_recall_ok FROM exact",
)
def ivfpq_index_delta_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED serving index is incrementally maintainable end to
    end (r13 verdict #7): build the IVF-PQ index on the base ~80% of
    the corpus, delta-add the remaining ~20% against the FROZEN coarse
    centroids AND frozen codebook (ivfpq_index_add_vectors — new
    vectors get N_ASSIGN inverted-list rows + PQ codes, no k-means or
    codebook re-run), build the from-scratch rival on the full corpus,
    serve the standard queries from BOTH stores, and contract the
    delta-grown index's per-query exact-neighbor overlap against the
    rebuild's (>= rebuild - 1, the pq_index_delta_add slack: BOTH
    frozen models may tie-break one boundary neighbor away on the
    ANN-hostile near-uniform fixture). With pq_index_delta_add this
    closes the maintenance story: codes-only (PQ) and cells+codes
    (IVF-PQ) both grow by appending — at 100 TB a daily 0.2% arrival
    costs one encode+assign pass over the delta instead of re-training
    and re-encoding the corpus."""
    from ..cdc.staging import fresh_staging_dir

    e = _doubled(table(spark, sf_dir, "embeddings"))
    is_delta = (F.col("vec_id") >= PQ_K) & (F.col("vec_id") % 5 == 3)
    staging = fresh_staging_dir(spark, sf_dir, "ivfpq_delta")
    grown_idx = staging + "/grown"
    rebuild_idx = staging + "/rebuild"
    ivfpq_index_save(spark, e.where(~is_delta), grown_idx)
    ivfpq_index_add_vectors(spark, grown_idx, e.where(is_delta))
    ivfpq_index_save(spark, e, rebuild_idx)
    return _delta_recall_rows(
        spark,
        sf_dir,
        ivfpq_index_search(spark, grown_idx, e),
        ivfpq_index_search(spark, rebuild_idx, e),
    )
