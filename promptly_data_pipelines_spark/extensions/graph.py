"""Link-graph authority scoring: fixed-iteration PageRank.

Web-corpus curation ranks pages by link authority before sampling
(Common-Crawl-derived corpora weight by harmonic-centrality/PageRank
percentile); the reference has no graph tier, so this supplies the
operator for the 100 TB curation path. The graph here is the part
co-purchase graph — parts are linked when they appear in the same
order — which gives a dense, cyclic, skewed directed graph out of the
fixture tables with no synthetic input.

Exact-arithmetic design: ranks are scaled BIGINTs (SCALE = 1e12), all
updates are integer multiply/divide — ``r // deg`` per edge, ``base +
85·Σ // 100`` per node — so three unrolled iterations produce
bit-identical values in Spark and DuckDB and the query carries a full
value-hash oracle (floating-point PageRank cannot: cross-engine sum
order drifts in the last ulps). The damping factor 0.85 is the
rational 85/100; the per-edge floor division loses < 1 unit of 1e-12
per edge, far below any ranking-relevant difference.

Scale design (100 TB):
- the edge list with out-degree attached is built ONCE and persisted;
  each iteration is one shuffle (groupBy dst) plus one join
  edges ⋈ ranks on src — the canonical Pregel-on-DataFrames shape;
- iterations are driver-unrolled (fixed k=3): lineage depth stays
  bounded; a production run with k ≫ 3 should localCheckpoint each
  ranks frame (the connected_components pattern,
  extensions/dedup.py:707) to cut lineage;
- the ranks side is node-cardinality (≪ edges); Spark may broadcast
  it at small SF and shuffle-join at large — both are the right call
  at their scale, so the plan is not pinned to either;
- no dangling-mass redistribution: the co-purchase construction is
  symmetric (if a→b then b→a), so every node has out-edges and the
  simple update is mass-preserving up to floor loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import table
from ..registry import query

SCALE = 1_000_000_000_000  # rank fixed-point scale (1e12)
BASE = 150_000_000_000  # (1 - d) · SCALE with d = 0.85
N_ITER = 3


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct directed edges (src part → dst part) for parts sharing
    an order. collect_set per order (dedupes repeated part lines), then
    the k² pair expansion happens IN-ROW (nested transform/filter
    lambdas) — one groupBy shuffle instead of the equivalent self-join's
    two sorted/shuffled sides, and the pair stream is born map-side
    above the final distinct. Measured at sf0.1: 2.3 s vs 4.0 s for the
    self-join form, same 2.39 M edges. The in-row expansion is safe
    because per-group set sizes are basket-bounded (≤ order width);
    a power-law group (social graph) would need the self-join form with
    a skew-salted key instead."""
    sets = lineitem.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    # r16 (guide §2.3): the construction is symmetric — (a,b) shares an
    # order iff (b,a) does — so expand only the i<j HALF in-row as
    # canonical (least, greatest) pairs, distinct that (half the pair
    # structs born, half the rows/bytes through the distinct exchange),
    # and mirror AFTER the dedup with a shuffle-free union of two
    # projections. The edge SET is identical to the old full k²
    # expansion (pinned by the unchanged full value-hash oracle and
    # test_graph edge-count asserts).
    n = F.size(F.col("ps"))
    half_pairs = F.flatten(
        F.transform(
            "ps",
            lambda a, i: F.transform(
                F.slice(F.col("ps"), i + 2, n),
                lambda b: F.struct(
                    F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
                ),
            ),
        )
    )
    canon = (
        sets.select(F.explode(half_pairs).alias("e"))
        .select("e.u", "e.v")
        .distinct()
    )
    return canon.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(canon.select(F.col("v").alias("src"), F.col("u").alias("dst")))


def pagerank_scaled(
    edges: DataFrame,
    n_iter: int = N_ITER,
    scale: int | None = None,
    require_scale: int | None = None,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list with no dangling
    nodes (every src must also appear as dst and vice versa — true for
    any symmetric construction). Returns (node, rank_scaled bigint,
    rank double).

    Integer-headroom invariant (review finding): every intermediate is
    bounded by 85 × total mass = 85 × n_nodes × scale (a hub can in
    the worst case aggregate the whole graph's mass, and the damping
    multiplies by 85 before the ÷100). That product must stay below
    2^63 or Spark's ANSI mode / DuckDB abort on BIGINT overflow — a
    failure mode the arbitrary-precision Python property mirror can
    never reproduce. The bound is ENFORCED here, with the remedy in
    the error: at 1e12 scale the ceiling is ~108k nodes; a billion-node
    graph runs at scale=1e7 and still carries 7 digits of rank
    precision."""
    # Materialize the edge list ONCE: deg, nodes, and all n_iter
    # contribution joins re-read this cache — without it the upstream
    # build (self-join + distinct for the co-purchase construction)
    # re-executes per derivation per iteration (first bench measurement
    # of this op: 8.2 s; with the persists: see BASELINE.md r6 lines).
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = edges.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = edges.select(F.col("src").alias("node")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_nodes = nodes.count()  # reads the fresh cache; node-table-sized
    if scale is None:
        # auto mode (the registered query's path — it exposes no scale
        # knob, so a hard raise here would make growth a failure,
        # review finding): the largest power of 10 that keeps the
        # worst-case bound, capped at the documented default. At the
        # oracle SFs (≤ ~10k nodes) this resolves to SCALE exactly, so
        # the fixed-constant oracle stays valid; at 200k+ nodes the
        # rank precision steps down a digit instead of aborting.
        safe = (2**63 - 1) // (85 * max(n_nodes, 1))
        scale = SCALE
        while scale > safe:
            scale //= 10
        if scale == 0:
            raise ValueError(
                f"pagerank integer headroom exceeded even at scale 1 "
                f"({n_nodes} nodes) — shard the graph"
            )
        if scale != SCALE:
            # advice finding: the silent step-down changes rank_scaled
            # units between graph sizes and diverges from the registered
            # oracle's hard-coded 1e12 scale — make a future large-SF
            # parity failure self-explanatory instead of mysterious.
            import warnings

            warnings.warn(
                f"pagerank auto scale stepped down to {scale} for "
                f"{n_nodes} nodes (default {SCALE}); rank_scaled units "
                "changed and the fixed-scale oracle no longer applies",
                stacklevel=2,
            )
    elif 85 * n_nodes * scale >= 2**63:
        raise ValueError(
            f"pagerank integer headroom exceeded: 85 * {n_nodes} nodes * "
            f"scale {scale} >= 2^63 — rerun with scale <= "
            f"{(2**63 - 1) // (85 * n_nodes)} (rank precision shrinks "
            "with scale; see the docstring bound)"
        )
    if require_scale is not None and scale != require_scale:
        # r8 (verdict item #8): the oracle-checked caller pins the scale
        # its static SQL was generated at — fail HERE with the cause
        # instead of letting the driver record a bare value-hash
        # mismatch at some future larger SF. Checked AFTER resolution,
        # common to the auto and explicit-scale branches (review
        # finding: nesting it in the auto branch let an explicit scale
        # bypass the contract the parameter claims to enforce).
        raise ValueError(
            f"graph_pagerank parity contract: scale resolved to {scale} "
            f"for {n_nodes} nodes, but the DuckDB oracle is generated "
            f"at fixed scale {require_scale} (headroom bound "
            "85·n_nodes·scale < 2^63). The fixed-scale oracle no longer "
            "applies — call pagerank_scaled directly (auto scale) or "
            "regenerate the oracle at the resolved scale."
        )
    base = 15 * scale // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("r"))
    for _ in range(n_iter):
        contribs = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", F.expr("r div deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (F.lit(base) + F.expr("(85 * coalesce(s, 0)) div 100"))
                .cast("long")
                .alias("r"),
            )
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r") / F.lit(float(scale))).alias("rank"),
    )


def _oracle_iterations(n_iter: int = N_ITER) -> str:
    """Unrolled-CTE twin of pagerank_scaled: r{k} → c{k+1} → r{k+1},
    same integer ops in the same order."""
    parts = [
        "r0 AS (SELECT node, CAST(%d AS BIGINT) AS r FROM nodes)" % SCALE,
    ]
    for k in range(n_iter):
        parts.append(
            f"""c{k + 1} AS (
      SELECT e.dst, CAST(sum(r{k}.r // e.deg) AS BIGINT) AS s
      FROM ed e JOIN r{k} ON e.src = r{k}.node GROUP BY e.dst
    )"""
        )
        parts.append(
            f"""r{k + 1} AS (
      SELECT n.node,
             CAST({BASE} + (85 * coalesce(c{k + 1}.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c{k + 1} ON n.node = c{k + 1}.dst
    )"""
        )
    return ",\n    ".join(parts)


@query(
    "graph_pagerank",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b USING (l_orderkey)
      WHERE a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    {_oracle_iterations()}
    SELECT node, r AS rank_scaled, r / 1000000000000.0 AS rank
    FROM r{N_ITER}
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority score for every part in the co-purchase graph after
    {N_ITER} exact-integer PageRank iterations. require_scale pins the
    fixed-point scale the static oracle SQL was generated at: a corpus
    big enough to step the auto scale down fails fast with the cause
    instead of a bare value-hash mismatch (r8, verdict item #8)."""
    li = table(spark, sf_dir, "lineitem")
    return pagerank_scaled(copurchase_edges(li), require_scale=SCALE)


MIN_PAIR_SUPPORT = 5  # absolute co-occurrence floor for a rule


@query(
    "basket_association_rules",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
    item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS ante, b.l_partkey AS cons,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM li a JOIN li b USING (l_orderkey)
      WHERE a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.ante, p.cons, p.c_ab,
           CAST(p.c_ab AS DOUBLE) / n.n_orders AS support,
           CAST(p.c_ab AS DOUBLE) / ia.c AS confidence,
           (CAST(p.c_ab AS DOUBLE) * n.n_orders) / (ia.c * ic.c) AS lift
    FROM pairs p
    JOIN item ia ON p.ante = ia.l_partkey
    JOIN item ic ON p.cons = ic.l_partkey
    CROSS JOIN n
    WHERE p.c_ab >= {MIN_PAIR_SUPPORT}
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant's Apriori at
    the pairwise level): for part pairs co-purchased in ≥
    {MIN_PAIR_SUPPORT} orders, the support / confidence / lift
    triple — the recommendation/affinity statistic the co-purchase
    PageRank ranks globally and this op ranks PER RULE (lift > 1 ⇒
    genuinely associated, not just both popular). All three measures
    are exact integer ratios — both engines divide identical ints into
    identical doubles, so no rounding policy is needed anywhere.

    Scale: the pair census is the same basket-bounded k² expansion as
    copurchase_edges (here via the self-join because the COUNT per
    pair is needed, not the distinct edge); the item table is
    catalog-sized and broadcasts; the support floor prunes the rule
    tail before the joins. Same Apriori property as always: pairs
    below floor can never form higher-order rules, so this output is
    also the candidate generation for 3-itemsets."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    item = li.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("c"))
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("ante"), F.col("b.l_partkey").alias("cons")
        )
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= MIN_PAIR_SUPPORT)
    )
    ia = item.select(F.col("l_partkey").alias("ante"), F.col("c").alias("c_a"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("c").alias("c_c"))
    return (
        pairs.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            "c_ab",
            (F.col("c_ab").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("c_ab").cast("double") / F.col("c_a")).alias("confidence"),
            (
                (F.col("c_ab").cast("double") * F.col("n_orders"))
                / (F.col("c_a") * F.col("c_c"))
            ).alias("lift"),
        )
    )
