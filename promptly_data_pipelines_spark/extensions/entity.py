"""Entity resolution (record linkage): blocking → bounded fuzzy
match → transitive clustering → canonical records.

The reference has no ER surface (its dbt models dedup on exact keys
only); this composes the repo's existing scale-grade parts into the
classic Fellegi-Sunter-shaped pipeline every master-data/curation
system runs: a deterministic BLOCKING key bounds the candidate space
(never all-pairs), an edit-distance match rule scores candidates
inside each block, and connected components (extensions/dedup.py's
large-star/small-star — O(log n) rounds, no transitive closure
explosion) folds pairwise matches into entities with one canonical
survivor each.

Fixture dirt is planted deterministically from key arithmetic (the
join_fuzzy precedent, operators/joins.py:496): every 3rd customer
gains a 'Custmer' variant (distance 1), every 6th additionally a
'Kustomr' variant (distance 2 from the original but distance THREE
from the 'Custmer' sibling — no direct variant-variant edge, so
3-node clusters only form transitively through the original),
and every 5th an 'Xstmr' variant at distance ≥3 from the original
AND from both planted variants (keys divisible by 30 carry all three)
— it enters the block but must FAIL the ≤2 rule against every
sibling and resolve as its own entity: the false-positive control.

Scale design: the block key (the 9-digit id suffix, untouched by the
planted prefix typos) keys the only corpus-sized shuffle; per-block
candidate pairs are |block|² with small blocks — the universal ER
trade (recall lives in the blocking key, cost in the block size).
levenshtein runs JVM-side (codegen'd binary expression), the star
rounds are groupBy+join keyed by node id, and the canonical pick is
min-id — all partial-agg-safe. The DuckDB oracle mirrors the whole
pipeline with a recursive min-label closure (safe at oracle SF; the
Spark side keeps the closure-free star algorithm that survives
100 TB-scale cliques).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .dedup import connected_components

ER_MAX_DIST = 2  # match rule: levenshtein(name_a, name_b) <= 2


def _er_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer + planted typo variants, one frame of (rec_id, name,
    block): variants offset the key by 1/2/3 million per typo class so
    provenance is readable off the id.

    The offsets (and the ``rec_id % 1_000_000`` ground-truth grouping
    downstream) require every real custkey to sit below 1,000,000 —
    customer has 150k·SF rows, so SF ≥ ~6.7 would collide variant
    rec_ids with real keys and silently misattribute entities. The
    guard below makes that failure LOUD: it rides inside the name
    expression (so column pruning can't drop it) and raises per-row
    the moment an out-of-range key is scanned (r11 advice)."""
    guarded_name = F.when(
        F.col("c_custkey") >= 1_000_000,
        F.raise_error(
            F.concat(
                F.lit(
                    "ER fixture requires c_custkey < 1000000 "
                    "(variant rec_id offsets would collide); got "
                ),
                F.col("c_custkey").cast("string"),
            )
        ),
    ).otherwise(F.col("c_name"))
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", guarded_name.alias("c_name")
    )

    def variant(offset: int, typo: str, modulus: int):
        return c.where(F.col("c_custkey") % modulus == 0).select(
            (F.col("c_custkey") + offset).alias("rec_id"),
            F.regexp_replace("c_name", "Customer", typo).alias("name"),
        )

    records = (
        c.select(F.col("c_custkey").alias("rec_id"), F.col("c_name").alias("name"))
        .unionByName(variant(1_000_000, "Custmer", 3))
        .unionByName(variant(2_000_000, "Kustomr", 6))
        .unionByName(variant(3_000_000, "Xstmr", 5))
    )
    # the 9-digit id suffix survives every planted prefix typo — the
    # blocking key a real pipeline mines from the stable field
    return records.withColumn("block", F.substring("name", -9, 9))


@query(
    "er_resolve_customers",
    oracle="""
    WITH RECURSIVE records AS (
      SELECT c_custkey AS rec_id, c_name AS name FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, replace(c_name, 'Customer', 'Custmer')
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 2000000, replace(c_name, 'Customer', 'Kustomr')
      FROM customer WHERE c_custkey % 6 = 0
      UNION ALL
      SELECT c_custkey + 3000000, replace(c_name, 'Customer', 'Xstmr')
      FROM customer WHERE c_custkey % 5 = 0
    ), blocked AS (
      SELECT rec_id, name, right(name, 9) AS block FROM records
    ), pairs AS (
      SELECT a.rec_id AS u, b.rec_id AS v
      FROM blocked a JOIN blocked b
        ON a.block = b.block AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 2
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), comp AS (
      SELECT u AS rec_id, min(v) AS entity_id FROM reach GROUP BY u
    ), labeled AS (
      SELECT b.rec_id, b.name,
             coalesce(c.entity_id, b.rec_id) AS entity_id
      FROM blocked b LEFT JOIN comp c USING (rec_id)
    ), sized AS (
      SELECT entity_id, CAST(count(*) AS BIGINT) AS entity_size
      FROM labeled GROUP BY entity_id
    )
    SELECT l.rec_id, l.name, l.entity_id, s.entity_size,
           (l.rec_id = l.entity_id) AS is_canonical
    FROM labeled l JOIN sized s USING (entity_id)
    """,
)
def er_resolve_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ER composite: blocked candidate pairs under the ≤2
    edit-distance rule → star-algorithm components → entity ids (min
    rec_id per component; unmatched records are their own entity) →
    size + canonical flag per record. The distance-≥3 'Xstmr' plants
    must come back as singleton entities (the match rule's
    false-positive control), and every 6th customer's 3-node cluster
    must assemble even when one of its three pairwise edges is
    missing — A~B, B~C with A~C absent is exactly what the transitive
    clustering supplies."""
    records = _er_records(spark, sf_dir)
    return _label(records, _er_pairs(records, records, symmetric=True))


def _er_pairs(
    left: DataFrame, right: DataFrame, symmetric: bool = False
) -> DataFrame:
    """Blocked candidate pairs under the match rule, canonically
    ordered (doc_a < doc_b) and deduplicated — ``left`` may be a
    subset of ``right`` (the incremental path matches only the NEW
    batch against everything, so it must see pairs on BOTH sides of a
    new record's id and keeps the ``!=`` condition).

    r16 (optimization round, guide §2.3): pass ``symmetric=True`` when
    left IS right — the ``!=`` join emits every unordered pair twice
    ((A,B) and (B,A)), paying the levenshtein verify twice and
    shuffling twice the candidate rows into the dedup, only for
    least/greatest+dropDuplicates to collapse the mirror image.
    ``<`` emits each pair once; the canonical select and the
    dropDuplicates (still needed: two records can share several
    blocks) are unchanged, so the output pair set is identical."""
    a, b = left.alias("a"), right.alias("b")
    pair_cond = (
        F.col("a.rec_id") < F.col("b.rec_id")
        if symmetric
        else F.col("a.rec_id") != F.col("b.rec_id")
    )
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & pair_cond)
        .where(F.levenshtein(F.col("a.name"), F.col("b.name")) <= ER_MAX_DIST)
        .select(
            F.least("a.rec_id", "b.rec_id").alias("doc_a"),
            F.greatest("a.rec_id", "b.rec_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _label(records: DataFrame, edges: DataFrame) -> DataFrame:
    """Components over ``edges`` → (rec_id, name, entity_id,
    entity_size, is_canonical); records absent from the edge list are
    their own entity."""
    comp = connected_components(edges).withColumnsRenamed(
        {"doc_id": "rec_id", "cluster_rep": "entity_id"}
    )
    labeled = records.join(comp, "rec_id", "left").select(
        "rec_id",
        "name",
        F.coalesce("entity_id", "rec_id").alias("entity_id"),
    )
    sizes = labeled.groupBy("entity_id").agg(F.count("*").alias("entity_size"))
    return labeled.join(sizes, "entity_id").select(
        "rec_id",
        "name",
        "entity_id",
        "entity_size",
        (F.col("rec_id") == F.col("entity_id")).alias("is_canonical"),
    )


@query(
    "er_resolve_incremental",
    oracle="""
    WITH RECURSIVE records AS (
      SELECT c_custkey AS rec_id, c_name AS name FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, replace(c_name, 'Customer', 'Custmer')
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 2000000, replace(c_name, 'Customer', 'Kustomr')
      FROM customer WHERE c_custkey % 6 = 0
      UNION ALL
      SELECT c_custkey + 3000000, replace(c_name, 'Customer', 'Xstmr')
      FROM customer WHERE c_custkey % 5 = 0
    ), blocked AS (
      SELECT rec_id, name, right(name, 9) AS block FROM records
    ), pairs AS (
      SELECT a.rec_id AS u, b.rec_id AS v
      FROM blocked a JOIN blocked b
        ON a.block = b.block AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 2
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), comp AS (
      SELECT u AS rec_id, min(v) AS entity_id FROM reach GROUP BY u
    ), labeled AS (
      SELECT b.rec_id, b.name,
             coalesce(c.entity_id, b.rec_id) AS entity_id
      FROM blocked b LEFT JOIN comp c USING (rec_id)
    ), sized AS (
      SELECT entity_id, CAST(count(*) AS BIGINT) AS entity_size
      FROM labeled GROUP BY entity_id
    )
    SELECT l.rec_id, l.name, l.entity_id, s.entity_size,
           (l.rec_id = l.entity_id) AS is_canonical
    FROM labeled l JOIN sized s USING (entity_id)
    """,
)
def er_resolve_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental entity resolution == full re-resolution, proven by
    oracle: the ORIGINAL records resolve first (all singletons — no
    two originals share a block), then the typo variants arrive as a
    later batch. The incremental step matches ONLY the new batch
    against (base ∪ new) — cost bounded by the delta, the property
    that makes nightly MDM runs affordable — and feeds the star
    rounds the union of (a) the prior assignment rendered as
    rep→member edges and (b) the new candidate pairs. Prior-membership
    edges reproduce exactly the base components' connectivity, so
    components of (prior edges ∪ new edges) equal components of the
    full pair graph — the oracle is literally er_resolve_customers',
    a from-scratch resolution over everything. Exercises the
    singleton→cluster transition (base records get absorbed into
    entities they could not have known about) and keeps entity ids
    stable (min rec_id is batch-order-independent)."""
    records = _er_records(spark, sf_dir)
    base = records.where(F.col("rec_id") < 1_000_000)
    new = records.where(F.col("rec_id") >= 1_000_000)
    prior = _label(base, _er_pairs(base, base, symmetric=True))
    prior_edges = prior.where(F.col("rec_id") != F.col("entity_id")).select(
        F.col("entity_id").alias("doc_a"), F.col("rec_id").alias("doc_b")
    )
    new_edges = _er_pairs(new, records)
    return _label(records, prior_edges.unionByName(new_edges))


@query(
    "er_blocking_metrics",
    oracle="""
    WITH records AS (
      SELECT c_custkey AS rec_id, c_name AS name FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, replace(c_name, 'Customer', 'Custmer')
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 2000000, replace(c_name, 'Customer', 'Kustomr')
      FROM customer WHERE c_custkey % 6 = 0
      UNION ALL
      SELECT c_custkey + 3000000, replace(c_name, 'Customer', 'Xstmr')
      FROM customer WHERE c_custkey % 5 = 0
    ), blocked AS (
      SELECT rec_id, name, right(name, 9) AS block FROM records
    ), counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM blocked
    ), truth AS (
      -- ground truth: records sharing an original key are one entity
      SELECT CAST(SUM(m * (m - 1) / 2) AS BIGINT) AS n_true_pairs
      FROM (SELECT rec_id % 1000000 AS k, COUNT(*) AS m FROM blocked GROUP BY k)
    ), cand AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM blocked a JOIN blocked b
        ON a.block = b.block AND a.rec_id < b.rec_id
    ), matched AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
             CAST(SUM(CASE WHEN a.rec_id % 1000000 = b.rec_id % 1000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_true_matched
      FROM blocked a JOIN blocked b
        ON a.block = b.block AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 2
    )
    SELECT n_records, n_true_pairs, n_candidates, n_matched, n_true_matched,
           CAST(n_true_matched AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)
             AS pairs_completeness,
           1.0 - CAST(n_candidates AS DOUBLE)
             / (CAST(n_records AS DOUBLE) * CAST(n_records - 1 AS DOUBLE) / 2.0)
             AS reduction_ratio
    FROM counts CROSS JOIN truth CROSS JOIN cand CROSS JOIN matched
    """,
)
def er_blocking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard ER evaluation pair: REDUCTION RATIO (how much of
    the n·(n−1)/2 comparison space the blocking key eliminated) and
    PAIRS COMPLETENESS (what fraction of ground-truth pairs the
    blocking+match rule recovered — the fixture's provenance makes
    truth exact: records sharing an original key are one entity, so
    the unrecoverable distance-≥3 'Xstmr' plants show up here as the
    honest completeness shortfall, not a silent 1.0). Completeness
    counts matched∩true — n_true_matched, not n_matched — so a
    false-positive match can never inflate it (r11 advice). One row of
    counts plus two exact-double ratios (divisions of exact integers,
    identically associated in both engines). Plan: three independent
    1-row aggregates crossJoined broadcast — the block-keyed candidate
    join is the only non-trivial shuffle, same shape as the resolver
    itself."""
    records = _er_records(spark, sf_dir)
    counts = records.agg(F.count("*").cast("long").alias("n_records"))
    truth = (
        records.groupBy((F.col("rec_id") % 1_000_000).alias("k"))
        .agg(F.count("*").alias("m"))
        .agg(
            F.sum((F.col("m") * (F.col("m") - 1) / 2).cast("long"))
            .cast("long")
            .alias("n_true_pairs")
        )
    )
    a, b = records.alias("a"), records.alias("b")
    blocked = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.rec_id") < F.col("b.rec_id")),
    )
    cand = blocked.agg(F.count("*").cast("long").alias("n_candidates"))
    # completeness must count matched ∩ TRUE pairs, not all matched
    # pairs: a false-positive match would otherwise inflate the metric
    # past its real value (r11 advice — exact before only because this
    # fixture's block key is unique per origin key)
    is_true_pair = (F.col("a.rec_id") % 1_000_000) == (F.col("b.rec_id") % 1_000_000)
    matched = blocked.where(
        F.levenshtein(F.col("a.name"), F.col("b.name")) <= ER_MAX_DIST
    ).agg(
        F.count("*").cast("long").alias("n_matched"),
        F.sum(F.when(is_true_pair, 1).otherwise(0))
        .cast("long")
        .alias("n_true_matched"),
    )
    out = (
        counts.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(matched))
    )
    n_d = F.col("n_records").cast("double")
    # ANSI mode makes / throw on a zero divisor (even for doubles), so
    # the degenerate corpora the empty-tables sweep feeds get explicit
    # NULL ratios; real corpora never hit either guard
    completeness = F.when(
        F.col("n_true_pairs") > 0,
        F.col("n_true_matched").cast("double") / F.col("n_true_pairs").cast("double"),
    )
    reduction = F.when(
        F.col("n_records") >= 2,
        F.lit(1.0)
        - F.col("n_candidates").cast("double")
        / (n_d * (F.col("n_records") - 1).cast("double") / F.lit(2.0)),
    )
    return out.select(
        "n_records",
        "n_true_pairs",
        "n_candidates",
        "n_matched",
        "n_true_matched",
        completeness.alias("pairs_completeness"),
        reduction.alias("reduction_ratio"),
    )


@query(
    "er_golden_records",
    oracle="""
    WITH RECURSIVE records AS (
      SELECT c_custkey AS rec_id, c_name AS name FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, replace(c_name, 'Customer', 'Custmer')
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 2000000, replace(c_name, 'Customer', 'Kustomr')
      FROM customer WHERE c_custkey % 6 = 0
      UNION ALL
      SELECT c_custkey + 3000000, replace(c_name, 'Customer', 'Xstmr')
      FROM customer WHERE c_custkey % 5 = 0
    ), blocked AS (
      SELECT rec_id, name, right(name, 9) AS block FROM records
    ), pairs AS (
      SELECT a.rec_id AS u, b.rec_id AS v
      FROM blocked a JOIN blocked b
        ON a.block = b.block AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 2
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), comp AS (
      SELECT u AS rec_id, min(v) AS entity_id FROM reach GROUP BY u
    ), labeled AS (
      SELECT b.rec_id, b.name,
             coalesce(c.entity_id, b.rec_id) AS entity_id
      FROM blocked b LEFT JOIN comp c USING (rec_id)
    ), ranked AS (
      SELECT entity_id, rec_id, name,
             row_number() OVER (
               PARTITION BY entity_id
               ORDER BY len(name) DESC, name ASC, rec_id ASC
             ) AS rk
      FROM labeled
    )
    SELECT l.entity_id,
           max(CASE WHEN r.rk = 1 THEN r.name END) AS golden_name,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(DISTINCT l.name) AS BIGINT) AS n_distinct_names,
           string_agg(l.name, '|' ORDER BY l.name) AS member_names
    FROM labeled l JOIN ranked r ON l.entity_id = r.entity_id AND r.rk = 1
    GROUP BY l.entity_id
    """,
)
def er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the step after resolution in every MDM pipeline:
    ONE golden record per entity, its fields chosen by a declared,
    deterministic rule rather than arrival luck. Rule here: longest
    name wins, ties break lexicographically then by rec_id (on the
    fixture that surfaces the untruncated original over its typo
    variants, and each Xstmr singleton survives as itself — both
    asserted in tests/test_entity.py). Emits per entity: golden_name,
    member count, distinct-name count, and the sorted member-name
    roster (deterministic string_agg/array_join).

    Scale: rides the resolver's output — one row_number window and one
    agg, both keyed by entity_id (cluster-sized groups, the same key
    the components step already shuffled by)."""
    labeled = er_resolve_customers(spark, sf_dir).select("entity_id", "rec_id", "name")
    w = Window.partitionBy("entity_id").orderBy(
        F.length("name").desc(), F.col("name").asc(), F.col("rec_id").asc()
    )
    golden = (
        labeled.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("entity_id", F.col("name").alias("golden_name"))
    )
    rollup = labeled.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.count_distinct("name").cast("long").alias("n_distinct_names"),
        F.array_join(F.array_sort(F.collect_list("name")), "|").alias("member_names"),
    )
    return golden.join(rollup, "entity_id").select(
        "entity_id", "golden_name", "n_members", "n_distinct_names", "member_names"
    )
