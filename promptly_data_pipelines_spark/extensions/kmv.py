"""KMV / theta distinct sketches with SET ALGEBRA (union, intersection,
difference) — the distinct-count capability HLL cannot provide.

The repo's HLL rollup (operators/aggregates.py, agg_hll_sketch_rollup)
answers "how many distinct per coarser group" by merging per-fine-group
HLL sketches — but HLL merge is UNION-ONLY: "how many distinct users did
BOTH the click and the purchase segment see" has no HLL answer short of
re-scanning rows. The standard production tool is the theta/KMV sketch
(Beyer et al., "On Synopses for Distinct-Value Estimation Under Multiset
Operations", SIGMOD'07; the Apache DataSketches theta family): keep the
k smallest DISTINCT hash values of the key; the k-th smallest hash
("theta") estimates density, and because the retained values are an
actual uniform SAMPLE of the key space, two sketches can be intersected
or differenced sample-wise and rescaled — set algebra from kilobytes.

Estimator (hash domain = 60-bit md5 slice, theta in hash units):

- |X| >= k:  theta_X = k-th smallest hash;  est = (k-1) * 2^60 / theta
- |X| <  k:  the sketch holds EVERY distinct hash — exact, theta = 2^60
- set ops:   theta = min(theta_A, theta_B); S' = sketch entries < theta;
             est(op) = |S'_A op S'_B| * 2^60 / theta

Everything above is a pure function of md5, so — like the repo's
md5-slice sampled estimator (sampling.py:sample_estimate_totals) — the
whole sketch, its theta, and every estimate are DETERMINISTIC and
cross-engine reproducible: the DuckDB oracles below compute the
identical sketch in SQL and the driver value-hash-compares estimates
exactly (floor() of an IEEE double both engines derive from the same
integer inputs with the same literal constant and operation order).
That makes this one of the few sketch families in the repo with a FULL
value oracle rather than a rows-only check; accuracy vs the true
cardinality is asserted separately in tests/test_kmv.py with the
1/sqrt(k) relative-error contract.

Spark shapes (the 100 TB posture):

- ``kmv_sketch`` — the declarative form: distinct (group, hash) with
  map-side combine, then a per-group window keeping the k smallest.
  Correct, but the window co-locates ALL distinct hashes of a group
  on one task — a billion-distinct group sorts a billion rows.
- ``kmv_sketch_partials`` + ``kmv_merge`` — the mergeable form this
  module exists for (mirrors quantiles.py's partials/rollup): one
  mapInPandas pass emits a <=k-entry partial per (arrow batch x
  group); applyInPandas merges partials per group by sorted-unique +
  truncate. Every intermediate is bounded at k int64s, the merge
  shuffles SKETCHES (kilobytes) instead of rows, and the result is
  BIT-EQUAL to the declarative form (asserted in tests/test_kmv.py)
  because k-smallest-distinct is an associative, order-insensitive
  reduction.

No counterpart in the reference (its engine delegates distinct counts
to Trino's approx_distinct, union-only like HLL); this module is part
of the beyond-reference scale tier alongside the MRL quantile store.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

KMV_K = 256  # retained minima per sketch: ~1/sqrt(k) ≈ 6% relative error
POW2_60 = float(1 << 60)  # hash-domain size as an EXACT double literal
_HASH_BITS_HEX = 15  # 15 hex chars = 60 bits < int64, parseable by both engines


def kmv_hash(col: Column) -> Column:
    """Uniform 60-bit hash of a key, identical in Spark and DuckDB:
    the first 15 hex chars of md5(cast(key as string)) parsed base-16.
    60 bits keeps the value inside BIGINT on both engines (DuckDB's
    '0x' || substr(...) cast and Spark's conv(...) agree digit for
    digit)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, _HASH_BITS_HEX), 16, 10
    ).cast("bigint")


def _user_day(df: DataFrame) -> Column:
    """The sketch key for the events-table queries: 'user/day' activity
    grain, built with concat_ws so Spark and the DuckDB || chain render
    bigint and date identically."""
    return F.concat_ws(
        "/",
        F.col("user_id"),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"),
    )


# ---------------------------------------------------------------------------
# sketch builders
# ---------------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame, group_cols: Sequence[str], key: Column, k: int = KMV_K
) -> DataFrame:
    """Declarative KMV: k smallest distinct ``kmv_hash(key)`` per group
    as a sorted array<bigint> column ``hashes``. distinct() gets
    map-side partial aggregation for free; the row_number window then
    sorts each group's distinct hashes on a single task — fine when
    groups have modest distinct counts, the scale path for huge groups
    is kmv_sketch_partials + kmv_merge (bit-equal result)."""
    from pyspark.sql.window import Window

    # NULL keys hash to NULL: without this filter the NULL sorts first
    # (NULLS FIRST), consumes a top-k slot, and collect_list then drops
    # it — a silently SHRUNK sketch that can flip the estimator into
    # its exact branch (r13 review finding). Dropping NULLs is also
    # the semantics COUNT(DISTINCT key) has in SQL.
    hashes = (
        df.select(*group_cols, kmv_hash(key).alias("hv"))
        .where(F.col("hv").isNotNull())
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("hv")).alias("hashes"))
    )


def kmv_sketch_partials(
    df: DataFrame, group_cols: Sequence[str], key: Column, k: int = KMV_K
) -> DataFrame:
    """Mergeable form, stage 1: one mapInPandas pass emitting a
    <=k-entry partial sketch per (arrow batch x group). Bounded output
    — k int64s per group per batch — regardless of input size; no
    shuffle happens here at all (narrow dependency)."""
    gcols = list(group_cols)
    # same NULL-key exclusion as kmv_sketch — and load-bearing here:
    # a NULL hv reaches pandas as NaN in a float64 column and the
    # int64 cast below raises mid-job (the two forms must agree on
    # nullable keys, not fail differently)
    src = df.select(*gcols, kmv_hash(key).alias("hv")).where(
        F.col("hv").isNotNull()
    )
    schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema.fields[:-1]
    )
    out_schema = f"{schema_ddl}, hashes array<bigint>"

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for gkey, grp in pdf.groupby(gcols, dropna=False, sort=True):
                if not isinstance(gkey, tuple):
                    gkey = (gkey,)
                hv = np.unique(grp["hv"].to_numpy(dtype=np.int64))[:k]
                rows.append((*gkey, hv.tolist()))
            yield pd.DataFrame(rows, columns=gcols + ["hashes"])

    return src.mapInPandas(partials, out_schema)


def kmv_merge(
    partials: DataFrame, group_cols: Sequence[str], k: int = KMV_K
) -> DataFrame:
    """Mergeable form, stage 2: union partial sketches per group into
    the final k-smallest-distinct sketch. Shuffles kilobyte arrays
    keyed by group — never rows. sorted-unique + truncate is
    associative and order-insensitive, so the result is bit-equal to
    kmv_sketch regardless of partial arrival order."""
    gcols = list(group_cols)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = np.unique(np.concatenate([np.asarray(h, dtype=np.int64) for h in pdf["hashes"]]))[:k]
        head = pdf.iloc[[0]][gcols].reset_index(drop=True)
        head["hashes"] = [merged.tolist()]
        return head

    return partials.groupBy(*gcols).applyInPandas(merge, partials.schema)


def kmv_estimate(sketch: DataFrame, k: int = KMV_K) -> DataFrame:
    """Attach the KMV estimator columns to a sketch frame:
    ``sketch_size`` (= min(k, n_distinct)), ``theta`` (k-th smallest
    hash, or 2^60 when the group is exact), ``est_distinct``. The
    floor() of a double both engines compute from identical integer
    inputs in the identical order — the cross-engine-stable way to
    publish a float-derived count."""
    size = F.size("hashes")
    theta = F.when(size >= k, F.element_at("hashes", k)).otherwise(
        F.lit(1 << 60).cast("bigint")
    )
    est = F.when(size >= k, F.floor(F.lit(float(k - 1)) * F.lit(POW2_60) / F.col("theta"))).otherwise(
        size.cast("bigint")
    )
    return sketch.withColumn("sketch_size", size).withColumn("theta", theta).withColumn(
        "est_distinct", est.cast("bigint")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

_KMV_HASH_SQL = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '/' || "
    "strftime(date_trunc('day', ts), '%Y-%m-%d')), 1, 15)) AS BIGINT)"
)


@query(
    "agg_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {_KMV_HASH_SQL} AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS INTEGER) AS sketch_size,
             CASE WHEN count(*) >= {KMV_K} THEN max(hv)
                  ELSE CAST(1152921504606846976 AS BIGINT) END AS theta
      FROM r WHERE rn <= {KMV_K} GROUP BY event_type
    )
    SELECT event_type, sketch_size, theta,
           CASE WHEN sketch_size >= {KMV_K}
                THEN CAST(floor({float(KMV_K - 1)} * {POW2_60!r} / theta) AS BIGINT)
                ELSE CAST(sketch_size AS BIGINT) END AS est_distinct
    FROM s ORDER BY event_type
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active user-days per event segment, answered by a
    k=256 KMV sketch instead of an exact COUNT(DISTINCT). The oracle
    replays the identical deterministic sketch in SQL, so this
    approximate operator is FULL value-hash checked (estimate bits and
    all); the estimate-vs-truth accuracy contract lives in
    tests/test_kmv.py. At 100 TB the win is the mergeable form (see
    module docstring): per-partition <=k partials, kilobyte merges,
    and any segment rollup answered without re-touching rows."""
    ev = table(spark, sf_dir, "events")
    sketch = kmv_sketch(ev, ["event_type"], _user_day(ev))
    return (
        kmv_estimate(sketch)
        .select("event_type", "sketch_size", "theta", "est_distinct")
        .orderBy("event_type")
    )


_KMV_SEGMENT_SKETCH_SQL = f"""
    h AS (
      SELECT DISTINCT event_type, {_KMV_HASH_SQL} AS hv
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_distinct
      FROM h
    ),
    sk AS (
      SELECT event_type, hv,
             CASE WHEN max(n_distinct) OVER (PARTITION BY event_type) >= {KMV_K}
                  THEN max(CASE WHEN rn = {KMV_K} THEN hv END)
                       OVER (PARTITION BY event_type)
                  ELSE CAST(1152921504606846976 AS BIGINT) END AS theta
      FROM r WHERE rn <= {KMV_K}
    ),
    th AS (SELECT min(theta) AS theta FROM sk),
    a AS (SELECT hv FROM sk, th WHERE event_type = 'click' AND hv < th.theta),
    b AS (SELECT hv FROM sk, th WHERE event_type = 'purchase' AND hv < th.theta)
"""


@query(
    "agg_kmv_set_ops",
    oracle=f"""
    WITH {_KMV_SEGMENT_SKETCH_SQL},
    counts AS (
      SELECT
        (SELECT count(*) FROM a) AS n_a,
        (SELECT count(*) FROM b) AS n_b,
        (SELECT count(*) FROM a WHERE hv IN (SELECT hv FROM b)) AS n_inter,
        (SELECT theta FROM th) AS theta
    )
    SELECT
      CAST(theta AS BIGINT) AS theta,
      CAST(n_a + n_b - n_inter AS INTEGER) AS union_sample,
      CAST(n_inter AS INTEGER) AS inter_sample,
      CAST(n_a - n_inter AS INTEGER) AS diff_sample,
      CAST(floor((n_a + n_b - n_inter) * {POW2_60!r} / theta) AS BIGINT) AS est_union,
      CAST(floor(n_inter * {POW2_60!r} / theta) AS BIGINT) AS est_intersection,
      CAST(floor((n_a - n_inter) * {POW2_60!r} / theta) AS BIGINT) AS est_difference
    FROM counts
    """,
)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA: distinct user-days in click UNION /
    INTERSECT / MINUS purchase, estimated from the two 256-entry
    sketches alone — the question HLL structurally cannot answer and
    the reason this sketch family exists. Mechanics: clip both
    sketches to theta = min(theta_a, theta_b); below theta each sketch
    is a uniform distinct-key sample, so sample-wise set ops rescaled
    by 2^60/theta estimate the true op cardinalities (SIGMOD'07 KMV
    multiset estimator). The whole computation after the two k-entry
    sketches is DRIVER-SIZED (arrays of <=256 int64s), which is the
    point: at 100 TB the segments never co-shuffle — each builds its
    kilobyte sketch via the mergeable path and the set algebra runs on
    sketches. Oracle replays it exactly in SQL; truth-accuracy is
    contract-tested in tests/test_kmv.py."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    sketch = kmv_estimate(kmv_sketch(ev, ["event_type"], _user_day(ev)))
    # theta-clip: entries strictly below min(theta) are a shared-rate
    # uniform sample of each segment's key space
    theta = sketch.agg(F.min("theta").alias("theta_min"))
    clipped = (
        sketch.crossJoin(F.broadcast(theta))
        .select(
            "event_type",
            F.col("theta_min").alias("theta"),
            F.filter("hashes", lambda h: h < F.col("theta_min")).alias("sample"),
        )
    )
    # ONE aggregate over the (<=2-row) clipped frame, so the output is
    # exactly one row even when a segment — or both — is empty at some
    # SF, mirroring the oracle's always-one-row counts CTE (r13 ADVICE:
    # the previous a.crossJoin(b) form returned ZERO rows if either
    # side was empty, a confusing parity failure waiting for a sparse
    # fixture). An absent segment contributes an empty sample (its
    # scalar-subquery count in the oracle is 0); an entirely absent
    # pair leaves theta NULL and the estimates NULL, as the oracle does.
    empty = F.array().cast("array<bigint>")
    sides = clipped.agg(
        F.coalesce(
            F.first(
                F.when(F.col("event_type") == "click", F.col("sample")),
                ignorenulls=True,
            ),
            empty,
        ).alias("sa"),
        F.coalesce(
            F.first(
                F.when(F.col("event_type") == "purchase", F.col("sample")),
                ignorenulls=True,
            ),
            empty,
        ).alias("sb"),
        F.min("theta").alias("theta"),
    )
    inter_size = F.size(F.array_intersect("sa", "sb"))
    union_size = F.size(F.array_union("sa", "sb"))
    diff_size = F.size(F.array_except("sa", "sb"))

    def est(n: Column) -> Column:
        # multiply-then-divide, EXACTLY the oracle's operation order:
        # n * 2^60 is exact in a double for n <= 512, so the whole
        # expression carries ONE rounding. The divide-then-multiply
        # form ((2^60/theta) first) rounds twice and was numerically
        # confirmed to disagree with the oracle's floor on thousands
        # of (n, theta) pairs (r13 review finding).
        return F.floor(n * F.lit(POW2_60) / F.col("theta")).cast("bigint")

    return sides.select(
        F.col("theta").cast("bigint").alias("theta"),
        union_size.alias("union_sample"),
        inter_size.alias("inter_sample"),
        diff_size.alias("diff_sample"),
        est(union_size).alias("est_union"),
        est(inter_size).alias("est_intersection"),
        est(diff_size).alias("est_difference"),
    )


@query(
    "agg_kmv_rollup",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {_KMV_HASH_SQL} AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    seg AS (SELECT event_type, hv FROM r WHERE rn <= {KMV_K}),
    roll AS (
      SELECT DISTINCT hv FROM seg
      ORDER BY hv LIMIT {KMV_K}
    ),
    s AS (
      SELECT CAST(count(*) AS INTEGER) AS sketch_size,
             CASE WHEN count(*) >= {KMV_K} THEN max(hv)
                  ELSE CAST(1152921504606846976 AS BIGINT) END AS theta
      FROM roll
    )
    SELECT '__total__' AS segment, sketch_size, theta,
           CASE WHEN sketch_size >= {KMV_K}
                THEN CAST(floor({float(KMV_K - 1)} * {POW2_60!r} / theta) AS BIGINT)
                ELSE CAST(sketch_size AS BIGINT) END AS est_distinct
    FROM s
    """,
)
def agg_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-only rollup: corpus-wide distinct user-days estimated by
    MERGING the five per-segment KMV sketches — k smallest of the
    union of the retained minima IS the KMV sketch of the union of
    the segments (the mergeability theorem the family rests on) — so
    the all-segments answer is computed from ~5·k int64s without
    re-touching a single row. This is the day→month→all-time serving
    shape dq_sketch_serving_rollup proves for quantiles, now for
    distinct counts WITH set algebra available at every level; the
    oracle replays the identical merge in SQL (full value-hash check,
    estimate bits included), and tests/test_kmv.py separately pins
    merge == from-scratch-sketch bit-equality."""
    ev = table(spark, sf_dir, "events")
    sketch = kmv_sketch(ev, ["event_type"], _user_day(ev))
    merged = (
        sketch.select(F.explode("hashes").alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(KMV_K)
        .agg(F.array_sort(F.collect_list("hv")).alias("hashes"))
        .select(F.lit("__total__").alias("segment"), "hashes")
    )
    return kmv_estimate(merged).select(
        "segment", "sketch_size", "theta", "est_distinct"
    )


def build_kmv_stream_store(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Feed the events table through the REAL streaming engine into a
    batch_id-keyed KMV partial-sketch store and return the store path.
    Shared by stream_exec_kmv_sketch (segment estimates) and
    kmv_serving_overlap_matrix (segment-pair set algebra), which pass
    the SAME tag so the second caller in a session reuses the drained
    store (a ``_COMPLETE`` marker, written only after the stream fully
    drains, gates reuse — a crash mid-drain leaves no marker and the
    next caller rebuilds from scratch). Reuse is safe because the
    source table is immutable for a given sf_dir and the merged sketch
    is bit-equal to the batch sketch however the engine batched the
    input (KMV's merged value is batching-independent; see
    stream_exec_kmv_sketch)."""
    import os

    from ..cdc.staging import drain_partial_store, fresh_staging_dir, staging_base

    base = staging_base(spark, sf_dir, tag)
    store = os.path.join(base, "store")
    marker = os.path.join(base, "_COMPLETE")
    if os.path.exists(marker) and os.path.exists(store):
        return store
    ev = table(spark, sf_dir, "events")
    store = drain_partial_store(
        ev.select("event_type", _user_day(ev).alias("ud")),
        fresh_staging_dir(spark, sf_dir, tag),
        lambda batch_df, _batch_id: kmv_sketch_partials(
            batch_df, ["event_type"], F.col("ud")
        ),
    )
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write("drained")
    return store


@query(
    "stream_exec_kmv_sketch",
    # the SAME oracle as agg_kmv_distinct: the streaming-fed merge is
    # provably batching-independent, so unlike every other streaming
    # sketch query this one carries a FULL value-hash oracle
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {_KMV_HASH_SQL} AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS INTEGER) AS sketch_size,
             CASE WHEN count(*) >= {KMV_K} THEN max(hv)
                  ELSE CAST(1152921504606846976 AS BIGINT) END AS theta
      FROM r WHERE rn <= {KMV_K} GROUP BY event_type
    )
    SELECT event_type, sketch_size, theta,
           CASE WHEN sketch_size >= {KMV_K}
                THEN CAST(floor({float(KMV_K - 1)} * {POW2_60!r} / theta) AS BIGINT)
                ELSE CAST(sketch_size AS BIGINT) END AS est_distinct
    FROM s ORDER BY event_type
    """,
)
def stream_exec_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch store fed by the REAL streaming engine — and,
    uniquely among the repo's streaming sketch queries, FULLY
    value-hash oracle-checked: k-smallest-distinct is an associative,
    idempotent, duplicate-insensitive reduction over a deterministic
    hash, so the merged store is bit-equal to the batch sketch NO
    MATTER how the engine batched the input (the quantile twin can
    only promise partial-set determinism; KMV's merged VALUE is
    batching-independent outright). Mechanics mirror
    stream_exec_quantile_sketch: ``cdc.staging.drain_partial_store``
    lands per-batch bounded partials under batch_id-keyed overwrite
    paths (idempotent under at-least-once replay), and the answer is
    kmv_merge + estimator over the SKETCH STORE — the raw rows are
    never retained. At 100 TB this is the distinct-count
    serving loop: ingest writes kilobyte partials per trigger; any
    segment/rollup/set-algebra question reads sketches only."""
    store = build_kmv_stream_store(spark, sf_dir, "kmv_store")
    partials = spark.read.parquet(store).select("event_type", "hashes")
    return (
        kmv_estimate(kmv_merge(partials, ["event_type"]))
        .select("event_type", "sketch_size", "theta", "est_distinct")
        .orderBy("event_type")
    )


def kmv_overlap_matrix(sketches: DataFrame, seg_col: str, k: int = KMV_K) -> DataFrame:
    """Segment-pair overlap matrix from merged KMV sketches ALONE —
    the standard theta-sketch product (pairwise Jaccard / overlap
    coefficient / intersection estimates across every pair of
    segments, no raw rows touched). For each ordered pair (a < b):
    clip both sketches to theta = min(theta_a, theta_b); below theta
    each retained-minima set is a same-rate uniform distinct sample,
    so sample-set algebra estimates the pair's true overlap (SIGMOD'07
    KMV multiset estimator, the agg_kmv_set_ops mechanics generalized
    to all pairs). Input is one sketch row per segment (<= a handful),
    so the pairwise self-join is a broadcast nested loop over a
    driver-sized frame — at 100 TB the entire matrix costs kilobytes
    no matter how many rows built the sketches."""
    est = kmv_estimate(sketches, k)
    a = est.select(
        F.col(seg_col).alias("seg_a"),
        F.col("hashes").alias("ha"),
        F.col("theta").alias("ta"),
    )
    b = est.select(
        F.col(seg_col).alias("seg_b"),
        F.col("hashes").alias("hb"),
        F.col("theta").alias("tb"),
    )
    theta = F.least("ta", "tb")
    pairs = (
        a.join(b, F.col("seg_a") < F.col("seg_b"))
        .select(
            "seg_a",
            "seg_b",
            theta.alias("theta"),
            F.filter("ha", lambda h: h < theta).alias("sa"),
            F.filter("hb", lambda h: h < theta).alias("sb"),
        )
    )
    n_a, n_b = F.size("sa"), F.size("sb")
    n_inter = F.size(F.array_intersect("sa", "sb"))
    n_union = n_a + n_b - n_inter

    def est_count(n):
        # multiply-then-divide: the oracle's exact operation order
        # (one rounding; see agg_kmv_set_ops' r13 float-parity note)
        return F.floor(n * F.lit(POW2_60) / F.col("theta")).cast("bigint")

    return pairs.select(
        "seg_a",
        "seg_b",
        F.col("theta").cast("bigint").alias("theta"),
        n_inter.alias("inter_sample"),
        n_union.alias("union_sample"),
        F.round(n_inter / F.nullif(n_union.cast("double"), F.lit(0.0)), 6).alias(
            "jaccard"
        ),
        F.round(
            n_inter / F.nullif(F.least(n_a, n_b).cast("double"), F.lit(0.0)), 6
        ).alias("overlap_coef"),
        est_count(n_inter).alias("est_intersection"),
        est_count(n_union).alias("est_union"),
    ).orderBy("seg_a", "seg_b")


@query(
    "kmv_serving_overlap_matrix",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {_KMV_HASH_SQL} AS hv FROM events
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    ent AS (SELECT event_type, hv FROM r WHERE rn <= {KMV_K}),
    th AS (
      SELECT event_type,
             CASE WHEN count(*) >= {KMV_K} THEN max(hv)
                  ELSE CAST(1152921504606846976 AS BIGINT) END AS theta
      FROM ent GROUP BY event_type
    ),
    p AS (
      SELECT a.event_type AS seg_a, b.event_type AS seg_b,
             least(a.theta, b.theta) AS theta
      FROM th a JOIN th b ON a.event_type < b.event_type
    ),
    cnt AS (
      SELECT p.seg_a, p.seg_b, p.theta,
             (SELECT count(*) FROM ent e
               WHERE e.event_type = p.seg_a AND e.hv < p.theta) AS n_a,
             (SELECT count(*) FROM ent e
               WHERE e.event_type = p.seg_b AND e.hv < p.theta) AS n_b,
             (SELECT count(*) FROM ent e1
               WHERE e1.event_type = p.seg_a AND e1.hv < p.theta
                 AND e1.hv IN (SELECT e2.hv FROM ent e2
                                WHERE e2.event_type = p.seg_b)) AS n_inter
      FROM p
    )
    SELECT seg_a, seg_b, CAST(theta AS BIGINT) AS theta,
           CAST(n_inter AS INTEGER) AS inter_sample,
           CAST(n_a + n_b - n_inter AS INTEGER) AS union_sample,
           round(n_inter / nullif(CAST(n_a + n_b - n_inter AS DOUBLE), 0), 6)
             AS jaccard,
           round(n_inter / nullif(CAST(least(n_a, n_b) AS DOUBLE), 0), 6)
             AS overlap_coef,
           CAST(floor(n_inter * {POW2_60!r} / theta) AS BIGINT)
             AS est_intersection,
           CAST(floor((n_a + n_b - n_inter) * {POW2_60!r} / theta) AS BIGINT)
             AS est_union
    FROM cnt ORDER BY seg_a, seg_b
    """,
)
def kmv_serving_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV completes its serving story (r13 verdict #5): the full
    segment-pair Jaccard / overlap-ratio matrix answered from the
    STREAM-FED SKETCH STORE ALONE — build_kmv_stream_store lands
    batch_id-keyed partials via the real engine's foreachBatch, and
    every pairwise set-algebra question ("how much does click
    audience overlap purchase audience?") is then answered from
    <= 5 x 256 persisted int64s without re-touching a row: the
    quantile store's day->month->all-time rollup
    (dq_sketch_serving_rollup), for distinct counts WITH set algebra.
    Because the deterministic md5 hash family makes the merged store
    bit-equal to the batch sketch, even this serving product carries
    a FULL DuckDB value oracle (the SQL replays sketch -> pairwise
    clip -> sample algebra exactly); serving == direct-computation is
    separately pinned in tests/test_kmv.py."""
    store = build_kmv_stream_store(spark, sf_dir, "kmv_store")
    partials = spark.read.parquet(store).select("event_type", "hashes")
    return kmv_overlap_matrix(kmv_merge(partials, ["event_type"]), "event_type")
