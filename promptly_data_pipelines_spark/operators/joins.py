"""Joins (SURVEY.md §2c).

The reference's join surface: a left equi-join of curated facts onto a
tiny dim (curated_provider.sql:66-68, care_site = 8 rows —
datagen.py:46-55), the mandated CSV⋈Postgres inner merge
(CHALLENGE.md:36-39), and dbt's relationships test, which is a left
anti join (schema.yaml:34-37). Scale posture: dims (region/nation and
anything < broadcast threshold) are explicitly ``F.broadcast`` — no
shuffle of the fact side; the star join leaves lineitem partitioning
untouched and lets AQE pick broadcast for every dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import ts_str
from ..registry import query


@query(
    "join_left_equi",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name, r.r_name AS region_name
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_left_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left outer equi-join fact→dim (curated_provider.sql:66-68).
    Both dims are broadcast — the customer side never shuffles."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


@query(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: inner equi-join — the CSV⋈Postgres provider merge shape
    (CHALLENGE.md:36-39). Filter precedes the join so pushdown shrinks
    the probe side before any shuffle."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    ANTI JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left anti join — exactly what dbt's ``relationships`` test
    compiles to (schema.yaml:34-37): children with no parent."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_semi",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    SEMI JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left semi join (existence filter) — dual of J3."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment,
           n.n_name AS nation_name, r.r_name AS region_name
    FROM orders o
    JOIN customer c      ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2 composite (driver row for the equi-join family; singles
    above are local-only): the CSV⋈Postgres inner merge
    (CHALLENGE.md:36-39) enriched by left joins onto tiny dims
    (curated_provider.sql:66-68). The status filter precedes the join
    (pushdown shrinks the probe side before the shuffle); nation/region
    broadcast so the fact side never re-shuffles for them."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "o_orderkey",
            "o_totalprice",
            "c_name",
            "c_mktsegment",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


@query(
    "join_anti_semi",
    oracle="""
    SELECT 'anti' AS op, c.c_custkey, c.c_name
    FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'semi' AS op, c.c_custkey, c.c_name
    FROM customer c SEMI JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+J4 composite (driver row for the existence-join family): left
    anti (dbt ``relationships`` test, schema.yaml:34-37 — children
    with no parent) and left semi (existence filter), tagged and
    unioned. Every customer appears exactly once across the two tags."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.lit("anti").alias("op"), "c_custkey", "c_name")
    )
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select(F.lit("semi").alias("op"), "c_custkey", "c_name")
    )
    return anti.unionByName(semi)


@query(
    "join_case_agg",
    oracle="""
    SELECT p.p_brand,
           round(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                          THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END), 4) AS promo_revenue,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS total_revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_case_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 shape: fact⋈part with conditional aggregation (CASE
    inside SUM — the promo-revenue ratio pattern). part is
    catalog-sized → broadcast side; sums rounded at the 4dp product
    grid (see aggregates.py float discipline)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.when(F.col("p_type").like("PROMO%"), net).otherwise(0.0)), 4).alias(
                "promo_revenue"
            ),
            F.round(F.sum(net), 4).alias("total_revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "join_star",
    oracle="""
    SELECT n.n_name AS nation_name,
           r.r_name AS region_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: multi-way star join (the OMOP star shape, CHALLENGE.md:83-106,
    exercised TPC-H-Q5-style). lineitem is the only big table; orders
    joins shuffle on the key, customer/nation/region broadcast. Revenue
    is rounded identically on both sides because double summation order
    differs between engines."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name"))
        .agg(
            # 4dp: the product of two 2dp columns is exact at 4dp, so the
            # rounded sum never sits on a cross-engine rounding boundary
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    time_col: str,
    payload_cols: list[str],
    strict: bool = True,
) -> DataFrame:
    """J6 bonus (absent from the reference — SURVEY.md:150 marks the
    family unneeded there, but it is the canonical enrichment join a
    training-data pipeline runs constantly: attach the latest-known
    state as of each event's time): for every left row, the single
    right row with the greatest ``time_col`` that is ``<`` (strict) /
    ``<=`` the left row's, per ``key``.

    NOT implemented as a range join (per-key explode of candidate
    windows — quadratic on hot keys). The scalable form is
    union-then-window: tag both sides, union, and per key in time
    order carry the last-seen right payload forward with
    last(ignorenulls) over an unbounded-preceding frame. One shuffle
    on the key — the same partitioning either side's next aggregation
    wants — linear state, no pair blow-up, AQE-skew-splittable.
    Strictness falls out of the sort tiebreak: right rows sort AFTER
    left rows at equal time (strict — a left row cannot see a
    same-timestamp right row) or before (non-strict)."""
    side = F.lit(1) if strict else F.lit(-1)
    # the payload travels as ONE struct: carrying columns independently
    # with last(ignorenulls) would stitch a legitimately-NULL field of
    # the matched row together with a stale non-NULL value from an
    # OLDER right row — a composite that never existed. The struct is
    # non-null for every right row even when its fields are null, so
    # last(ignorenulls) picks whole rows, exactly like the ASOF join
    # it implements.
    r_tagged = right.select(
        F.col(key),
        F.col(time_col),
        side.alias("__side"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__r_payload"),
    )
    l_tagged = left.select("*", F.lit(0).alias("__side"))
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(time_col, "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        F.last("__r_payload", ignorenulls=True).over(w).alias("__asof"),
    )
    return (
        carried.filter(F.col("__side") == 0)
        .select(
            "*",
            *[F.col("__asof").getField(c).alias(f"asof_{c}") for c in payload_cols],
        )
        .drop("__side", "__r_payload", "__asof")
    )


@query(
    "join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_purchase_ts,
           p.value AS last_purchase_value
    FROM events e
    ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ) p ON e.user_id = p.user_id AND e.ts > p.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 bonus: each event enriched with the user's most recent STRICTLY
    PRIOR purchase (time + value) — the attribute-to-latest-preceding-
    state join. DuckDB's native ASOF LEFT JOIN is the oracle; the Spark
    side is the union-then-window form (see asof_join). Strictness
    matters and is tested: a purchase event must not match itself."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(ev, purchases, key="user_id", time_col="ts",
                       payload_cols=["ts", "value"], strict=True)
    return joined.select(
        "event_id",
        "user_id",
        "event_type",
        ts_str("ts").alias("ts_str"),
        ts_str("asof_ts").alias("last_purchase_ts"),
        F.col("asof_value").alias("last_purchase_value"),
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str = "w_start",
    end_col: str = "w_end",
    broadcast_intervals: bool = True,
) -> DataFrame:
    """Point-in-interval (range) join, the scale-safe way: a naive
    ``ON ts BETWEEN start AND end`` theta join has no equi-key, so
    Spark falls back to BroadcastNestedLoopJoin — O(points x
    intervals) comparisons. Instead each interval EXPLODES to the
    hour buckets it covers (sequence over the hour grid, end
    exclusive), points map to their hour bucket, and the join is a
    plain equi-join on the bucket followed by the exact containment
    refine — work proportional to points + interval-hours, never the
    cross product. Overlapping intervals are fine (a point matches
    every interval containing it). ``broadcast_intervals=True`` for
    dimension-sized interval sets (the common case: maintenance /
    promo / outage windows); at interval cardinalities past broadcast
    size, flip it off and the bucket equi-join shuffles both sides on
    the hour key instead."""
    slots = intervals.withColumn(
        "hb",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col(start_col)),
                F.col(end_col) - F.expr("INTERVAL 1 MICROSECOND"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    if broadcast_intervals:
        slots = F.broadcast(slots)
    pts = points.withColumn("hb", F.date_trunc("hour", F.col(ts_col)))
    return (
        pts.join(slots, "hb")
        .filter((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("hb")
    )


@query(
    "join_range",
    oracle="""
    WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
    win AS (
      SELECT strftime(day, '%Y-%m-%d') AS window_id,
             day + (EXTRACT(day FROM day)::BIGINT % 12) * INTERVAL 1 HOUR AS w_start,
             day + (EXTRACT(day FROM day)::BIGINT % 12
                    + 1 + EXTRACT(day FROM day)::BIGINT % 5) * INTERVAL 1 HOUR AS w_end
      FROM days
    )
    SELECT w.window_id, e.event_id, e.event_type
    FROM events e JOIN win w
      ON e.ts >= w.w_start AND e.ts < w.w_end
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 second member (with join_asof): point-in-interval range join.
    Deterministic variable-length windows are derived from the corpus
    itself (per day: start hour = day-of-month % 12, duration 1-5 h =
    1 + day-of-month % 5), and every event inside a window is
    attributed to it. The oracle is the direct BETWEEN theta join —
    correct at oracle SF, quadratic at scale; the Spark side is
    ``interval_join``'s bucket-explode + equi-join + refine, which
    keeps the work linear in points + interval-hours. Window bounds
    are exact integer interval arithmetic on UTC-session timestamps
    (naive-equivalent under the UTC session timezone), so both
    engines compute identical bounds and the containment predicate
    cannot diverge."""
    ev = table(spark, sf_dir, "events")
    days = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    win = days.select(
        F.date_format("day", "yyyy-MM-dd").alias("window_id"),
        F.expr("timestampadd(HOUR, dayofmonth(day) % 12, day)").alias("w_start"),
        F.expr(
            "timestampadd(HOUR, dayofmonth(day) % 12 + 1 + dayofmonth(day) % 5, day)"
        ).alias("w_end"),
    )
    return interval_join(
        ev.select("event_id", "event_type", "ts"), win, "ts"
    ).select("window_id", "event_id", "event_type")


@query(
    "join_full_outer",
    oracle="""
    WITH h1 AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_before
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
      GROUP BY 1
    ),
    h2 AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_after
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      GROUP BY 1
    )
    SELECT coalesce(h1.o_custkey, h2.o_custkey) AS custkey,
           coalesce(n_before, 0) AS n_before,
           coalesce(n_after, 0) AS n_after,
           CASE WHEN n_before IS NULL THEN 'new'
                WHEN n_after IS NULL THEN 'churned'
                ELSE 'active' END AS status
    FROM h1 FULL OUTER JOIN h2
      ON h1.o_custkey IS NOT DISTINCT FROM h2.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation (the snapshot-diff / churn view): per
    customer, order counts before and after a cutover date, coalesced
    keys, null-filled sides, and a new/churned/active verdict. The
    full outer join is the one join flavor the §2 core didn't already
    exercise; both sides aggregate BEFORE joining (shuffle on
    o_custkey is shared by agg and join under AQE exchange reuse), so
    the joined cardinality is per-key, never per-order. At 100 TB
    this is two map-side-combined aggs + one key-partitioned join —
    no broadcast (both sides are corpus-sized), no sort."""
    cutoff = F.lit("1995-01-01 00:00:00").cast("timestamp")
    orders = table(spark, sf_dir, "orders")
    # distinct key aliases per side: both halves derive from the same
    # scan, and Spark's ambiguous-self-join check (rightly) rejects
    # h1["o_custkey"] == h2["o_custkey"] on a shared lineage
    h1 = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy(F.col("o_custkey").alias("k1"))
        .agg(F.count("*").cast("bigint").alias("n_before"))
    )
    h2 = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .groupBy(F.col("o_custkey").alias("k2"))
        .agg(F.count("*").cast("bigint").alias("n_after"))
    )
    # NULL-safe join + side-presence status: a NULL key group (orders
    # with no customer) must reconcile across sides like any other key
    # — plain == never matches NULLs (two unpaired rows), and deciding
    # new/churned by KEY nullness would mislabel that group. The
    # count columns are non-null whenever their side matched, so they
    # are the presence markers.
    j = h1.join(h2, F.col("k1").eqNullSafe(F.col("k2")), "full_outer")
    return j.select(
        F.coalesce(F.col("k1"), F.col("k2")).alias("custkey"),
        F.coalesce(F.col("n_before"), F.lit(0)).alias("n_before"),
        F.coalesce(F.col("n_after"), F.lit(0)).alias("n_after"),
        F.when(F.col("n_before").isNull(), "new")
        .when(F.col("n_after").isNull(), "churned")
        .otherwise("active")
        .alias("status"),
    )


@query(
    "join_fuzzy",
    oracle="""
    WITH dirty AS (
      SELECT s_suppkey AS d_key,
             CASE
               WHEN s_suppkey % 7 = 0 THEN replace(s_name, 'Supplier', 'Company')
               WHEN s_suppkey % 3 = 0 THEN replace(s_name, 'Supplier', 'Suplier')
               WHEN s_suppkey % 3 = 1 THEN replace(s_name, 'Supplier', 'Supplyer')
               ELSE s_name
             END AS d_name
      FROM supplier
    ),
    blocked AS (
      SELECT d.d_key, d.d_name, s.s_suppkey, s.s_name,
             levenshtein(d.d_name, s.s_name) AS edit_dist
      FROM dirty d JOIN supplier s ON right(d.d_name, 4) = right(s.s_name, 4)
    )
    SELECT d_key, d_name, s_suppkey, s_name, CAST(edit_dist AS INT) AS edit_dist
    FROM blocked WHERE edit_dist <= 2
    """,
)
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: blocked fuzzy (Levenshtein ≤ 2) join of a dirty
    name roll against the clean supplier dimension — the classic
    entity-resolution shape (dirty CRM export vs master table). The
    staging step derives the dirty side deterministically: one-edit
    misspellings ('Suplier', 'Supplyer'), untouched names, and an
    over-threshold rewrite ('Company#…') that must be REJECTED by the
    distance filter, proving the threshold does work.

    Scale design: Levenshtein is O(|a|·|b|) per pair, so the join is
    BLOCKED — candidate pairs only form inside a cheap equality block
    (here the 4-char numeric suffix that survives all the edits; in
    production a phonetic key or q-gram prefix), turning an all-pairs
    O(n²) into an equi-join Catalyst shuffles/broadcasts like any
    other. The distance UDF-free: F.levenshtein is a JVM built-in
    inside WholeStageCodegen."""
    s = table(spark, sf_dir, "supplier")
    dirty = s.select(
        F.col("s_suppkey").alias("d_key"),
        F.when(F.col("s_suppkey") % 7 == 0, F.regexp_replace("s_name", "Supplier", "Company"))
        .when(F.col("s_suppkey") % 3 == 0, F.regexp_replace("s_name", "Supplier", "Suplier"))
        .when(F.col("s_suppkey") % 3 == 1, F.regexp_replace("s_name", "Supplier", "Supplyer"))
        .otherwise(F.col("s_name"))
        .alias("d_name"),
    )
    clean = s.select("s_suppkey", "s_name")
    blocked = dirty.join(
        clean, F.substring(F.col("d_name"), -4, 4) == F.substring(F.col("s_name"), -4, 4)
    ).withColumn("edit_dist", F.levenshtein("d_name", "s_name"))
    return blocked.filter(F.col("edit_dist") <= 2).select(
        "d_key", "d_name", "s_suppkey", "s_name", F.col("edit_dist").cast("int").alias("edit_dist")
    )


ASOF_TOLERANCE_DAYS = 3


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH matched AS (
      SELECT e.event_id, e.user_id,
             strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
             p.ts AS p_ts, p.value AS p_value,
             (p.ts IS NOT NULL AND p.ts >= e.ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY)
               AS in_window
      FROM events e
      ASOF LEFT JOIN (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
      ) p ON e.user_id = p.user_id AND e.ts > p.ts
    )
    SELECT event_id, user_id, ts_str,
           CASE WHEN in_window THEN strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') END
             AS last_purchase_ts,
           CASE WHEN in_window THEN p_value END AS last_purchase_value,
           in_window AS has_recent_purchase
    FROM matched
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE (pandas merge_asof's ``tolerance=``,
    kdb's windowed wj): the latest prior purchase counts only if it is
    at most {ASOF_TOLERANCE_DAYS} days old — beyond that the state is
    stale and the enrichment must be NULL, not silently ancient (the
    feature-staleness bug tolerance exists to prevent). Implemented as
    the same union-then-window asof_join plus a post-match window
    filter: both payload fields null out TOGETHER (matching the
    struct-carry discipline — a half-stale composite row must never
    appear)."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(
        ev, purchases, key="user_id", time_col="ts", payload_cols=["ts", "value"], strict=True
    )
    in_window = F.col("asof_ts").isNotNull() & (
        F.col("asof_ts") >= F.col("ts") - F.expr(f"INTERVAL {ASOF_TOLERANCE_DAYS} DAY")
    )
    return joined.select(
        "event_id",
        "user_id",
        ts_str("ts").alias("ts_str"),
        F.when(in_window, ts_str("asof_ts")).alias("last_purchase_ts"),
        F.when(in_window, F.col("asof_value")).alias("last_purchase_value"),
        in_window.alias("has_recent_purchase"),
    )


SALT_N = 16  # hot-key fanout: each hot key spreads over SALT_N reducers
SALT_HOT_MIN_ROWS = 100_000  # census threshold: keys above this are hot


HOT_KEY_CAP = 10_000  # hot keys are FEW by definition; more = misconfigured threshold


def hot_key_census(
    probe: DataFrame, probe_key: str, hot_min_rows: int, cap: int = HOT_KEY_CAP
) -> list:
    """Hot-key detection as an EAGER, bounded driver-side list (sorted
    for plan determinism). Eager on purpose — the r12 composition
    regression: the lazy form (census subplan joined back into both
    the probe and build sides) produced SILENTLY DOUBLED rows on
    Spark 4.1.2 whenever the salted/split join was unioned with
    another frame sharing the probe lineage and aggregated (exceptAll,
    manual reconciliation counts) with AQE on — AQE's empty-relation
    propagation × exchange-reuse rewrote one reused census stage's
    consumers inconsistently (verified: correct with AQE off, with
    spark.sql.exchange.reuse=false, or with
    AQEPropagateEmptyRelation excluded; pinned by
    tests/test_stress.py::test_skew_join_aqe_composition_regression).
    A literal isin() predicate leaves AQE nothing to mis-propagate,
    costs one tiny aggregate collect (|keys| > hot_min_rows ≤
    total/hot_min_rows by pigeonhole — the same bounded-census price
    agg_heavy_hitters pays), and makes the hot set partition-prunable.
    The cap turns a misconfigured threshold (millions of "hot" keys)
    into a loud error instead of a driver OOM."""
    rows = (
        # NULL keys never join (inner equi semantics), so a hot NULL is
        # noise here — and letting it through would make the sorted()
        # below and the isin() literals ill-typed (r12 self-review)
        probe.where(F.col(probe_key).isNotNull())
        .groupBy(probe_key)
        .agg(F.count("*").alias("_key_rows"))
        .where(F.col("_key_rows") > hot_min_rows)
        .select(probe_key)
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        raise ValueError(
            f"hot-key census found more than {cap} keys above "
            f"{hot_min_rows} rows — raise hot_min_rows (a 'hot set' this "
            "large is the shuffle's whole key space, not a skew tail)"
        )
    return sorted(r[0] for r in rows)


def _reserve_salt_column(probe: DataFrame, build: DataFrame, op: str) -> None:
    """withColumn would silently overwrite a caller's _salt and the
    final drop would eat it — corrupting user data (ADVICE r12). ONE
    guard shared by every salting operator (r13 review: three copies
    of the salt machinery had started to drift)."""
    if "_salt" in probe.columns or "_salt" in build.columns:
        raise ValueError(
            f"{op} reserves the column name '_salt'; "
            "rename it on the input before salting"
        )


def _salted_sides(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    hot: list,
    n: int,
) -> tuple[DataFrame, DataFrame]:
    """The salt machinery, shared by the inner and left forms: hot
    probe rows take a deterministic hash-spread salt in [0, n) (no
    rand() — retries and the DuckDB oracle need value-stable plans),
    cold rows salt 0; hot BUILD keys replicate n× (one row per salt),
    cold keys carry the single salt 0."""
    non_key = [c for c in probe.columns if c != probe_key]
    # deterministic spread needs SOMETHING beyond the key to hash; a
    # bare key list has no such column and every hot row is identical
    # anyway, so salt 0 (single reducer) is the honest degenerate case
    spread = (
        F.pmod(F.hash(*[F.col(c) for c in non_key]), F.lit(n))
        if non_key
        else F.lit(0)
    )
    salted_probe = probe.withColumn(
        "_salt", F.when(probe[probe_key].isin(hot), spread).otherwise(F.lit(0))
    )
    salted_build = build.withColumn(
        "_salt",
        F.explode(
            F.when(
                build[build_key].isin(hot), F.sequence(F.lit(0), F.lit(n - 1))
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    return salted_probe, salted_build


def _require_disjoint_columns(probe: DataFrame, build: DataFrame, op: str) -> None:
    overlap = set(probe.columns) & set(build.columns)
    if overlap:
        raise ValueError(
            f"{op} needs disjoint column names; both sides carry "
            f"{sorted(overlap)}"
        )


def _null_extended(probe: DataFrame, build: DataFrame, probe_key: str) -> DataFrame:
    """The NULL-routing branch shared by the outer-join skew operators:
    NULL-key probe rows with the build columns appended as typed NULL
    literals — produced map-side, never entering any exchange."""
    return probe.where(probe[probe_key].isNull()).select(
        "*",
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in build.schema.fields
        ],
    )


def salted_inner_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    n: int = SALT_N,
    hot_min_rows: int = SALT_HOT_MIN_ROWS,
    hot: list | None = None,
) -> DataFrame:
    """Large-large inner equi-join that survives a hot key — the one
    100 TB skew shape broadcast can't fix (BOTH sides too big to
    broadcast: a dim join is skew-immune via ``F.broadcast``, a
    fact-fact join is not — 70% of the probe side lands on ONE reduce
    task and the job runs at the speed of that straggler).

    Salt-replicate-N on the hot keys only:

    1. CENSUS: count probe rows per key (map-side combinable — the
       shuffle carries one row per (partition × key)), keep keys with
       > ``hot_min_rows`` rows. By construction this set is tiny
       (≤ total/hot_min_rows keys) and is collected EAGERLY into
       literal isin() predicates — see hot_key_census for the AQE
       wrong-results bug the lazy joined-back form triggered (r12).
    2. PROBE side: hot rows get a deterministic salt in [0, n) hashed
       from their non-key columns (no ``rand()`` — retries and the
       DuckDB oracle need value-stable plans); cold rows salt 0.
    3. BUILD side: hot keys replicate n× (one row per salt — bounded:
       |hot| · n extra rows); cold keys carry the single salt 0.
    4. Inner join on (key, salt) — the hot key's rows now spread over
       n reducers instead of one.

    Results are EXACTLY the plain inner join's (salting is a physical
    rewrite; the oracle for every query built on this is the plain
    join). A threshold that misclassifies costs only performance,
    never correctness. ``hot_min_rows`` is deployment-sized (rows a
    single reduce task comfortably owns); the census costs one extra
    probe-side scan+agg — the same price agg_heavy_hitters pays, and
    the sketch form there is the drop-in when even that scan is too
    dear. Complements AQE skew-join (session default, pinned in
    tests/test_stress.py), which only splits at mapper boundaries and
    only past spark.sql.adaptive.skewJoin thresholds: explicit salting
    is the form that also works under streaming, bucketed inputs, and
    pre-AQE engines — and the form a 1000-executor job reaches for
    when the hot partition is one giant mapper block.

    ``hot`` accepts a precomputed census (possibly empty) so a caller
    that already censused — the adaptive chooser — never pays the
    probe-side pass twice (r13 review); None runs the census here."""
    _reserve_salt_column(probe, build, "salted_inner_join")
    if hot is None:
        hot = hot_key_census(probe, probe_key, hot_min_rows)
    if not hot:
        # no hot keys: the honest degenerate plan is the plain join —
        # zero salt machinery in the plan at all. The hint sits on the
        # BUILD side: Spark builds the in-memory hash map on the
        # hinted side when legal, and UnsafeHashedRelation cannot
        # spill — hinting the probe side materializes the BIG side's
        # partition into memory, which is exactly the r13/r14 stress
        # abort (SparkOutOfMemoryError "not enough memory to build
        # hash map" on the 4.2M-row hot partition) and a guaranteed
        # OOM at 100 TB. Build small, stream big — every shuffle_hash
        # site in this module follows it.
        return probe.join(
            build.hint("shuffle_hash"), probe[probe_key] == build[build_key], "inner"
        )
    salted_probe, salted_build = _salted_sides(
        probe, build, probe_key, build_key, hot, n
    )
    return salted_probe.join(
        salted_build.hint("shuffle_hash"),
        (salted_probe[probe_key] == salted_build[build_key])
        & (salted_probe["_salt"] == salted_build["_salt"]),
        "inner",
    ).drop("_salt")


_SKEW_JOIN_ORACLE = """
    SELECT o_orderpriority, l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority, l_returnflag
"""


@query("join_salted_skew", oracle=_SKEW_JOIN_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join (orders ⋈ lineitem on orderkey) through
    :func:`salted_inner_join`, then the rollup a reporting query wants.
    On the driver fixtures no key crosses the census threshold, so the
    plan degenerates to the plain (key, salt=0) join and the DuckDB
    oracle is the plain join verbatim; on the skew10 slice (70% of
    lineitem rows on ONE viral orderkey — extensions/stress.py) the
    hot key spreads over SALT_N reducers while join_skew_unsalted
    feeds them to one. Transparency is the contract: identical output
    either way, benchmarked side by side as skew10_join_salted_skew vs
    skew10_join_skew_unsalted."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    joined = salted_inner_join(
        probe=li, build=o, probe_key="l_orderkey", build_key="o_orderkey"
    )
    return joined.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query("join_skew_unsalted", oracle=_SKEW_JOIN_ORACLE)
def join_skew_unsalted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The naive form of join_salted_skew: same shuffle_hash fact-fact
    join keyed on the raw orderkey (same hint, so the ONLY difference
    under skew is the salt). This is the straggler baseline the salted
    form is benchmarked against on the skew10 slice — at 100 TB this
    plan runs at the speed of the one reducer holding the hot key."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    joined = li.join(
        o.hint("shuffle_hash"), li["l_orderkey"] == o["o_orderkey"], "inner"
    )
    return joined.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def hotcold_split_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    hot_min_rows: int = SALT_HOT_MIN_ROWS,
    hot: list | None = None,
    how: str = "inner",
) -> DataFrame:
    """The OTHER classic hot-key mitigation, complementing
    :func:`salted_inner_join`: split the join at the hot/cold boundary
    and give each side the physical strategy its statistics deserve —

    - HOT keys (few by definition): their build rows are a tiny slice
      (|hot keys| × build rows/key), so BROADCAST them — the hot 70%
      of the probe side joins map-side and NEVER SHUFFLES;
    - COLD keys: ordinary shuffle join on the key, no salt overhead.

    versus salting: salting shuffles everything once (spread over n
    reducers); the split shuffles only the cold minority but reads the
    probe twice (hot filter + cold anti — both driven by the same
    broadcast census, so at 100 TB the trade is one full shuffle of
    the hot mass against one extra columnar scan). Which wins is a
    statistics question — which is why bench.py's skew tier measures
    unsalted vs salted vs split side by side on the same slice.
    Precondition (asserted by the caller's contract, same census as
    salting): hot BUILD rows must fit a broadcast — true whenever the
    build side is dimension-like on the hot keys (rows/key bounded).
    Results are EXACTLY the plain inner join's: hot and cold probe
    rows partition the probe (inner ∪ anti on the broadcast hot set),
    and each row meets the same build rows it would in one join.
    ``hot`` accepts a precomputed census, as in salted_inner_join.
    ``how`` supports "inner" and "left" (r13 review: the adaptive LEFT
    chooser had copied this body inline — the drift risk the salt
    extraction exists to prevent); under "left", NULL-key probe rows
    ride the cold branch so they NULL-extend exactly once (callers
    that pre-route NULLs, like adaptive_left_join, simply send
    none)."""
    if how not in ("inner", "left"):
        raise ValueError(f"hotcold_split_join supports inner/left, got {how!r}")
    if hot is None:
        hot = hot_key_census(probe, probe_key, hot_min_rows)
    if not hot:
        return probe.join(
            build.hint("shuffle_hash"), probe[probe_key] == build[build_key], how
        )
    probe_hot = probe.where(probe[probe_key].isin(hot))
    # inner-join semantics: NULL keys match nothing, so dropping them
    # with the cold filter changes no output row (a free optimization);
    # LEFT semantics must KEEP them — they join-miss and NULL-extend
    cold_pred = ~probe[probe_key].isin(hot)
    if how == "left":
        cold_pred = cold_pred | probe[probe_key].isNull()
    probe_cold = probe.where(cold_pred)
    build_hot = build.where(build[build_key].isin(hot))
    joined_hot = probe_hot.join(
        F.broadcast(build_hot), probe_hot[probe_key] == build_hot[build_key], how
    )
    joined_cold = probe_cold.join(
        build.hint("shuffle_hash"), probe_cold[probe_key] == build[build_key], how
    )
    return joined_hot.unionByName(joined_cold)


@query("join_hotcold_skew", oracle=_SKEW_JOIN_ORACLE)
def join_hotcold_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_salted_skew's strategy rival on the identical workload and
    oracle: hot/cold split (hot keys broadcast + map-side, cold keys
    shuffled). The three-way skew10 bench lines (unsalted / salted /
    hotcold) make the mitigation choice a measurement, not a
    doctrine."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    joined = hotcold_split_join(
        probe=li, build=o, probe_key="l_orderkey", build_key="o_orderkey"
    )
    return joined.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def null_routed_left_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
) -> DataFrame:
    """LEFT OUTER equi-join where NULL-key probe rows NEVER enter the
    shuffle — the third classic production skew killer, complementing
    :func:`salted_inner_join` (hot values) and :func:`hotcold_split_join`
    (hot values, broadcast-able build slice): a fact table whose FK is
    30-70% NULL (unattributed events, guest checkouts, pre-migration
    rows) hashes EVERY NULL row to one reduce partition, and — unlike
    an inner join, where the engine can drop them at the scan — a left
    join must keep them all, so the hot reducer survives to the output.
    hot_key_census deliberately excludes NULLs (correct for the inner
    forms); this is the outer-join mitigation for the key it skips.

    Rewrite: probe splits at ``probe_key IS NULL`` (both branches
    filter map-side off the same scan — the hotcold double-read trade);
    non-null rows run the ordinary shuffled left join, NULL rows append
    the build columns as typed NULL literals and union back. SQL
    semantics make this transparent: a NULL key equi-matches nothing,
    so the plain left join emits exactly one null-extended row per
    NULL-key probe row — precisely what the routed branch produces
    without moving those rows at all. At 1000 executors the naive form
    runs at the speed of the NULL reducer; this form never shuffles the
    NULL mass (reference has no counterpart — Trino relies on engine
    heuristics; dbt models filter NULLs away and lose the rows).

    Oracle for every query built on this is the PLAIN left join.
    Requires disjoint column names (the plain join's output would be
    ambiguous otherwise) and reserves no column names."""
    _require_disjoint_columns(probe, build, "null_routed_left_join")
    matched = probe.where(probe[probe_key].isNotNull()).join(
        build.hint("shuffle_hash"), probe[probe_key] == build[build_key], "left"
    )
    return matched.unionByName(_null_extended(probe, build, probe_key))


_NULL_SKEW_ORACLE = """
    WITH probe AS (
        SELECT CASE WHEN l_orderkey % 10 < 3 THEN NULL
                    ELSE l_orderkey END AS fk,
               l_returnflag, l_extendedprice
        FROM lineitem
    )
    SELECT coalesce(o_orderpriority, 'NO-ORDER') AS priority,
           l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(o_orderkey) AS BIGINT) AS n_matched,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM probe LEFT JOIN orders ON fk = o_orderkey
    GROUP BY priority, l_returnflag
"""


def _null_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-heavy FK shape, derived deterministically so the SAME
    expression serves both tiers: on the driver fixtures ~30% of
    lineitem FKs go NULL (dense orderkeys mod 10); on the skew10 slice
    the viral orderkey (HOT_ORDERKEY_BASE·factor = 10) satisfies
    ``% 10 < 3``, so the ENTIRE 70% hot mass becomes the NULL mass —
    the exact shape that melts one reducer under the naive plan."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(None))
        .otherwise(F.col("l_orderkey"))
        .alias("fk"),
        "l_returnflag",
        "l_extendedprice",
    )


def _null_skew_rollup(joined: DataFrame) -> DataFrame:
    return joined.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("NO-ORDER")).alias("priority"),
        "l_returnflag",
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.count("o_orderkey").cast("long").alias("n_matched"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query("join_null_skew_naive", oracle=_NULL_SKEW_ORACLE)
def join_null_skew_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The naive A of the A/B: plain shuffled left join of the
    NULL-heavy probe — every NULL-FK row hashes to ONE reduce task and,
    because left-join semantics keep them, survives there to the
    output. Benchmarked as skew10_join_null_skew_naive against the
    routed form on the slice where the NULL mass is 70% of the table."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = _null_skew_probe(spark, sf_dir).join(
        o.hint("shuffle_hash"), F.col("fk") == o["o_orderkey"], "left"
    )
    return _null_skew_rollup(joined)


@query("left_join_null_skew", oracle=_NULL_SKEW_ORACLE)
def left_join_null_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The routed B: :func:`null_routed_left_join` keeps the NULL mass
    out of the shuffle entirely (it unions back map-side with typed
    NULL build columns). Identical oracle to the naive twin —
    transparency is the contract; the skew10 delta is the payoff."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = null_routed_left_join(
        _null_skew_probe(spark, sf_dir), o, "fk", "o_orderkey"
    )
    return _null_skew_rollup(joined)


def salted_left_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    n: int = SALT_N,
    hot_min_rows: int = SALT_HOT_MIN_ROWS,
    hot: list | None = None,
) -> DataFrame:
    """LEFT OUTER twin of :func:`salted_inner_join`, composed with
    :func:`null_routed_left_join`'s NULL routing — the full production
    outer-join skew shape handled in ONE transparent operator: a fact
    table whose FK is partly NULL (every NULL row hashes to one
    reducer AND survives to the output) and partly concentrated on a
    viral key (70% of the non-null mass on one value). NULL probe rows
    never enter the shuffle (typed-NULL extension, map-side union);
    non-null rows run the salt-replicate-N left join — correctness of
    salting under LEFT semantics holds because a probe row carries
    exactly ONE salt and a hot build key replicates to ALL n salts, so
    a probe row matches iff its key exists in build and is
    NULL-extended exactly once otherwise, same as the plain join.

    Results are EXACTLY the plain left join's (oracle for every query
    built on this). Requires disjoint column names (the NULL branch
    unions build columns by name). Degenerate paths are honest: no
    hot key ⇒ plain shuffled left join on the non-null branch; no
    NULLs ⇒ the NULL branch is an empty union arm AQE prunes.
    ``hot`` accepts a precomputed census (possibly empty) so the
    adaptive chooser never pays the probe-side pass twice; None runs
    the census here."""
    _require_disjoint_columns(probe, build, "salted_left_join")
    _reserve_salt_column(probe, build, "salted_left_join")
    nn = probe.where(probe[probe_key].isNotNull())
    null_rows = _null_extended(probe, build, probe_key)
    if hot is None:
        hot = hot_key_census(nn, probe_key, hot_min_rows)
    if not hot:
        matched = nn.join(
            build.hint("shuffle_hash"), nn[probe_key] == build[build_key], "left"
        )
        return matched.unionByName(null_rows)
    salted_probe, salted_build = _salted_sides(
        nn, build, probe_key, build_key, hot, n
    )
    matched = (
        salted_probe.join(
            salted_build.hint("shuffle_hash"),
            (salted_probe[probe_key] == salted_build[build_key])
            & (salted_probe["_salt"] == salted_build["_salt"]),
            "left",
        )
        .drop("_salt")
    )
    return matched.unionByName(null_rows)


# The composed outer-skew fixture: NULLs derive from the line number
# (~1/3 of rows — the unattributed mass), so on the skew10 slice the
# viral orderkey KEEPS ~2/3 of its 70% hot mass as a genuinely hot
# NON-NULL key — both outer-join skew killers active at once.
_LEFT_SKEW_ORACLE = """
    WITH probe AS (
        SELECT CASE WHEN l_linenumber % 3 = 0 THEN NULL
                    ELSE l_orderkey END AS fk,
               l_returnflag, l_extendedprice
        FROM lineitem
    )
    SELECT coalesce(o_orderpriority, 'NO-ORDER') AS priority,
           l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(o_orderkey) AS BIGINT) AS n_matched,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM probe LEFT JOIN orders ON fk = o_orderkey
    GROUP BY priority, l_returnflag
"""


def _left_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.when(F.col("l_linenumber") % 3 == 0, F.lit(None))
        .otherwise(F.col("l_orderkey"))
        .alias("fk"),
        "l_returnflag",
        "l_extendedprice",
    )


@query("join_left_skew_naive", oracle=_LEFT_SKEW_ORACLE)
def join_left_skew_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive A of the composed outer-skew A/B: plain shuffled left
    join where BOTH the NULL mass and the viral non-null key pile onto
    single reducers — and left semantics keep every row."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = _left_skew_probe(spark, sf_dir).join(
        o.hint("shuffle_hash"), F.col("fk") == o["o_orderkey"], "left"
    )
    return _null_skew_rollup(joined)


@query("left_join_skew_salted", oracle=_LEFT_SKEW_ORACLE)
def left_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed+salted B: NULLs bypass the shuffle, the viral key spreads
    over SALT_N reducers. On the driver fixtures neither mitigation
    engages (no NULL-free key is hot) and the plan degenerates to
    routed + plain left join; the engaged path is pinned on the skew10
    slice (tests/test_stress.py) and benchmarked as
    skew10_left_join_skew_salted vs skew10_join_left_skew_naive."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_left_join(
        _left_skew_probe(spark, sf_dir), o, "fk", "o_orderkey"
    )
    return _null_skew_rollup(joined)


# adaptive_inner_join thresholds. BROADCAST_MAX_ROWS is row-based on
# purpose: the decision inputs must be cheap (a parquet count() is
# row-group metadata, no data scan), and rows×schema-width is the
# operator caller's knowledge, not this function's.
BROADCAST_MAX_ROWS = 500_000


def choose_join_strategy(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
    hot_min_rows: int = SALT_HOT_MIN_ROWS,
) -> str:
    """The measurement that picks the join physics — the three skew
    mitigations in this module are alternatives, and the r11→r13 bench
    history shows which wins is a STATISTICS question; this encodes
    that standing measurement as the decision procedure a 1000-executor
    job runs before a fact join:

    1. build fits a broadcast (count() — row-group metadata on
       parquet, no data scan) → ``broadcast``: skew-immune, zero
       shuffle of the probe side;
    2. else census the probe key (eager, bounded — hot_key_census):
       no hot key → ``plain`` shuffle_hash, zero mitigation overhead;
    3. hot keys whose BUILD slice fits a broadcast → ``hotcold``:
       the hot probe mass never shuffles (the measured winner on the
       skew10 slice: 1.24 vs salted 1.58 s);
    4. else → ``salted``: both sides too big everywhere, spread the
       hot keys over SALT_N reducers (the only remaining move).

    Returns one of "broadcast" | "plain" | "hotcold" | "salted".
    Decision cost: one metadata count, one map-side-combined census,
    and (only when hot) one count over the censused build slice."""
    return _choose_with_census(
        probe, build, probe_key, build_key, broadcast_max_rows, hot_min_rows
    )[0]


def _choose_with_census(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    broadcast_max_rows: int,
    hot_min_rows: int,
) -> tuple[str, list | None]:
    """(strategy, hot-key census) — the census rides along so
    adaptive_inner_join hands it to the chosen operator instead of
    paying the probe-side pass twice (r13 review: the engaged path was
    censusing once to DECIDE and once to EXECUTE). hot is None on the
    broadcast path (never computed), a list otherwise."""
    if build.count() <= broadcast_max_rows:
        return "broadcast", None
    hot = hot_key_census(probe, probe_key, hot_min_rows)
    if not hot:
        return "plain", hot
    n_hot_build = build.where(build[build_key].isin(hot)).count()
    if n_hot_build <= broadcast_max_rows:
        return "hotcold", hot
    return "salted", hot


def adaptive_inner_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
    hot_min_rows: int = SALT_HOT_MIN_ROWS,
    on_decision=None,
) -> DataFrame:
    """Inner equi-join that picks its own physical strategy from
    :func:`choose_join_strategy`'s measurements. Results are EXACTLY
    the plain inner join's under every branch (broadcast/plain are the
    engine's own forms; salted/hotcold are the transparency-contracted
    rewrites above), so the oracle for anything built on this is the
    plain join — strategy choice can never be a correctness event.
    ``on_decision`` (optional callable) receives the chosen strategy
    string — the observability hook the streaming form uses to record
    the per-micro-batch choice without a second census."""
    strategy, hot = _choose_with_census(
        probe, build, probe_key, build_key, broadcast_max_rows, hot_min_rows
    )
    if on_decision is not None:
        on_decision(strategy)
    if strategy == "broadcast":
        return probe.join(
            F.broadcast(build), probe[probe_key] == build[build_key], "inner"
        )
    if strategy == "plain":
        return probe.join(
            build.hint("shuffle_hash"), probe[probe_key] == build[build_key], "inner"
        )
    if strategy == "hotcold":
        return hotcold_split_join(
            probe, build, probe_key, build_key,
            hot_min_rows=hot_min_rows, hot=hot,
        )
    return salted_inner_join(
        probe, build, probe_key, build_key,
        hot_min_rows=hot_min_rows, hot=hot,
    )


@query("join_adaptive_skew", oracle=_SKEW_JOIN_ORACLE)
def join_adaptive_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted/hotcold workload through the ADAPTIVE chooser: on the
    driver fixtures the orders side fits a broadcast and the plan is
    the skew-immune broadcast join; on the skew10 slice the build side
    outgrows the threshold, the census finds the viral key, its build
    slice is tiny, and the chooser lands on hotcold — the measured
    winner. Same oracle as join_salted_skew/join_hotcold_skew: the
    choice is physics, never semantics."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    joined = adaptive_inner_join(
        probe=li, build=o, probe_key="l_orderkey", build_key="o_orderkey"
    )
    return joined.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def adaptive_left_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
    hot_min_rows: int = SALT_HOT_MIN_ROWS,
) -> DataFrame:
    """LEFT OUTER twin of :func:`adaptive_inner_join` — the chooser's
    measurements compose with NULL routing, because an outer join has
    BOTH skew axes (hot non-null values AND the NULL mass every left
    join must keep):

    - ``broadcast``: build fits → probe LEFT-joins the broadcast
      directly. No routing needed — a broadcast join never shuffles
      the probe, so NULL rows are skew-free by construction.
    - ``plain``: no hot key → :func:`null_routed_left_join` (NULLs can
      be this shape's ONLY skew; routing costs an empty union arm when
      there are none).
    - ``hotcold``: hot build slice fits a broadcast → NULLs routed,
      hot non-null probe mass joins the broadcast slice map-side, cold
      rows take the ordinary shuffled left join. Each branch keeps
      LEFT semantics independently: branches PARTITION the probe, and
      every branch sees all build rows its keys can match (hot keys →
      the full hot slice; cold keys match no hot-slice row).
    - ``salted``: both sides big everywhere →
      :func:`salted_left_join` with the census handed through.

    Results are EXACTLY the plain left join's under every branch, so
    the oracle for anything built on this is the plain join — same
    transparency contract as the inner chooser, property-tested across
    arbitrary threshold combinations in tests/test_properties.py.
    Requires disjoint column names (the NULL-extension unions by
    name)."""
    _require_disjoint_columns(probe, build, "adaptive_left_join")
    strategy, hot = _choose_with_census(
        probe, build, probe_key, build_key, broadcast_max_rows, hot_min_rows
    )
    if strategy == "broadcast":
        return probe.join(
            F.broadcast(build), probe[probe_key] == build[build_key], "left"
        )
    if strategy == "plain":
        return null_routed_left_join(probe, build, probe_key, build_key)
    if strategy == "salted":
        return salted_left_join(
            probe, build, probe_key, build_key,
            hot_min_rows=hot_min_rows, hot=hot,
        )
    # hotcold: NULL routing + the shared split operator in LEFT mode
    # (nn carries no NULLs, so its cold branch is the pure cold mass)
    nn = probe.where(probe[probe_key].isNotNull())
    null_rows = _null_extended(probe, build, probe_key)
    return hotcold_split_join(
        nn, build, probe_key, build_key, hot=hot, how="left"
    ).unionByName(null_rows)


@query("left_join_adaptive", oracle=_LEFT_SKEW_ORACLE)
def left_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed outer-skew workload (1/3 NULL FK + viral non-null
    key) through the ADAPTIVE left chooser: on the driver fixtures
    orders fits a broadcast and the plan is the skew-free broadcast
    left join; on the skew10 slice the build outgrows the threshold
    and the chooser composes NULL routing with the censused
    mitigation. Same oracle as join_left_skew_naive /
    left_join_skew_salted — four queries, one semantics, the strategy
    chosen by measurement."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = adaptive_left_join(
        _left_skew_probe(spark, sf_dir), o, "fk", "o_orderkey"
    )
    return _null_skew_rollup(joined)
