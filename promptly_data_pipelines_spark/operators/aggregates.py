"""Aggregations (SURVEY.md §2d).

The reference aggregates through dbt tests (``unique`` compiles to
GROUP BY ... HAVING count(*)>1, schema.yaml:10-12), row-count checks
(setup.py:19-21), pandas dedup (datagen.py:167,186-190), and the
declared-but-inert CDC merge whose Spark realization is latest-wins
window dedup. All grouped aggregations here are hash aggregates with
map-side partial aggregation (Spark does this automatically); sums of
doubles are rounded identically in the oracle because accumulation
order is engine-specific.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..cdc.batch import latest_wins
from ..functions import ts_str
from ..registry import query


@query(
    "agg_count",
    oracle="SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem",
)
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: COUNT(*) — the reference's only value-level Python check is a
    seeded row count (setup.py:19-21, conftest.py:52-57)."""
    return table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@query(
    "agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_quantity), 2) / count(*) AS avg_qty,
           round(sum(l_extendedprice), 2) / count(*) AS avg_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: grouped agg, TPC-H-Q1 shape — count/sum/avg/min/max by key.
    Partial (map-side) aggregation means the shuffle carries one row
    per (partition × group), not per input row.

    Oracle-parity discipline: sums are rounded at the true decimal
    width of their inputs (2dp columns → 2dp, 4dp product → 4dp) so
    the rounded value is exact; averages are round(sum)/count with no
    further rounding — dividing identical doubles is bit-identical in
    both engines, while rounding the quotient hits decimal boundaries
    where the engines' round algorithms disagree."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            (F.round(F.sum("l_quantity"), 2) / F.count("*")).alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / F.count("*")).alias("avg_price"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: HAVING — post-aggregation filter, the dbt ``unique`` test
    shape (schema.yaml:10-12 compiles to HAVING count(*)>1)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        .filter(F.col("n_orders") > 12)
    )


@query(
    "dedup_subset",
    oracle="""
    SELECT lang, source, doc_id, n_chars
    FROM (
      SELECT lang, source, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: dedup by key subset. The reference uses pandas
    ``drop_duplicates(subset=['npi'])`` (datagen.py:167) whose survivor
    is row-order-dependent; distributed Spark has no stable row order,
    so the deterministic form is a window ordered by an explicit
    tiebreaker — same operator the CDC merge needs (A5)."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "source", "doc_id", "n_chars")
    )


@query(
    "dedup_latest",
    oracle="""
    SELECT user_id, event_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: latest-wins dedup by key ordered by event time — the CDC
    compaction the reference declares but never materializes
    (raw_provider_postgres.sql:9-10 merge config + provider.json:21-22
    op/ts_ms). event_id breaks ts ties deterministically."""
    return (
        latest_wins(table(spark, sf_dir, "events"), "user_id", ["ts", "event_id"])
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            ts_str("ts").alias("ts_str"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: exact COUNT(DISTINCT) — Elementary's uniqueness metrics
    (packages.yml:2-4). Exact distinct expands then re-aggregates
    (two-phase shuffle); at 100 TB prefer approx_count_distinct below."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@query(
    "agg_monthly_orders",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
           o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS month_revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 variant: calendar rollup on the o_orderdate timestamp
    (session-tz under UTC since the r5 data migration; see
    catalog.DECLARED_SCHEMAS) — the freshness/volume-over-time report shape
    (Elementary volume metrics, reference app.py:52-58)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("order_month"),
        "o_orderstatus",
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("month_revenue"),
    )


@query("agg_approx_count_distinct")  # no oracle: HLL++ sketch != DuckDB's sketch
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (scale path): approx_count_distinct (HyperLogLog++, rsd=1%).
    Single aggregation pass, fixed-size sketch per group — this is the
    100 TB form of the uniqueness metric. Rows-only check: sketch
    estimates are engine-specific by design."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family BONUS (grouping sets are explicitly absent from the
    reference — implemented as labeled extra scope, like U3): corpus
    composition report with subtotals — per (lang, source), per lang,
    and grand total in ONE pass. Spark's rollup produces all three
    grouping sets from a single shuffle with partial aggregation
    (each map task emits partials for every set — no re-scan per
    level, which is how a report layer would otherwise compute
    subtotals). grouping_id disambiguates a NULL group value from a
    rolled-up level on both engines (same MSB-first bit order).
    Integer count/sum only — no float discipline needed."""
    d = table(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).select("lang", "source", "gid", "n_docs", "total_chars")


@query(
    "agg_cube",
    oracle="""
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family BONUS, completing the grouping-sets trio with
    ``agg_rollup``: CUBE emits all four grouping sets — (lang, source),
    (lang), (source), () — from one shuffle, which is the
    cross-dimension corpus report (per-lang totals AND per-source
    totals in the same pass; rollup can only give the hierarchy).
    avg_chars is an unrounded quotient of a bigint sum and count —
    dividing identical exact integers is bit-identical across
    engines (the float-parity rule for averages)."""
    d = table(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("bigint") / F.count("*")).alias("avg_chars"),
    ).select("lang", "source", "gid", "n_docs", "avg_chars")


_PIVOT_LANGS = ("de", "en", "es", "fr", "zh")


@query(
    "agg_pivot",
    oracle="""
    SELECT source,
           CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
           CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
           CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
           CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
    FROM documents
    GROUP BY source
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family BONUS (pivots are explicitly absent from the
    reference): source × language composition matrix — the corpus
    mixture report in wide form. The pivot values are passed
    EXPLICITLY: without them Spark runs an extra distinct-collect job
    over the corpus just to discover column names, which at 100 TB is
    a full scan spent on schema. With explicit values the pivot
    compiles to one hash aggregate with per-value conditional
    partials — exactly the conditional-aggregation SQL in the oracle,
    and the same single shuffle as a plain groupBy. Missing (source,
    lang) combinations surface as null from pivot-count; coalesced to
    0 to match SUM(CASE...)."""
    d = table(spark, sf_dir, "documents")
    p = d.groupBy("source").pivot("lang", list(_PIVOT_LANGS)).agg(F.count(F.lit(1)))
    return p.select(
        "source",
        *[F.coalesce(F.col(lang), F.lit(0)).cast("bigint").alias(lang) for lang in _PIVOT_LANGS],
    )


@query(
    "agg_decimal",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
                AS DOUBLE) AS sum_disc_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family BONUS (decimal arithmetic is explicitly absent from
    the reference): the Q1 money math in DECIMAL instead of DOUBLE.
    This is the form a finance-grade pipeline runs at 100 TB: decimal
    accumulation is EXACT, so the sum is independent of partition
    count and accumulation order and needs none of ``agg_group``'s
    round-at-input-width discipline — the cross-engine contract is
    exact equality of exact values. The doubles in the parquet are
    all true 2dp quantities (verified: max |x*100 - round(x*100)| <
    1e-9 across the columns), so the cast to DECIMAL(12,2) rounds to
    the same value on both engines — no value sits on a
    representability tie. Final CAST AS DOUBLE only normalizes the
    output type (Spark sum → decimal(22,4), DuckDB → decimal(38,4));
    the decimal value it converts is identical on both sides."""
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(12,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
        F.count("*").alias("n"),
    )


@query(
    "agg_unpivot",
    oracle="""
    WITH a AS (
      SELECT o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n_orders,
             round(sum(o_totalprice), 2) AS total_price
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS val FROM a
    UNION ALL
    SELECT o_orderpriority, 'total_price' AS metric, total_price AS val FROM a
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long metrics reshaping via the native ``unpivot`` (melt):
    per-priority aggregates become (priority, metric, val) rows — the
    shape metric stores and BI tools ingest. The unpivot is an Expand
    over the already-aggregated frame (5 rows here, group-cardinality
    in general), so the corpus-sized work is the one map-side-combined
    aggregation; reshaping costs nothing at scale. The engine-neutral
    mirror is the UNION ALL of one SELECT per metric, which is exactly
    the plan shape Expand encodes internally."""
    orders = table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "total_price"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           min(l_quantity) AS q_min,
           max(l_quantity) AS q_max
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linearly-interpolated quartiles per group (both engines
    implement type R-7: rank (n-1)·p, interpolate between floor/ceil
    neighbors). percentile() is a full-sort-per-group aggregate — the
    exact form is for dashboard-grade small groups; the 100 TB path is
    approx_percentile (KLL sketch, mergeable, one pass), demonstrated
    by dq_profile. Oracle-parity note: quartile fractions (0, .25, .5,
    .75) are binary-exact and l_quantity is integral, so interpolation
    is exact in both engines with NO rounding; a non-dyadic fraction
    (0.9) or fractional inputs would differ in the last ulp between
    the engines' interpolation formulas and would need a rounding
    policy."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.percentile(q, F.lit(0.25)).alias("q25"),
        F.percentile(q, F.lit(0.50)).alias("q50"),
        F.percentile(q, F.lit(0.75)).alias("q75"),
        F.min(q).alias("q_min"),
        F.max(q).alias("q_max"),
    )


@query("agg_hll_sketch_rollup")
def agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABLE-sketch pattern (Apache DataSketches HLL, native in
    Spark 4): per-event-type user sketches plus a __total__ row whose
    sketch is the UNION of the per-type sketches — never a rescan.
    This is the 100 TB distinct-count architecture: materialize small
    per-partition/day sketch tables once, then answer any rollup
    (weekly, monthly, all-up) by merging kilobyte sketches instead of
    re-shuffling the fact table — approx_count_distinct alone cannot
    do that (its partials are not a storable column). No SQL oracle
    (DuckDB's approx_distinct is a different estimator); correctness
    is pinned by module tests: ≤5% relative error vs exact at this
    cardinality (lgConfigK=12 → ~1.6% typical) and merge associativity
    (union of per-type sketches estimates == one corpus-wide sketch's
    estimate, exactly)."""
    from pyspark.storagelevel import StorageLevel

    ev = table(spark, sf_dir, "events")
    # persist: the per-type sketch table feeds BOTH union branches
    # (typed rows + merged total); without it each branch re-scans and
    # re-aggregates the fact table — the exact rescan this pattern
    # exists to avoid (review finding)
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_distinct"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    typed = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        "exact_distinct",
    )
    total = per_type.agg(
        F.hll_union_agg("sk").alias("sk"),
    ).select(
        F.lit("__total__").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        F.lit(None).cast("bigint").alias("exact_distinct"),
    )
    return typed.unionByName(total)


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT)
             AS grouping_level
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube are sugar
    for, needed when the report wants a CUSTOM set of aggregation
    levels (here: detail, by-status, grand total — but NOT by-priority,
    which a cube would force). grouping() disambiguates real NULLs
    from subtotal rows, encoded as the same bit-packed level id both
    engines compute. One Expand + one shuffle — each input row fans
    out once per grouping set before the map-side combine, so cost
    scales with |sets|, not with distinct-value counts."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            (F.grouping("o_orderpriority") * 2 + F.grouping("o_orderstatus"))
            .cast("bigint")
            .alias("grouping_level"),
        )
    )
