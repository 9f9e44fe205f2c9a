"""The SQL API surface (SURVEY.md §3: dbt models are SQL text; our
engine exposes the same authoring surface via temp views +
``spark.sql``). Catalyst produces identical plans for SQL and
DataFrame formulations — these queries exist to prove the SQL surface
end-to-end, including the dbt-style model-over-model chaining
(``ref()`` ≙ querying a registered view).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import register_views
from ..functions import nullify_literal
from ..registry import query


@query(
    "sql_surface_q3",
    oracle="""
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def sql_surface_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped query written as SQL text against registered
    views — the exact authoring mode of the reference's dbt models
    (curated_provider.sql is SQL over ref()-named relations)."""
    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        """
        SELECT o.o_orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS order_date,
               o.o_orderpriority
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
        """
    )


@query(
    "sql_exists_subquery",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4 shape: correlated EXISTS — Catalyst rewrites it to a
    left semi join (same plan as operators.joins.join_semi); written as
    SQL to cover the subquery surface."""
    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(
        """
        SELECT o.o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o.o_orderpriority
        """
    )


@query(
    "sql_in_subquery",
    oracle="""
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier
    WHERE s_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_regionkey = 1
    )
    """,
)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) — semi join after rewrite; the dim subquery side
    broadcasts."""
    register_views(spark, sf_dir, ("supplier", "nation"))
    return spark.sql(
        """
        SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
        FROM supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
        """
    )


@query(
    "sql_scalar_subquery",
    oracle="""
    WITH m AS (SELECT round(sum(o_totalprice), 2) / count(*) AS avg_price FROM orders)
    SELECT o_orderkey, o_totalprice
    FROM orders, m
    WHERE o_totalprice > 2 * m.avg_price
    """,
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (orders above 2× the mean price) — one extra
    tiny aggregation job feeding a broadcast scalar. Mean uses the
    round(sum)/count float discipline (see aggregates.py)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 2 * (
          SELECT round(sum(o_totalprice), 2) / count(*) FROM orders
        )
        """
    )


@query(
    "pipeline_orchestrated",
    oracle="""
    WITH raw_events AS (
      SELECT event_id, user_id, nullif(event_type, 'error') AS event_type, value
      FROM events WHERE value IS NOT NULL
    ),
    dim_user_nation AS (
      SELECT c.c_custkey AS user_id, n.n_name AS nation_name
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT coalesce(d.nation_name, 'unknown') AS nation_name,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(r.value), 2) AS sum_value
    FROM raw_events r LEFT JOIN dim_user_nation d ON r.user_id = d.user_id
    GROUP BY 1
    """,
)
def pipeline_orchestrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orchestrator (pipelines/orchestrator.py — the app.py + dbt
    DAG role) driven end-to-end as a driver-checked query: three models
    with declared deps, topo-sorted, each registered as a view for the
    next (the ref() chain of curated_provider.sql:52,67)."""
    from pyspark.sql import functions as F

    from ..catalog import table
    from ..pipelines.orchestrator import Pipeline

    p = Pipeline()

    @p.model("raw_events")
    def raw_events(s, up):
        return (
            table(s, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select(
                "event_id",
                "user_id",
                nullify_literal("event_type", "error").alias("event_type"),
                "value",
            )
        )

    @p.model("dim_user_nation")
    def dim_user_nation(s, up):
        c = table(s, sf_dir, "customer")
        n = table(s, sf_dir, "nation")
        return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left").select(
            F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation_name")
        )

    @p.model("curated_activity", deps=["raw_events", "dim_user_nation"])
    def curated_activity(s, up):
        r, d = up["raw_events"], up["dim_user_nation"]
        # user-cardinality dim: no broadcast hint (see flagship.py)
        return (
            r.join(d, "user_id", "left")
            .groupBy(F.coalesce("nation_name", F.lit("unknown")).alias("nation_name"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
        )

    return p.run(spark)["curated_activity"]


@query(
    "sql_subqueries",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count,
           round(sum(o.o_totalprice), 2) AS sum_price
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
      AND o.o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      )
      AND o.o_totalprice > (
        SELECT round(sum(o2.o_totalprice), 2) / count(*) FROM orders o2
      )
    GROUP BY o.o_orderpriority
    """,
)
def sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery-surface composite (driver row; the three singles above
    are local-only): correlated EXISTS (→ left semi join, TPC-H-Q4
    shape), uncorrelated IN (→ semi join on a broadcast dim subquery),
    and a scalar subquery (broadcast scalar), all in one WHERE — one
    plan exercising every Catalyst subquery rewrite."""
    register_views(spark, sf_dir, ("orders", "lineitem", "customer"))
    return spark.sql(
        """
        SELECT o.o_orderpriority,
               count(*) AS order_count,
               round(sum(o.o_totalprice), 2) AS sum_price
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
          AND o.o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          )
          AND o.o_totalprice > (
            SELECT round(sum(o2.o_totalprice), 2) / count(*) FROM orders o2
          )
        GROUP BY o.o_orderpriority
        """
    )
