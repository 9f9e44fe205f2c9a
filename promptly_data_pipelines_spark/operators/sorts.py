"""Sorts, limits, top-k (SURVEY.md §2f).

The reference's only explicit instance is the ``LIMIT 10`` dev
throttle on CDC ingest (raw_provider_postgres.sql:32); ORDER BY and
per-group top-k are required by its dedup-survivor semantics. Scale
notes: global ORDER BY is a range-partitioned sort (Spark samples
boundaries — fine at 100 TB); ORDER BY + LIMIT compiles to
TakeOrderedAndProject (per-partition top-k then k-way merge on the
driver — never a full sort); per-group top-k is a windowed rank with
partial top-k pushed into the sort within partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


@query(
    "limit_n",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def limit_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: LIMIT n (raw_provider_postgres.sql:32). A bare LIMIT is
    nondeterministic on distributed data, so the engine always pairs it
    with a total order → TakeOrderedAndProject physical op."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "sort_order",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > 9000
    ORDER BY c_mktsegment, c_acctbal DESC, c_custkey
    """,
)
def sort_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: multi-key ORDER BY (range-partitioned exchange + per-partition
    sort). The driver's hash is order-insensitive; the sort is the
    operator under test."""
    c = table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal") > 9000)
        .orderBy("c_mktsegment", F.col("c_acctbal").desc(), "c_custkey")
        .select("c_mktsegment", "c_custkey", "c_name", "c_acctbal")
    )


@query(
    "topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-k per group — the dedup-survivor-choice operator (A5's
    general form). Spark pushes a rank-limit into the window sort
    (WindowGroupLimit) so each partition keeps only k rows."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )
