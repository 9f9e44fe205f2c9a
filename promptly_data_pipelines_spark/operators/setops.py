"""Set operations (SURVEY.md §2g).

U1 is the mandated multi-source merge — "merge the data coming from
both sources" (reference CHALLENGE.md:36-39, CSV providers + Postgres
providers); U2 is the drift-check (raw vs curated) shape of the dbt
test framework. ``unionByName`` is a zero-shuffle concatenation;
EXCEPT ALL is a shuffle on the full row — keep projections narrow
before it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


@query(
    "union_sources",
    oracle="""
    SELECT 'customer' AS src, c_name AS name, c_nationkey AS nationkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    UNION ALL
    SELECT 'supplier' AS src, s_name AS name, s_nationkey AS nationkey, round(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION ALL multi-source merge with source tagging — the
    CSV+Postgres provider merge (CHALLENGE.md:36-39). unionByName keeps
    it schema-safe when sources evolve independently."""
    c = table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("src"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    return c.unionByName(s)


@query(
    "except_diff",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def except_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: EXCEPT ALL — drift check between two table versions (dbt test
    framework semantics). Multiset semantics: exceptAll, not except."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@query(
    "intersect_keys",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
)
def intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: INTERSECT (distinct semantics) — trivial complement of U2,
    included for surface completeness."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "setop_diff",
    oracle="""
    SELECT 'except' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey AS nationkey FROM supplier
    )
    UNION ALL
    SELECT 'intersect' AS op, nationkey FROM (
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    )
    """,
)
def setop_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+U3 composite (driver row for the set-difference family;
    singles above are local-only): EXCEPT ALL (multiset drift check —
    dbt test framework semantics) and INTERSECT (distinct), tagged and
    unioned into one frame."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    exc = c.exceptAll(s).select(F.lit("except").alias("op"), "nationkey")
    itc = c.intersect(s).select(F.lit("intersect").alias("op"), "nationkey")
    return exc.unionByName(itc)
