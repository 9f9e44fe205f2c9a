"""Corpus snapshot diff — crawl-over-crawl change detection (r9).

A recurring training-data ops primitive the reference has no analog
for (its pipeline overwrites curated tables in place,
dbt/promptly/models/curated/curated_provider.sql): given two corpus
snapshots (last month's crawl and this month's), classify every
document as added / removed / changed / unchanged and report churn.
Teams run this before re-training to decide whether a new snapshot is
worth a pipeline run, and to audit upstream regressions (a crawler
that silently drops a domain shows up as a `removed` spike).

The "new" snapshot is STAGED deterministically from the documents
fixture (the synthesize-then-verify pattern of cdc/envelope.py and
extensions/web.py): every doc_id%17==3 doc is dropped (removed),
doc_id%17∈{5,6} docs get a text edit (changed), and each doc_id%17==7
doc spawns a fresh page at doc_id+ADD_OFFSET (added); the rest pass
through byte-identical. The diff itself never sees the staging rules
— it must recover them from content hashes alone for the oracle
value-hash to match.

Scale (100 TB): the diff is ONE full-outer equi-join of two
(doc_id, md5) projections — text never travels, only 32-byte hashes
keyed by doc_id; both sides partition on the join key, and snapshots
bucketed by doc_id at write time (operators/layout.py) co-locate the
join with zero shuffle. The summary is a 4-row groupBy on top.
`F.md5` is JVM-side (whole-stage codegen), byte-identical to DuckDB's
md5 for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

ADD_OFFSET = 100_000_000  # added-doc ids live above any fixture id


def _new_snapshot(d: DataFrame) -> DataFrame:
    """The staged 'this month' crawl (module docstring rules)."""
    edited = d.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 17).isin(5, 6),
            F.concat(F.col("text"), F.lit(" rev2 edit")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = d.filter(F.col("doc_id") % 17 == 7).select(
        (F.col("doc_id") + ADD_OFFSET).alias("doc_id"),
        F.concat(F.lit("fresh page "), F.col("text")).alias("text"),
    )
    return edited.unionByName(added)


_DIFF_SQL = """
    WITH oldh AS (
      SELECT doc_id, md5(text) AS old_hash FROM documents
    ),
    news AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 IN (5, 6) THEN text || ' rev2 edit'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 17 <> 3
      UNION ALL
      SELECT doc_id + 100000000 AS doc_id, 'fresh page ' || text AS text
      FROM documents WHERE doc_id % 17 = 7
    ),
    newh AS (
      SELECT doc_id, md5(text) AS new_hash FROM news
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_hash <> n.new_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.old_hash,
           n.new_hash
    FROM oldh o FULL OUTER JOIN newh n ON o.doc_id = n.doc_id
"""


def _diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    old = d.select("doc_id", F.md5("text").alias("old_hash"))
    new = _new_snapshot(d).select("doc_id", F.md5("text").alias("new_hash"))
    j = old.join(new, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("doc_id", status.alias("status"), "old_hash", "new_hash")


@query("corpus_diff", oracle=_DIFF_SQL)
def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document snapshot diff: full-outer join of the two
    (doc_id, md5(text)) projections, status from side presence + hash
    inequality. Text never shuffles — only ids and hashes."""
    return _diff(spark, sf_dir)


@query(
    "corpus_diff_summary",
    oracle=f"""
    SELECT status, CAST(count(*) AS BIGINT) AS n
    FROM ({_DIFF_SQL}) GROUP BY status
    """,
)
def corpus_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn report: row counts per diff status (the 4-row artifact a
    retrain decision actually consumes)."""
    return (
        _diff(spark, sf_dir)
        .groupBy("status")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
