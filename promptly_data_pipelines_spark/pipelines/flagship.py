"""The flagship end-to-end query — the reference's raw→curated pipeline
(dbt/promptly/models/raw/raw_provider_postgres.sql +
curated/curated_provider.sql) transposed onto the driver's testdata.

Reference pipeline, step by step, with its analog here:

| reference (file:line)                               | here                       |
|-----------------------------------------------------|----------------------------|
| Kafka topic scan (raw_provider_postgres.sql:14-16)  | events parquet scan        |
| json_query extract payload.after (:17-18)           | get_json_object on props   |
| tombstone filter ``after is not null`` (:22)        | value/props not-null filter|
| date_format partition key (:19)                     | date_key(ts)               |
| JSON reparse + CAST + regexp_replace quote strip    | json_int + casts (the      |
|   (curated_provider.sql:12-54)                      |   quote shim is built into |
|                                                     |   get_json_object)         |
| latest-wins per key (declared merge, :9-10)         | window dedup per user_id   |
| left join curated→care_site dim (:66-68)            | customer→nation broadcast  |
| DQ-tested output (schema.yaml:10-37)                | grouped rollup             |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..cdc.batch import latest_wins
from ..functions import date_key, json_int, nullify_literal
from ..registry import query


def curated_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw+curated stages fused (Catalyst collapses them anyway):
    decode/clean each event, keep the latest event per user."""
    ev = table(spark, sf_dir, "events")
    raw = (
        ev.filter(F.col("props").isNotNull() & F.col("value").isNotNull())
        .withColumn("k", json_int("props", "$.k"))
        .withColumn("ingestion_date", date_key("ts"))
        .withColumn("event_type_clean", nullify_literal("event_type", "error"))
    )
    return latest_wins(raw, "user_id", ["ts", "event_id"])


@query(
    "flagship_curated",
    oracle="""
    WITH raw AS (
      SELECT event_id, ts, user_id,
             nullif(event_type, 'error') AS event_type_clean,
             value,
             CAST(props->>'$.k' AS INTEGER) AS k,
             strftime(ts, '%Y-%m-%d') AS ingestion_date
      FROM events
      WHERE props IS NOT NULL AND value IS NOT NULL
    ),
    latest AS (
      SELECT * FROM (
        SELECT raw.*, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM raw
      ) WHERE rn = 1
    ),
    joined AS (
      SELECT l.*, n.n_name AS nation_name
      FROM latest l
      LEFT JOIN customer c ON l.user_id = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT nation_name,
           coalesce(event_type_clean, 'unknown') AS event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           round(sum(value), 2) AS sum_value,
           CAST(sum(k) AS DOUBLE) / count(k) AS avg_k
    FROM joined
    GROUP BY 1, 2
    """,
)
def flagship_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pipeline: JSON extract → clean → cast → date key →
    latest-wins dedup → dim join (broadcast) → rollup. user_id plays
    provider_id; customer→nation plays the care_site dim."""
    latest = curated_events(spark, sf_dir)
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    # nation is a true dim (25 rows at any scale) → explicit broadcast;
    # the customer→nation map has customer cardinality — broadcasting it
    # would OOM at 100 TB, so AQE decides (it broadcasts at small SF,
    # shuffles on the key at scale)
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left").select(
        "c_custkey", F.col("n_name").alias("nation_name")
    )
    joined = latest.join(dim, latest.user_id == dim.c_custkey, "left")
    return joined.groupBy(
        "nation_name",
        F.coalesce("event_type_clean", F.lit("unknown")).alias("event_type"),
    ).agg(
        F.count("*").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        # integer sum / count: exact on both engines, then one
        # deterministic division — never round an avg() directly
        (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
    )
