"""The full ELT run — the reference's primary entry point
(promptly/app.py:29-59: dbt run raw models → curated models →
dbt test → edr monitor/report) as one orchestrated Spark job that
materializes a warehouse directory:

    <warehouse>/raw/events/          date-partitioned CDC decode
    <warehouse>/raw/user_nation/     dim snapshot (the JDBC-read role)
    <warehouse>/curated/activity/    cleaned + deduped + joined + aggregated
    <warehouse>/report/report.{json,md}

Each stage is a registered model with declared deps (the dbt DAG);
writes go through date partitioning where the reference partitions
(raw_provider_postgres.sql:5); the DQ suite + report mirror
``dbt test`` + ``edr report`` (the artifact the reference's
acceptance test asserts, test_dbt.py:161-177).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..cdc.envelope import decode_live_envelopes, synthesize_envelopes
from ..cdc.batch import latest_wins
from ..functions import date_key
from ..operators.layout import partition_for_write
from ..quality.checks import not_null_check, relationships_check, run_suite, table_metrics, unique_check
from ..quality.report import write_report
from ..registry import query
from .orchestrator import Pipeline


def raw_events_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw_events model before its write: live (non-tombstone)
    events decoded from their change envelopes, keyed by ingestion
    date."""
    live = decode_live_envelopes(synthesize_envelopes(table(spark, sf_dir, "events")))
    return live.select(
        F.col("after.event_id").alias("event_id"),
        F.timestamp_millis("ts_ms").alias("ts"),
        F.col("after.user_id").alias("user_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
    ).withColumn("ingestion_cdc_date", date_key("ts"))


def run_elt(spark: SparkSession, sf_dir: str, warehouse: str) -> dict:
    """Execute the full DAG and return {model: row_count} plus report
    paths. Rerunnable: every write is mode=overwrite (the reference
    rebuilds tables each run — materialized='table')."""
    p = Pipeline()
    # each model's row count is observed on its own write, so counting
    # costs no job. The observation must sit above every exchange of the
    # written plan: AQE drops one inside a stage that came out empty.
    written: dict[str, Observation] = {}

    def counted(name: str, df: DataFrame) -> DataFrame:
        written[name] = Observation()
        return df.observe(written[name], F.count(F.lit(1)).alias("rows"))

    @p.model("raw_events")
    def raw_events(s: SparkSession, up: dict[str, DataFrame]) -> DataFrame:
        staged = raw_events_frame(s, sf_dir)
        out = os.path.join(warehouse, "raw", "events")
        hashed = partition_for_write(staged, "ingestion_cdc_date")
        counted("raw_events", hashed).write.mode("overwrite").partitionBy(
            "ingestion_cdc_date"
        ).parquet(out)
        # writer-schema readbacks (all three models): an empty upstream
        # writes a file-less dir, and schemaless read fails inference
        return s.read.schema(staged.schema).parquet(out)

    @p.model("raw_user_nation")
    def raw_user_nation(s: SparkSession, up: dict[str, DataFrame]) -> DataFrame:
        c = table(s, sf_dir, "customer")
        n = table(s, sf_dir, "nation")
        dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left").select(
            F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation_name")
        )
        out = os.path.join(warehouse, "raw", "user_nation")
        counted("raw_user_nation", dim).write.mode("overwrite").parquet(out)
        return s.read.schema(dim.schema).parquet(out)

    @p.model("curated_activity", deps=["raw_events", "raw_user_nation"])
    def curated_activity(s: SparkSession, up: dict[str, DataFrame]) -> DataFrame:
        # user_nation has user cardinality: no broadcast hint (AQE
        # decides; at 100 TB both sides shuffle on user_id — or bucket
        # both tables on user_id and the exchange disappears)
        latest = latest_wins(up["raw_events"], "user_id", ["ts", "event_id"])
        joined = latest.join(up["raw_user_nation"], "user_id", "left")
        curated = joined.select(
            "user_id",
            "event_id",
            "ts",
            F.coalesce("nation_name", F.lit("unknown")).alias("nation_name"),
            "event_type",
            "value",
        )
        out = os.path.join(warehouse, "curated", "activity")
        counted("curated_activity", curated).write.mode("overwrite").parquet(out)
        return s.read.schema(curated.schema).parquet(out)

    results = p.run(spark)

    # dbt test analog on the curated output (schema.yaml:10-37 shapes)
    curated = results["curated_activity"]
    suite = run_suite(
        {
            "curated_pk_unique": unique_check(curated, ["user_id"]),
            # one row per violating ROW (the groupBy-on-the-null-key form
            # collapsed any number of violations to n_violations=1)
            "curated_not_null": not_null_check(curated, ["event_id"]),
            "curated_fk_user": relationships_check(
                curated.filter(F.col("nation_name") != "unknown"),
                "user_id",
                results["raw_user_nation"],
                "user_id",
            ),
        }
    )
    paths = write_report(
        suite,
        {"curated_activity": table_metrics(curated, "ts", "user_id")},
        os.path.join(warehouse, "report"),
    )
    # the report's own verdict: the suite is evaluated once, and an
    # empty suite reads as failed there
    with open(paths["json"]) as f:
        passed = json.load(f)["passed"]
    return {
        "counts": {name: written[name].get["rows"] for name in results},
        "report": paths,
        "passed": passed,
        # the product itself (a lazy read over the warehouse with the
        # model's own schema) — callers must not re-derive the curated
        # schema by hand; a hand-copied DDL silently reads stale
        # columns as all-NULL when the model drifts
        "curated": curated,
    }


@query(
    "elt_pipeline_run",
    # Full value oracle for the END-TO-END job (r6 — was rows-only):
    # the curated product is SQL-expressible even though the pipeline
    # runs through envelope encode/decode and parquet sinks — live
    # (non-tombstone) events ms-truncated by the envelope's ts_ms,
    # latest-wins per user (ts desc, event_id desc), left-joined to
    # the customer→nation dim with 'unknown' fill. If any stage of
    # the DAG (CDC decode, writes, readbacks, latest_wins, the join)
    # corrupts a value, the hash check fails.
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type, value,
             date_trunc('milliseconds', ts) AS ts
      FROM events WHERE event_id % 10 <> 0
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM live
      ) WHERE rn = 1
    ),
    dim AS (
      SELECT c.c_custkey AS user_id, n.n_name AS nation_name
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT l.user_id, l.event_id, l.ts,
           coalesce(d.nation_name, 'unknown') AS nation_name,
           l.event_type, l.value
    FROM latest l LEFT JOIN dim d USING (user_id)
    """,
)
def elt_pipeline_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible wrapper: run the whole ELT DAG into a temp
    warehouse and return the curated table (the job's product). The
    warehouse path carries the session tag so concurrent sessions on
    the same scale factor don't clobber each other (see scans.py)."""
    import tempfile

    from ..operators.scans import _session_tag

    warehouse = os.path.join(
        tempfile.gettempdir(),
        f"pdp_warehouse_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    return run_elt(spark, sf_dir, warehouse)["curated"]
