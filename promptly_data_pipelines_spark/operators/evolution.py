"""Schema evolution across appended batches — additive columns.

Pipelines outlive their schemas: the producer adds a column, and the
raw layer now holds parquet files with BOTH shapes (the reference's
CDC envelope carries the same problem inside ``payload.after`` when
the upstream table gains a column — provider.json schema history).
The engine's contract: old files read with the new column as NULL, no
rewrite of history, no failed scans.

Two Spark-first read paths, and when to use which:

- ``mergeSchema=true``: Spark unions the footer schemas of every file.
  Correct, but the footer merge touches every file's metadata — fine
  for thousands of files, wasteful for millions. Use it for
  *discovery* (what shapes exist?).
- **Declared target schema** (``read_with_target_schema``): the
  production path at 100 TB. The reader projects each file onto the
  declared schema — missing columns come back NULL, extra columns are
  pruned, zero footer-merge cost, and the schema is an explicit
  contract in code instead of an inference artifact (the same
  discipline as catalog.DECLARED_SCHEMAS everywhere else).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .scans import _session_tag


def read_with_target_schema(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a parquet dir of mixed (additively-evolved) shapes onto
    one declared schema: files lacking a column yield NULLs for it."""
    return spark.read.schema(schema).parquet(path)


def read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Discovery path: union of all footer schemas (cost scales with
    file count — prefer read_with_target_schema in hot paths)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT coalesce(CASE WHEN event_id % 2 = 1 THEN event_type END, 'unknown')
             AS event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the events feed as two generations — v1 (before the
    producer added ``event_type``) and v2 (with it) — then read both
    through ONE declared target schema and aggregate. v1 rows surface
    event_type as NULL → 'unknown'; totals must cover every row of
    both generations exactly."""
    base = os.path.join(
        tempfile.gettempdir(),
        f"pdp_evo_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    ev = table(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value")
    v2 = ev.filter(F.col("event_id") % 2 == 1).select("event_id", "event_type", "value")
    v1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))

    target = "event_id bigint, event_type string, value double"
    merged = read_with_target_schema(spark, base, target)
    return merged.groupBy(
        F.coalesce("event_type", F.lit("unknown")).alias("event_type")
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
