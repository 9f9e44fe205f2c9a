"""Bad-record quarantine — the PERMISSIVE scan's dead-letter channel.

At 100 TB malformed input is routine (truncated uploads, producer
bugs, schema drift). Failing the job (FAILFAST) or silently dropping
rows (DROPMALFORMED) are both wrong for a pipeline: the engine's
contract is *parse what parses, quarantine what doesn't, count both*.
The reference's curated model encodes the same philosophy for
value-level dirt (curated_provider.sql:21-47 routes bad specialties /
malformed dates through explicit CASE rules); this module handles the
row-level version — records that don't even parse.

Spark-first: one PERMISSIVE pass with a declared schema +
``columnNameOfCorruptRecord``; the parsed frame is persisted so the
good-path and quarantine splits share the single parse (Spark
disallows filtering on the corrupt column alone precisely because
replaying the parse per branch would double-scan — the persist is the
documented idiom), the quarantine lands as its own parquet sink with
the raw line intact for replay after a fix.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import table
from ..functions import ts_str
from ..registry import query
from .scans import _session_tag

EVENT_SCHEMA = "event_id bigint, ts string, event_type string, value double"


def split_corrupt(
    spark: SparkSession,
    src: str,
    schema: str,
    corrupt_col: str = "_corrupt",
    cache_handle: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One PERMISSIVE parse → (good, quarantine). ``good`` drops the
    corrupt column; ``quarantine`` keeps only the raw line. The parsed
    frame is persisted MEMORY_AND_DISK so both splits read the one
    parse. Cache lifetime follows the library convention
    (see dedup.shingle_postings): the ContextCleaner releases it once
    all plan references are GC'd — run-once queries need nothing;
    long-lived callers pass ``cache_handle=[]`` and ``.unpersist()``
    the appended frame after materializing both splits."""
    parsed = (
        spark.read.schema(f"{schema}, {corrupt_col} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(src)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cache_handle is not None:
        cache_handle.append(parsed)
    good = parsed.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = parsed.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, quarantine


@query(
    "scan_json_quarantine",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM events WHERE event_id % 13 <> 0
    GROUP BY event_type
    UNION ALL
    SELECT '__quarantined__' AS event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(NULL AS DOUBLE) AS sum_value
    FROM events WHERE event_id % 13 = 0
    """,
)
def scan_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage events as JSON with every 13th record truncated
    mid-object (a syntactically-broken line, the classic partial
    upload), run the quarantine split, sink the dead letters, and
    report per-type counts of the good path plus one __quarantined__
    row — none of the corruption may leak into the good counts."""
    base = os.path.join(
        tempfile.gettempdir(),
        f"pdp_quar_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    src, sink = os.path.join(base, "src"), os.path.join(base, "quarantine")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        ts_str("ts").alias("ts"),
        "event_type",
        "value",
    )
    line = F.to_json(F.struct("event_id", "ts", "event_type", "value"))
    staged = ev.select(
        F.when(
            F.col("event_id") % 13 == 0,
            # chop the tail (always through the closing brace — `value`
            # is the last field, so 7 chars cover `:x.y}` and then
            # some): a syntactically-broken line, never a shorter but
            # still-valid object
            line.substr(F.lit(1), F.length(line) - F.lit(7)),
        )
        .otherwise(line)
        .alias("value")
    )
    staged.write.mode("overwrite").text(src)

    good, quarantine = split_corrupt(spark, src, EVENT_SCHEMA)
    quarantine.write.mode("overwrite").parquet(sink)
    good_counts = good.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    bad_count = spark.read.parquet(sink).agg(
        F.lit("__quarantined__").alias("event_type"),
        F.count("*").alias("n_rows"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    return good_counts.unionByName(bad_count)
