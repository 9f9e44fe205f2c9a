"""Small-file compaction — lakehouse table maintenance.

The reference's declared sinks are date-partitioned Parquet on object
storage (raw_provider_postgres.sql:4-6: format=PARQUET,
partitioned_by=[ingestion_cdc_date], s3 location). Every appending
pipeline fragments such tables: N writer tasks × D touched partitions
per run lands N×D files, and at 100 TB a scan over a million 1 MB
files is dominated by open/footer overhead, not bytes (the classic
small-file problem; Iceberg/Delta ship `rewrite_data_files` /
`OPTIMIZE` for exactly this).

Spark-first compaction, sized not guessed:

1. Per-partition row counts come from one cheap count aggregate
   (metadata-only at the parquet footer level for count(*) pushdown).
2. Each partition gets ``ceil(rows / target_rows_per_file)`` output
   files. Rows are salted into that many buckets, and the rewrite
   shuffles on (partition, bucket) — so a hot day is written by MANY
   parallel tasks, one per output file, instead of one task streaming
   file after file (what a plain ``repartition(day) +
   maxRecordsPerFile`` degenerates to on skewed partitions).
3. The write replaces only the partitions it touches (dynamic
   partition overwrite), so compaction can run incrementally against
   recently-appended days while cold history stays untouched.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import date_key
from ..registry import query
from .scans import _session_tag


def compact_partitioned(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    partition_col: str,
    target_rows_per_file: int,
    schema=None,
) -> DataFrame:
    """Rewrite a partitioned parquet dataset so each partition holds
    ``ceil(rows/target)`` near-equal files. Returns the compaction
    plan frame (partition, n_rows, n_files) for observability.
    ``schema`` (optional, the writer's) lets a file-less source dir —
    an upstream that matched nothing — compact to an equally empty
    target instead of failing schema inference."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    src = reader.parquet(src_dir)
    sizes = src.groupBy(partition_col).agg(F.count("*").alias("n_rows"))
    # ONE scan computes the calendar-sized plan; it is collected once
    # and re-broadcast as a LOCAL frame — leaving it lazy would re-run
    # the scan+aggregate inside the rewrite job and again when the
    # caller reads the returned plan (three scans for one number).
    plan_rows = [
        (r[partition_col], int(r["n_rows"]), -(-int(r["n_rows"]) // target_rows_per_file))
        for r in sizes.collect()
    ]
    total_files = sum(n for _p, _r, n in plan_rows) or 1
    pc_type = src.schema[partition_col].dataType.simpleString()
    plan = spark.createDataFrame(
        plan_rows, f"`{partition_col}` {pc_type}, n_rows bigint, n_files int"
    )
    # broadcast the per-partition file counts and salt every row into
    # one of its partition's output buckets. The shuffle on
    # (partition, bucket) with an explicit task count spreads a hot
    # partition across many writer tasks; hash collisions can still
    # co-locate two buckets in one task, so maxRecordsPerFile is the
    # hard file-size bound — the writer rolls a new file at the target
    # regardless of task layout. The join is NULL-SAFE: a null
    # partition (day=__HIVE_DEFAULT_PARTITION__) must be rewritten
    # like any other, never silently dropped by EqualTo-on-null.
    plan_keyed = plan.withColumnRenamed(partition_col, "__pc")
    salted = (
        src.join(
            F.broadcast(plan_keyed),
            F.col(partition_col).eqNullSafe(F.col("__pc")),
        )
        .withColumn(
            "__bucket",
            (F.pmod(F.xxhash64(*[F.col(c) for c in src.columns]), F.col("n_files"))).cast("int"),
        )
        .drop("__pc", "n_rows", "n_files")
    )
    (
        salted.repartition(total_files, F.col(partition_col), F.col("__bucket"))
        .drop("__bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(partition_col)
        .parquet(dst_dir)
    )
    # partition values come back from directory inference (possibly as
    # DATE); report them as strings so the plan frame is stable. The
    # frame is local (createDataFrame of the collected plan) — reading
    # it never re-touches the source.
    return plan.select(
        F.col(partition_col).cast("string").alias(partition_col), "n_rows", "n_files"
    )


@query(
    "compact_small_files",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment the events table (32 writers × every day → thousands
    of sliver files), compact it, and return the per-day readback
    aggregate — which must match the pre-compaction source exactly
    (compaction moves bytes, never values)."""
    base = os.path.join(
        tempfile.gettempdir(),
        f"pdp_compact_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    frag_dir, compact_dir = os.path.join(base, "frag"), os.path.join(base, "compact")
    ev = table(spark, sf_dir, "events").withColumn("day", date_key("ts"))
    # deliberately fragmented: round-robin writers, every task hits
    # every partition dir
    ev.repartition(32).write.mode("overwrite").partitionBy("day").parquet(frag_dir)
    compact_partitioned(
        spark, frag_dir, compact_dir, "day", target_rows_per_file=50_000, schema=ev.schema
    )
    back = spark.read.schema(ev.schema).parquet(compact_dir)
    # directory inference may type `day` as DATE; the oracle compares
    # strings, so pin the type at the boundary (the explicit schema
    # above already does — the cast stays as the documented contract).
    return back.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def file_census(spark: SparkSession, path: str) -> dict:
    """Observability helper: {n_files, n_partitions, files_per_partition}
    for a partitioned parquet dir — what a maintenance job would log
    before/after compaction."""
    files = spark.read.parquet(path).inputFiles()
    parts = {os.path.dirname(f) for f in files}
    return {
        "n_files": len(files),
        "n_partitions": len(parts),
        "files_per_partition": round(len(files) / max(1, len(parts)), 2),
    }
