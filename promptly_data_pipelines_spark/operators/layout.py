"""Physical data layout for scan efficiency — clustering + DPP.

At 100 TB the fastest scan is the one that never happens. Two layout
levers make Spark's parquet reader skip data instead of reading it:

1. **Clustered writes** (``clustered_write``): sort rows by the
   dominant filter columns WITHIN each partition before writing.
   Parquet keeps min/max statistics per row group; on a sorted file
   those ranges are narrow and disjoint, so a point or range filter
   matches a handful of row groups and the reader skips the rest
   (the same reason Iceberg/Delta offer sort/Z-ordering). Unsorted
   data has every row group spanning the full value range — stats
   exist but never exclude anything.
2. **Dynamic partition pruning**: a join against a filtered dimension
   prunes the fact scan's partition directories AT RUNTIME with the
   dim-side join keys (Spark inserts a ``dynamicpruningexpression``
   into the scan's partition filters). Declaring the join + filter is
   enough — no hand-written IN-list — and the 100-TB fact table is
   read only for the days the dim selects. Pinned in
   tests/test_plan_quality.py.

The reference leans on the same ideas declaratively: its raw tables
are date-partitioned parquet (raw_provider_postgres.sql:4-6) and its
models filter by ingestion date.
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


def clustered_write(
    df: DataFrame,
    dst_dir: str,
    partition_col: str,
    cluster_cols: list[str],
) -> None:
    """Write ``df`` date-partitioned with rows range-clustered by
    ``cluster_cols`` inside each partition.

    partition_for_write co-locates each partition's rows (avoiding the
    writers×partitions small-file blowup), then an in-task sort orders
    them by the cluster key — a local sort, no extra shuffle — so
    every row group's min/max on the cluster columns is a narrow slice
    of the value space. Hashing on the partition column alone means
    ONE writer task (and file) per partition: right for clustering
    (the sort must see the whole partition), and a partition too big
    for one file is compact_partitioned's job afterwards — its salted
    rewrite keeps contiguous z/cluster runs within each output
    bucket."""
    (
        partition_for_write(df, partition_col)
        .sortWithinPartitions(partition_col, *cluster_cols)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(dst_dir)
    )


def partition_for_write(df: DataFrame, partition_col: str) -> DataFrame:
    """Hash ``df`` on ``partition_col`` ahead of a ``partitionBy`` write
    of that column: each value's rows land in one writer task, so each
    partition dir gets one file. The hash count is explicit (the
    session's ``spark.sql.shuffle.partitions``, read per call) because
    AQE coalesces an uncounted repartition of a small input into ONE
    task, which then writes every dir alone while the other cores
    idle."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, partition_col)


@query(
    "layout_clustered_scan",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE user_id % 1000 = 7
    GROUP BY 1, 2
    """,
)
def layout_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events clustered by user_id within day partitions, then
    run the selective per-user readback the layout is built for. The
    values must match the straight source scan exactly — layout moves
    bytes, never values; the row-group skipping itself is pinned by
    tests/test_layout.py via parquet statistics."""
    dst = os.path.join(
        tempfile.gettempdir(),
        f"pdp_layout_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    ev = table(spark, sf_dir, "events").withColumn("day", date_key("ts"))
    clustered_write(ev, dst, "day", ["user_id"])
    # writer-schema readback: survives an empty source (file-less
    # partition dir) and pins `day` against directory-type inference
    back = spark.read.schema(ev.schema).parquet(dst).filter(F.col("user_id") % 1000 == 7)
    return back.groupBy("user_id", F.col("day").cast("string").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def dpp_fact_dim_join(
    spark: SparkSession, fact_dir: str, dim: DataFrame, on: str
) -> DataFrame:
    """Join a partitioned parquet fact against a filtered dimension so
    Spark's dynamic partition pruning restricts the fact scan to the
    dim's join keys at runtime. The caller filters ``dim``; this
    function only declares the equi-join — the pruning subquery is
    Catalyst's job, and the plan pin asserts it happened."""
    fact = spark.read.parquet(fact_dir)
    return fact.join(F.broadcast(dim), on)


def _spread_bits16(c):
    """Interleave-ready bit spread: 16-bit int → 32-bit with a zero
    between every bit (the classic magic-mask sequence — four shifts,
    pure JVM integer arithmetic, fully codegen'd)."""
    c = c.bitwiseAND(F.lit(0xFFFF))
    c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF))
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x33333333))
    c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x55555555))
    return c


def zorder_key(a, b, a_min, a_max, b_min, b_max):
    """Z-order (Morton) key over two numeric columns: each value is
    min/max-scaled to 16 bits and the bits interleave, so sorting by
    the key clusters rows that are close in BOTH dimensions — a sort
    on (a, b) narrows only a's row-group stats, the Z-curve narrows
    both to ~sqrt of the value space per row group. Bounds come from
    cheap table stats (two scalars per column — at 100 TB, from the
    catalog). Pure Column arithmetic end to end: no UDF, whole-stage
    codegen applies."""

    def scale(c, lo, hi):
        rng = max(1.0, float(hi) - float(lo))
        return ((c.cast("double") - F.lit(float(lo))) / F.lit(rng) * F.lit(65535.0)).cast(
            "int"
        )

    # the b-spread occupies bits 1..31 after the shift: keep the key in
    # a BIGINT so bit 31 never becomes an int32 sign bit (a negative
    # key for the top half of b's range would sort the region FIRST
    # and break the curve at the midpoint seam)
    return (
        _spread_bits16(scale(a, a_min, a_max))
        .cast("bigint")
        .bitwiseOR(F.shiftleft(_spread_bits16(scale(b, b_min, b_max)).cast("bigint"), 1))
    )


def zorder_write(
    df: DataFrame,
    dst_dir: str,
    partition_col: str,
    zcols: tuple[str, str],
) -> None:
    """Clustered write on the Z-curve of two columns (the
    OPTIMIZE ... ZORDER BY role). Same shuffle shape as
    clustered_write — one writer task per partition, in-task sort —
    only the sort key changes to the interleaved code; oversized
    partitions are compact_partitioned's job afterwards."""
    a, b = zcols
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(a), F.max(a), F.min(b), F.max(b)
    ).first()
    if lo_a is None or lo_b is None:
        # empty input (or all-NULL z-columns): there is nothing to
        # cluster — write as-is instead of crashing scale() on
        # float(None). A maintenance job pointed at an empty partition
        # should be a no-op, not a stack trace.
        df.write.mode("overwrite").partitionBy(partition_col).parquet(dst_dir)
        return
    zkey = zorder_key(F.col(a), F.col(b), lo_a, hi_a, lo_b, hi_b)
    (
        partition_for_write(df.withColumn("__z", zkey), partition_col)
        .sortWithinPartitions(partition_col, "__z")
        .drop("__z")
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(dst_dir)
    )


@query(
    "layout_zorder_scan",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           round(value, 2) AS value
    FROM events
    WHERE user_id BETWEEN 100 AND 120 AND event_id BETWEEN 1000 AND 3000
    """,
)
def layout_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events Z-ordered by (user_id, event_id) within day
    partitions, then run the two-dimensional range scan the layout
    serves. Values must equal the straight source scan; the two-sided
    row-group narrowing is pinned by tests/test_layout.py."""
    dst = os.path.join(
        tempfile.gettempdir(),
        f"pdp_zorder_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    ev = table(spark, sf_dir, "events").withColumn("day", date_key("ts"))
    zorder_write(ev, dst, "day", ("user_id", "event_id"))
    back = spark.read.schema(ev.schema).parquet(dst).filter(
        F.col("user_id").between(100, 120) & F.col("event_id").between(1000, 3000)
    )
    return back.select("user_id", "event_id", F.round("value", 2).alias("value"))
