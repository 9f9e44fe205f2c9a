"""One-pass column profiler — the ``ANALYZE TABLE`` / Elementary
column-statistics role (the reference's edr monitor collects table
and column metrics for anomaly detection; its warehouse engine keeps
column NDV/min/max stats for the optimizer).

Shape: ONE aggregation over the table computes every per-column
metric — null counts, distinct counts, min/max — then the single
stats row unpivots (stack) into the long (column, metric, value)
frame monitors want. Spark compiles multiple count(DISTINCT x)
aggregates into one Expand-based pass: the input multiplies by
(n_distinct_cols + 1) rows BEFORE partial aggregation, which is the
standard engine realization (the same plan ANALYZE uses) and still a
single scan. At 100 TB swap the exact distincts for
``approx_count_distinct`` (HLL, one pass, no Expand blowup) — the
profile's consumers (anomaly monitors, optimizers) tolerate the ~2%
error; the exact form stays here because the oracle checks it
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


def profile_columns(df: DataFrame, cols: list[str], approx: bool = False) -> DataFrame:
    """Long-format (column, metric, value) profile of ``cols``:
    n_null, n_distinct (exact or HLL), min/max rendered as strings.
    One aggregation job regardless of column count."""
    n_distinct = (
        (lambda c: F.approx_count_distinct(c)) if approx else (lambda c: F.countDistinct(c))
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__n_null"),
            n_distinct(c).alias(f"{c}__n_distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    stats = df.agg(*aggs)
    stack_args = []
    for c in cols:
        for m in ("n_null", "n_distinct", "min", "max"):
            stack_args += [F.lit(c), F.lit(m), F.col(f"{c}__{m}").cast("string")]
    stack_args += [F.lit("__table__"), F.lit("n_rows"), F.col("__n").cast("string")]
    n_triples = len(cols) * 4 + 1
    return stats.select(
        F.stack(F.lit(n_triples), *stack_args).alias("column", "metric", "value")
    )


@query(
    "dq_profile",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS et_null,
             count(DISTINCT event_type) AS et_nd,
             min(event_type) AS et_min, max(event_type) AS et_max,
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS u_null,
             count(DISTINCT user_id) AS u_nd,
             CAST(min(user_id) AS VARCHAR) AS u_min,
             CAST(max(user_id) AS VARCHAR) AS u_max
      FROM events
    )
    SELECT 'event_type' AS "column", 'n_null' AS metric, CAST(et_null AS VARCHAR) AS value FROM s
    UNION ALL SELECT 'event_type', 'n_distinct', CAST(et_nd AS VARCHAR) FROM s
    UNION ALL SELECT 'event_type', 'min', et_min FROM s
    UNION ALL SELECT 'event_type', 'max', et_max FROM s
    UNION ALL SELECT 'user_id', 'n_null', CAST(u_null AS VARCHAR) FROM s
    UNION ALL SELECT 'user_id', 'n_distinct', CAST(u_nd AS VARCHAR) FROM s
    UNION ALL SELECT 'user_id', 'min', u_min FROM s
    UNION ALL SELECT 'user_id', 'max', u_max FROM s
    UNION ALL SELECT '__table__', 'n_rows', CAST(n AS VARCHAR) FROM s
    """,
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile the events feed's key columns in one pass (the shapes a
    column-anomaly monitor ingests). Exact distincts here so the
    oracle can compare values; approx=True is the 100 TB path."""
    ev = table(spark, sf_dir, "events")
    return profile_columns(ev, ["event_type", "user_id"])


@query(
    "dq_quantiles",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS v_min,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99,
           max(value) AS v_max
    FROM events
    GROUP BY event_type
    """,
)
def dq_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT quantile profile (p50/p95/p99 + extrema) — the
    distribution half of the column profiler, the metric tier
    Elementary-style monitors threshold on (latency p99, value p95).
    ``F.percentile`` sorts within the aggregation and linearly
    interpolates between the two straddling values — deterministic
    regardless of partitioning (no accumulation-order drift, unlike
    sums), and bit-identical to DuckDB's ``quantile_cont`` on the same
    doubles, so the oracle compares unrounded. The exact form
    shuffles each group's values to its reducer; at 100 TB swap in
    ``F.approx_percentile`` (t-digest-style sketch, map-side
    combinable, rank error ≤ 1/accuracy) — the same exact/approx
    pairing the profiler uses for distincts
    (``approx_count_distinct``) and documented there."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("value").alias("v_min"),
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.95).alias("p95"),
        F.percentile("value", 0.99).alias("p99"),
        F.max("value").alias("v_max"),
    )
