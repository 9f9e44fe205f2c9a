"""The UDF/UDAF escape-hatch surface (SURVEY.md §2j X1/X2) + the
salted-aggregation skew pattern.

The reference contains zero UDFs (all logic SQL-expressible); these
exist because a real LLM-data pipeline needs the escape hatch, and the
engine's rule is: Arrow-vectorized pandas_udf / applyInPandas only —
never row-at-a-time ``udf()`` on the hot path (10-100× slower).

Both UDF queries use arithmetic that is bit-deterministic across
engines (clip/min-max — no libm transcendentals, whose last-ulp
behavior differs between numpy and C++), so even the Python-side
operators are DuckDB-oracle-checked, not just rows-only.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import table
from ..registry import query
from .curation import CHUNK_STRIDE, CHUNK_TOKENS, CHUNK_WINDOWS_ORACLE

# granularity knob for the coarse cogroup demonstration: pandas is
# called once per hash bucket (per side), never per entity
COGROUP_BUCKETS = 128


def _clip_scale_fn(v: pd.Series) -> pd.Series:
    """Vectorized scalar transform: clip to [10, 90], scale to [0,1]-ish.
    One Arrow batch per invocation; numpy clip + multiply are exact
    IEEE ops, so results match the SQL least/greatest formulation."""
    return v.clip(lower=10.0, upper=90.0) * 0.01


def clip_scale():
    # constructed lazily: pandas_udf parses its return-type DDL against
    # the active session, which doesn't exist at import time
    return pandas_udf(_clip_scale_fn, "double")


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id,
           least(greatest(value, 10.0), 90.0) * 0.01 AS value_scaled
    FROM events
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: scalar pandas_udf (Arrow-batched). The plan shows
    ArrowEvalPython — one Python worker round-trip per batch, the only
    Python in this query."""
    ev = table(spark, sf_dir, "events")
    return ev.select("event_id", clip_scale()("value").alias("value_scaled"))


def _minmax_for(key: str):
    """Factory for the per-group min-max scaler keyed by ``key`` — ONE
    formula body for the fine (user_id) and coarse (bucket) shapes, so
    a change to the math (NaN handling, the hi==lo branch) cannot
    silently apply to one and not the other. min/max are exact
    selections and the division operates on identical doubles, so the
    window-function oracle matches bit-for-bit."""

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = pdf["value"].min(), pdf["value"].max()
        out = pdf[[key, "event_id"]].copy()
        out["value_scaled"] = 0.0 if hi == lo else (pdf["value"] - lo) / (hi - lo)
        return out

    return scale


_minmax_scale = _minmax_for("user_id")


@query(
    "udf_grouped_map",
    oracle="""
    SELECT user_id, event_id,
           CASE WHEN mx = mn THEN 0.0 ELSE (value - mn) / (mx - mn) END AS value_scaled
    FROM (
      SELECT user_id, event_id, value,
             min(value) OVER (PARTITION BY user_id) AS mn,
             max(value) OVER (PARTITION BY user_id) AS mx
      FROM events
    )
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: groupBy().applyInPandas — whole-group pandas transform (the
    shape for per-group model scoring / featurization). One shuffle on
    the group key; each group becomes one Arrow batch in one Python
    call. Cost note: one Python invocation PER GROUP — with many tiny
    groups (here 10k groups of ~10 rows) the per-call overhead
    dominates; when the logic is expressible with window functions
    (as this min-max scaling is — see the oracle), the JVM
    formulation is ~5× faster. Reserve applyInPandas for logic that
    genuinely needs whole-group Python (model.predict per entity)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return ev.groupBy("user_id").applyInPandas(
        _minmax_scale, "user_id bigint, event_id bigint, value_scaled double"
    )


_minmax_scale_bucket = _minmax_for("bucket")


@query(
    "udf_grouped_map_coarse",
    oracle="""
    SELECT bucket, event_id,
           CASE WHEN mx = mn THEN 0.0 ELSE (value - mn) / (mx - mn) END AS value_scaled
    FROM (
      SELECT user_id % 100 AS bucket, event_id, value,
             min(value) OVER (PARTITION BY user_id % 100) AS mn,
             max(value) OVER (PARTITION BY user_id % 100) AS mx
      FROM events
    )
    """,
)
def udf_grouped_map_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2, realistic shape: applyInPandas over ~100 coarse groups
    (entity buckets), each one sizeable Arrow batch — the workload
    applyInPandas is actually for (per-segment model scoring). This is
    the bench headline form; udf_grouped_map keeps the 10k-tiny-groups
    worst case as a labeled secondary line quantifying the per-call
    Python overhead (round-2 verdict item #6)."""
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("bucket"), "event_id", "value"
    )
    return ev.groupBy("bucket").applyInPandas(
        _minmax_scale_bucket, "bucket bigint, event_id bigint, value_scaled double"
    )


@query(
    "udf_grouped_map_window_twin",
    oracle="""
    SELECT user_id, event_id,
           CASE WHEN mx = mn THEN 0.0 ELSE (value - mn) / (mx - mn) END AS value_scaled
    FROM (
      SELECT user_id, event_id, value,
             min(value) OVER (PARTITION BY user_id) AS mn,
             max(value) OVER (PARTITION BY user_id) AS mx
      FROM events
    )
    """,
)
def udf_grouped_map_window_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM window-function twin of udf_grouped_map: identical
    min-max scaling, zero Python — benched alongside the grouped-map
    forms to quantify what applyInPandas costs when the logic is
    window-expressible (keep per-group Python for logic that isn't)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id")
    mn, mx = F.min("value").over(w), F.max("value").over(w)
    scaled = F.when(mx == mn, F.lit(0.0)).otherwise((F.col("value") - mn) / (mx - mn))
    return ev.select("user_id", "event_id", scaled.alias("value_scaled"))


@query(
    "agg_group_salted",
    oracle="""
    SELECT event_type,
           round(sum(value), 2) AS sum_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def agg_group_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew pattern: two-phase salted aggregation. Phase 1 aggregates on
    (key, salt) — a hot key's rows spread over 16 reducers instead of
    one; phase 2 merges the 16 partials per key (tiny). Result is
    identical to a plain groupBy (the oracle IS the plain groupBy);
    only the shuffle layout differs. With AQE skew handling this is
    rarely hand-written, but it is the fallback when a single group
    key dominates (e.g. one event_type = 90% of 100 TB). The skewed-
    data bound is pinned by test_salted_agg_bounds_skewed_partition."""
    return salted_partial_agg(table(spark, sf_dir, "events"))


def salted_partial_agg(ev: DataFrame, n_salts: int = 16) -> DataFrame:
    """Library form of agg_group_salted over any (event_id, event_type,
    value) frame: sum/count by event_type via a (key, salt) partial."""
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.sum("value").alias("psum"), F.count("*").alias("pcnt")
    )
    return partial.groupBy("event_type").agg(
        F.round(F.sum("psum"), 2).alias("sum_value"),
        F.sum("pcnt").cast("bigint").alias("n_events"),
    )


@query(
    "udtf_chunk_windows",
    oracle=CHUNK_WINDOWS_ORACLE,
)
def udtf_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-tier API coverage: the same RAG chunking as
    curation.text_chunk_windows, implemented as a Python UDTF (Spark 4
    user-defined TABLE function) consumed through a SQL LATERAL join.
    UDTFs are the escape hatch for one-row-to-many transforms whose
    logic needs arbitrary Python (a real tokenizer library, a format
    parser) — strictly slower than the expression form (per-row Python,
    no codegen), which is why the expression twin is the registered
    bench path and this one exists to prove the API works and, via the
    SHARED oracle, that both forms are value-identical.

    Scale note: a UDTF evaluates per input row on the executor —
    partitioning follows the input, no shuffle — but the rows cross
    the Python boundary individually (not Arrow batches); keep UDTFs
    off corpus-sized hot paths unless the logic truly needs Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, n_tokens bigint, chunk_text string")
    class ChunkWindows:
        def eval(self, text: str):
            w = [t for t in (text or "").split(" ") if t]
            for ci, start in enumerate(range(0, len(w), CHUNK_STRIDE)):
                chunk = w[start : start + CHUNK_TOKENS]
                yield ci, len(chunk), " ".join(chunk)

    spark.udtf.register("chunk_windows_udtf", ChunkWindows)
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("pdp_udtf_docs")
    return spark.sql(
        """
        SELECT doc_id, c.chunk_idx, c.n_tokens, c.chunk_text
        FROM pdp_udtf_docs, LATERAL chunk_windows_udtf(text) c
        """
    )


@query(
    "cogroup_order_reconcile",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_orders,
             max(o_totalprice) AS o_totalprice
      FROM orders GROUP BY o_orderkey
    ), l AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
             round(sum(l_extendedprice), 2) AS sum_lines_price
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT coalesce(o.o_orderkey, l.l_orderkey) AS o_orderkey,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_lines, 0) AS n_lines,
           o_totalprice,
           sum_lines_price,
           round(o_totalprice - sum_lines_price, 2) AS price_gap
    FROM o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
    """,
)
def cogroup_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2's two-sided sibling: ``GroupedData.cogroup(...).applyInPandas``
    — per-key PANDAS FRAMES FROM BOTH TABLES in one function call, the
    API for cross-source reconciliation / per-entity feature assembly
    where each side needs its own rows (not a pre-aggregated join).
    Here: orders vs their lineitems by orderkey, emitting the per-order
    billing reconciliation every warehouse runs (order total vs summed
    line prices). The fixture makes the empty-side paths REAL: lineitem
    carries orderkeys with no orders row (and orders rows can lack
    lines), so the function sees genuinely empty pandas frames on
    either side — the case a hand-rolled join-then-groupBy silently
    reshapes and cogroup preserves.

    Scale: both sides shuffle ONCE by the key (same exchange shape as
    the join form), Arrow-batched into per-key frames
    (FlatMapCoGroupsInPandas — plan-pinned in tests); per-key work is
    O(rows in key). COST HONESTY (measured r12): at sf0.1's 147k
    orderkeys this fine granularity pays ~60 s of per-call Python
    overhead — the udf_grouped_map pathology, two-sided. Use cogroup
    when the per-key logic NEEDS both raw frames; when a join+groupBy
    can express it (as this reconciliation's oracle proves it can
    here), the JVM form is orders of magnitude cheaper — which is why
    this line is oracle+plan-pinned in pytest but not a standing
    bench line. Float discipline: the UDF returns RAW pandas sums
    and all rounding happens JVM-side with F.round (one rounding
    algorithm repo-wide — a Python round() here would introduce a
    third engine's banker's rounding into the parity contract)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")

    def reconcile(key: tuple, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {
                    "o_orderkey": key[0],
                    "n_orders": len(odf),
                    "n_lines": len(ldf),
                    # max(), not iloc[0]: pandas row order inside a
                    # cogroup key follows shuffle arrival — with a
                    # duplicated key iloc[0] would be nondeterministic
                    # (and the oracle's max() is the declared semantic)
                    "o_totalprice": (
                        float(odf["o_totalprice"].max()) if len(odf) else None
                    ),
                    "raw_lines_sum": (
                        float(ldf["l_extendedprice"].sum()) if len(ldf) else None
                    ),
                }
            ]
        )

    out = (
        o.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            reconcile,
            schema="o_orderkey bigint, n_orders bigint, n_lines bigint, "
            "o_totalprice double, raw_lines_sum double",
        )
    )
    sum_rounded = F.round("raw_lines_sum", 2)
    return out.select(
        "o_orderkey",
        "n_orders",
        "n_lines",
        "o_totalprice",
        sum_rounded.alias("sum_lines_price"),
        F.round(F.col("o_totalprice") - sum_rounded, 2).alias("price_gap"),
    )


@query(
    "cogroup_order_reconcile_coarse",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_orders,
             max(o_totalprice) AS o_totalprice
      FROM orders GROUP BY o_orderkey
    ), l AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
             round(sum(l_extendedprice), 2) AS sum_lines_price
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT coalesce(o.o_orderkey, l.l_orderkey) AS o_orderkey,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_lines, 0) AS n_lines,
           o_totalprice,
           sum_lines_price,
           round(o_totalprice - sum_lines_price, 2) AS price_gap
    FROM o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
    """,
)
def cogroup_order_reconcile_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup_order_reconcile at SANE granularity (r12 verdict #2 —
    the udf_grouped_map_coarse precedent, two-sided): the SAME
    cogroup API and the SAME per-order full-outer oracle, but grouped
    by a HASH BUCKET of the key (COGROUP_BUCKETS per-side frames)
    instead of one pandas call per orderkey. Per-bucket work is
    vectorized pandas (groupby + full-outer merge on the real key),
    so the per-call Python overhead amortizes over thousands of
    orders: measured ~1 s at sf0.1 against the fine twin's documented
    60.4 s — a 60× delta from granularity ALONE on identical
    semantics. This is the deployment guidance in executable form:
    when per-key Python is genuinely needed, call it per PARTITION-
    SIZED bucket, not per entity. Same float discipline as the fine
    twin: pandas returns RAW sums; all rounding is JVM-side F.round.
    Keys are non-null by fixture contract (a NULL orderkey would need
    a dropna=False groupby and an indicator-based merge)."""
    n_buckets = COGROUP_BUCKETS
    o = table(spark, sf_dir, "orders").select(
        F.pmod(F.col("o_orderkey"), F.lit(n_buckets)).alias("bucket"),
        "o_orderkey",
        "o_totalprice",
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.pmod(F.col("l_orderkey"), F.lit(n_buckets)).alias("bucket"),
        "l_orderkey",
        "l_extendedprice",
    )

    def reconcile_bucket(
        key: tuple, odf: pd.DataFrame, ldf: pd.DataFrame
    ) -> pd.DataFrame:
        oa = (
            odf.groupby("o_orderkey", sort=False)
            .agg(n_orders=("o_orderkey", "size"), o_totalprice=("o_totalprice", "max"))
            .reset_index()
        )
        la = (
            ldf.groupby("l_orderkey", sort=False)
            .agg(n_lines=("l_orderkey", "size"), raw_lines_sum=("l_extendedprice", "sum"))
            .reset_index()
            .rename(columns={"l_orderkey": "o_orderkey"})
        )
        m = oa.merge(la, on="o_orderkey", how="outer")
        m["n_orders"] = m["n_orders"].fillna(0).astype("int64")
        m["n_lines"] = m["n_lines"].fillna(0).astype("int64")
        return m[["o_orderkey", "n_orders", "n_lines", "o_totalprice", "raw_lines_sum"]]

    out = (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            reconcile_bucket,
            schema="o_orderkey bigint, n_orders bigint, n_lines bigint, "
            "o_totalprice double, raw_lines_sum double",
        )
    )
    sum_rounded = F.round("raw_lines_sum", 2)
    return out.select(
        "o_orderkey",
        "n_orders",
        "n_lines",
        "o_totalprice",
        sum_rounded.alias("sum_lines_price"),
        F.round(F.col("o_totalprice") - sum_rounded, 2).alias("price_gap"),
    )
