"""Declarative data-quality checks (SURVEY.md §2i).

The reference's correctness gate is dbt tests
(dbt/promptly/models/curated/schema.yaml:10-37: unique, not_null,
relationships) plus Elementary freshness/volume monitoring
(packages.yml:2-4, app.py:52-58). Each check returns a *violations
DataFrame* (empty = pass), exactly what dbt materializes; ``run_suite``
is the ``dbt test`` analog.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import ts_str
from ..registry import query


def unique_check(df: DataFrame, cols: list[str]) -> DataFrame:
    """dbt ``unique`` (schema.yaml:10-12): GROUP BY key HAVING count>1.
    Violations carry the key and its multiplicity."""
    return (
        df.groupBy(*cols).agg(F.count("*").alias("n_dups")).filter(F.col("n_dups") > 1)
    )


def not_null_check(df: DataFrame, cols: list[str]) -> DataFrame:
    """dbt ``not_null`` (schema.yaml:11-17): VIOLATIONS — one row per
    NULL cell, tagged with its column. Honors the suite contract
    (empty = pass) and the row count is the true violation magnitude;
    the old always-N-rows report shape (which made run_suite fail a
    perfectly clean table) lives on as ``null_count_report``."""
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("column_name"), F.col(c).isNull().alias("is_null"))
            for c in cols
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .filter(F.col("p.is_null"))
        .select("p.column_name")
    )


def null_count_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column null-count REPORT (all audited columns, zero or not)
    — the dq_not_null driver row's shape. Not a violations frame: feed
    not_null_check to run_suite instead."""
    # sum(1) - count(c): the null count, and NULL over zero rows like
    # any sum
    aggs = [(F.sum(F.lit(1)) - F.count(c)).alias(c) for c in cols]
    wide = df.agg(*aggs)
    stacked = wide.selectExpr(
        "stack({n}, {pairs}) as (column_name, n_nulls)".format(
            n=len(cols), pairs=", ".join(f"'{c}', {c}" for c in cols)
        )
    )
    return stacked


def relationships_check(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str) -> DataFrame:
    """dbt ``relationships`` (schema.yaml:34-37): FK integrity as a left
    anti join — one row per child row whose non-null key has no parent
    (dbt counts failing rows, so a repeated orphan key counts each time)."""
    return (
        child.filter(F.col(child_key).isNotNull())
        .join(parent, child[child_key] == parent[parent_key], "left_anti")
        .select(F.col(child_key).alias("orphan_key"))
    )


def accepted_values_check(df: DataFrame, col: str, values: list) -> DataFrame:
    """dbt ``accepted_values``: rows whose non-null value is outside
    ``values``."""
    return df.filter(F.col(col).isNotNull() & ~F.col(col).isin(values)).select(col)


def expression_check(df: DataFrame, expr: str) -> DataFrame:
    """dbt's generic expression test: rows where the SQL boolean ``expr``
    is false or NULL."""
    return df.filter(~F.coalesce(F.expr(expr), F.lit(False)))


def volume_min_check(df: DataFrame, min_rows: int) -> DataFrame:
    """Elementary-style volume floor: one row (the row count) when the
    table holds fewer than ``min_rows`` rows, none otherwise."""
    return df.agg(F.count("*").alias("n_rows")).filter(F.col("n_rows") < min_rows)


def table_metrics(df: DataFrame, ts_col: Column | str, key_col: str) -> DataFrame:
    """Elementary-style table monitor (app.py:52-58; packages.yml:2-4):
    volume, key cardinality, freshness bounds. ``current_timestamp``
    deliberately excluded (nondeterministic — computed by the caller's
    report layer, reference does the same at report time)."""
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return df.agg(
        F.count("*").alias("row_count"),
        F.countDistinct(key_col).alias("key_cardinality"),
        ts_str(F.min(ts)).alias("min_ts"),
        ts_str(F.max(ts)).alias("max_ts"),
    )


def _count_suite(labelled: list[tuple[dict[str, str], DataFrame]]) -> DataFrame:
    """Turn labelled violation frames into one-row ``count(*)``
    aggregates carrying their labels, union them into ONE lazy plan (a
    single Spark job at action time; nothing collects) and derive
    ``passed``."""
    if not labelled:
        raise ValueError("empty check suite (nothing to evaluate)")
    frames = [
        df.agg(F.count("*").alias("n_violations")).select(
            *[F.lit(v).alias(k) for k, v in labels.items()], "n_violations"
        )
        for labels, df in labelled
    ]
    return reduce(DataFrame.unionByName, frames).withColumn(
        "passed", F.col("n_violations") == 0
    )


def run_suite(checks: dict[str, DataFrame]) -> DataFrame:
    """``dbt test`` analog: evaluate named violation frames, one result
    row per check (check_name, n_violations, passed)."""
    return _count_suite([({"check_name": name}, df) for name, df in checks.items()])


# ---- driver-checked queries -------------------------------------------------


@query(
    "dq_unique",
    oracle="""
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY lang, source
    HAVING count(*) > 1
    """,
)
def dq_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: uniqueness violations of (lang, source) in documents —
    non-empty by construction so the check's output shape is exercised."""
    return unique_check(table(spark, sf_dir, "documents"), ["lang", "source"])


@query(
    "dq_not_null",
    oracle="""
    WITH agg AS (
      SELECT CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_event_type,
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_value,
             CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_props,
             CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_user_id
      FROM events
    )
    SELECT 'event_type' AS column_name, c_event_type AS n_nulls FROM agg
    UNION ALL SELECT 'value', c_value FROM agg
    UNION ALL SELECT 'props', c_props FROM agg
    UNION ALL SELECT 'user_id', c_user_id FROM agg
    """,
)
def dq_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: null counts per audited column of events (schema.yaml not_null)."""
    return null_count_report(
        table(spark, sf_dir, "events"), ["event_type", "value", "props", "user_id"]
    )


@query(
    "dq_relationships",
    oracle="""
    SELECT o_custkey AS orphan_key, CAST(count(*) AS BIGINT) AS n_rows
    FROM orders o
    WHERE o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    GROUP BY o_custkey
    """,
)
def dq_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: FK integrity orders.o_custkey → customer.c_custkey
    (schema.yaml:34-37 relationships test = left anti join)."""
    return (
        relationships_check(
            table(spark, sf_dir, "orders"), "o_custkey", table(spark, sf_dir, "customer"), "c_custkey"
        )
        .groupBy("orphan_key")
        .agg(F.count("*").alias("n_rows"))
    )


@query(
    "dq_volume_anomaly",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT d, n,
             CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w AS mean_n,
             CAST(count(*) OVER w AS BIGINT) AS n_days
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT d, n, mean_n,
           CAST(n AS DOUBLE) / mean_n AS volume_ratio,
           (n > 1.5 * mean_n OR 1.5 * n < mean_n) AS is_anomaly
    FROM stats WHERE n_days >= 3
    """,
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4+: Elementary-style volume anomaly monitor (the freshness/
    volume intent of app.py:52-58): each day's row count vs the
    trailing 7-day mean (excluding today); flag >1.5× deviation either
    way. Ratio arithmetic only — integer sums divide into identical
    doubles on both engines (see aggregates.py float discipline).
    The global date ordering is fine at scale: the window input is one
    row per day, not per event."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.count("*").alias("n")
    )
    from pyspark.sql import Window

    w = Window.orderBy("d").rowsBetween(-6, -1)
    stats = daily.select(
        "d",
        "n",
        (F.sum("n").over(w).cast("double") / F.count("*").over(w)).alias("mean_n"),
        F.count("*").over(w).cast("bigint").alias("n_days"),
    )
    return (
        stats.filter(F.col("n_days") >= 3)
        .select(
            "d",
            "n",
            "mean_n",
            (F.col("n").cast("double") / F.col("mean_n")).alias("volume_ratio"),
            (
                (F.col("n") > 1.5 * F.col("mean_n"))
                | (1.5 * F.col("n") < F.col("mean_n"))
            ).alias("is_anomaly"),
        )
    )


@query(
    "dq_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS row_count,
           CAST(count(DISTINCT user_id) AS BIGINT) AS key_cardinality,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS min_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
    FROM events
    """,
)
def dq_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: Elementary-style volume/freshness metrics over events."""
    return table_metrics(table(spark, sf_dir, "events"), "ts", "user_id")


# ---- declarative suite (the reference's YAML authoring surface) -------------

# The reference declares its test suite in dbt YAML
# (dbt/promptly/models/curated/schema.yaml:10-37: unique, not_null,
# relationships, accepted_values). This is the same authoring surface
# bound to Spark: a list of check specs (dict-shaped, YAML-loadable via
# suite_from_yaml), each spec mapped to its check builder and counted by
# the same step as run_suite.
DEFAULT_SUITE: list[dict] = [
    {"check": "unique", "table": "documents", "columns": ["lang", "source"]},
    {"check": "not_null", "table": "events", "column": "event_type"},
    {"check": "not_null", "table": "events", "column": "value"},
    {"check": "not_null", "table": "events", "column": "props"},
    {"check": "not_null", "table": "events", "column": "user_id"},
    {
        "check": "relationships",
        "table": "orders",
        "column": "o_custkey",
        "to": "customer",
        "to_column": "c_custkey",
    },
    {
        "check": "accepted_values",
        "table": "events",
        "column": "event_type",
        "values": ["click", "view", "purchase", "signup", "error"],
    },
    {"check": "volume_min", "table": "events", "min_rows": 100},
]


def suite_from_yaml(text: str) -> list[dict]:
    """YAML → suite spec (the dbt schema.yaml authoring mode)."""
    import yaml

    loaded = yaml.safe_load(text)
    return loaded["checks"] if isinstance(loaded, dict) else loaded


def _check_frame(spark: SparkSession, sf_dir: str, spec: dict) -> tuple[str, DataFrame]:
    """Map one spec to its column label and its builder's violations
    frame."""
    kind, df = spec["check"], table(spark, sf_dir, spec["table"])
    if kind == "unique":
        return ",".join(spec["columns"]), unique_check(df, spec["columns"])
    if kind == "not_null":
        return spec["column"], not_null_check(df, [spec["column"]])
    if kind == "relationships":
        c, to, to_c = spec["column"], spec["to"], spec["to_column"]
        return f"{c}->{to}.{to_c}", relationships_check(df, c, table(spark, sf_dir, to), to_c)
    if kind == "accepted_values":
        return spec["column"], accepted_values_check(df, spec["column"], spec["values"])
    if kind == "volume_min":
        return f"min_rows={spec['min_rows']}", volume_min_check(df, spec["min_rows"])
    if kind == "expression":
        return spec.get("name", spec["expr"]), expression_check(df, spec["expr"])
    raise ValueError(f"unknown check kind: {kind}")


def run_suite_config(
    spark: SparkSession, sf_dir: str, suite: list[dict] | None = None
) -> DataFrame:
    """``dbt test`` from config: one row per spec (check_name,
    table_name, column_name, n_violations, passed), counted by the same
    step as run_suite. Each count is a pushdown-pruned scan of only the
    columns its check audits."""
    suite = DEFAULT_SUITE if suite is None else suite
    labelled = []
    for spec in suite:
        column, df = _check_frame(spark, sf_dir, spec)
        labelled.append(
            ({"check_name": spec["check"], "table_name": spec["table"], "column_name": column}, df)
        )
    return _count_suite(labelled)


@query(
    "dq_suite",
    oracle="""
    SELECT 'unique' AS check_name, 'documents' AS table_name, 'lang,source' AS column_name,
           CAST((SELECT count(*) FROM (
             SELECT 1 FROM documents GROUP BY lang, source HAVING count(*) > 1
           )) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'not_null', 'events', 'event_type',
           (SELECT CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events)
    UNION ALL
    SELECT 'not_null', 'events', 'value',
           (SELECT CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events)
    UNION ALL
    SELECT 'not_null', 'events', 'props',
           (SELECT CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events)
    UNION ALL
    SELECT 'not_null', 'events', 'user_id',
           (SELECT CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events)
    UNION ALL
    SELECT 'relationships', 'orders', 'o_custkey->customer.c_custkey',
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'accepted_values', 'events', 'event_type',
           (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE event_type IS NOT NULL
              AND event_type NOT IN ('click','view','purchase','signup','error'))
    UNION ALL
    SELECT 'volume_min', 'events', 'min_rows=100',
           (SELECT CAST(CASE WHEN count(*) >= 100 THEN 0 ELSE 1 END AS BIGINT) FROM events)
    """,
)
def dq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-Q4 composite: the reference's declared dbt suite
    (schema.yaml:10-37 — unique, not_null, relationships,
    accepted_values, plus an Elementary-style volume floor) run from
    declarative config (DEFAULT_SUITE; YAML-loadable via
    suite_from_yaml). One row per declared check, computed lazily in a
    single job. The boolean ``passed`` column is dropped for the driver
    compare (it is derived 1:1 from n_violations; the oracle stays a
    plain UNION ALL of counts)."""
    out = run_suite_config(spark, sf_dir)
    return out.drop("passed")


# Corpus admission gate: the declarative DQ framework pointed at the
# training corpus — dbt-style generic "expression" tests encoding the
# pre-training admission rules (length bounds, language whitelist,
# non-empty normalized text, source naming). The same suite runner the
# warehouse checks use; only the specs differ.
CORPUS_GATE_SUITE: list[dict] = [
    {"check": "volume_min", "table": "documents", "min_rows": 100},
    {"check": "not_null", "table": "documents", "column": "text"},
    {
        "check": "accepted_values",
        "table": "documents",
        "column": "lang",
        "values": ["en", "de", "fr", "es", "zh"],
    },
    {
        "check": "expression",
        "table": "documents",
        "name": "chars_in_bounds",
        "expr": "n_chars BETWEEN 10 AND 100000",
    },
    {
        "check": "expression",
        "table": "documents",
        "name": "n_chars_consistent",
        "expr": "length(text) = n_chars",
    },
    {
        "check": "expression",
        "table": "documents",
        "name": "text_not_blank",
        "expr": "length(trim(text)) > 0",
    },
    {
        "check": "expression",
        "table": "documents",
        "name": "source_wellformed",
        "expr": "source LIKE 'src%'",
    },
]


@query(
    "dq_corpus_gate",
    oracle="""
    SELECT 'volume_min' AS check_name, 'documents' AS table_name,
           'min_rows=100' AS column_name,
           (SELECT CAST(CASE WHEN count(*) >= 100 THEN 0 ELSE 1 END AS BIGINT)
            FROM documents) AS n_violations
    UNION ALL
    SELECT 'not_null', 'documents', 'text',
           (SELECT CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM documents)
    UNION ALL
    SELECT 'accepted_values', 'documents', 'lang',
           (SELECT CAST(count(*) AS BIGINT) FROM documents
            WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr','es','zh'))
    UNION ALL
    SELECT 'expression', 'documents', 'chars_in_bounds',
           (SELECT CAST(sum(CASE WHEN n_chars BETWEEN 10 AND 100000 THEN 0 ELSE 1 END) AS BIGINT)
            FROM documents)
    UNION ALL
    SELECT 'expression', 'documents', 'n_chars_consistent',
           (SELECT CAST(sum(CASE WHEN length(text) = n_chars THEN 0 ELSE 1 END) AS BIGINT)
            FROM documents)
    UNION ALL
    SELECT 'expression', 'documents', 'text_not_blank',
           (SELECT CAST(sum(CASE WHEN length(trim(text)) > 0 THEN 0 ELSE 1 END) AS BIGINT)
            FROM documents)
    UNION ALL
    SELECT 'expression', 'documents', 'source_wellformed',
           (SELECT CAST(sum(CASE WHEN source LIKE 'src%' THEN 0 ELSE 1 END) AS BIGINT)
            FROM documents)
    """,
)
def dq_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 extension: the declarative suite runner pointed at the
    training corpus — admission rules (volume, null text, language
    whitelist, length-bound + consistency + blank-text + source-format
    expression tests) as config, built by the same check builders and
    counted by the same step as the warehouse checks. The dbt-style
    generic ``expression`` test counts the rows where a SQL boolean is
    false or NULL: the corpus is scanned once per spec with only the
    audited columns read (pushdown-pruned), nothing collects. The
    `passed` column is dropped for the oracle (it is derived:
    n_violations = 0) — parity is over the counted facts."""
    return run_suite_config(spark, sf_dir, CORPUS_GATE_SUITE).drop("passed")


# ---------------------------------------------------- distribution drift

PSI_BIN_WIDTH = 25.0
PSI_MAX_BIN = 13  # values >= width*13 clamp into the top bin
PSI_CUTOVER = "2024-01-16"


@query(
    "dq_drift_psi",
    oracle=f"""
    WITH binned AS (
      SELECT least(CAST(floor(value / {PSI_BIN_WIDTH}) AS BIGINT), {PSI_MAX_BIN}) AS bin,
             ts < TIMESTAMP '{PSI_CUTOVER}' AS is_ref
      FROM events
    ),
    counts AS (
      SELECT bin,
             CAST(count(*) FILTER (WHERE is_ref) AS BIGINT) AS n_ref,
             CAST(count(*) FILTER (WHERE NOT is_ref) AS BIGINT) AS n_cur
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
             CAST(sum(n_cur) AS BIGINT) AS t_cur,
             CAST(count(*) AS BIGINT) AS k
      FROM counts
    )
    SELECT bin, n_ref, n_cur,
           round(
             (CAST(n_cur + 1 AS DOUBLE) / (t_cur + k) - CAST(n_ref + 1 AS DOUBLE) / (t_ref + k))
             * ln((CAST(n_cur + 1 AS DOUBLE) / (t_cur + k))
                  / (CAST(n_ref + 1 AS DOUBLE) / (t_ref + k))), 6) AS psi_term
    FROM counts CROSS JOIN tot
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the events value
    distribution before and after a cutover date — the standard
    monitoring metric for "did this column's distribution move"
    (Σ terms < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted; the
    per-bin terms localize WHERE it moved). Fixed-width bins with a
    clamped top bin; add-one smoothing keeps every ratio an exact
    integer rational so both engines feed ln() identical doubles
    (round 6dp absorbs the last-ulp ln difference). Bins empty on BOTH
    sides are absent rather than smoothed in — consistent across
    engines and irrelevant to the sum.

    Scale: one map-side-combined aggregation over the fact table
    (count FILTER per side), then arithmetic on a bins×1 frame. The
    cutover predicate pushes to the scan; at 100 TB this runs per
    partition-pair as part of the freshness suite (dq_volume_anomaly's
    loop shape)."""
    ev = table(spark, sf_dir, "events")
    binned = ev.select(
        F.least(
            F.floor(F.col("value") / PSI_BIN_WIDTH).cast("bigint"), F.lit(PSI_MAX_BIN)
        ).alias("bin"),
        (F.col("ts") < F.lit(PSI_CUTOVER).cast("timestamp")).alias("is_ref"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("is_ref"), 1)).cast("bigint").alias("n_ref"),
        F.count(F.when(~F.col("is_ref"), 1)).cast("bigint").alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
        F.count("*").cast("bigint").alias("k"),
    )
    q = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + F.col("k"))
    p = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + F.col("k"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
    )


@query(
    "dq_functional_dep",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    ),
    viol AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_values
      FROM pairs GROUP BY c_nationkey HAVING count(*) > 1
    )
    SELECT c_nationkey, n_values FROM viol
    """,
)
def dq_functional_dep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency test (the dbt-style generalization of
    ``relationships``): does A → B hold, i.e. does any A value map to
    more than one distinct B? Returns the violating keys with their
    value counts — customers of one nation legitimately span market
    segments, so this check INTENTIONALLY reports violations (the
    mechanism under test is detection, not a vacuous empty pass; the
    unique/not-null checks cover the empty-result shape). One distinct
    + one grouped HAVING — map-side combined, violation-sized
    output."""
    c = table(spark, sf_dir, "customer")
    pairs = c.select("c_nationkey", "c_mktsegment").distinct()
    return (
        pairs.groupBy("c_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_values"))
        .filter(F.col("n_values") > 1)
    )


def observe_audit(
    df: DataFrame,
    name: str = "audit",
    key_col: str = "event_id",
    value_col: str = "value",
):
    """Attach an inline audit to a frame via Spark's Observation API:
    row count, null keys, and negative values are collected AS the
    frame is consumed by its next action — zero extra passes, zero
    extra jobs (contrast: run_suite_config is a separate one-job scan;
    this rides along with whatever job the caller was running anyway,
    which is the right tool when the frame is about to be written out).
    Returns (df_with_observation, observation); read
    ``observation.get`` AFTER the action. Works on batch frames;
    streaming observability goes through the progress listener
    instead. ``key_col``/``value_col`` pick which columns the
    null-key / negative-value audits watch (events-shaped defaults —
    review finding: the audit must follow the frame, not assume it)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.lit(1)) - F.count(key_col)).alias("n_null_keys"),
        F.sum((F.col(value_col) < 0).cast("int")).alias("n_negative"),
    )
    return observed, obs


Z_THRESHOLD = 2.5


@query(
    "dq_value_outliers",
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS s,
             round(sum(value * value), 4) AS sq
      FROM events GROUP BY event_type
    ),
    scored AS (
      SELECT e.event_id, e.event_type, e.value,
             round((e.value - st.s / st.n)
                   / sqrt((st.sq - st.s * st.s / st.n) / (st.n - 1)), 4) AS z
      FROM events e JOIN stats st USING (event_type)
      WHERE st.n > 1
        AND (st.sq - st.s * st.s / st.n) / (st.n - 1) > 0
    )
    SELECT event_id, event_type, value, z
    FROM scored WHERE abs(z) >= {Z_THRESHOLD}
    """,
)
def dq_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection — the value-level companion
    to dq_volume_anomaly's row-count monitor: events whose value sits
    ≥ {Z_THRESHOLD}σ from their type's mean. One map-side-combined
    moment aggregation (n, Σx, Σx²) joined back broadcast; mean and
    variance derive from the ROUNDED sums (2dp/4dp — exact at the
    inputs' decimal width) with identical arithmetic in both engines,
    and z rounds at 4dp BEFORE the threshold so the flag decision is
    engine-identical even at the boundary. The two-pass shape (stats,
    then score) is the honest streaming-unfriendly form; a streaming
    deployment maintains the moments as running state instead."""
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("s"),
        F.round(F.sum(F.col("value") * F.col("value")), 4).alias("sq"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    # var > 0 guard (review finding): a constant-valued group has
    # var == 0 (or epsilon-negative after rounding) — ANSI Spark would
    # throw DIVIDE_BY_ZERO and DuckDB sqrt(-x) errors; a zero-variance
    # group has no outliers BY DEFINITION, so both engines drop it.
    scored = (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("n") > 1) & (var > 0))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round((F.col("value") - mean) / F.sqrt(var), 4).alias("z"),
        )
    )
    return scored.filter(F.abs(F.col("z")) >= Z_THRESHOLD)


RECON_TOLERANCE = 0.01  # absolute currency tolerance


@query(
    "dq_cross_table_reconcile",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS li_total,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, o.o_totalprice, li.li_total, li.n_lines,
           round(o.o_totalprice - li.li_total, 4) AS diff
    FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
    WHERE abs(round(o.o_totalprice - li.li_total, 4)) > {RECON_TOLERANCE}
    """,
)
def dq_cross_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation — the financial-close DQ check: each
    order's header total vs the sum of its line items (discounted
    extended price), reporting every order outside tolerance. The
    fixture generator prices headers and lines independently, so this
    check INTENTIONALLY reports violations — like dq_functional_dep,
    the mechanism under test is detection; a reconciled warehouse
    returns zero rows. Both sides round the line sum AND the diff at
    4dp — the discounted product's true decimal width; rounding at the
    2dp input width sat exactly on x.xx50 boundaries where the
    engines' round() disagree (caught on 4 orders in the first parity
    run) — so the violation set is engine-identical at the boundary.

    Scale: one map-side-combined aggregation of the fact table + one
    key join with the header table — the shape runs per partition-pair
    under the incremental runner for a daily close."""
    li = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            # 4dp, not 2: the discounted product is a 4-decimal value —
            # rounding its sum at 2dp sits exactly on x.xx50 boundaries
            # where the engines' round() disagree (the documented
            # gotcha; first parity run caught 4 such orders)
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "li_total"
            ),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )
    o = table(spark, sf_dir, "orders")
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderkey",
        "o_totalprice",
        "li_total",
        "n_lines",
        F.round(F.col("o_totalprice") - F.col("li_total"), 4).alias("diff"),
    )
    # violations-only output (the run_suite contract): a 'reconciles'
    # flag would be constant False here — review finding, dropped
    return j.filter(F.abs(F.col("diff")) > RECON_TOLERANCE)
