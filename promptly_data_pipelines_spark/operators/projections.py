"""Projections, filters, and scalar expressions (SURVEY.md §2b).

Re-expresses the reference's scalar surface — projection/aliasing
(raw_care_site_postgres.sql:11-14), IS NOT NULL filters
(raw_provider_postgres.sql:22), JSON path extraction + cast + regex
clean (curated_provider.sql:12-54), date-format partition keys
(raw_provider_postgres.sql:19), NULL-literal and value-map
normalization (CHALLENGE.md:75, sample.csv bad-data cases) — as
Catalyst-native column expressions. Everything here stays inside
whole-stage codegen; no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import map_values, date_key, json_int, json_str, nullify_literal, strip_quotes
from ..registry import query


@query(
    "project_alias",
    oracle="""
    SELECT c_custkey AS customer_id,
           c_name AS customer_name,
           c_mktsegment AS segment
    FROM customer
    """,
)
def project_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: projection + aliasing (reference raw_care_site_postgres.sql:11-14).
    Narrow select → Catalyst prunes the parquet scan to 3 columns."""
    return table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )


@query(
    "filter_notnull",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE value IS NOT NULL AND props IS NOT NULL AND event_type <> 'error'
    """,
)
def filter_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: IS NOT NULL filtering (reference raw_provider_postgres.sql:22
    drops CDC tombstones the same way). Predicates push down to the scan."""
    ev = table(spark, sf_dir, "events")
    return ev.filter(
        F.col("value").isNotNull() & F.col("props").isNotNull() & (F.col("event_type") != "error")
    ).select("event_id", "event_type", "value")


@query(
    "json_extract",
    oracle="""
    SELECT event_id,
           props->>'$.k' AS k_str,
           CAST(props->>'$.k' AS INTEGER) AS k_int
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: JSON path extraction. The reference stores row images as JSON
    text and re-parses downstream (raw_provider_postgres.sql:17-18 →
    curated_provider.sql:14-51, Trino ``json_query`` with lax paths).
    Spark: ``get_json_object`` — already unquoted, see functions.json_str."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        json_str("props", "$.k").alias("k_str"),
        json_int("props", "$.k").alias("k_int"),
    )


@query(
    "cast_types",
    oracle="""
    SELECT event_id,
           CAST(trunc(value) AS INTEGER) AS value_int,
           CAST(user_id AS VARCHAR) AS user_str,
           CAST(ts AS DATE) AS event_date
    FROM events
    """,
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: CASTs (curated_provider.sql:14-20 casts JSON text to
    int/varchar). Note: Spark double→int cast truncates toward zero;
    DuckDB (like Trino) rounds, so the oracle wraps the cast in
    trunc() — a real dialect divergence, documented here."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("value").cast("int").alias("value_int"),
        F.col("user_id").cast("string").alias("user_str"),
        F.col("ts").cast("date").alias("event_date"),
    )


@query(
    "regex_clean",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
           regexp_replace('"' || c_mktsegment || '"', '^"|"$', '', 'g') AS segment_unquoted
    FROM customer
    """,
)
def regex_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: regexp_replace cleanup. The reference strips JSON quotes with
    ``regexp_replace(x, '^"|"$', '')`` on every extracted field
    (curated_provider.sql:21-51); we exercise the same pattern plus a
    digit-masking variant. Spark replaces all matches; DuckDB needs the
    'g' flag for identical semantics."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        strip_quotes(F.concat(F.lit('"'), F.col("c_mktsegment"), F.lit('"'))).alias(
            "segment_unquoted"
        ),
    )


@query(
    "date_format_key",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS ingestion_date,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def date_format_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: derive the ingestion-date partition key
    (raw_provider_postgres.sql:19, Trino ``date_format(ts,'%Y-%m-%d')``
    → Spark ``yyyy-MM-dd``) and count rows per partition — the shape a
    partitioned sink produces."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(date_key("ts").alias("ingestion_date")).agg(
        F.count("*").alias("n_events")
    )


@query(
    "nullif_literal",
    oracle="""
    SELECT event_id,
           nullif(event_type, 'error') AS event_type_clean,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS was_error
    FROM events
    """,
)
def nullif_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: literal-string null normalization — the client CSV carries
    the string 'NULL' in NPI/ProviderName (sample.csv lines 6,9;
    CHALLENGE.md:75 mandates handling). Here the sentinel is 'error'."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        nullify_literal("event_type", "error").alias("event_type_clean"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("was_error"),
    )


@query(
    "case_when_map",
    oracle="""
    SELECT event_id,
           CASE event_type
             WHEN 'signup' THEN 'Registration'
             WHEN 'purchase' THEN 'Transaction'
             WHEN 'click' THEN 'Engagement'
             WHEN 'view' THEN 'Engagement'
             ELSE 'Other'
           END AS event_category
    FROM events
    """,
)
def case_when_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: value-mapping normalization — the specialty-abbreviation map
    (CSV 'Peds'/'Neuro'/'Derma'/'Int Med' → Postgres full names,
    sample.csv vs datagen.py:121-130). A literal CASE chain stays in
    codegen; at 100 TB a large map becomes a broadcast-join dim table."""
    mapping = {
        "signup": "Registration",
        "purchase": "Transaction",
        "click": "Engagement",
        "view": "Engagement",
    }
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        map_values("event_type", mapping, default="Other").alias("event_category"),
    )


@query(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           c_name || '/' || c_mktsegment AS name_seg,
           CAST(length(c_name) AS INTEGER) AS name_len,
           string_split(c_name, '#')[1] AS name_stem
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: string munging (concat/split/substring/upper/length) — the
    datagen builds provider names by concatenation (datagen.py:136-140)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        # F.concat, not concat_ws: the oracle's || propagates NULL while
        # concat_ws silently SKIPS null args — parity held only because
        # the fixture is currently fully non-null
        F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias("name_seg"),
        F.length("c_name").alias("name_len"),
        F.split("c_name", "#").getItem(0).alias("name_stem"),
    )


@query(
    "epoch_to_ts",
    oracle="""
    SELECT event_id,
           epoch_ms(ts) AS ts_ms,
           strftime(make_timestamp(epoch_ms(ts) * 1000), '%Y-%m-%d %H:%M:%S') AS ts_roundtrip
    FROM events
    """,
)
def epoch_to_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: epoch-millis ↔ timestamp — Debezium's ``payload.ts_ms``
    (provider.json:22). Round-trips ts → millis → formatted string;
    the format stops at seconds because millis truncation drops micros."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.date_format(F.timestamp_millis(F.unix_millis("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_roundtrip"
        ),
    )


@query(
    "project_strings",
    oracle="""
    SELECT c_custkey AS customer_id,
           c_name AS customer_name,
           c_mktsegment AS segment,
           regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
           regexp_replace('"' || c_mktsegment || '"', '^"|"$', '', 'g') AS segment_unquoted,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           c_name || '/' || c_mktsegment AS name_seg,
           CAST(length(c_name) AS INTEGER) AS name_len,
           string_split(c_name, '#')[1] AS name_stem
    FROM customer
    """,
)
def project_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P6+P10 composite (driver row for the string-projection family;
    singles above are local-only): aliasing (reference
    raw_care_site_postgres.sql:11-14), quote-strip regexp_replace
    (curated_provider.sql:21-51), and concat/split/substring/upper/
    length munging (datagen.py:136-140) in one narrow customer scan —
    Catalyst prunes the parquet read to the 3 source columns."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        strip_quotes(F.concat(F.lit('"'), F.col("c_mktsegment"), F.lit('"'))).alias(
            "segment_unquoted"
        ),
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        # F.concat, not concat_ws: the oracle's || propagates NULL while
        # concat_ws silently SKIPS null args — parity held only because
        # the fixture is currently fully non-null
        F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias("name_seg"),
        F.length("c_name").alias("name_len"),
        F.split("c_name", "#").getItem(0).alias("name_stem"),
    )


@query(
    "project_events_clean",
    oracle="""
    SELECT event_id,
           props->>'$.k' AS k_str,
           CAST(props->>'$.k' AS INTEGER) AS k_int,
           CAST(trunc(value) AS INTEGER) AS value_int,
           CAST(user_id AS VARCHAR) AS user_str,
           CAST(ts AS DATE) AS event_date,
           strftime(ts, '%Y-%m-%d') AS ingestion_date,
           nullif(event_type, 'error') AS event_type_clean,
           CASE event_type
             WHEN 'signup' THEN 'Registration'
             WHEN 'purchase' THEN 'Transaction'
             WHEN 'click' THEN 'Engagement'
             WHEN 'view' THEN 'Engagement'
             ELSE 'Other'
           END AS event_category,
           epoch_ms(ts) AS ts_ms,
           strftime(make_timestamp(epoch_ms(ts) * 1000), '%Y-%m-%d %H:%M:%S') AS ts_roundtrip,
           (props IS NOT NULL AND event_type <> 'error') AS is_valid
    FROM events
    WHERE value IS NOT NULL
    """,
)
def project_events_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P4+P5+P7+P9+P11+P12 composite (driver row for the
    scalar-cleaning family; singles above are local-only — each column
    reuses the exact expression of its single-operator query, see their
    docstrings for reference citations): IS NOT NULL filter pushed to
    the scan, JSON path extraction, casts (with the trunc-vs-round
    dialect note from cast_types), date partition key, 'NULL'-literal
    nullify, value-map CASE, epoch-millis round-trip. One events scan,
    all columns codegen'd, zero Python."""
    mapping = {
        "signup": "Registration",
        "purchase": "Transaction",
        "click": "Engagement",
        "view": "Engagement",
    }
    cat = map_values("event_type", mapping)
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.select(
        "event_id",
        json_str("props", "$.k").alias("k_str"),
        json_int("props", "$.k").alias("k_int"),
        F.col("value").cast("int").alias("value_int"),
        F.col("user_id").cast("string").alias("user_str"),
        F.col("ts").cast("date").alias("event_date"),
        date_key("ts").alias("ingestion_date"),
        nullify_literal("event_type", "error").alias("event_type_clean"),
        cat.otherwise("Other").alias("event_category"),
        F.unix_millis("ts").alias("ts_ms"),
        F.date_format(F.timestamp_millis(F.unix_millis("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_roundtrip"
        ),
        (F.col("props").isNotNull() & (F.col("event_type") != "error")).alias("is_valid"),
    )


@query(
    "arith_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged,
           CAST(trunc(l_quantity) AS INTEGER) % 7 AS qty_mod
    FROM lineitem
    """,
)
def arith_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: scalar arithmetic (the TPC-H revenue expression shape;
    datagen.py:84-85 does equivalent row math in pandas). Rounding
    precision ≥ the true decimal width of the product (2dp×2dp → 4dp)
    so the round never lands on a representability boundary — the
    engines' round algorithms differ exactly there."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
        ).alias("charged"),
        (F.col("l_quantity").cast("int") % 7).alias("qty_mod"),
    )


@query(
    "project_interval",
    oracle="""
    SELECT event_id,
           strftime(ts + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS due_ts,
           strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
           CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
             AS days_since,
           CAST(extract(hour FROM ts) AS BIGINT) AS event_hour
    FROM events
    """,
)
def project_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P-family BONUS (interval arithmetic is explicitly absent from
    the reference): timestamp +/- INTERVAL, ISO-week truncation, and
    day-difference math — the SLA/retention expressions a scheduler
    layer computes. All Catalyst interval expressions inside
    whole-stage codegen (no Python, no shuffle — this is a pure map).
    Both engines truncate 'week' to Monday and count day diffs as
    calendar-date difference, so the oracle is expressible without
    adjustment; timestamps are compared as formatted strings under the UTC
    session timezone (the established discipline, see dedup_latest)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 90 MINUTES"), "yyyy-MM-dd HH:mm:ss"
        ).alias("due_ts"),
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias("week_start"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since"),
        F.hour("ts").cast("bigint").alias("event_hour"),
    )


@query(
    "json_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k_variant,
           (props IS NOT NULL) AS has_props
    FROM events
    WHERE event_id < 2000
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 on the Spark 4 VARIANT path: ``parse_json`` → ``variant_get``
    instead of per-path ``get_json_object`` string re-parsing. VARIANT
    parses the document ONCE into a binary tree that every subsequent
    path access reuses — with many extracted paths (real event schemas
    have dozens) the classic form re-tokenizes the JSON string per
    path, while variant_get walks the parsed tree; at 100 TB of event
    logs that's the difference between O(paths) parses and one.
    ``try_parse_json`` + ``try_variant_get`` (not the throwing forms)
    keep malformed rows NULL instead of failing the batch, matching
    ->> oracle semantics — the throwing ``parse_json`` would abort the
    job on the first bad document under ANSI mode. The binary never
    leaves the JVM and the output columns are plain longs/booleans, so
    the oracle stays engine-neutral."""
    ev = table(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    return ev.filter(F.col("event_id") < 2000).select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_variant"),
        F.col("props").isNotNull().alias("has_props"),
    )
