"""Batch CDC queries (SURVEY.md §2h T1-T5 + S6 merge_upsert).

The reference consumes CDC in batch: every dbt run re-reads the whole
Kafka topic through Trino's connector and rebuilds the raw table
(kafka.properties:7, raw_provider_postgres.sql:14-32), with a
declared-but-inert merge config (:9-10). Here the batch path is the
oracle-checked one; streaming.py provides the same transforms over
readStream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import ts_str
from ..registry import query
from .envelope import (
    ENVELOPE_V2_SCHEMA,
    decode_envelopes,
    decode_envelopes_variant,
    decode_live_envelopes,
    synthesize_envelopes,
)

# Shared op-derivation CASE used by every oracle below (must mirror
# envelope.op_from_event_id exactly).
_OP_SQL = (
    "CASE WHEN event_id % 10 = 0 THEN 'd' "
    "WHEN event_id % 3 = 0 THEN 'u' ELSE 'c' END"
)


@query(
    "cdc_parse_full",
    oracle=f"""
    SELECT {_OP_SQL} AS op,
           epoch_ms(ts) AS ts_ms,
           CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_id END AS event_id,
           CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS event_type,
           CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS value,
           'events' AS src_table
    FROM events
    """,
)
def cdc_parse_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: Debezium envelope decode — JSON → typed columns
    (provider.json:10-26 mapping; setup.py:68-85 connector config).
    Synthesizes envelopes from ``events``, then decodes with the
    declared schema; deletes surface null ``after`` fields."""
    ev = table(spark, sf_dir, "events")
    decoded = decode_envelopes(synthesize_envelopes(ev))
    return decoded.select(
        "op",
        "ts_ms",
        F.col("after.event_id").alias("event_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
        F.col("source.table").alias("src_table"),
    )


@query(
    "cdc_filter_tombstone",
    oracle=f"""
    SELECT {_OP_SQL} AS op, event_id, user_id, event_type, value
    FROM events
    WHERE event_id % 10 <> 0
    """,
)
def cdc_filter_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: tombstone filtering — the raw model keeps only rows with a
    live ``after`` image (raw_provider_postgres.sql:22
    ``where json_query(_message,'lax $.payload.after') is not null``)."""
    ev = table(spark, sf_dir, "events")
    return decode_live_envelopes(synthesize_envelopes(ev)).select(
        "op",
        F.col("after.event_id").alias("event_id"),
        F.col("after.user_id").alias("user_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
    )


def latest_wins(changes: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """A5/T3 core: latest-wins compaction — one surviving row per key,
    highest (ts, tiebreaker) wins. This is the Spark realization of the
    declared Iceberg merge (raw_provider_postgres.sql:9-10
    incremental_strategy='merge', unique_key='provider_id'). The window
    shuffles once on the key; with a bucketed/pre-partitioned target
    the shuffle is avoided entirely."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    return changes.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop(
        "__rn"
    )


def merge_upsert_frames(
    snapshot: DataFrame,
    updates: DataFrame,
    key: str,
    order_cols: tuple[str, ...] = ("ts",),
    allow_missing_columns: bool = False,
) -> DataFrame:
    """S6: MERGE upsert, engine-agnostic batch form: union the current
    snapshot with the change set, keep latest per key. On an Iceberg/
    Delta target this becomes ``MERGE INTO`` inside foreachBatch (see
    lakehouse.merge_into_table for the jar-gated real-MERGE path); the
    unionByName+window form is storage-free and what the oracle checks.

    Determinism: the UPDATE side wins ties on ``order_cols`` (a
    source-priority column), so a snapshot row and an update with equal
    order values never pick a nondeterministic winner. ``order_cols``
    is caller-suppliable for change sets ordered by something other
    than ts.

    ``allow_missing_columns`` is SCHEMA EVOLUTION (Delta's
    ``mergeSchema`` on MERGE): a change set carrying an additive
    column widens the result, with snapshot rows NULL-filled, and an
    old-shape change set against a widened snapshot NULL-fills the
    other way. Off by default: a strict unionByName fails loudly on a
    schema mismatch, which is the right default for a typo."""
    pri = "__src_priority"
    unioned = snapshot.withColumn(pri, F.lit(0)).unionByName(
        updates.withColumn(pri, F.lit(1)),
        allowMissingColumns=allow_missing_columns,
    )
    return latest_wins(unioned, key, [*order_cols, pri]).drop(pri)


@query(
    "merge_upsert",
    oracle="""
    WITH snap AS (
      SELECT event_id, ts, user_id, event_type, value
      FROM events WHERE event_id % 5 <> 0
    ),
    upd AS (
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
             value + 100.0 AS value
      FROM events WHERE event_id % 2 = 0
    ),
    unioned AS (SELECT * FROM snap UNION ALL SELECT * FROM upd),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM unioned
    )
    SELECT event_id, user_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM ranked WHERE rn = 1
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/T3: incremental merge by unique key. Simulates: a current
    snapshot (event_id %5 != 0) receiving a CDC update batch
    (event_id %2 == 0, value+100, 1h later) — updates win on overlap,
    inserts appear, untouched rows survive."""
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    snapshot = ev.filter(F.col("event_id") % 5 != 0)
    updates = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "user_id",
        "event_type",
        (F.col("value") + F.lit(100.0)).alias("value"),
    )
    merged = merge_upsert_frames(snapshot, updates, "event_id")
    return merged.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        ts_str("ts").alias("ts_str"),
    )


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: tumbling-window event counts (Elementary volume-metric intent,
    app.py:52-58) — batch equivalent of the streaming windowed agg in
    streaming.py (same 1-hour buckets; F.window's start == date_trunc
    hour for hour-aligned tumbling windows)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT *, CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: session windows (30-min inactivity gap), batch-equivalent
    form: gap-flag via lag, running sum → session id, aggregate per
    session. The streaming form (F.session_window + watermark) lives in
    streaming.py; this form is what the oracle can check."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Microsecond-exact gap compare to match the oracle's interval
    # arithmetic (a seconds-truncated cast would misclassify gaps that
    # straddle the 30-minute boundary by <1s).
    flagged = ev.withColumn(
        "new_session",
        F.when(
            prev_ts.isNull()
            | (F.unix_micros("ts") - F.unix_micros(prev_ts) > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        ts_str(F.min("ts")).alias("session_start"),
        ts_str(F.max("ts")).alias("session_end"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "cdc_parse",
    oracle=f"""
    SELECT {_OP_SQL} AS op,
           epoch_ms(ts) AS ts_ms,
           event_id, user_id, event_type, value,
           'events' AS src_table
    FROM events
    WHERE event_id % 10 <> 0
    """,
)
def cdc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2 composite (driver row for envelope decode + tombstone
    filter; cdc_parse_full / cdc_filter_tombstone above are local-only):
    Debezium envelope decode (provider.json:10-26 mapping) followed by
    the raw model's tombstone filter (raw_provider_postgres.sql:22
    ``where json_query(_message,'lax $.payload.after') is not null``),
    projecting op, ts_ms, the live after-image fields, and the source
    table."""
    ev = table(spark, sf_dir, "events")
    return decode_live_envelopes(synthesize_envelopes(ev)).select(
        "op",
        "ts_ms",
        F.col("after.event_id").alias("event_id"),
        F.col("after.user_id").alias("user_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
        F.col("source.table").alias("src_table"),
    )


@query(
    "cdc_parse_variant",
    oracle=f"""
    SELECT {_OP_SQL} AS op,
           epoch_ms(ts) AS ts_ms,
           event_id, event_type, value,
           CAST(props::JSON->>'k' AS BIGINT) AS props_k,
           'events' AS src_table
    FROM events
    WHERE event_id % 10 <> 0
    """,
)
def cdc_parse_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 on the Spark 4 VARIANT path (schema-on-read twin of
    ``cdc_parse``): ``try_parse_json`` once per message, then
    ``try_variant_get`` walks the pre-parsed tree — including a
    SECOND-level parse of the ``props`` field, which Debezium ships
    as a JSON *string inside* the JSON envelope (the reference's
    Trino model reads the envelope the same lax way,
    raw_provider_postgres.sql:22). The struct-schema decode
    (``cdc_parse``) nulls fields the schema literal doesn't declare;
    this form keeps evolving payloads queryable with no redeploy.
    Equivalence with the struct decode is pinned by
    tests/test_cdc_variant.py on the full frame."""
    ev = table(spark, sf_dir, "events")
    dec = decode_envelopes_variant(synthesize_envelopes(ev))
    after = F.col("after")
    props_json = F.try_parse_json(
        F.try_variant_get(after, "$.props", "string")
    )
    return dec.filter(after.isNotNull()).select(
        "op",
        "ts_ms",
        F.try_variant_get(after, "$.event_id", "bigint").alias("event_id"),
        F.try_variant_get(after, "$.event_type", "string").alias("event_type"),
        F.try_variant_get(after, "$.value", "double").alias("value"),
        F.try_variant_get(props_json, "$.k", "bigint").alias("props_k"),
        "src_table",
    )


@query(
    "cdc_schema_evolution",
    oracle=f"""
    SELECT {_OP_SQL} AS op,
           epoch_ms(ts) AS ts_ms,
           event_id, user_id, event_type, value,
           CASE WHEN event_id % 2 = 1 THEN
             CASE WHEN event_id % 4 = 1 THEN 'web' ELSE 'mobile' END
           END AS channel,
           (event_id % 2 = 1) AS is_post_ddl
    FROM events
    WHERE event_id % 10 <> 0
    """,
)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common CDC operational event (r11 verdict #6): the
    upstream table gains a column mid-topic (ALTER TABLE ... ADD
    channel), so LATER envelopes carry an extra ``after.channel``
    field and earlier ones lack the key entirely (Debezium serializes
    what the table has at commit time). The consumer's move is the
    declared-target-schema read — decode the WHOLE topic under the
    widened ENVELOPE_V2_SCHEMA: ``from_json`` NULL-fills ``channel``
    on every pre-DDL message and surfaces it on post-DDL ones, no
    topic rewind, no dual decode path (the same posture as
    operators/evolution.read_with_target_schema for files; the wire
    shape itself — key absent vs key present — is pinned by
    tests/test_kafka_wire.py).

    Fixture determinism: odd event_ids are "post-DDL" rows carrying
    channel web/mobile by id arithmetic; evens are pre-DDL rows whose
    serialized envelopes omit the key (to_json ignoreNullFields).
    Tombstones filtered as in cdc_parse."""
    ev = table(spark, sf_dir, "events")
    post_ddl = F.col("event_id") % 2 == 1
    channel = F.when(
        post_ddl,
        F.when(F.col("event_id") % 4 == 1, F.lit("web")).otherwise(F.lit("mobile")),
    )
    wire = synthesize_envelopes(ev, image_extra={"channel": channel})
    return decode_live_envelopes(wire, schema=ENVELOPE_V2_SCHEMA).select(
        "op",
        "ts_ms",
        F.col("after.event_id").alias("event_id"),
        F.col("after.user_id").alias("user_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
        F.col("after.channel").alias("channel"),
        F.col("after.channel").isNotNull().alias("is_post_ddl"),
    )


@query(
    "stream_late_drop",
    oracle="""
    WITH arr AS (
      SELECT event_id, event_type, value,
             CASE WHEN event_id % 37 = 0 THEN ts - INTERVAL 48 HOUR ELSE ts END AS event_time,
             event_id // 100 AS batch_id
      FROM events
    ),
    bm AS (SELECT batch_id, max(event_time) AS bmax FROM arr GROUP BY batch_id),
    wm AS (SELECT batch_id,
                  max(bmax) OVER (ORDER BY batch_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    - INTERVAL 10 MINUTE AS w
           FROM bm),
    kept AS (
      SELECT arr.* FROM arr JOIN wm USING (batch_id)
      WHERE wm.w IS NULL OR arr.event_time >= wm.w
    )
    SELECT strftime(date_trunc('hour', event_time), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM kept
    GROUP BY 1, 2
    """,
)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 watermark/late-data semantics, batch-deterministic twin of the
    streaming form (streaming.py late_drop_stream): arrival order is
    event_id; out-of-order arrivals are synthesized deterministically
    (every 37th event's event time is 48 h older than its arrival
    slot). Micro-batches of 100 arrivals update the watermark exactly
    as Structured Streaming does — watermark entering batch N =
    max(event_time) over batches < N minus the 10-minute delay — and
    events below it are dropped before the tumbling hourly aggregation.

    Scale posture: the per-batch max is a distributed groupBy; the
    prefix-max runs on the tiny batch-summary table (rows = batches,
    not events) so the unpartitioned window is safe; the watermark
    table broadcasts back onto arrivals. In production this whole
    construction IS `withWatermark("event_time", "10 minutes")` —
    state-bounded, no global sort anywhere."""
    ev = table(spark, sf_dir, "events")
    event_time = F.when(
        F.col("event_id") % 37 == 0, F.col("ts") - F.expr("INTERVAL 48 HOURS")
    ).otherwise(F.col("ts"))
    arr = ev.select(
        "event_id",
        "event_type",
        "value",
        event_time.alias("event_time"),
        F.expr("event_id DIV 100").alias("batch_id"),
    )
    bm = arr.groupBy("batch_id").agg(F.max("event_time").alias("bmax"))
    w = Window.orderBy("batch_id").rowsBetween(Window.unboundedPreceding, -1)
    wm = bm.select(
        "batch_id",
        (F.max("bmax").over(w) - F.expr("INTERVAL 10 MINUTES")).alias("w"),
    )
    kept = arr.join(F.broadcast(wm), "batch_id").filter(
        F.col("w").isNull() | (F.col("event_time") >= F.col("w"))
    )
    return (
        kept.groupBy(F.window("event_time", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "cdc_scd2_history",
    oracle=f"""
    WITH ch AS (
      SELECT {_OP_SQL} AS op, event_id, user_id, event_type, value,
             epoch_ms(ts) AS ts_ms
      FROM events
    ), seq AS (
      SELECT op, event_id, user_id, event_type, value, ts_ms,
             lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
               AS next_ts_ms
      FROM ch
    )
    SELECT user_id, event_id, event_type, value,
           CAST(ts_ms AS BIGINT) AS valid_from_ms,
           CAST(next_ts_ms AS BIGINT) AS valid_to_ms,
           (next_ts_ms IS NULL) AS is_current
    FROM seq WHERE op <> 'd'
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-family completion: type-2 slowly-changing history from the
    CDC change stream — dbt's ``snapshot`` feature
    (strategy='timestamp'), which is the reference stack's standard
    way to keep row history that its models don't materialize
    (raw_provider_postgres.sql keeps only the latest image via the
    declared merge). Every non-delete change becomes a versioned row:
    valid_from = its change time, valid_to = the NEXT change of the
    same key (delete included — a tombstone closes the last version
    without opening one), is_current = still open. The key/ordering
    columns coalesce after/before images, because Debezium deletes
    carry only ``before`` (provider.json:13-20) yet must close their
    predecessor.

    Plan: decode (pure map) → ONE window shuffle keyed by user_id —
    identical shape and cost to latest-wins compaction; there is no
    self-join formulation worth considering (the classic
    LEFT JOIN next-change approach shuffles twice and breaks on
    equal-ts ties that the window tiebreaker handles). At 100 TB an
    incremental snapshot run unions yesterday's open rows with
    today's changes before the same window — the operator is
    unchanged, only its input narrows."""
    ev = table(spark, sf_dir, "events")
    decoded = decode_envelopes(synthesize_envelopes(ev))
    ch = decoded.select(
        "op",
        "ts_ms",
        F.coalesce(F.col("after.user_id"), F.col("before.user_id")).alias("user_id"),
        F.coalesce(F.col("after.event_id"), F.col("before.event_id")).alias("event_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    seq = ch.withColumn("next_ts_ms", F.lead("ts_ms").over(w))
    return seq.filter(F.col("op") != "d").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.col("ts_ms").alias("valid_from_ms"),
        F.col("next_ts_ms").alias("valid_to_ms"),
        F.col("next_ts_ms").isNull().alias("is_current"),
    )
