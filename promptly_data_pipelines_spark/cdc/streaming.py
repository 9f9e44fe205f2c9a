"""Structured Streaming forms of the CDC path (SURVEY.md §2h).

The reference's "streaming" is batch-over-Kafka (Trino re-reads the
topic each run). At 100 TB/day that is untenable — the scale mode is a
real readStream with incremental state. These functions apply the SAME
transforms as cdc.batch (decode_live_envelopes, latest_wins) to streaming
DataFrames; tests drive them with a file source + availableNow
trigger, production would use ``format("kafka")``:

    spark.readStream.format("kafka")
         .option("kafka.bootstrap.servers", ...)
         .option("subscribe", "cdc.public.provider")   # source.yaml:8-9
         .load()
         .select(col("value").cast("string").alias("raw_message"),
                 col("timestamp").alias("kafka_timestamp"))

— the Kafka ``timestamp`` column is the Trino connector's
``_timestamp`` internal column (kafka.properties:8).
"""

from __future__ import annotations

import glob
import math
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table
from ..functions import ts_str
from ..operators import snapshot_store
from ..operators.layout import partition_for_write
from ..operators.snapshot_store import (
    branch_snapshot,
    changelog_frame,
    merge_branch,
    read_upsert_target,
    tag_snapshot,
    upsert_changelog,
    upsert_history,
)
from ..registry import query
from ..session import scoped_session
from .envelope import (
    ENVELOPE_SCHEMA,
    ENVELOPE_V2_SCHEMA,
    decode_live_envelopes,
    synthesize_envelopes,
)
from .staging import (
    drain_partial_store,
    drain_stream,
    foreach_batch_writer,
    fresh_staging_dir,
    publish_arrivals,
    stage_frames,
    staging_base,
)

RAW_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("raw_message", T.StringType()),
        T.StructField("kafka_timestamp", T.TimestampType()),
    ]
)


def read_envelope_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stand-in for the Kafka topic: a directory of JSON
    lines with the raw envelope per row. Explicit schema — streaming
    sources never infer."""
    return spark.readStream.schema(RAW_STREAM_SCHEMA).json(path)


def live_rows(
    stream: DataFrame,
    schema=None,
    extra_image_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Decode + tombstone-filter (T1+T2), streaming-safe (stateless:
    the batch path's own :func:`decode_live_envelopes`).
    ``schema``/``extra_image_cols`` are the post-DDL consumer shape:
    decode under a widened envelope schema (e.g. ENVELOPE_V2_SCHEMA)
    and surface the additive ``after.<col>`` fields — pre-DDL
    messages NULL-fill them (cdc_schema_evolution's decode posture,
    reusable by the upsert sink's schema-evolution path)."""
    return decode_live_envelopes(stream, schema or ENVELOPE_SCHEMA).select(
        "op",
        F.timestamp_millis("ts_ms").alias("ts"),
        F.col("after.event_id").alias("event_id"),
        F.col("after.user_id").alias("user_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
        *[F.col(f"after.{c}").alias(c) for c in extra_image_cols],
    )


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T5 streaming form: watermarked 1-hour tumbling windows. The
    watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted."""
    rows = live_rows(stream)
    return (
        rows.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """T6 streaming form: native session windows with an inactivity gap
    (F.session_window merges overlapping per-key windows in state)."""
    rows = live_rows(stream)
    return (
        rows.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def enrich_with_dim(live: DataFrame, dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream-static join: enrich the CDC stream with a batch dim table
    (the curated_provider.sql:66-68 join, streaming edition). The
    static side is re-read per micro-batch (picks up dim updates
    between batches); Spark broadcasts it when small. No watermark
    needed — stream-static joins are stateless."""
    return live.join(dim, on, how)


def route_by_op(decoded: DataFrame) -> dict[str, DataFrame]:
    """T3: op-type routing (provider.json:21 op ∈ c|u|d|r). Returns one
    branch per operation class — upserts (c/u/r, with the row image
    from ``after``) and deletes (d, keyed from ``before``). Works on
    batch and streaming frames alike; in foreachBatch the two branches
    become the WHEN MATCHED UPDATE / WHEN MATCHED DELETE arms of a
    storage MERGE."""
    upserts = decoded.filter(F.col("op").isin("c", "u", "r")).select(
        "op",
        F.timestamp_millis("ts_ms").alias("ts"),
        F.col("after.event_id").alias("event_id"),
        F.col("after.user_id").alias("user_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
    )
    deletes = decoded.filter(F.col("op") == "d").select(
        "op",
        F.timestamp_millis("ts_ms").alias("ts"),
        F.col("before.event_id").alias("event_id"),
    )
    return {"upserts": upserts, "deletes": deletes}


def upsert_sink(
    stream: DataFrame,
    target_path: str,
    checkpoint: str,
    key: str = "event_id",
    keep_snapshots: int = 2,
    evolve_schema: bool = False,
    branch: str | None = None,
    changelog_path: str | None = None,
):
    """T3/S6 streaming form: foreachBatch MERGE by ``key``, latest
    ``ts`` winning. Each micro-batch commits a NEW immutable snapshot
    through :func:`snapshot_store.commit`: a delta holding only the
    batch, read latest-wins over its chain, or — once the chain reaches
    1/8 of its base's rows, and for the first commit — the full table,
    one row per key. The committed pointer moves only after the write
    completes, so a crash at any point leaves the previous snapshot
    committed (an in-place ``mode("overwrite")`` of the target would
    delete the old files FIRST, and a mid-write crash plus retry would
    reset the target to one micro-batch). A redelivered batch rewrites
    its own snap dir and re-flips the pointer: idempotent. On
    Iceberg/Delta this body is one ``MERGE INTO`` (the reference
    declares exactly that intent: raw_provider_postgres.sql:9-10).
    Read the target through ``read_upsert_target``.

    ``keep_snapshots`` is the retention window: the newest N snapshots
    survive each commit's GC (at least 2 — the committed state and the
    predecessor a concurrent reader may hold), plus the base and deltas
    their chains read. Every snapshot reads as the merged state after
    its batch, so a larger window buys TIME TRAVEL
    (``read_upsert_target(..., as_of_batch=N)``) at the cost of one
    delta per batch and one full table per compaction; prune later
    with :func:`expire_snapshots`.

    ``evolve_schema=True`` widens the table with a batch's new columns
    and NULL-fills either side (Delta's mergeSchema-on-MERGE); by
    default a batch whose columns differ from the table's fails.

    ``branch=`` (the Nessie writable-ref role) routes every commit into
    the branch sub-store created by :func:`branch_snapshot`: its first
    commit merges over the fork base, which stays in main, pinned, and
    writes a full snapshot; :func:`merge_branch` fast-forwards the
    result back.

    ``changelog_path=`` makes the sink a CHANGE-FEED PRODUCER (Delta
    CDF's streaming ``readChangeFeed`` role): each commit also writes
    the per-batch changelog (new snapshot vs its predecessor over the
    keys the batch carries, the same union-schema diff as
    :func:`upsert_changelog`) under
    ``<changelog_path>/commit_batch=<snap id>``, mode-overwrite and
    BEFORE the pointer flip, so a redelivered batch rewrites its own
    partition: exactly-once. Consumers read the path as a partitioned
    parquet source with ``commit_batch`` as the feed cursor; the
    concatenation of the per-batch partitions equals
    :func:`upsert_changelog` between the endpoints.

    Snapshot ids, engine batch ids and the redelivery rule are the
    store's (:func:`snapshot_store.commit`)."""
    if keep_snapshots < 2:
        # fewer than 2 would let GC delete the predecessor a concurrent
        # reader resolved a moment before the pointer flip
        raise ValueError(f"keep_snapshots must be >= 2, got {keep_snapshots}")
    root = target_path if branch is None else snapshot_store.branch_root(target_path, branch)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        def emit(prev_df: DataFrame | None, new_state: DataFrame, snap_id: int) -> None:
            # the per-commit change feed, written BEFORE the pointer
            # flip: a crash after the flip short-circuits as redelivery
            # with the feed already durable; a crash before it
            # re-derives identical rows into the same id-keyed dir
            # (exactly-once by overwrite). Only keys the batch carries
            # can change, so both views are cut to those keys first
            # and the unchanged mass is never joined.
            if prev_df is None:
                feed = new_state.select(F.lit("insert").alias("change_type"), "*")
            else:
                keys = batch_df.select(key)
                feed = changelog_frame(
                    prev_df.join(keys, key, "left_semi"),
                    new_state.join(keys, key, "left_semi"),
                    key,
                )
            feed.write.mode("overwrite").parquet(
                f"{changelog_path}/commit_batch={snap_id}"
            )

        # evolve_schema serves a consumer redeployed with a widened
        # decode: its batches carry new columns, and its checkpoint may
        # replay an old-shape batch against the widened table
        snapshot_store.commit(
            batch_df.sparkSession, root, keep_snapshots, batch_id,
            snapshot_store.Upsert(batch_df, key, evolve_schema=evolve_schema),
            emit if changelog_path is not None else None,
            run_id=checkpoint, branch=branch,
        )

    return foreach_batch_writer(stream, merge_batch, checkpoint)


def _bumped(df: DataFrame, dv: float = 100.0, hours: int = 1) -> DataFrame:
    """``df`` as an update pass: value + ``dv``, ts + ``hours``."""
    return df.withColumn("value", F.col("value") + F.lit(dv)).withColumn(
        "ts", F.col("ts") + F.expr(f"INTERVAL {hours} HOURS")
    )


def _arrival_slices(ev: DataFrame, migrate: bool = False) -> list[DataFrame]:
    """The three-batch arrival fixture: two disjoint insert waves
    (event_id % 3 == 0, then the rest) and an update pass over the
    evens (value + 100, ts + 1 h). ``migrate`` also moves the
    event_id % 4 == 0 slice to event_type 'migrated', so group
    membership moves, not just a measure."""
    upd = _bumped(ev.filter(F.col("event_id") % 2 == 0))
    if migrate:
        upd = upd.withColumn(
            "event_type",
            F.when(F.col("event_id") % 4 == 0, F.lit("migrated")).otherwise(
                F.col("event_type")
            ),
        )
    waves = [ev.filter(F.col("event_id") % 3 == 0), ev.filter(F.col("event_id") % 3 != 0)]
    return waves + [upd]


def _upsert_arrivals(
    spark: SparkSession,
    base: str,
    frames: list[DataFrame],
    what: str,
    src: str = "src",
    ckpt: str = "ckpt",
    channel: Column | None = None,
    **sink_kw,
) -> str:
    """Stage one Debezium envelope file per frame into ``base/<src>``
    and drain them through :func:`upsert_sink` into ``base/tgt``, one
    file per micro-batch, every snapshot kept; returns the target.
    ``channel`` is the post-DDL upstream: the envelopes carry it as an
    extra image column, the consumer decodes ENVELOPE_V2_SCHEMA and the
    sink evolves the target schema."""
    image_extra = None if channel is None else {"channel": channel}
    src = os.path.join(base, src)
    stage_frames([synthesize_envelopes(f, image_extra=image_extra) for f in frames], src)
    stream = (
        spark.readStream.schema(RAW_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    rows = (
        live_rows(stream)
        if channel is None
        else live_rows(stream, ENVELOPE_V2_SCHEMA, ("channel",))
    )
    tgt = os.path.join(base, "tgt")
    q = upsert_sink(
        rows, tgt, os.path.join(base, ckpt), keep_snapshots=100,
        evolve_schema=channel is not None, **sink_kw,
    ).start()
    drain_stream(q, what)
    return tgt


def _changelog_arrivals(
    spark: SparkSession, sf_dir: str, tag: str, what: str, migrate: bool = True
) -> tuple[str, str]:
    """:func:`_arrival_slices` drained through a change-feed-producing
    upsert sink; returns (target, changelog) paths."""
    base = fresh_staging_dir(spark, sf_dir, tag)
    cl = os.path.join(base, "changelog")
    slices = _arrival_slices(table(spark, sf_dir, "events"), migrate)
    return _upsert_arrivals(spark, base, slices, what, changelog_path=cl), cl


def _event_rows(df: DataFrame, *lead, extra: tuple[str, ...] = ()) -> DataFrame:
    """The event columns the snapshot-store oracles compare: ``lead``
    label columns, the row image, ``extra`` columns, ts as text."""
    return df.select(
        *lead, "event_id", "user_id", "event_type", "value", *extra,
        ts_str(F.col("ts")).alias("ts_str"),
    )


@query(
    "merge_upsert_time_travel",
    # the oracle replays the batch prefix in SQL: the 'cut' state is
    # the two insert slices (all live event_ids, original values); the
    # 'head' state is that plus the update batch winning latest-ts on
    # even ids. epoch_ms mirrors the envelope's unix_millis truncation
    # (same as cdc_parse).
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type, value,
             epoch_ms(ts) AS ms
      FROM events WHERE event_id % 10 <> 0
    ),
    upd AS (
      SELECT event_id, user_id, event_type, value + 100.0 AS value,
             epoch_ms(ts + INTERVAL 1 HOUR) AS ms
      FROM events WHERE event_id % 2 = 0 AND event_id % 10 <> 0
    ),
    head AS (
      SELECT * FROM base WHERE event_id % 2 <> 0
      UNION ALL SELECT * FROM upd
    )
    SELECT 'cut' AS state, event_id, user_id, event_type, value,
           strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM base
    UNION ALL
    SELECT 'head' AS state, event_id, user_id, event_type, value,
           strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM head
    """,
)
def merge_upsert_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 time travel end to end under the real engine: three envelope
    files are staged with strictly increasing mtimes — two insert
    slices (event_id%3==0, then the rest) and a trailing UPDATE batch
    (even ids, value+100, ts+1h) — and drained through ``upsert_sink``
    one file per micro-batch (the file source processes oldest-mtime
    first, so the batch order is pinned). The second-to-last snapshot
    is then TAGGED ('cut', the Nessie-ref form) and read back via
    ``as_of_tag`` alongside the committed head; both states are
    returned labeled. The oracle replays the same prefix algebra in
    SQL: 'cut' = all live inserts untouched, 'head' = latest-wins with
    the update slice beating the inserts on even ids — so snapshot
    isolation, pointer commit, tagging, and the merge itself are all
    value-checked, not just row-counted."""
    base = fresh_staging_dir(spark, sf_dir, "tt_upsert")
    slices = _arrival_slices(table(spark, sf_dir, "events"))
    tgt = _upsert_arrivals(spark, base, slices, "time-travel upsert")
    batch_ids = sorted(h["batch_id"] for h in upsert_history(spark, tgt))
    tag_snapshot(spark, tgt, "cut", batch_id=batch_ids[-2])
    return _event_rows(
        read_upsert_target(spark, tgt, as_of_tag="cut"), F.lit("cut").alias("state")
    ).unionByName(_event_rows(read_upsert_target(spark, tgt), F.lit("head").alias("state")))


@query(
    "merge_upsert_changelog",
    # the oracle replays both directions of the change feed in SQL:
    # forward (cut -> head) = inserts of the %4==1 ids + pre/post
    # pairs for the evens update; backward (head -> cut) = the exact
    # mirror (inserts become deletes, pre/post swap). Unchanged keys
    # (all other live ids) must emit NOTHING in either direction.
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms
      FROM events WHERE event_id % 10 <> 0
    ),
    ins AS (SELECT * FROM live WHERE event_id % 4 = 1),
    upd_pre AS (SELECT * FROM live WHERE event_id % 2 = 0),
    upd_post AS (
      SELECT event_id, user_id, event_type, value + 100.0 AS value,
             ms + 3600000 AS ms
      FROM upd_pre
    ),
    lab AS (
      SELECT 'fwd' AS direction, 'insert' AS change_type, * FROM ins
      UNION ALL SELECT 'fwd', 'update_preimage', * FROM upd_pre
      UNION ALL SELECT 'fwd', 'update_postimage', * FROM upd_post
      UNION ALL SELECT 'bwd', 'delete', * FROM ins
      UNION ALL SELECT 'bwd', 'update_preimage', * FROM upd_post
      UNION ALL SELECT 'bwd', 'update_postimage', * FROM upd_pre
    )
    SELECT direction, change_type, event_id, user_id, event_type, value,
           strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM lab
    """,
)
def merge_upsert_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the snap-dir target (the Delta CDF role),
    end to end under the real engine: batch 0 seeds the table with the
    %4!=1 live ids, batch 1 delivers inserts (the %4==1 ids) plus an
    update pass over the evens (value+100, ts+1h); the seed snapshot
    is tagged 'cut' and :func:`upsert_changelog` is computed in BOTH
    directions (cut->head and head->cut), so every change_type —
    insert, delete, update_preimage, update_postimage — is exercised
    and value-checked, and the unchanged mass (odd non-insert ids,
    identical in both states) is pinned to emit nothing."""
    ev = table(spark, sf_dir, "events")
    seed = ev.filter(F.col("event_id") % 4 != 1)
    delta = ev.filter(F.col("event_id") % 4 == 1).unionByName(
        _bumped(ev.filter(F.col("event_id") % 2 == 0))
    )
    base = fresh_staging_dir(spark, sf_dir, "cdf_upsert")
    tgt = _upsert_arrivals(spark, base, [seed, delta], "changelog upsert")
    batch_ids = sorted(h["batch_id"] for h in upsert_history(spark, tgt))
    tag_snapshot(spark, tgt, "cut", batch_id=batch_ids[0])
    fwd = upsert_changelog(spark, tgt, "event_id", from_tag="cut")
    bwd = upsert_changelog(spark, tgt, "event_id", from_batch=None, to_tag="cut")
    return _event_rows(fwd, F.lit("fwd").alias("direction"), "change_type").unionByName(
        _event_rows(bwd, F.lit("bwd").alias("direction"), "change_type")
    )


@query(
    "merge_upsert_schema_evolution",
    # oracle: evens keep their v1 rows with channel NULL-backfilled;
    # odds carry the post-DDL update (value+100, ts+1h, channel by id
    # arithmetic — the deterministic fixture cdc_schema_evolution uses)
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms
      FROM events WHERE event_id % 10 <> 0
    )
    SELECT event_id, user_id, event_type, value,
           CAST(NULL AS VARCHAR) AS channel,
           strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM live WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, user_id, event_type, value + 100.0 AS value,
           CASE WHEN event_id % 4 = 1 THEN 'web' ELSE 'mobile' END AS channel,
           strftime(make_timestamp((ms + 3600000) * 1000),
                    '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM live WHERE event_id % 2 = 1
    """,
)
def merge_upsert_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION ON THE SINK, end to end under the real engine
    (decoding a widened envelope is cdc_schema_evolution's job; STORING
    it against a narrower committed snapshot is this one's): drain 1
    commits the whole feed under the v1 shape; the upstream then gains
    ``channel`` (ALTER TABLE), the producer emits post-DDL updates for
    the odd ids, and the consumer restarts from the SAME checkpoint
    redeployed with the v2 decode and ``evolve_schema=True`` — the next
    snapshot carries the union schema, v1 rows NULL-backfilled, exactly
    Delta's mergeSchema-on-MERGE. The committed state is then
    value-checked whole: evens = untouched v1 rows with channel NULL,
    odds = the post-DDL update with its channel."""
    ev = table(spark, sf_dir, "events")
    base = fresh_staging_dir(spark, sf_dir, "evo_upsert")
    # generation 1: the whole feed, v1 wire shape (no channel key)
    tgt = _upsert_arrivals(spark, base, [ev], "schema-evolution drain 1 (v1)")
    # generation 2: post-DDL updates carrying channel; the consumer
    # restarts from the SAME checkpoint with the widened decode
    _upsert_arrivals(
        spark, base, [_bumped(ev.filter(F.col("event_id") % 2 == 1))],
        "schema-evolution drain 2 (v2)",
        channel=F.when(F.col("event_id") % 4 == 1, F.lit("web")).otherwise(F.lit("mobile")),
    )
    return _event_rows(read_upsert_target(spark, tgt), extra=("channel",))


@query(
    "merge_upsert_changelog_evolved",
    # oracle replays the feed across the evolution boundary: fwd
    # (v1 tag -> head) = inserts carrying channel + pre/post pairs for
    # the channel-only backfill (pre has channel NULL); bwd is the
    # exact mirror. The untouched %4 in {0,3} mass emits NOTHING.
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms
      FROM events WHERE event_id % 10 <> 0
    ),
    ins AS (
      SELECT event_id, user_id, event_type, value,
             CASE WHEN event_id % 3 = 0 THEN 'web' ELSE 'mobile' END AS channel,
             ms
      FROM live WHERE event_id % 4 = 1
    ),
    pre AS (
      SELECT event_id, user_id, event_type, value,
             CAST(NULL AS VARCHAR) AS channel, ms
      FROM live WHERE event_id % 4 = 2
    ),
    post AS (
      SELECT event_id, user_id, event_type, value,
             'backfill' AS channel, ms
      FROM live WHERE event_id % 4 = 2
    ),
    lab AS (
      SELECT 'fwd' AS direction, 'insert' AS change_type, * FROM ins
      UNION ALL SELECT 'fwd', 'update_preimage', * FROM pre
      UNION ALL SELECT 'fwd', 'update_postimage', * FROM post
      UNION ALL SELECT 'bwd', 'delete', * FROM ins
      UNION ALL SELECT 'bwd', 'update_preimage', * FROM post
      UNION ALL SELECT 'bwd', 'update_postimage', * FROM pre
    )
    SELECT direction, change_type, event_id, user_id, event_type, value,
           channel,
           strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM lab
    """,
)
def merge_upsert_changelog_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED ACROSS A SCHEMA-EVOLUTION BOUNDARY: batch 0
    seeds the table under the v1 shape (the %4!=1 live ids) and is
    tagged 'v1'; the upstream then gains ``channel`` and batch 1 —
    drained from the SAME checkpoint with the v2 decode and
    ``evolve_schema=True`` — delivers (a) INSERTS carrying the new
    column (the %4==1 ids) and (b) updates whose ONLY change is the new
    column (the %4==2 ids backfilled to 'backfill', value/ts
    untouched). :func:`upsert_changelog` is then computed in BOTH
    directions across the boundary: forward (narrow → wide) must emit
    the channel values for inserts and a pre/post pair for the
    channel-only backfill (a diff over the old columns only would drop
    exactly those rows); backward (wide → narrow) must NULL-fill
    instead of raising. The %4 in {0,3} rows are bit-identical in both
    states and pin the unchanged mass to emit nothing."""
    ev = table(spark, sf_dir, "events")
    live_pred = F.col("event_id") % 10 != 0  # synthesized %10==0 are deletes
    seed = ev.filter(F.col("event_id") % 4 != 1)
    ins = ev.filter(live_pred & (F.col("event_id") % 4 == 1)).withColumn(
        "channel",
        F.when(F.col("event_id") % 3 == 0, F.lit("web")).otherwise(F.lit("mobile")),
    )
    backfill = ev.filter(live_pred & (F.col("event_id") % 4 == 2)).withColumn(
        "channel", F.lit("backfill")
    )
    base = fresh_staging_dir(spark, sf_dir, "cdf_evo")
    tgt = _upsert_arrivals(spark, base, [seed], "evolved-changelog drain 1 (v1)")
    tag_snapshot(spark, tgt, "v1")
    _upsert_arrivals(
        spark, base, [ins.unionByName(backfill)], "evolved-changelog drain 2 (v2)",
        channel=F.col("channel"),
    )
    fwd = upsert_changelog(spark, tgt, "event_id", from_tag="v1")
    bwd = upsert_changelog(spark, tgt, "event_id", to_tag="v1")
    return _event_rows(
        fwd, F.lit("fwd").alias("direction"), "change_type", extra=("channel",)
    ).unionByName(
        _event_rows(bwd, F.lit("bwd").alias("direction"), "change_type", extra=("channel",))
    )


@query(
    "merge_upsert_branch",
    # oracle = SQL replay of main-prefix + branch batches (latest-wins
    # makes the branch exact): post-merge main =
    # seed rows where untouched, +100/+1h where the branch updated the
    # evens, plus the branch's %4==3 inserts. The pre-merge 'main'
    # state is the seed alone — returned labeled so the fork isolation
    # (branch writes invisible to main until merge) is value-checked
    # too, not just the end state.
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms
      FROM events WHERE event_id % 10 <> 0
    ),
    seed AS (SELECT * FROM live WHERE event_id % 4 <> 3),
    merged AS (
      SELECT event_id, user_id, event_type, value, ms
      FROM seed WHERE event_id % 2 <> 0
      UNION ALL
      SELECT event_id, user_id, event_type, value + 100.0 AS value,
             ms + 3600000 AS ms
      FROM seed WHERE event_id % 2 = 0
      UNION ALL
      SELECT event_id, user_id, event_type, value, ms
      FROM live WHERE event_id % 4 = 3
    ),
    lab AS (
      SELECT 'pre_merge_main' AS state, * FROM seed
      UNION ALL SELECT 'post_merge_main', * FROM merged
    )
    SELECT state, event_id, user_id, event_type, value,
           strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM lab
    """,
)
def merge_upsert_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-ON-BRANCH → FAST-FORWARD MERGE-BACK under the real engine
    (the Nessie writable-ref semantic next to tags): batch 0 seeds MAIN
    with the %4!=3 live ids; ``branch_snapshot`` forks 'dev' at the
    committed head (one pointer file, zero copy); a SECOND stream with
    its OWN checkpoint drains onto the branch via
    ``upsert_sink(..., branch='dev')`` — inserts (the %4==3 ids) plus
    updates over the evens (value+100, ts+1h) — merging against the
    fork base without copying it; main is then read BEFORE the
    merge (must still be the untouched seed: fork isolation) and
    ``merge_branch`` fast-forwards, after which main's committed head
    must equal the SQL replay of seed + branch batch. Both states are
    returned labeled and value-checked whole."""
    ev = table(spark, sf_dir, "events")
    live_pred = F.col("event_id") % 10 != 0
    seed = ev.filter(F.col("event_id") % 4 != 3)
    delta = ev.filter(live_pred & (F.col("event_id") % 4 == 3)).unionByName(
        _bumped(ev.filter(live_pred & (F.col("event_id") % 2 == 0)))
    )
    base = fresh_staging_dir(spark, sf_dir, "branch_upsert")
    tgt = _upsert_arrivals(
        spark, base, [seed], "branch demo: main seed", src="src_main", ckpt="ck_main"
    )
    branch_snapshot(spark, tgt, "dev")
    _upsert_arrivals(
        spark, base, [delta], "branch demo: dev drain", src="src_br", ckpt="ck_br",
        branch="dev",
    )
    # fork isolation: main must still be the untouched seed — snapshot
    # it (cheap local fixture) BEFORE merge flips the pointer, since
    # read_upsert_target is lazy
    pre_dir = os.path.join(base, "pre_merge")
    read_upsert_target(spark, tgt).write.mode("overwrite").parquet(pre_dir)
    merge_branch(spark, tgt, "dev")
    return _event_rows(
        spark.read.parquet(pre_dir), F.lit("pre_merge_main").alias("state")
    ).unionByName(
        _event_rows(read_upsert_target(spark, tgt), F.lit("post_merge_main").alias("state"))
    )


@query(
    "merge_upsert_rebase",
    # oracle = the rebase algebra replayed in SQL: main seeded with
    # every live id, the branch bumps the EVENS (+100, +1h), main
    # concurrently bumps the %4==3 ids (+7, +2h) — disjoint key sets,
    # so the rebase applies cleanly and the merged head carries both
    # sides' changes over the common base.
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms
      FROM events WHERE event_id % 10 <> 0
    ),
    final AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_id % 2 = 0 THEN value + 100.0
                  WHEN event_id % 4 = 3 THEN value + 7.0
                  ELSE value END AS value,
             CASE WHEN event_id % 2 = 0 THEN ms + 3600000
                  WHEN event_id % 4 = 3 THEN ms + 7200000
                  ELSE ms END AS ms
      FROM live
    )
    SELECT event_id, user_id, event_type, value,
           strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM final
    """,
)
def merge_upsert_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REBASE MERGE under the real engine (the non-fast-forward arm of
    :func:`merge_branch`): batch 0 seeds MAIN with every live id;
    'fix' forks at the head; the branch drains an update pass over
    the evens (+100, +1h) while MAIN concurrently drains its own
    update over the %4==3 ids (+7, +2h) — so by merge time main has
    MOVED and fast-forward is impossible. ``merge_branch(...,
    allow_rebase=True)`` diffs both sides against the common base,
    finds no overlapping keys (evens vs %4==3 are disjoint), and
    re-applies the branch delta onto main's head; the committed result
    must equal the SQL replay carrying BOTH sides' changes. The
    conflict paths (overlap → fail / branch-wins / main-wins) are
    module-tested; this query value-checks the clean-rebase algebra
    end to end."""
    ev = table(spark, sf_dir, "events")
    live_pred = F.col("event_id") % 10 != 0
    base = fresh_staging_dir(spark, sf_dir, "rebase_upsert")
    tgt = _upsert_arrivals(
        spark, base, [ev], "rebase demo: main seed", src="src_main", ckpt="ck_main"
    )
    branch_snapshot(spark, tgt, "fix")
    _upsert_arrivals(
        spark, base, [_bumped(ev.filter(live_pred & (F.col("event_id") % 2 == 0)))],
        "rebase demo: branch drain", src="src_br", ckpt="ck_br", branch="fix",
    )
    # main moves AFTER the fork — its own stream, its own checkpoint
    _upsert_arrivals(
        spark, base, [_bumped(ev.filter(live_pred & (F.col("event_id") % 4 == 3)), 7.0, 2)],
        "rebase demo: main moves", src="src_main2", ckpt="ck_main2",
    )
    merge_branch(spark, tgt, "fix", key="event_id", allow_rebase=True)
    return _event_rows(read_upsert_target(spark, tgt))


@query(
    "stream_exec_changelog",
    # oracle = the full feed, batch by batch: batch 0 and 1 are pure
    # insert waves (disjoint key slices), batch 2 updates every live
    # even id (value+100, ts+1h) and must emit exactly one pre/post
    # pair per even — odd ids (unchanged in batch 2) emit nothing.
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms
      FROM events WHERE event_id % 10 <> 0
    ),
    b0 AS (SELECT * FROM live WHERE event_id % 3 = 0),
    b1 AS (SELECT * FROM live WHERE event_id % 3 <> 0),
    pre AS (SELECT * FROM live WHERE event_id % 2 = 0),
    post AS (
      SELECT event_id, user_id, event_type, value + 100.0 AS value,
             ms + 3600000 AS ms
      FROM pre
    ),
    lab AS (
      SELECT 0 AS commit_batch, 'insert' AS change_type, * FROM b0
      UNION ALL SELECT 1, 'insert', * FROM b1
      UNION ALL SELECT 2, 'update_preimage', * FROM pre
      UNION ALL SELECT 2, 'update_postimage', * FROM post
    )
    SELECT CAST(commit_batch AS BIGINT) AS commit_batch, change_type,
           event_id, user_id, event_type, value,
           strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM lab
    """,
)
def stream_exec_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE FEED AS A STREAMING PRODUCT (Delta CDF's streaming
    ``readChangeFeed`` role): three envelope files drain one per
    micro-batch through ``upsert_sink(changelog_path=...)`` — two
    disjoint insert waves, then an update pass over the evens — and
    each commit also writes its per-batch diff (new snapshot vs
    predecessor) under ``commit_batch=<id>``. The whole feed is then
    read back as ordinary partitioned parquet and value-checked batch
    by batch against the SQL replay: wave membership, pre/post pairs
    for exactly the updated keys, and NOTHING for unchanged keys.
    Exactly-once is the id-keyed overwrite (see the sink docstring);
    tests/test_modules.py additionally pins per-batch feed ==
    ``upsert_changelog`` between the same endpoints."""
    _, cl = _changelog_arrivals(
        spark, sf_dir, "cdf_stream", "streaming changelog", migrate=False
    )
    return _event_rows(
        spark.read.parquet(cl),
        F.col("commit_batch").cast("bigint").alias("commit_batch"),
        "change_type",
    )


def read_change_feed(
    spark: SparkSession,
    changelog_path: str,
    after_batch: int | None = None,
    up_to_batch: int | None = None,
) -> DataFrame:
    """CHANGE-FEED CONSUMER (the read side of
    ``upsert_sink(changelog_path=...)`` — Delta CDF's
    ``readChangeFeed`` + ``startingVersion`` role): the feed slice
    with ``after_batch < commit_batch <= up_to_batch``. ``after_batch``
    is the consumer's CURSOR — exclusive, so "everything I have not
    consumed yet" is ``after_batch=<last cursor>``; advance it to
    :func:`latest_feed_batch` after processing. ``None`` means
    unbounded on that side.

    Scale posture: ``commit_batch`` is the feed's PARTITION column, so
    both bounds are partition-pruning predicates — a consumer that is
    N batches behind lists the directory and scans exactly N partition
    dirs, never the consumed history (plan-pinned in
    tests/test_plan_quality.py). Exactly-once composition: the
    producer overwrites its own id-keyed partition on redelivery, so
    any cursor walk sees each commit's rows exactly once."""
    feed = spark.read.parquet(changelog_path)
    if after_batch is not None:
        feed = feed.filter(F.col("commit_batch") > F.lit(int(after_batch)))
    if up_to_batch is not None:
        feed = feed.filter(F.col("commit_batch") <= F.lit(int(up_to_batch)))
    return feed


def latest_feed_batch(spark: SparkSession, changelog_path: str) -> int | None:
    """The newest ``commit_batch`` present in the feed — the cursor a
    consumer advances to after draining :func:`read_change_feed`. Read
    from the partition-directory NAMES (one file listing, no data
    scan); ``None`` when the feed is empty / not yet created."""
    from ..operators.fs import FileSystemOps

    fs = FileSystemOps(spark)
    if not fs.exists(changelog_path):
        return None
    ids = [
        int(p.rsplit("=", 1)[-1])
        for p in fs.list_paths(changelog_path)
        if p.rsplit("/", 1)[-1].startswith("commit_batch=")
    ]
    return max(ids) if ids else None


def maintain_grouped_agg(
    materialized: DataFrame,
    feed: DataFrame,
    group_col: str,
    value_col: str,
    count_alias: str = "n_rows",
    sum_alias: str = "sum_value",
) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE of a grouped count+sum from the
    change feed alone — the materialized-view delta algebra (Delta
    Live Tables / Materialize role): ``insert``/``update_postimage``
    rows contribute ``(+1, +value)`` to their group,
    ``delete``/``update_preimage`` rows ``(-1, -value)``, so an update
    that MOVES a row between groups decrements the old group and
    increments the new one, and a group whose count reaches zero
    disappears (as it would under direct re-aggregation). Returns the
    maintained ``(group_col, count_alias, sum_alias)`` frame — by
    construction equal to re-aggregating the target's new state, which
    is exactly what the ``changelog_incremental_agg`` oracle pins.

    Scale posture — the reason IVM exists: cost is (a) one aggregation
    over the FEED SLICE only (cursor-pruned, sized by what changed,
    partial/map-side combined) and (b) one co-partitioned full-outer
    join against the materialization, sized |groups|, NOT a rescan of
    the base table. At 100 TB with a per-commit feed this turns an
    hourly full re-aggregation into seconds of delta work.

    Contract: ``feed`` rows must carry the four producer change types;
    the sums stay full-precision doubles — round in the final
    projection, not here, so maintenance never accumulates rounding
    error."""
    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = feed.groupBy(group_col).agg(
        F.sum(sign).alias("_dn"),
        F.sum(sign.cast("double") * F.col(value_col)).alias("_dsum"),
    )
    merged = materialized.join(delta, on=group_col, how="full_outer")
    return (
        merged.select(
            group_col,
            (
                F.coalesce(F.col(count_alias), F.lit(0))
                + F.coalesce(F.col("_dn"), F.lit(0))
            ).alias(count_alias),
            (
                F.coalesce(F.col(sum_alias), F.lit(0.0))
                + F.coalesce(F.col("_dsum"), F.lit(0.0))
            ).alias(sum_alias),
        )
        .filter(F.col(count_alias) > 0)
    )


def maintain_grouped_distinct(
    support: DataFrame,
    feed: DataFrame,
    group_col: str,
    distinct_col: str,
    count_alias: str = "n_rows",
) -> DataFrame:
    """INCREMENTAL COUNT(DISTINCT) from the change feed — the support
    -table algebra that makes distinct counts deletable (a plain
    sketch can union but never subtract): maintain
    ``(group_col, distinct_col, n)`` where ``n`` is the surviving ROW
    multiplicity of that pair; a pair leaves the distinct set only
    when its LAST row leaves (n reaches 0), so deletes and
    group-moving updates are exact, not approximate. Serve
    ``COUNT(DISTINCT)`` as ``support.groupBy(group_col).count()`` —
    the ``changelog_incremental_distinct`` oracle pins that equals
    direct ``count(DISTINCT ...)`` over the new state.

    Scale posture: the support table is |group × distinct value|
    rows — the same cardinality an exact ``COUNT(DISTINCT)`` shuffle
    materializes transiently on every full recompute, here kept and
    delta-merged instead of rebuilt; per batch the cost is one
    aggregation over the feed slice plus one co-partitioned merge
    join. When the pair space itself is too big to keep, the KMV/HLL
    sketches (extensions/kmv.py) are the insert-only trade."""
    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = feed.groupBy(group_col, distinct_col).agg(F.sum(sign).alias("_dn"))
    merged = support.join(delta, on=[group_col, distinct_col], how="full_outer")
    return merged.select(
        group_col,
        distinct_col,
        (
            F.coalesce(F.col(count_alias), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias(count_alias),
    ).filter(F.col(count_alias) > 0)


@query(
    "changelog_incremental_distinct",
    # oracle = direct COUNT(DISTINCT) over the final state: evens'
    # value bump is distinct-invariant noise, the %4==0 migration
    # MOVES (event_type, user_id) pairs into 'migrated' — a user with
    # rows left behind must still count in the old group (row
    # multiplicity), one whose last row moved must not.
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type
      FROM events WHERE event_id % 10 <> 0
    ),
    final AS (
      SELECT user_id,
             CASE WHEN event_id % 4 = 0 THEN 'migrated'
                  ELSE event_type END AS event_type
      FROM live
    )
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM final GROUP BY event_type
    """,
)
def changelog_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT COUNT(DISTINCT) MAINTENANCE end to end: the same
    three-batch feed fixture as ``changelog_incremental_agg`` (two
    insert waves, then the update pass that migrates the %4==0 slice
    to a new ``event_type``), but the maintained object is the
    (group, user, multiplicity) SUPPORT table — everything after the
    first commit reaches it only through the feed. The served
    per-group distinct-user count must equal direct
    ``count(DISTINCT)`` over the final state, which only holds if
    multiplicity bookkeeping is exact: an update pair at unchanged
    group is a net zero, a migration decrements the old pair and
    increments the new, and a pair dies only with its last row."""
    tgt, cl = _changelog_arrivals(spark, sf_dir, "cdf_ivm_distinct", "IVM distinct upsert")
    cursor = min(h["batch_id"] for h in upsert_history(spark, tgt))
    support = (
        read_upsert_target(spark, tgt, as_of_batch=cursor)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    feed = read_change_feed(spark, cl, after_batch=cursor)
    maintained = maintain_grouped_distinct(
        support, feed, group_col="event_type", distinct_col="user_id"
    )
    return maintained.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def materialized_view_sink(
    changes: DataFrame,
    view_path: str,
    checkpoint: str,
    group_col: str,
    value_col: str,
    keep_snapshots: int = 2,
):
    """CONTINUOUS INCREMENTAL VIEW MAINTENANCE (the Delta Live Tables
    / Materialize role): a streaming frame of change rows (normally
    ``readStream`` over a sink's ``changelog_path``) maintains a
    grouped count+sum view, one :func:`maintain_grouped_agg` step per
    micro-batch, committed through the SAME snap-dir protocol as
    ``upsert_sink`` (:func:`snapshot_store.commit`) — so the view gets the
    whole catalog surface for free: crash-safe pointer-flip commits,
    redelivery short-circuit, retention, tags, time travel via
    ``read_upsert_target``. Count+sum (and avg = sum/count derived at
    read time) is exactly the aggregate family that is incrementally
    maintainable under deletes without auxiliary state; min/max are
    not (a deleted extremum needs the full group to recompute) and
    are deliberately not offered here.

    Scale posture: per micro-batch the cost is one aggregation over
    that batch's change rows plus one |groups|-sized co-partitioned
    merge — the base table is never rescanned, which is what makes a
    continuously-maintained view affordable at 100 TB.

    Consumption contract: micro-batch boundaries don't matter (the
    delta algebra is commutative and associative across batches), but
    each change row must be DELIVERED exactly once. The file source
    guarantees that for feed partitions written once; a feed partition
    REWRITTEN by producer crash-redelivery lands under new part-file
    names, which a file-source consumer would re-ingest — at scale
    this seam is a Kafka topic or a transaction log, and the module
    test pins the view == direct re-aggregation contract on the
    committed-producer case this harness can express."""
    if keep_snapshots < 2:
        raise ValueError(f"keep_snapshots must be >= 2, got {keep_snapshots}")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        empty_schema = T.StructType(
            [
                batch_df.schema[group_col],
                T.StructField("n_rows", T.LongType()),
                T.StructField("sum_value", T.DoubleType()),
            ]
        )

        def transform(prev_df: DataFrame | None) -> DataFrame:
            mat = (
                prev_df
                if prev_df is not None
                else spark.createDataFrame([], empty_schema)
            )
            return maintain_grouped_agg(
                mat, batch_df, group_col=group_col, value_col=value_col
            )

        snapshot_store.commit(
            spark, view_path, keep_snapshots, batch_id, transform, run_id=checkpoint
        )

    return foreach_batch_writer(changes, apply_batch, checkpoint)


@query(
    "stream_ivm_view",
    # same final-state oracle as changelog_incremental_agg: the view,
    # maintained purely from the streaming feed, must re-derive the
    # direct aggregation of the final table state to the cent.
    oracle="""
    WITH live AS (
      SELECT event_id, event_type, value
      FROM events WHERE event_id % 10 <> 0
    ),
    final AS (
      SELECT CASE WHEN event_id % 4 = 0 THEN 'migrated'
                  ELSE event_type END AS event_type,
             CASE WHEN event_id % 2 = 0 THEN value + 100.0
                  ELSE value END AS value
      FROM live
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM final GROUP BY event_type
    """,
)
def stream_ivm_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MATERIALIZED VIEW end to end — two real engines
    chained through the feed: (1) ``upsert_sink(changelog_path=...)``
    drains three micro-batches (two insert waves, then the
    value-bump + group-migration update pass) and emits the
    per-commit change feed; (2) a SECOND streaming query reads that
    feed with ``readStream`` (schema declared from the feed itself,
    never inferred) and maintains a per-``event_type`` count+sum view
    through :func:`materialized_view_sink` — base table never
    rescanned. The committed view snapshot is read back and
    value-checked against direct re-aggregation of the final state,
    pinning the whole producer→feed→consumer→view loop."""
    tgt, cl = _changelog_arrivals(spark, sf_dir, "ivm_view", "IVM view producer")
    base = os.path.dirname(tgt)
    feed_schema = spark.read.parquet(cl).schema
    feed_stream = spark.readStream.schema(feed_schema).parquet(cl)
    view = os.path.join(base, "view")
    vq = materialized_view_sink(
        feed_stream, view, os.path.join(base, "vckpt"),
        group_col="event_type", value_col="value",
    ).start()
    drain_stream(vq, "IVM view consumer")
    if not upsert_history(spark, view):
        # empty corpus: the feed has no data files, the consumer
        # drains zero batches, the view store never commits
        return spark.createDataFrame(
            [], "event_type string, n_rows bigint, sum_value double"
        )
    return read_upsert_target(spark, view).select(
        "event_type", "n_rows", F.round(F.col("sum_value"), 2).alias("sum_value")
    )


@query(
    "changelog_incremental_agg",
    # oracle = DIRECT re-aggregation of the final state the SQL replay
    # produces (seed waves, then evens get value+100 and the %4==0
    # slice migrates to event_type 'migrated') — the IVM path on the
    # Spark side must land on the same groups to the cent, including
    # the 'migrated' group that did not exist at the cursor.
    oracle="""
    WITH live AS (
      SELECT event_id, event_type, value
      FROM events WHERE event_id % 10 <> 0
    ),
    final AS (
      SELECT CASE WHEN event_id % 4 = 0 THEN 'migrated'
                  ELSE event_type END AS event_type,
             CASE WHEN event_id % 2 = 0 THEN value + 100.0
                  ELSE value END AS value
      FROM live
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM final GROUP BY event_type
    """,
)
def changelog_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE end to end (the change-feed
    CONSUMER): three envelope files drain one per micro-batch through
    ``upsert_sink(changelog_path=...)`` — two insert waves, then an
    update pass that bumps every even id's value AND migrates the
    %4==0 slice to a new ``event_type`` (so group membership moves,
    not just a measure). A per-group count+sum is materialized from
    the FIRST committed snapshot only; everything after it reaches the
    result exclusively through :func:`read_change_feed` (cursor = the
    first snap id) + :func:`maintain_grouped_agg`. The oracle
    re-aggregates the final state directly — value-hash equality IS
    the IVM correctness proof, including the group that only exists
    post-cursor."""
    tgt, cl = _changelog_arrivals(spark, sf_dir, "cdf_ivm", "IVM changelog upsert")
    cursor = min(h["batch_id"] for h in upsert_history(spark, tgt))
    materialized = (
        read_upsert_target(spark, tgt, as_of_batch=cursor)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
    )
    head = latest_feed_batch(spark, cl)
    feed = read_change_feed(spark, cl, after_batch=cursor, up_to_batch=head)
    maintained = maintain_grouped_agg(
        materialized, feed, group_col="event_type", value_col="value"
    )
    return maintained.select(
        "event_type", "n_rows", F.round(F.col("sum_value"), 2).alias("sum_value")
    )


@query(
    "stream_exec_tumbling",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE event_id % 10 <> 0
    GROUP BY 1, 2
    """,
)
def stream_exec_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5, executed by the REAL Structured Streaming engine (not the
    batch twin): synthesized Debezium envelopes are staged as JSON
    files, read back with ``spark.readStream`` (file source — the
    harness's Kafka stand-in, schema declared, never inferred), decoded
    + tombstone-filtered by ``live_rows``, aggregated by
    ``tumbling_counts`` (watermarked 1-hour windows), and run with
    ``trigger(availableNow=True)`` into a memory sink. The oracle is
    the tumbling-counts aggregation over live (non-delete) events —
    identical semantics to ``stream_tumbling_counts`` minus tombstones,
    which the streaming path drops (raw_provider_postgres.sql:22).

    Complete output mode: with availableNow every event arrives before
    the watermark first advances, so nothing is late — complete mode
    emits every window and the result equals the batch aggregation
    deterministically regardless of how the file source batches input.
    At scale this same query runs continuously against
    ``format("kafka")`` with append mode + the watermark bounding
    state; the memory sink holds only the aggregated windows
    (hours × event_types), never raw events.
    """
    src = os.path.join(fresh_staging_dir(spark, sf_dir, "stream_exec"), "src")
    synthesize_envelopes(table(spark, sf_dir, "events")).write.json(src)
    agg = tumbling_counts(read_envelope_stream(spark, src))
    q = _run_memory_sink(agg, sf_dir, "stream_exec", "complete")
    return spark.table(q.name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


# the sf0.1 sweep read 36.9/10.8/9.0/9.1 s at 32/8/2/1 state partitions
# for 100k replayed rows, flat below ~8
ROWS_PER_STATE_PARTITION = 50_000


def _state_sized_partitions(spark: SparkSession, n_rows: int) -> int:
    """Data-sized state-store partition count for a stream START, passed
    to :func:`session.scoped_session`. A stateful stream's shuffle
    partition count is pinned into the checkpoint at first start from
    spark.sql.shuffle.partitions — a CORE-COUNT-derived value under the
    session defaults, so a low-throughput stream on local[32] paid 32
    state-store commits per store per micro-batch for a few thousand
    rows of state (stream_exec_left_join: 36.9 s at 32 partitions vs
    9.0 s at 2 — the per-partition commit is the whole cost). Sized to
    the DATA instead: ceil(n_rows / ROWS_PER_STATE_PARTITION), clamped
    to [1, session shuffle partitions]. At production volumes the cap
    (the cluster-sized session conf) binds.

    Bounded availableNow replays only: ``n_rows`` is a count the caller
    takes up front. An unbounded source must set its partitioning
    explicitly, since the checkpoint pins whatever its first start
    sees."""
    cap = int(
        spark.conf.get(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    )
    return max(1, min(cap, -(-n_rows // ROWS_PER_STATE_PARTITION)))


def _run_memory_sink(agg: DataFrame, sf_dir: str, tag: str, mode: str):
    """Drain a bounded streaming aggregation into the ``pdp_<tag>_<sf>``
    memory sink, checkpointed under the tag's staging root, and return
    the finished StreamingQuery: ``q.name`` is the sink table, and its
    recentProgress carries per-batch watermark + late-drop metrics."""
    name = f"pdp_{tag}_{os.path.basename(sf_dir.rstrip('/'))}".replace(".", "_")
    ckpt = os.path.join(staging_base(agg.sparkSession, sf_dir, tag), "ckpt")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q, f"{tag} memory sink")
    return q


@query(
    "stream_exec_session",
    oracle="""
    WITH live AS (
      SELECT user_id, event_id, value,
             date_trunc('milliseconds', ts) AS ts
      FROM events WHERE event_id % 10 <> 0
    ),
    flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM live
    ),
    sessions AS (
      SELECT *, sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_exec_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 session windows, executed by the REAL Structured Streaming
    engine (supersedes the batch twin ``stream_session``, now
    local-tier): synthesized Debezium envelopes staged as JSON files,
    ``readStream`` → decode + tombstone filter → ``session_counts``
    (native ``F.session_window``, 30-minute inactivity gap) →
    ``trigger(availableNow=True)`` → memory sink.

    Complete output mode (empirically supported for session windows on
    Spark 4.1): with no file limit, availableNow processes every staged
    file in ONE micro-batch where the watermark is still epoch-0, so no
    row is late-filtered and the emitted table is the full session
    aggregation — deterministic regardless of file order, exactly what
    the gap-merge oracle computes. Two engine semantics the oracle must
    (and does) mirror: sessions merge only on strict overlap (an event
    at exactly prev_ts + gap starts a NEW session → the oracle flags
    ``>= INTERVAL 30 MINUTE``), and session_end is ``last event + gap``
    (not ``max(ts)``, which the batch twin reports); event times are
    millisecond-truncated because the envelope carries ``ts_ms``
    (Debezium's precision), so the oracle truncates too. At scale the
    same plan runs unbounded against ``format("kafka")`` in append
    mode with the 1-hour watermark bounding session state; complete
    mode is harness-only (the memory sink holds one row per session).
    """
    src = os.path.join(fresh_staging_dir(spark, sf_dir, "stream_sess"), "src")
    synthesize_envelopes(table(spark, sf_dir, "events")).write.json(src)
    agg = session_counts(read_envelope_stream(spark, src))
    q = _run_memory_sink(agg, sf_dir, "stream_sess", "complete")
    return spark.table(q.name).select(
        ts_str("session_start").alias("session_start"),
        ts_str("session_end").alias("session_end"),
        "user_id",
        "n_events",
        "sum_value",
    )


def interval_join(
    views: DataFrame,
    purchases: DataFrame,
    window: str = "6 hours",
    watermark: str = "24 hours",
) -> DataFrame:
    """Stream-STREAM event-time interval join (the attribution shape:
    purchase within ``window`` of a view by the same user). Both sides
    carry a watermark and the join condition bounds event time in both
    directions, so the symmetric-hash-join state store evicts rows
    older than watermark+window — the state bound that makes this run
    unbounded against two Kafka topics. Spark requires exactly this
    (equi-key + two-sided time range) to plan a streaming join; a
    condition without the time bound is rejected at analysis."""
    v = views.withWatermark("view_ts", watermark)
    p = purchases.withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {window}")),
        "inner",
    )


@query(
    "stream_exec_join",
    oracle="""
    WITH live AS (
      SELECT user_id, event_id, event_type, value,
             date_trunc('milliseconds', ts) AS ts
      FROM events WHERE event_id % 10 <> 0
    )
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           p.value AS purchase_value
    FROM live v JOIN live p ON v.user_id = p.user_id
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 6 HOUR
    """,
)
def stream_exec_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the REAL engine (the T
    family's missing pair to the stream-static ``enrich_with_dim``):
    one staged envelope topic read as TWO independent readStreams
    (views and purchases — in production, two Kafka topics), decoded +
    tombstone-filtered, then ``interval_join``ed (purchase within 6 h
    of the same user's view, 24 h watermarks both sides) in append
    mode into a memory sink.

    Determinism contract, same reasoning as stream_exec_session: with
    no file limit, availableNow drains the staged files in ONE
    micro-batch where the watermark is still epoch-0, so no state is
    evicted before matching and the emitted pairs equal the batch
    interval join the oracle computes — deterministic regardless of
    file order. Multi-batch arrival-order semantics (watermark lag,
    late drops) are exercised by stream_exec_late_drop; this query
    pins the JOIN path: symmetric hash join, two watermarked inputs,
    per-side state store, append emission. Event times are
    ms-truncated (Debezium ts_ms), purchase_value passes through the
    JSON envelope losslessly (Jackson shortest-round-trip doubles), so
    the oracle compares unrounded.

    State partitioning (measured, sf0.1, local[32]): a stream-stream
    join keeps FOUR state stores per shuffle partition, and each
    micro-batch checkpoints every one — at harness scale the state
    FILE count, not state size, dominates (join exec 15.4 s at 32
    partitions → 9.2 s at 8 → 3.0 s at 4, identical 1787-row output).
    The stream therefore runs in a scoped session with 4 state
    partitions; the caller's session is untouched (state partitioning
    is fixed by the FIRST micro-batch per checkpoint — this knob is
    per-checkpoint, not global). The staging write is repartitioned
    (single-row-group fixture would otherwise serialize the JSON encode
    on one task — 6.5 s → ~2 s)."""
    src = os.path.join(fresh_staging_dir(spark, sf_dir, "stream_join"), "src")
    par = spark.sparkContext.defaultParallelism
    synthesize_envelopes(table(spark, sf_dir, "events")).repartition(par).write.json(
        src
    )
    ss = scoped_session(spark, 4)
    lv_v = live_rows(read_envelope_stream(ss, src))
    lv_p = live_rows(read_envelope_stream(ss, src))
    views = lv_v.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = lv_p.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = interval_join(views, purchases)
    q = _run_memory_sink(joined, sf_dir, "stream_join", "append")
    return ss.table(q.name).select(
        "user_id",
        "view_id",
        "purchase_id",
        ts_str("view_ts").alias("view_ts"),
        ts_str("purchase_ts").alias("purchase_ts"),
        "purchase_value",
    )


# Arrival-ordered staging for the late-drop exec: 8 micro-batches at
# every SF (batch size = ceil(n/8), mirrored by the oracle) — enough
# that batches >= 2 exist to exercise drops, few enough that the
# micro-batch overhead stays bounded.
_LATE_DROP_BATCHES = 8


def stage_arrival_batches(
    spark: SparkSession, sf_dir: str, base: str, inject_late: bool = True
) -> str:
    """Stage envelopes as one JSON file per arrival micro-batch, mtimes
    ascending so the file source replays them in order.
    ``inject_late=False`` skips the 35-day late-row injection below —
    the purely in-order replay the stream-stream outer join needs
    (its determinism argument REQUIRES that no row be late).

    Arrival order is (ts, event_id) — the Kafka-offset stand-in. Every
    37th event in batches >= 2 carries an event time 35 days older than
    its arrival slot: 35 days clears the 30-day corpus span plus the
    window size and watermark delay, so those rows are late beyond ANY
    watermark the stream can hold by then — they are dropped no matter
    which batch's watermark the late-filter uses (Spark 4.1 filters
    late events with the PREVIOUS batch's watermark, one batch behind
    eviction — measured, not assumed) and no matter whether the filter
    keys on event time or window end. Batches 0-1 get no late rows:
    under the delayed filter those would be admitted against an
    epoch-0 watermark and could re-open already-evicted windows, which
    append mode would re-emit as duplicate sink rows.

    The global row_number sort and the per-file rename are staging-only
    driver work standing in for a Kafka topic (offsets already ordered,
    no staging step exists at scale); the streamed aggregation itself
    is fully distributed.
    """
    ev = table(spark, sf_dir, "events")
    n = ev.count()
    size = math.ceil(n / _LATE_DROP_BATCHES)
    ranked = ev.withColumn(
        "batch_id",
        ((F.row_number().over(Window.orderBy("ts", "event_id")) - 1) / size).cast("int"),
    )
    shifted = (
        ranked.withColumn(
            "ts",
            F.when(
                (F.col("event_id") % 37 == 0) & (F.col("batch_id") >= 2),
                F.col("ts") - F.expr("INTERVAL 35 DAYS"),
            ).otherwise(F.col("ts")),
        )
        if inject_late
        else ranked
    )
    staged = os.path.join(base, "staged")
    env = synthesize_envelopes(shifted, extra_cols=("batch_id",))
    # hash by the partition column first so partitionBy writes exactly
    # ONE part file per batch_id (a batch split across two files would
    # straddle two maxFilesPerTrigger=1 triggers).
    partition_for_write(env, "batch_id").write.partitionBy("batch_id").json(staged)
    dirs = glob.glob(os.path.join(staged, "batch_id=*"))
    parts = []
    for d in sorted(dirs, key=lambda d: int(d.rsplit("=", 1)[1])):
        (part,) = glob.glob(os.path.join(d, "part-*.json"))
        parts.append(part)
    src = os.path.join(base, "src")
    publish_arrivals(parts, src)
    shutil.rmtree(staged, ignore_errors=True)
    return src


@query(
    "stream_exec_late_drop",
    oracle="""
    WITH sz AS (
      SELECT CAST(ceil(count(*) / 8.0) AS BIGINT) AS size FROM events
    ),
    ranked AS (
      SELECT event_id, event_type, value, ts,
             (row_number() OVER (ORDER BY ts, event_id) - 1)
               // (SELECT size FROM sz) AS batch_id
      FROM events
    ),
    live AS (
      SELECT event_id, event_type, value, batch_id,
             (event_id % 37 = 0 AND batch_id >= 2) AS is_late,
             date_trunc('milliseconds',
               CASE WHEN event_id % 37 = 0 AND batch_id >= 2
                    THEN ts - INTERVAL 35 DAY ELSE ts END) AS event_time
      FROM ranked WHERE event_id % 10 <> 0
    ),
    fw AS (SELECT max(event_time) - INTERVAL 10 MINUTE AS w FROM live),
    agg AS (
      SELECT date_trunc('hour', event_time) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM live WHERE NOT is_late
      GROUP BY 1, 2
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, n_events, sum_value
    FROM agg, fw WHERE ws + INTERVAL 1 HOUR <= fw.w
    """,
)
def stream_exec_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 watermark/late-data, executed by the REAL Structured Streaming
    engine in APPEND mode (supersedes the deterministic batch twin
    ``stream_late_drop``): arrival-ordered envelope files replayed one
    per micro-batch (``maxFilesPerTrigger=1`` under availableNow —
    measured to split correctly on Spark 4.1), ``late_drop_counts``
    (10-minute watermark, 1-hour tumbling windows), memory sink.

    What the oracle mirrors, each facet pinned by a measured engine
    behavior (see tests/test_modules.py::test_stream_exec_late_drop_*):

    - DROPPED rows: every 37th live event in batches >= 2 is 35 days
      late — beyond any reachable watermark, so it is dropped whether
      the filter uses the current or the one-batch-delayed watermark
      (Spark 4.1 uses the delayed one) and whether it keys on event
      time or window end. The oracle excludes exactly those rows.
    - KEPT rows: in-order arrivals can never be late (each batch's
      event times all exceed every earlier batch's maximum, hence any
      filter watermark), so everything else aggregates.
    - EMITTED windows: append mode emits a window when the watermark
      passes its end; availableNow runs a final no-data batch after
      the last file (measured), so the sink ends up holding every
      window with ``end <= max(event time) - 10 min`` — the trailing
      windows still above the final watermark are withheld, and the
      oracle's ``ws + 1 hour <= fw.w`` filter reproduces that.

    Event times are millisecond-truncated (envelope ``ts_ms``). At
    scale the identical aggregation runs unbounded on ``format(
    "kafka")`` — watermark-bounded state, no staging, no sort; the
    staging sort here only simulates Kafka's per-partition order.
    """
    base = fresh_staging_dir(spark, sf_dir, "stream_late")
    src = stage_arrival_batches(spark, sf_dir, base)
    stream = (
        spark.readStream.schema(RAW_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    agg = late_drop_counts(stream)
    q = _run_memory_sink(agg, sf_dir, "stream_late", "append")
    # surface the per-batch drop counters for tests/diagnostics without
    # changing the DataFrame contract
    stream_exec_late_drop.last_progress = [p for p in q.recentProgress]
    return spark.table(q.name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def late_drop_counts(stream: DataFrame, delay: str = "10 minutes") -> DataFrame:

    """T6 watermark/late-data streaming form — the twin of the
    oracle-checked batch query cdc.batch.stream_late_drop: tumbling
    hourly counts with ``withWatermark(delay)``, so events arriving
    after the watermark passed their window are DROPPED from the
    aggregation and state for finalized windows is evicted. The batch
    twin reproduces exactly this micro-batch watermark advance
    deterministically (arrival order = event_id, batches of 100)."""
    rows = live_rows(stream)
    return (
        rows.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_exec_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           strftime(date_trunc('milliseconds', ts), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM events WHERE event_id % 10 <> 0
    """,
)
def stream_exec_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3's streaming member, executed by the REAL engine: exactly-once
    dedup of an at-least-once CDC feed. Kafka + Debezium redeliver on
    rebalance/restart, so the same change can arrive twice; here the
    staged topic contains every envelope once plus a deterministic
    "redelivered" second batch (every 7th event), and
    ``dropDuplicatesWithinWatermark("event_id")`` must emit each live
    event exactly once — the oracle is simply the distinct live set.

    Why withinWatermark and not plain dropDuplicates: unbounded
    streaming dedup state grows forever; the watermarked form evicts
    keys once the watermark passes them, bounding state to the
    redelivery SLA (Kafka retention). In this bounded availableNow run
    the 45-day delay exceeds the fixture's 30-day span, so no key can
    be evicted mid-run and the result is deterministic regardless of
    how the file source batches input — same determinism argument as
    ``stream_exec_tumbling``. First-arrival-wins is value-indifferent
    because redelivered envelopes are byte-identical.

    At 100 TB: state is hash-partitioned by the dedup key across the
    cluster's state stores (RocksDB), shuffle keyed the same — the
    exact layout the exact-dedup batch op uses, held incrementally."""
    src = os.path.join(fresh_staging_dir(spark, sf_dir, "stream_dedup"), "src")
    ev = table(spark, sf_dir, "events")
    synthesize_envelopes(ev).write.json(src)
    # the redelivery: a second file batch with duplicate envelopes
    synthesize_envelopes(ev.filter(F.col("event_id") % 7 == 0)).write.mode(
        "append"
    ).json(src)
    rows = live_rows(read_envelope_stream(spark, src))
    deduped = (
        rows.withWatermark("ts", "45 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value", "ts")
    )
    q = _run_memory_sink(deduped, sf_dir, "stream_dedup", "append")
    return spark.table(q.name).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        ts_str("ts").alias("ts_str"),
    )


@query(
    "stream_exec_interval_join",
    oracle="""
    WITH live AS (
      -- envelope ts is millisecond epoch (live_rows rebuilds ts from
      -- ts_ms), so the oracle must truncate to milliseconds too or a
      -- same-millisecond pair straddling the raw-µs order flakes
      SELECT event_id, user_id, date_trunc('milliseconds', ts) AS ts
      FROM events WHERE event_id % 10 <> 0
    ),
    clicks AS (SELECT * FROM live WHERE event_id % 2 = 0),
    views  AS (SELECT * FROM live WHERE event_id % 2 = 1)
    SELECT c.event_id AS click_id, v.event_id AS view_id,
           CAST(c.user_id AS BIGINT) AS user_id,
           CAST(epoch_ms(c.ts) - epoch_ms(v.ts) AS BIGINT) AS gap_ms
    FROM clicks c JOIN views v
      ON c.user_id = v.user_id
     AND v.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts
    """,
)
def stream_exec_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 completion: STREAM-STREAM interval join under the real
    engine — the attribution shape (view→click within 10 minutes,
    same user) that stream-static joins can't express because BOTH
    sides keep arriving. One staged CDC topic is branched into two
    watermarked streams (a self-join — the engine buffers each side
    in keyed state), joined on user_id plus an event-time range.

    Why this is scale-safe: the equi-key (user_id) hash-partitions
    both state stores, and the time-range condition plus the two
    watermarks bound HOW LONG a buffered row can wait for a match —
    state per key is the 10-minute window, evicted as the watermark
    passes (without the range condition the join would hold every row
    forever). In this bounded availableNow replay the 40-day delay
    exceeds the fixture's 30-day span, so no buffered row is evicted
    early and the result equals the batch interval join exactly —
    the same determinism argument as stream_exec_tumbling/dedup.
    """
    src = os.path.join(fresh_staging_dir(spark, sf_dir, "stream_ij"), "src")
    ev = table(spark, sf_dir, "events")
    synthesize_envelopes(ev).write.json(src)
    # state partitions sized to the replayed volume, not the core count
    # — partitioning never changes a join's row set, only where state
    # lives
    ss = scoped_session(spark, _state_sized_partitions(spark, ev.count()))
    rows = live_rows(read_envelope_stream(ss, src))
    clicks = (
        rows.filter(F.col("event_id") % 2 == 0)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "40 days")
    )
    views = (
        rows.filter(F.col("event_id") % 2 == 1)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "40 days")
    )
    joined = clicks.join(
        views,
        F.expr(
            "user_id = view_user AND "
            "view_ts BETWEEN click_ts - INTERVAL 10 MINUTES AND click_ts"
        ),
    ).select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_millis("click_ts") - F.unix_millis("view_ts")).alias("gap_ms"),
    )
    return ss.table(_run_memory_sink(joined, sf_dir, "stream_ij", "append").name)


@query(
    "stream_exec_left_join",
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, date_trunc('milliseconds', ts) AS ts
      FROM events WHERE event_id % 10 <> 0
    ),
    clicks AS (SELECT * FROM live WHERE event_id % 2 = 0),
    views  AS (SELECT * FROM live WHERE event_id % 2 = 1),
    -- the GLOBAL watermark under the default min policy: each side
    -- advances from ITS OWN max event time, and the engine takes the
    -- minimum — measured per batch in recentProgress (the clicks side
    -- ends at the last click, not the corpus max)
    fw AS (
      SELECT least((SELECT max(ts) FROM clicks),
                   (SELECT max(ts) FROM views)) - INTERVAL 10 MINUTE AS w
    )
    SELECT c.event_id AS click_id, v.event_id AS view_id,
           CAST(c.user_id AS BIGINT) AS user_id,
           CAST(epoch_ms(c.ts) - epoch_ms(v.ts) AS BIGINT) AS gap_ms
    FROM clicks c LEFT JOIN views v
      ON c.user_id = v.user_id
     AND v.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts
    WHERE v.event_id IS NOT NULL
       OR c.ts < (SELECT w FROM fw)
    """,
)
def stream_exec_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM **LEFT OUTER** interval join under the real
    engine — the attribution shape where unattributed clicks must
    SURVIVE (every click emits, matched or NULL-extended), which is a
    fundamentally harder streaming problem than the inner form: the
    engine can only emit an unmatched left row once the watermark
    PROVES no matching view can still arrive.

    Determinism contract (each facet mirrored by the oracle):

    - arrival is strictly event-time-ordered (stage_arrival_batches
      with inject_late=False), so no row is ever late and no buffered
      view is evicted before every click it could match has arrived —
      the MATCHED rows equal the batch interval join exactly;
    - a click's match window only looks BACKWARD (view_ts <= click_ts),
      so once the watermark passes click_ts the engine certifies the
      NULL-extension; availableNow's trailing no-data batch advances
      the final GLOBAL watermark to min(max click_ts, max view_ts) -
      10 min — the default multiple-watermark MIN policy, measured in
      recentProgress: the clicks side's watermark ends at the LAST
      CLICK's event time, so the last click itself (and any unmatched
      click above the min) is WITHHELD — the oracle's least(...) fw
      filter reproduces the withheld set exactly;
    - both state stores are bounded by the watermark: a view is
      dropped once the watermark passes view_ts + 10 min, a click once
      it passes click_ts — at scale this runs unbounded on
      format("kafka") with per-key state that never exceeds the
      10-minute window, the property that makes outer stream-stream
      joins deployable at all."""
    src = stage_arrival_batches(
        spark, sf_dir, fresh_staging_dir(spark, sf_dir, "stream_loj"), inject_late=False
    )
    # the outer join's wall time is per-partition state-store commits
    # (8 micro-batches × 4 join state stores × partitions), so state is
    # sized to the replayed volume, not the core count
    n_rows = table(spark, sf_dir, "events").count()
    ss = scoped_session(spark, _state_sized_partitions(spark, n_rows))
    stream = (
        ss.readStream.schema(RAW_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    rows = live_rows(stream)
    clicks = (
        rows.filter(F.col("event_id") % 2 == 0)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    views = (
        rows.filter(F.col("event_id") % 2 == 1)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = clicks.join(
        views,
        F.expr(
            "user_id = view_user AND "
            "view_ts BETWEEN click_ts - INTERVAL 10 MINUTES AND click_ts"
        ),
        "leftOuter",
    ).select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_millis("click_ts") - F.unix_millis("view_ts")).alias("gap_ms"),
    )
    return ss.table(_run_memory_sink(joined, sf_dir, "stream_loj", "append").name)


@query(
    "stream_exec_enrich",
    oracle="""
    SELECT coalesce(c.c_mktsegment, '__unknown__') AS segment,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_id % 10 <> 0
    GROUP BY 1, 2
    """,
)
def stream_exec_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment through the REAL engine — the most
    common production streaming shape (curated_provider.sql:66-68's
    dim join, continuously): staged envelopes → readStream → decode +
    tombstone filter → join the BATCH customer dim (stream-static
    joins are stateless; Spark re-reads/broadcasts the static side per
    micro-batch, so dim updates between batches are picked up) →
    per-segment aggregation in complete mode into a memory sink.

    The unmatched-key branch is kept observable ('__unknown__')
    because at scale the dim is eventually consistent with the stream
    — rows arriving before their dim row is ingested must land
    somewhere visible, not vanish into an inner join. Oracle: the
    identical left join + aggregation over the live (non-tombstone)
    events."""
    src = os.path.join(fresh_staging_dir(spark, sf_dir, "stream_enrich"), "src")
    synthesize_envelopes(table(spark, sf_dir, "events")).write.json(src)
    live = live_rows(read_envelope_stream(spark, src))
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = enrich_with_dim(live, dim, "user_id")
    agg = enriched.groupBy(
        F.coalesce(F.col("c_mktsegment"), F.lit("__unknown__")).alias("segment"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return spark.table(_run_memory_sink(agg, sf_dir, "stream_enrich", "complete").name)


# Per-batch hot-key threshold for the streaming skew join: sized so the
# driver fixtures' micro-batches (no key anywhere near it) take the
# transparent degenerate path while a skew10-slice batch (70% of its
# rows on ONE orderkey) engages the salt machinery every trigger.
STREAM_SKEW_HOT_MIN = 20_000


def _lineitem_join_stream(
    spark: SparkSession, sf_dir: str, tag: str, join_batch, arrival_order: str | None = None
) -> DataFrame:
    """Stream lineitem past the static orders side and re-sum the
    per-batch partials. ``join_batch(batch_df, orders, batch_id)``
    joins one micro-batch (the batch is persisted: the census and the
    join both read it); each batch reduces to integer-exact partials
    (counts + price CENTS — bigint sums are associative, so HOWEVER
    the engine batches the input, re-summing the partials is bit-equal
    to the one-shot batch join the oracle computes; a double sum would
    vary with batch boundaries), landed by
    :func:`~.staging.drain_partial_store`. ``arrival_order`` clusters
    the staged files by that column's range — the burst arrival shape,
    where a viral key lands in consecutive triggers instead of being
    smeared uniformly."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")

    def partial(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return join_batch(batch_df, o, batch_id).groupBy(
            "o_orderpriority", "l_returnflag"
        ).agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )

    store = drain_partial_store(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice"
        ),
        fresh_staging_dir(spark, sf_dir, tag),
        partial,
        arrival_order,
    )
    return (
        spark.read.parquet(store)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
    )


def skew_join_stream(
    spark: SparkSession, sf_dir: str, hot_min_rows: int = STREAM_SKEW_HOT_MIN
) -> DataFrame:
    """Skew-mitigated stream⋈static join through the REAL engine: the
    batch mitigations are useless to a foreachBatch consumer if they
    can't run per-trigger — a skewed CDC stream joining a fact table
    hits the same hot reducer EVERY micro-batch, so the fix has to be
    inside the batch function. Each trigger runs
    operators.joins.salted_inner_join (its hot-key census is eager and
    bounded — one tiny collect per batch, the exact property that made
    it safe under AQE) against the static orders side; the partials
    and their re-sum are :func:`_lineitem_join_stream`'s."""
    from ..operators.joins import salted_inner_join

    return _lineitem_join_stream(
        spark, sf_dir, "stream_skew",
        lambda batch_df, o, _batch_id: salted_inner_join(
            batch_df, o, "l_orderkey", "o_orderkey", hot_min_rows=hot_min_rows
        ),
    )


@query(
    "stream_exec_skew_join",
    oracle="""
    SELECT o_orderpriority, l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority, l_returnflag
    """,
)
def stream_exec_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query form of :func:`skew_join_stream` at the deployment
    threshold: transparent (degenerate plain join per batch) on the
    driver fixtures, salt-engaged per trigger on the skew10 slice —
    tests/test_stress.py drives the ENGAGED path with a low threshold
    on the amplified slice and asserts equality with the batch twin."""
    return skew_join_stream(spark, sf_dir)


def adaptive_join_stream(
    spark: SparkSession,
    sf_dir: str,
    broadcast_max_rows: int | None = None,
    hot_min_rows: int = STREAM_SKEW_HOT_MIN,
    arrival_order: str | None = None,
) -> DataFrame:
    """The measurement-driven join chooser in its REAL habitat: a CDC
    stream's skew is TIME-VARYING — a batch of backfill is uniform,
    the next batch carries a viral key, the one after is tiny — so no
    single hand-picked strategy is right for every trigger. Each
    foreachBatch runs operators.joins.adaptive_inner_join against the
    static orders side: per batch, one metadata count + one bounded
    census pick broadcast / plain / hotcold / salted, and the census is
    reused by the executed operator (the batch chooser's contract,
    unchanged).

    Observability: the chosen strategy lands per batch at
    ``staging_base(...)/choices/batch_id=N`` (one row: batch_id,
    strategy, n_rows) through the same idempotent overwrite rule as
    the partials — the record a production operator needs to audit
    why trigger 113 was slow. tests/test_stress.py drives batches
    with SHIFTING composition (``arrival_order``) and asserts the
    chooser actually changed its mind across triggers.

    Results: :func:`_lineitem_join_stream`'s integer-exact partials
    re-summed, bit-equal to the one-shot batch join whatever the
    engine's batching and WHATEVER strategies were chosen (every
    branch is transparency-contracted), so the oracle is the plain
    batch join — same as stream_exec_skew_join."""
    from ..operators.joins import BROADCAST_MAX_ROWS, adaptive_inner_join

    if broadcast_max_rows is None:
        broadcast_max_rows = BROADCAST_MAX_ROWS
    choices = os.path.join(staging_base(spark, sf_dir, "stream_adp"), "choices")

    def join_batch(batch_df: DataFrame, o: DataFrame, batch_id: int) -> DataFrame:
        picked: list[str] = []
        joined = adaptive_inner_join(
            batch_df,
            o,
            "l_orderkey",
            "o_orderkey",
            broadcast_max_rows=broadcast_max_rows,
            hot_min_rows=hot_min_rows,
            on_decision=picked.append,
        )
        # batch_id comes back via hive-style partition discovery on
        # the directory name (a data column of the same name would
        # collide); an empty ``picked`` (a drifted callback contract)
        # degrades the record to "unknown" instead of wedging the stream
        spark.createDataFrame(
            [(picked[0] if picked else "unknown", batch_df.count())],
            "strategy string, n_rows bigint",
        ).write.mode("overwrite").parquet(os.path.join(choices, f"batch_id={batch_id}"))
        return joined

    return _lineitem_join_stream(spark, sf_dir, "stream_adp", join_batch, arrival_order)


@query(
    "stream_exec_adaptive_join",
    # supersedes stream_exec_skew_join the way the batch chooser
    # superseded the hand-salted form: it re-censuses EVERY micro-batch
    oracle="""
    SELECT o_orderpriority, l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority, l_returnflag
    """,
)
def stream_exec_adaptive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query form of :func:`adaptive_join_stream`: on the driver
    fixtures orders fits the broadcast budget, so every micro-batch
    picks the skew-immune broadcast branch; the shifting-composition
    path (different strategies on different triggers of one stream)
    is driven in tests/test_stress.py with lowered thresholds on the
    skew10 slice. Same batch-twin oracle as stream_exec_skew_join —
    per-trigger strategy choice is physics, never semantics."""
    return adaptive_join_stream(spark, sf_dir)
