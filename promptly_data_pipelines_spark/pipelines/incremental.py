"""Incremental materialization — the dbt ``incremental_strategy``
pattern (reference raw_provider_postgres.sql:9-10 declares
``incremental_strategy='merge'``; dbt's incremental models only
process source rows newer than the last run) realized Spark-first.

Shape, and why it holds at 100 TB:

1. **Extract by high-water mark**: new arrivals are selected with a
   plain ``ts > hwm`` filter. Declarative, so Catalyst pushes it into
   the parquet scan — on a date-partitioned source this is partition
   pruning, i.e. the 100-TB history is never touched after day one.
2. **Raw layer: append-only, staged by batch id**: each arrival batch
   lands in its own subdirectory. Re-delivery of a batch id is a no-op
   (exactly-once at the batch granularity — the same idempotence story
   as Structured Streaming's per-batch commit log).
3. **Rollup: affected-partition recompute**: instead of trying to
   merge partial aggregates (wrong for non-decomposable metrics,
   fragile for late data), the runner recomputes ONLY the day
   partitions present in the new batch — by event time, so
   arbitrarily LATE rows are handled for free: a row for day D
   arriving a week later marks D affected and D is rebuilt from the
   raw layer, which is day-partition-pruned on read.
4. **Dynamic partition overwrite**: rebuilt days replace exactly their
   own partition directories (``partitionOverwriteMode=dynamic``);
   untouched history is never rewritten.

State (high-water mark + processed batch ids) is one small JSON file
written atomically (temp + rename) — the analog of dbt's
``max(loaded_at)`` lookup and Spark streaming's checkpoint offsets.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import ts_str, date_key
from ..operators.layout import partition_for_write
from ..operators.scans import _session_tag
from ..registry import query


def read_state(state_path: str) -> dict:
    """{"hwm": ISO-ts | None, "batches": [ids]} — missing file = fresh."""
    if not os.path.exists(state_path):
        return {"hwm": None, "batches": []}
    with open(state_path) as f:
        return json.load(f)


def write_state(state_path: str, state: dict) -> None:
    """Atomic: write sibling temp then rename, so a crash mid-write
    leaves the previous state readable (rename is atomic on POSIX)."""
    tmp = f"{state_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, state_path)


def extract_new(source: DataFrame, ts_col: str, hwm: str | None) -> DataFrame:
    """Incremental extract: rows strictly newer than the high-water
    mark. The comparison is a Catalyst predicate — ``.explain`` shows
    it under PushedFilters, and on a date-partitioned source the
    derived date bound prunes whole partition directories."""
    if hwm is None:
        return source
    return source.filter(F.col(ts_col) > F.lit(hwm).cast("timestamp"))


def incremental_run(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: str,
    warehouse: str,
    ts_col: str = "ts",
) -> dict:
    """Process one arrival batch through the raw + rollup layers.

    Returns run info: {"skipped": bool, "affected_days": [...],
    "hwm": str}. Re-delivering a processed batch_id skips all work.
    """
    state_path = os.path.join(warehouse, "_state.json")
    raw_dir = os.path.join(warehouse, "raw", "events")
    rollup_dir = os.path.join(warehouse, "rollup", "daily")
    state = read_state(state_path)
    if batch_id in state["batches"]:
        return {"skipped": True, "affected_days": [], "hwm": state["hwm"]}

    # NULL event times can't be silently stranded: date_key(NULL) would
    # write day=__HIVE_DEFAULT_PARTITION__ rows that an isin(affected)
    # rebuild never matches. Route them to an explicit sentinel day so
    # they are staged, marked affected, and rolled up like any other.
    staged = batch.withColumn(
        "day", F.coalesce(date_key(ts_col), F.lit("__unknown__"))
    )
    # raw append, staged per batch id: partitioned by day inside the
    # batch dir so the rollup's re-read below prunes directories.
    batch_dir = os.path.join(raw_dir, f"batch_id={batch_id}")
    partition_for_write(staged, "day").write.mode("overwrite").partitionBy("day").parquet(
        batch_dir
    )

    # affected-day set + per-day max ts in ONE aggregate over the
    # JUST-WRITTEN batch parquet (schema supplied, so an empty batch
    # reads as an empty frame instead of failing inference). Reading
    # the written files means the incoming batch plan — which in
    # foreachBatch re-reads the source on every action — is evaluated
    # exactly once (the write above); the stats scan touches only the
    # tiny batch output. Driver-side rows bounded by calendar size.
    written = spark.read.schema(staged.schema).parquet(batch_dir)
    stats = written.groupBy("day").agg(F.max(ts_col).cast("string").alias("mx")).collect()
    affected = [r["day"] for r in stats]
    if not affected:
        # empty delivery (a heartbeat batch): record the id so the
        # re-delivery contract holds, touch nothing else.
        state = {"hwm": state["hwm"], "batches": [*state["batches"], batch_id]}
        write_state(state_path, state)
        return {"skipped": False, "affected_days": [], "hwm": state["hwm"]}

    # rebuild exactly the affected day partitions from the full raw
    # layer (all batches), day-pruned at the scan.
    # pin `day` to string after the read: partition-type inference
    # flips it to DATE when every staged value is date-like, but the
    # '__unknown__' sentinel (staged for NULL event days) makes it
    # STRING — without the cast the rollup schema would be unstable
    # across deliveries (compaction.py/layout.py pin the same way).
    raw = spark.read.parquet(raw_dir).withColumn("day", F.col("day").cast("string"))
    rebuilt = (
        raw.filter(F.col("day").isin(affected))
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    (
        partition_for_write(rebuilt, "day")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(rollup_dir)
    )

    # hwm from the same stats pass. max skips NULL ts (the sentinel
    # day's mx is None); an all-NULL batch keeps the previous mark.
    maxes = [r["mx"] for r in stats if r["mx"] is not None]
    new_hwm = max(maxes) if maxes else None
    if new_hwm is None:
        new_hwm = state["hwm"]
    elif state["hwm"] is not None:
        new_hwm = max(state["hwm"], new_hwm)
    state = {"hwm": new_hwm, "batches": [*state["batches"], batch_id]}
    write_state(state_path, state)
    return {"skipped": False, "affected_days": sorted(affected), "hwm": new_hwm}


ROLLUP_SCHEMA = "day string, event_type string, n_events bigint, sum_value double"


def _read_rollup(spark: SparkSession, warehouse: str) -> DataFrame:
    """Read the daily rollup with its declared schema; if NO batch
    carried data the rollup dir was never written — return the empty
    frame with the same shape (a fresh warehouse is a valid state,
    not an error)."""
    rollup_dir = os.path.join(warehouse, "rollup", "daily")
    out = (
        spark.read.schema(ROLLUP_SCHEMA).parquet(rollup_dir)
        if os.path.isdir(rollup_dir)
        else spark.createDataFrame([], ROLLUP_SCHEMA)
    )
    return out.select("day", "event_type", "n_events", "sum_value")


def arrival_batches(events: DataFrame, ts_col: str = "ts") -> list[DataFrame]:
    """Split events into three arrival batches for the simulation:
    time-ordered thirds of the ts range, except every 50th event of
    the first two thirds arrives one batch LATE — so batches 2 and 3
    carry genuinely late rows for days the rollup already built.
    Boundaries derive from the data (min/max collect of two scalars),
    so the split is deterministic for a fixed fixture."""
    lo, hi = events.agg(
        F.min(ts_col).cast("double"), F.max(ts_col).cast("double")
    ).first()
    if lo is None or hi is None:
        # no usable time axis: an EMPTY source degenerates to three
        # heartbeat batches (no-ops in incremental_run); an all-NULL-ts
        # source delivers every row in batch 0 — they stage under the
        # '__unknown__' sentinel day like any other NULL-ts row, and
        # dropping them here would lose data — followed by two empty
        # arrivals
        return [events, events.limit(0), events.limit(0)]
    t1 = F.lit(lo + (hi - lo) / 3.0)
    t2 = F.lit(lo + 2.0 * (hi - lo) / 3.0)
    ts_d = F.col(ts_col).cast("double")
    tier = F.when(ts_d < t1, 0).when(ts_d < t2, 1).otherwise(2)
    late = (F.col("event_id") % 50 == 0) & (tier < 2)
    batch_no = F.least(tier + late.cast("int"), F.lit(2))
    tagged = events.withColumn("__b", batch_no)
    return [tagged.filter(F.col("__b") == i).drop("__b") for i in range(3)]


@query(
    "stream_exec_incremental",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_exec_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming→incremental integration, run by the REAL
    Structured Streaming engine: events staged as one JSON file per
    arrival batch, ``readStream`` (declared schema, maxFilesPerTrigger
    =1), and ``foreachBatch`` handing each micro-batch to
    ``incremental_run`` with the engine's batch id as the exactly-once
    key. A foreachBatch retry re-delivers the same batch id, and the
    state file makes the re-delivery a no-op — the same idempotence
    contract Spark's own sinks build on the commit log. Final rollup
    must equal the full recompute. At scale the file source becomes
    ``format("kafka")`` and everything downstream is unchanged."""
    import shutil

    from ..cdc.staging import drain_stream, foreach_batch_writer, stage_frames

    base = os.path.join(
        tempfile.gettempdir(),
        f"pdp_stream_incr_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    warehouse = os.path.join(base, "warehouse")
    # staging + checkpoint are wiped so re-invocation re-streams from
    # scratch; the WAREHOUSE persists (session-tagged) — re-delivered
    # micro-batch ids hit the batch-id state and no-op, which is the
    # recovery semantics tests/test_incremental.py pins.
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    stage_frames(
        [
            batch.select("event_id", ts_str("ts").alias("ts"), "event_type", "value")
            for batch in arrival_batches(ev)
        ],
        src,
    )
    stream = (
        spark.readStream.schema("event_id bigint, ts string, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        incremental_run(batch_df.sparkSession, batch_df, f"mb{batch_id}", warehouse)

    drain_stream(foreach_batch_writer(stream, land, ckpt).start(), "incremental")
    return _read_rollup(spark, warehouse)


@query(
    "incremental_rollup",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive three incremental runs (time-ordered arrivals with ~2%
    late rows) and return the final rollup table. The oracle is the
    full recompute — the incremental path must converge to it exactly,
    late data included."""
    import shutil

    warehouse = os.path.join(
        tempfile.gettempdir(),
        f"pdp_incr_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    shutil.rmtree(warehouse, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    for i, batch in enumerate(arrival_batches(ev)):
        incremental_run(spark, batch, f"b{i}", warehouse)
    return _read_rollup(spark, warehouse)
