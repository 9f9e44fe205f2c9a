"""The bounded, staged stream: a directory of ordered JSON files stands
in for a Kafka topic, one file per micro-batch, and an availableNow
query drains it. Each step every streaming query repeats has one
function here:

- :func:`stage_frames` / :func:`publish_arrivals` stage the arrival
  files (names and mtimes ascending, so the file source replays them
  in order);
- :func:`foreach_batch_writer` builds the foreachBatch writer;
- :func:`drain_stream` waits for the query, stopping it and raising on
  timeout;
- :func:`drain_partial_store` runs the whole loop for a stream-fed
  partial store (stage one frame, drain it, land each micro-batch's
  partial under ``store/batch_id=N`` through
  :func:`write_batch_partial`).

Staging roots come from :func:`fresh_staging_dir` (wiped) or
:func:`staging_base` (located). The memory sink the aggregation
queries read back is ``cdc.streaming._run_memory_sink``. At scale the
topic is ``format("kafka")`` and only the writer and the drain remain.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession


def fresh_staging_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Per-(query, sf, app) staging root under tmp, wiped on entry so a
    stale checkpoint can never mark the staged files already-processed
    (availableNow would then terminate with zero batches). Staging
    dirs left by PREVIOUS app-ids (same tag+sf prefix) are reaped too:
    each harness session otherwise strands its own copies.

    Reaping is mtime-guarded: two test shards can run the same
    (query, sf) concurrently in separate JVMs, and an unguarded reap
    deletes the other app's LIVE checkpoint mid-stream. Each app's own
    dir is unique (prefix + app id); only dirs untouched for ≥1 h —
    abandoned by construction, test sessions live minutes — are
    reaped."""
    prefix = _staging_prefix(sf_dir, tag)
    cutoff = time.time() - 3600
    for stale in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        try:
            if os.path.getmtime(stale) < cutoff:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass  # raced with its owner's own cleanup — fine
    base = staging_base(spark, sf_dir, tag)
    shutil.rmtree(base, ignore_errors=True)
    return base


def _staging_prefix(sf_dir: str, tag: str) -> str:
    """The (tag, sf) staging-dir name prefix, shared by the reap glob
    and the per-app path so the two cannot drift apart."""
    return f"pdp_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_"


def staging_base(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Path-only twin of :func:`fresh_staging_dir` (no wipe): lets a
    test or follow-up query locate an existing run's staging artifacts
    — e.g. the adaptive stream join's per-batch strategy record —
    without restarting the staging lifecycle."""
    app = spark.sparkContext.applicationId.replace(":", "_")
    return os.path.join(tempfile.gettempdir(), _staging_prefix(sf_dir, tag) + app)


def publish_arrivals(parts: Iterable[str], src: str) -> None:
    """Move written part files into ``src`` as consecutive arrival
    files, in the order given. Names and mtimes continue strictly after
    any file already in ``src``: the file source replays oldest mtime
    first, and a consumer restarting on a checkpoint that has seen the
    earlier files picks up exactly the new ones."""
    os.makedirs(src, exist_ok=True)
    held = [os.path.join(src, f) for f in os.listdir(src)]
    t0 = max([time.time()] + [os.path.getmtime(p) + 10 for p in held])
    for i, part in enumerate(parts):
        dst = os.path.join(src, f"{len(held) + i:04d}.json")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))


def stage_frames(frames: Iterable[DataFrame], src: str) -> None:
    """Stage each frame as ONE arrival file in ``src`` (one JSON write
    per frame; an empty frame still stages one empty file, which the
    stream reads as an empty micro-batch), then publish them in order
    through :func:`publish_arrivals`."""
    os.makedirs(src, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="stage_", dir=os.path.dirname(src.rstrip("/")))
    try:
        parts = []
        for i, frame in enumerate(frames):
            out = os.path.join(scratch, str(i))
            frame.coalesce(1).write.json(out)
            (part,) = (
                p for p in glob.glob(os.path.join(out, "part-*")) if not p.endswith(".crc")
            )
            parts.append(part)
        publish_arrivals(parts, src)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def foreach_batch_writer(
    stream: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint: str
):
    """The availableNow foreachBatch writer every batch-function sink
    uses: ``fn(batch_df, batch_id)`` per micro-batch, progress in
    ``checkpoint``. Returned unstarted."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def drain_stream(q, what: str, timeout_s: int = 300) -> None:
    """Block until an availableNow query finishes or ``timeout_s``
    elapses, stopping it and raising on timeout — a drain never leaves
    a query running behind a failed caller."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(f"{what} stream did not drain within {timeout_s}s")


def write_batch_partial(
    store: str,
    partial: Callable[[DataFrame, int], DataFrame],
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """Land one micro-batch's ``partial(batch_df, batch_id)`` under
    ``store/batch_id=N`` with overwrite: foreachBatch is at-least-once,
    and a redelivered batch must replace its own partial, not add a
    second copy. The batch is persisted while the partial is built and
    written, so a partial that reads it twice scans it once."""
    batch_df = batch_df.persist()
    try:
        partial(batch_df, batch_id).write.mode("overwrite").parquet(
            os.path.join(store, f"batch_id={batch_id}")
        )
    finally:
        batch_df.unpersist()


def drain_partial_store(
    frame: DataFrame,
    base: str,
    partial: Callable[[DataFrame, int], DataFrame],
    arrival_order: str | None = None,
) -> str:
    """Feed ``frame`` through the streaming engine into a store of
    per-batch partials and return the store path (``base/store``).

    The frame is staged under ``base/src`` as one JSON file per core
    (range-clustered on ``arrival_order`` when given, so a run of keys
    arrives in consecutive triggers) and read back with its own schema,
    a quarter of the files per trigger: every stream-fed store drains
    several micro-batches, so a partial whose merge claims to be
    batching-independent is exercised across batch boundaries. Each
    batch lands through :func:`write_batch_partial`."""
    spark = frame.sparkSession
    par = spark.sparkContext.defaultParallelism
    src, store = os.path.join(base, "src"), os.path.join(base, "store")
    (
        frame.repartitionByRange(par, arrival_order)
        if arrival_order
        else frame.repartition(par)
    ).write.json(src)
    stream = (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", max(1, par // 4))
        .json(src)
    )
    q = foreach_batch_writer(
        stream,
        lambda batch_df, batch_id: write_batch_partial(store, partial, batch_df, batch_id),
        os.path.join(base, "ckpt"),
    ).start()
    drain_stream(q, f"partial store {base}")
    return store
