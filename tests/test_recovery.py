"""Checkpoint recovery of the REAL streaming engine: a query stopped
after a partial drain and restarted against the SAME checkpoint must
resume exactly where it left off — aggregation state restored from the
state store, committed source files never re-read — and converge to
the same totals as a single uninterrupted run. This is the ops story
behind every streaming claim the engine makes: crashes are resumes,
not replays."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from conftest import SF_DIR

from promptly_data_pipelines_spark.catalog import table


def _run_available_now(spark, src, ckpt, name):
    stream = (
        spark.readStream.schema("event_id bigint, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_stream_restart_resumes_from_checkpoint(spark):
    base = os.path.join(tempfile.gettempdir(), "pdp_recovery_test")
    shutil.rmtree(base, ignore_errors=True)
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    os.makedirs(src)

    ev = table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    half = [
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
    ]

    # run 1: only the first half is staged; availableNow drains it and
    # terminates — the checkpoint now marks those files committed and
    # the state store holds their running aggregates
    half[0].coalesce(1).write.mode("overwrite").json(os.path.join(base, "s0"))
    for i, part in enumerate(
        glob.glob(os.path.join(base, "s0", "part-*.json"))
    ):
        shutil.move(part, os.path.join(src, f"a{i}.json"))
    _run_available_now(spark, src, ckpt, "pdp_recovery_sink")

    # the crash/redeploy: second half arrives, SAME checkpoint
    half[1].coalesce(1).write.mode("overwrite").json(os.path.join(base, "s1"))
    for i, part in enumerate(
        glob.glob(os.path.join(base, "s1", "part-*.json"))
    ):
        shutil.move(part, os.path.join(src, f"b{i}.json"))
    q2 = _run_available_now(spark, src, ckpt, "pdp_recovery_sink")

    # resumed run read ONLY the new files (committed ones not re-read)
    rows_second_half = half[1].count()
    replayed = sum(p["numInputRows"] for p in q2.recentProgress)
    assert replayed == rows_second_half, (
        f"restart re-read committed input: {replayed} != {rows_second_half}"
    )

    # and the restored state makes totals equal one uninterrupted run
    got = {
        r["event_type"]: (r["n"], r["sv"])
        for r in spark.table("pdp_recovery_sink").collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sv"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0], f"{k}: count diverged after restart"


def test_upsert_sink_survives_batch_redelivery(spark):
    """ADVICE r5: a crash BETWEEN the _LATEST pointer flip and the
    streaming checkpoint commit re-delivers batch N with the committed
    snapshot already being snap-N. The old merge path then lazily read
    snap-N while mode('overwrite')-writing snap-N — 'Cannot overwrite a
    path that is also being read from' on every restart, wedging the
    stream forever. The sink must short-circuit the re-delivery, keep
    the target intact, and GC stale _LATEST.tmp-* files."""
    from promptly_data_pipelines_spark.cdc import streaming as S
    from promptly_data_pipelines_spark.operators import snapshot_store as SS
    from promptly_data_pipelines_spark.cdc.envelope import synthesize_envelopes

    base = os.path.join(tempfile.gettempdir(), "pdp_redeliver_test")
    shutil.rmtree(base, ignore_errors=True)
    env_dir, ckpt, tgt = (os.path.join(base, x) for x in ("env", "ck", "tgt"))

    ev = table(spark, SF_DIR, "events")
    synthesize_envelopes(ev).write.json(env_dir)
    rows = S.live_rows(S.read_envelope_stream(spark, env_dir))
    S.upsert_sink(rows, tgt, ckpt).start().awaitTermination(120)
    want = SS.read_upsert_target(spark, tgt).count()

    # the crash: the pointer flipped (target committed) but the engine
    # never recorded the batch — drop the checkpoint commit marker so
    # the restart re-delivers batch 0 against prev == snap-0
    commits = glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))
    assert commits, "expected at least one committed batch"
    last = max(commits, key=lambda p: int(os.path.basename(p)))
    os.remove(last)
    crc = os.path.join(os.path.dirname(last), f".{os.path.basename(last)}.crc")
    if os.path.exists(crc):  # local-FS checksum shadow of the marker
        os.remove(crc)
    # plus a stale tmp pointer from the interrupted commit protocol
    with open(os.path.join(tgt, "_LATEST.tmp-99"), "w") as fh:
        fh.write("snap-99")

    rows2 = S.live_rows(S.read_envelope_stream(spark, env_dir))
    q = S.upsert_sink(rows2, tgt, ckpt).start()
    q.awaitTermination(120)  # old code: wedged here with overwrite error

    back = SS.read_upsert_target(spark, tgt)
    assert back.count() == want
    ptr = open(os.path.join(tgt, "_LATEST")).read().strip()
    assert os.path.exists(os.path.join(tgt, ptr, "_SUCCESS"))
    assert not glob.glob(os.path.join(tgt, "_LATEST.tmp-*")), (
        "stale tmp pointers must be GC'd"
    )


def test_zorder_write_empty_input(spark, tmp_path):
    """ADVICE r5: zorder_write on an empty frame used to crash scale()
    with float(None); a maintenance job on an empty partition must
    no-op cleanly."""
    from promptly_data_pipelines_spark.operators.layout import zorder_write

    empty = (
        table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "value", F.lit("d0").alias("day"))
        .limit(0)
    )
    dst = str(tmp_path / "z_empty")
    zorder_write(empty, dst, "day", ("user_id", "value"))
    assert spark.read.schema(empty.schema).parquet(dst).count() == 0


def test_map_values_empty_mapping_raises():
    """ADVICE r5: an empty mapping has no CASE chain to build — fail
    loudly instead of returning None."""
    import pytest as _pytest

    from promptly_data_pipelines_spark import functions as PF

    with _pytest.raises(ValueError, match="non-empty mapping"):
        PF.map_values("x", {})


def test_redelivery_keeps_prior_snapshot(spark):
    """Review r6: the redelivery short-circuit must GC with the SAME
    retention as the normal path — the prior snapshot stays (a
    concurrent reader may have resolved it just before the
    crash-interrupted pointer flip), only older snaps and stale tmp
    pointers go."""
    from promptly_data_pipelines_spark.cdc import streaming as S
    from promptly_data_pipelines_spark.operators import snapshot_store as SS
    from promptly_data_pipelines_spark.cdc.envelope import synthesize_envelopes

    base = os.path.join(tempfile.gettempdir(), "pdp_redeliver_retention")
    shutil.rmtree(base, ignore_errors=True)
    env_dir, ckpt, tgt = (os.path.join(base, x) for x in ("env", "ck", "tgt"))

    ev = table(spark, SF_DIR, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    # batch 0
    synthesize_envelopes(first).write.json(env_dir)
    rows = S.live_rows(S.read_envelope_stream(spark, env_dir))
    S.upsert_sink(rows, tgt, ckpt).start().awaitTermination(120)
    # batch 1 (new files, same checkpoint)
    synthesize_envelopes(second).write.mode("append").json(env_dir)
    rows = S.live_rows(S.read_envelope_stream(spark, env_dir))
    S.upsert_sink(rows, tgt, ckpt).start().awaitTermination(120)

    snaps = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(tgt, "snap-*"))
    )
    assert len(snaps) == 2, f"expected committed + prior snapshots, got {snaps}"
    newest = max(snaps, key=lambda n: int(n.split("-", 1)[1]))
    prior = min(snaps, key=lambda n: int(n.split("-", 1)[1]))

    # crash between pointer flip and checkpoint commit of the newest batch
    commits = glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))
    last = max(commits, key=lambda p: int(os.path.basename(p)))
    os.remove(last)
    crc = os.path.join(os.path.dirname(last), f".{os.path.basename(last)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    rows = S.live_rows(S.read_envelope_stream(spark, env_dir))
    S.upsert_sink(rows, tgt, ckpt).start().awaitTermination(120)

    after = {os.path.basename(p) for p in glob.glob(os.path.join(tgt, "snap-*"))}
    assert newest in after
    assert prior in after, (
        "redelivery GC deleted the prior snapshot the normal path retains"
    )
    # tombstoned ids (every 10th, per synthesize_envelopes) never land
    live = ev.filter(F.col("event_id") % 10 != 0).select("event_id").distinct().count()
    assert SS.read_upsert_target(spark, tgt).count() == live
