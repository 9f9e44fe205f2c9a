"""Value-level pins for the reference-domain pipeline — each assertion
is one documented bad-data case from CHALLENGE.md:75 / sample.csv
(FIXTURES.md §B3), so a regression names the exact semantic broken."""

from __future__ import annotations

from promptly_data_pipelines_spark.cdc import streaming as S
from promptly_data_pipelines_spark.catalog import table
from promptly_data_pipelines_spark.cdc.envelope import synthesize_envelopes
from promptly_data_pipelines_spark.pipelines.reference_pipeline import (
    reference_curated_provider,
)

from conftest import SF_DIR


def test_bad_data_semantics(spark):
    rows = {r.npi: r for r in reference_curated_provider(spark, SF_DIR).collect()}

    # duplicate ProviderID 001 (John Doe / Dr. J. Doe / Dr. John Doe):
    # canonical survivor is the longest name
    assert rows["1111111111"].provider_name == "Dr. John Doe"

    # literal 'NULL' NPI (Alice Brown) survives with npi=None under a
    # synthetic merge key; literal 'NULL' name row is dropped
    none_npi = [r for r in rows.values() if r.npi is None]
    assert [r.provider_name for r in none_npi] == ["Alice Brown"]
    assert all(r.provider_name != "NULL" for r in rows.values())

    # specialty abbreviation normalization + varchar(10) truncation
    # parity: 'Derma' → 'Dermatology' → 'Dermatolog' (Trino CAST bug
    # preserved deliberately; see functions.varchar_n)
    assert rows[None if not none_npi else none_npi[0].npi].specialty == "Dermatolog"
    assert rows["7777777777"].specialty == "General Pr"  # 'General Practice'

    # multi-source merge: Postgres wins NPI collisions (2222222222 in both)
    assert rows["2222222222"].provider_name == "Grace Wilson"

    # FK join onto care_site resolved for every named site
    assert rows["5555555555"].care_site_id == 5  # North Health Institute


def test_elt_job_end_to_end(spark, tmp_path):
    """The app.py run ladder analog: DAG executes, warehouse dirs
    materialize, DQ passes, report artifact exists (the reference's
    acceptance criterion), rerun is idempotent, the returned counts
    are the rows written, and an empty events table counts zero."""
    import glob
    import json
    import os

    from promptly_data_pipelines_spark.catalog import DECLARED_SCHEMAS
    from promptly_data_pipelines_spark.pipelines.elt_job import run_elt

    wh = str(tmp_path / "wh")
    out = run_elt(spark, SF_DIR, wh)
    assert out["passed"] is True
    # latest-wins compaction: exactly one curated row per distinct user
    n_users = (
        spark.read.parquet(os.path.join(wh, "raw", "events"))
        .select("user_id")
        .distinct()
        .count()
    )
    assert out["counts"]["curated_activity"] == n_users >= 1
    assert out["counts"]["raw_events"] > n_users
    rep = json.load(open(out["report"]["json"]))
    assert rep["passed"] is True and rep["tables"]["curated_activity"]["row_count"] > 0
    out2 = run_elt(spark, SF_DIR, wh)  # rerun: overwrite semantics
    assert out2["counts"] == out["counts"]
    # the counts observed on the writes are the rows on disk
    model_dirs = {
        "raw_events": ("raw", "events"),
        "raw_user_nation": ("raw", "user_nation"),
        "curated_activity": ("curated", "activity"),
    }
    assert out["counts"] == {
        name: spark.read.parquet(os.path.join(wh, *d)).count()
        for name, d in model_dirs.items()
    }
    # one writer per ingestion date: one file per date dir
    date_dirs = glob.glob(os.path.join(wh, "raw", "events", "ingestion_cdc_date=*"))
    assert date_dirs
    for d in date_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

    # a zero-row events table: the write is observed as zero rows
    empty_sf = tmp_path / "empty_events"
    empty_sf.mkdir()
    for t in ("customer", "nation"):
        os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), empty_sf / f"{t}.parquet")
    spark.createDataFrame([], DECLARED_SCHEMAS["events"]).write.parquet(
        str(empty_sf / "events.parquet")
    )
    empty = run_elt(spark, str(empty_sf), str(tmp_path / "wh_empty"))
    assert empty["counts"]["raw_events"] == empty["counts"]["curated_activity"] == 0
    assert empty["counts"]["raw_user_nation"] == out["counts"]["raw_user_nation"]


def test_stateful_user_tracker(spark):
    """applyInPandasWithState: running per-user state across the
    stream; snapshot totals must equal the batch aggregation."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from promptly_data_pipelines_spark.cdc.stateful import user_activity_tracker

    d = tempfile.mkdtemp()
    env_dir = os.path.join(d, "env")
    ev = table(spark, SF_DIR, "events")
    synthesize_envelopes(ev).write.json(env_dir)
    live = S.live_rows(S.read_envelope_stream(spark, env_dir))
    q = (
        user_activity_tracker(live)
        .writeStream.format("memory")
        .queryName("tracker_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(d, "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.sql("select * from tracker_t where is_final = false").collect()
    }
    expected = {
        r.user_id: (r.n, round(r.s, 2))
        for r in ev.filter(F.col("event_id") % 10 != 0)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert got == expected


def test_streaming_session_counts(spark):
    """The native session_window streaming form executes and bounds
    sessions by the inactivity gap."""
    import os
    import tempfile

    d = tempfile.mkdtemp()
    env_dir = os.path.join(d, "env")
    synthesize_envelopes(table(spark, SF_DIR, "events")).write.json(env_dir)
    q = (
        S.session_counts(S.read_envelope_stream(spark, env_dir))
        .writeStream.format("memory")
        .queryName("sess_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(d, "ck"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "select count(*) n, min(unix_millis(session_end) - unix_millis(session_start)) mn from sess_t"
    ).first()
    assert out.n > 0
    assert out.mn >= 0
