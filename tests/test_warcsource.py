"""WARC Python DataSource (operators/warcsource.py): parser edge
cases the parity sweep can't produce (payloads containing the record
separator, multi-byte UTF-8 vs Content-Length-in-bytes, malformed
input), partition planning, and the parse-once-land-parquet pattern.
Value parity vs DuckDB is covered by the oracle-parity suite
(scan_warc)."""

from __future__ import annotations

import io
import os

from pyspark.sql import functions as F

from promptly_data_pipelines_spark.operators.warcsource import (
    _parse_warc_stream,
    read_warc,
    warc_to_parquet,
    write_warc_files,
)


def test_payload_containing_separator_survives(tmp_path):
    """Content-Length framing, not delimiter splitting: a payload that
    embeds the record separator byte sequence must round-trip."""
    evil = "before\r\n\r\nWARC/1.0\r\nafter"
    write_warc_files([(1, evil)], str(tmp_path), n_files=1)
    with open(tmp_path / "crawl-00000.warc", "rb") as fh:
        recs = list(_parse_warc_stream(fh))
    assert len(recs) == 1
    assert recs[0][5] == evil


def test_multibyte_payload_length_is_bytes(tmp_path):
    """Content-Length counts UTF-8 bytes, not characters."""
    text = "héllo wörld ☃"
    write_warc_files([(7, text)], str(tmp_path), n_files=1)
    with open(tmp_path / "crawl-00000.warc", "rb") as fh:
        (rec,) = list(_parse_warc_stream(fh))
    assert rec[4] == len(text.encode("utf-8"))
    assert rec[5] == text


def test_truncated_payload_raises(tmp_path):
    p = tmp_path / "bad.warc"
    p.write_bytes(
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort"
    )
    with open(p, "rb") as fh:
        try:
            list(_parse_warc_stream(fh))
            raise AssertionError("truncated payload did not raise")
        except ValueError as e:
            assert "truncated" in str(e)


def test_non_warc_boundary_raises():
    fh = io.BytesIO(b"HTTP/1.1 200 OK\r\n\r\n")
    try:
        list(_parse_warc_stream(fh))
        raise AssertionError("garbage boundary did not raise")
    except ValueError as e:
        assert "boundary" in str(e)


def test_one_partition_per_file_and_parquet_landing(spark, tmp_path):
    """Partition planning is file-granular, and the intended
    parse-once pattern lands parquet that equals the direct read."""
    rows = [(i, f"doc body {i}") for i in range(20)]
    src = str(tmp_path / "crawl")
    write_warc_files(rows, src, n_files=4)
    df = read_warc(spark, src)
    assert df.rdd.getNumPartitions() == 4
    dst = str(tmp_path / "landed")
    warc_to_parquet(spark, src, dst)
    landed = spark.read.parquet(dst)
    assert sorted(map(tuple, landed.collect())) == sorted(map(tuple, df.collect()))
    assert landed.count() == 20


def test_stream_reader_incremental_pickup_and_no_redelivery(spark, tmp_path):
    """Wave-granular exactly-once: each availableNow drain against one
    checkpoint consumes only the files that arrived since the last
    drain, and a drain with nothing new appends nothing."""
    from promptly_data_pipelines_spark.operators.warcsource import WarcDataSource

    src, ckpt, sink = (str(tmp_path / d) for d in ("src", "ckpt", "sink"))
    os.makedirs(src, exist_ok=True)
    spark.dataSource.register(WarcDataSource)

    def drain():
        q = (
            spark.readStream.format("pdp_warc")
            .load(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive
        return sorted(
            r["target_uri"] for r in spark.read.parquet(sink).collect()
        )

    write_warc_files([(1, "one"), (2, "two")], src, n_files=1, prefix="a")
    assert drain() == [f"https://example.org/doc/{i}" for i in (1, 2)]
    # nothing new → nothing re-delivered
    assert drain() == [f"https://example.org/doc/{i}" for i in (1, 2)]
    write_warc_files([(3, "three")], src, n_files=1, prefix="b")
    assert drain() == [f"https://example.org/doc/{i}" for i in (1, 2, 3)]


def test_pushfilters_partial_acceptance(tmp_path):
    """Header filters are absorbed, payload/compound ones come back:
    the protocol's partial-pushdown contract, reader-level."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, IsNotNull

    from promptly_data_pipelines_spark.operators.warcsource import WarcPushdownReader

    write_warc_files([(1, "aa"), (2, "bbbb")], str(tmp_path), n_files=1)
    r = WarcPushdownReader({"path": str(tmp_path)})
    leftover = list(
        r.pushFilters(
            [
                EqualTo(("warc_type",), "response"),
                GreaterThan(("content_length",), 2),
                EqualTo(("payload",), "aa"),  # payload: not pushable
                IsNotNull(("warc_type",)),  # class not pushable
            ]
        )
    )
    assert {type(f).__name__ for f in leftover} == {"EqualTo", "IsNotNull"}
    rows = list(r.read(r.partitions()[0]))
    # content_length > 2 keeps only the 4-byte record
    assert [x[4] for x in rows] == [4]


def test_pushed_filter_results_match_unfiltered_scan(spark, tmp_path):
    """End-to-end: a header filter through the engine returns exactly
    the rows a post-hoc filter over the full scan returns — whether or
    not the planner chose to push it down."""
    from promptly_data_pipelines_spark.operators.warcsource import read_warc

    rows = [(i, "x" * (i + 1)) for i in range(10)]
    src = str(tmp_path / "crawl")
    write_warc_files(rows, src, n_files=2)
    df = read_warc(spark, src)
    want = sorted(
        r["target_uri"]
        for r in df.collect()
        if r["content_length"] > 5
    )
    filtered = df.filter(F.col("content_length") > 5)
    got = sorted(r["target_uri"] for r in filtered.collect())
    assert got == want and len(got) == 5
    # and the plan shows the filter reached the source
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    assert "PushedFilters: [GreaterThan(content_length,5)]" in buf.getvalue()


# ---- writer side ----------------------------------------------------


def _sink_df(spark, rows):
    """(id, payload) rows in the sink's input contract."""
    return spark.createDataFrame(
        [
            (f"urn:uuid:t-{i}", f"https://example.org/doc/{i}", p)
            for i, p in rows
        ],
        "record_id string, target_uri string, payload string",
    )


def test_write_roundtrip_hostile_payloads(spark, tmp_path):
    """df → pdp_warc sink → source → same rows, including payloads that
    embed the record separator, header lookalikes, and multi-byte
    UTF-8 (Content-Length counts BYTES, not chars)."""
    from promptly_data_pipelines_spark.operators.warcsource import write_warc

    rows = [
        (1, "plain"),
        (2, "sep\r\n\r\nWARC/1.0\r\ninside"),
        (3, "Content-Length: 999\r\n\r\nfake header"),
        (4, "emojis \U0001f600\U0001f680 and accents éü"),
        (5, ""),
    ]
    out = str(tmp_path / "sink")
    write_warc(_sink_df(spark, rows).repartition(3), out)
    got = {
        (r["record_id"], r["payload"], r["content_length"])
        for r in read_warc(spark, out).collect()
    }
    want = {
        (f"urn:uuid:t-{i}", p, len(p.encode("utf-8"))) for i, p in rows
    }
    assert got == want
    # no staging residue, no empty-task files
    assert not [d for d in os.listdir(out) if d.startswith("_staging")]


def test_gzip_member_roundtrip_hostile_payloads(tmp_path):
    """.warc.gz in the Common Crawl layout (one gzip member per
    record, concatenated): every hostile payload class survives
    decompress → parse, and content_length is the UNCOMPRESSED byte
    count."""
    import gzip

    from promptly_data_pipelines_spark.operators.warcsource import _open_warc

    rows = [
        (1, "sep\r\n\r\nWARC/1.0\r\ninside"),
        (2, "Content-Length: 999\r\n\r\nfake header"),
        (3, "emojis \U0001f600\U0001f680 and accents éü"),
        (4, ""),
    ]
    write_warc_files(rows, str(tmp_path), n_files=1, gzip_members=True)
    path = tmp_path / "crawl-00000.warc.gz"
    # layout pin: N records → N concatenated members (random access)
    raw = path.read_bytes()
    assert raw.count(b"\x1f\x8b\x08") >= len(rows)
    with _open_warc(str(path)) as fh:
        recs = list(_parse_warc_stream(fh))
    assert {(r[0], r[5], r[4]) for r in recs} == {
        (f"urn:uuid:pdp-doc-{i}", p, len(p.encode("utf-8"))) for i, p in rows
    }
    # single-member whole-file gz (the other layout in the wild) also parses
    whole = tmp_path / "whole.warc.gz"
    with _open_warc(str(path)) as fh:
        plain = fh.read()
    whole.write_bytes(gzip.compress(plain, mtime=0))
    with _open_warc(str(whole)) as fh:
        assert len(list(_parse_warc_stream(fh))) == len(rows)


def test_gzip_and_plain_files_mix_in_one_scan(spark, tmp_path):
    """A drop folder holding BOTH .warc and .warc.gz (mid-migration
    crawls do this) reads as one DataFrame, one partition per file."""
    write_warc_files([(1, "plain-file")], str(tmp_path), n_files=1)
    write_warc_files(
        [(2, "gz-file")], str(tmp_path), n_files=1, prefix="crawlgz",
        gzip_members=True,
    )
    df = read_warc(spark, str(tmp_path))
    assert df.rdd.getNumPartitions() == 2
    assert {r["payload"] for r in df.collect()} == {"plain-file", "gz-file"}


def test_gzip_sink_roundtrip_and_stream_relay_compat(spark, tmp_path):
    """compression='gzip' on the sink: multi-task two-phase commit
    publishes .warc.gz parts readable by the source; the stream sink's
    gz output remains a valid drop folder (relay compat). Unsupported
    codecs fail loudly on the driver."""
    import pytest

    from promptly_data_pipelines_spark.operators.warcsource import write_warc

    rows = [(1, "a\r\n\r\nWARC/1.0\r\nb"), (2, "ü☃"), (3, "")]
    out = str(tmp_path / "sink")
    write_warc(_sink_df(spark, rows).repartition(3), out, compression="gzip")
    names = [f for f in os.listdir(out) if not f.startswith("_")]
    assert names and all(f.endswith(".warc.gz") for f in names)
    got = {
        (r["record_id"], r["payload"], r["content_length"])
        for r in read_warc(spark, out).collect()
    }
    assert got == {
        (f"urn:uuid:t-{i}", p, len(p.encode("utf-8"))) for i, p in rows
    }
    # overwrite in the OTHER layout clears gz parts too (no stale mix)
    write_warc(_sink_df(spark, [(9, "now-plain")]), out, mode="overwrite")
    assert {r["payload"] for r in read_warc(spark, out).collect()} == {"now-plain"}
    with pytest.raises(Exception, match="compression"):
        write_warc(_sink_df(spark, rows), str(tmp_path / "bad"), compression="zstd")


def test_write_modes_overwrite_and_append(spark, tmp_path):
    from promptly_data_pipelines_spark.operators.warcsource import write_warc

    out = str(tmp_path / "sink")
    write_warc(_sink_df(spark, [(1, "a")]), out)
    write_warc(_sink_df(spark, [(2, "b")]), out, mode="append")
    assert {r["payload"] for r in read_warc(spark, out).collect()} == {"a", "b"}
    write_warc(_sink_df(spark, [(3, "c")]), out, mode="overwrite")
    assert {r["payload"] for r in read_warc(spark, out).collect()} == {"c"}


def test_writer_schema_validated_on_driver(spark, tmp_path):
    """A missing required column must fail at plan time (driver-side
    ValueError), not as a thousand executor task failures."""
    import pytest

    from promptly_data_pipelines_spark.operators.warcsource import write_warc

    df = spark.createDataFrame([("x",)], "payload string")  # no target_uri
    with pytest.raises(Exception, match="target_uri"):
        write_warc(df, str(tmp_path / "sink"))


def test_failed_write_leaves_old_data_intact(spark, tmp_path):
    """Two-phase commit's point: overwrite clears the old files at
    COMMIT time, so a job that fails mid-write leaves the previous
    crawl fully readable and no staging residue behind."""
    import pytest

    from promptly_data_pipelines_spark.operators.warcsource import write_warc

    out = str(tmp_path / "sink")
    write_warc(_sink_df(spark, [(1, "keep-me")]), out)
    bad = spark.createDataFrame(
        [("urn:uuid:t-2", "https://example.org/2", None)],
        "record_id string, target_uri string, payload string",
    )
    with pytest.raises(Exception):
        write_warc(bad, out, mode="overwrite")  # NULL payload → task error
    assert [r["payload"] for r in read_warc(spark, out).collect()] == ["keep-me"]
    assert not [d for d in os.listdir(out) if d.startswith("_staging")]


def test_stage_records_makes_no_staging_dir_before_a_record(tmp_path):
    """A task of an aborted job can still run after the driver's abort
    removed the staging dir. An empty task, or one whose first row
    fails, must not re-create it."""
    import pytest
    from pyspark.sql import Row

    from promptly_data_pipelines_spark.operators.warcsource import _stage_records

    staging = str(tmp_path / "_staging-t")
    assert _stage_records(staging, iter([])).staged is None
    assert not os.path.exists(staging)
    bad = Row(record_id="urn:uuid:t-1", target_uri="https://example.org/1", payload=None)
    for gz in (False, True):
        with pytest.raises(ValueError, match="NULL target_uri/payload"):
            _stage_records(staging, iter([bad]), gz=gz)
        assert not os.path.exists(staging)


def test_stream_commit_is_retry_idempotent(tmp_path):
    """Unit-level: committing the SAME batchId twice (an engine retry)
    replaces the batch's files instead of duplicating them."""
    from promptly_data_pipelines_spark.operators.warcsource import (
        WarcStreamWriter,
        _parse_warc_stream,
    )
    from pyspark.sql import Row

    out = str(tmp_path / "sink")
    os.makedirs(out)
    w = WarcStreamWriter({"path": out})

    def attempt(payload):
        msg = w.write(
            iter(
                [
                    Row(
                        record_id="urn:uuid:r-1",
                        target_uri="https://example.org/1",
                        payload=payload,
                    )
                ]
            )
        )
        w.commit([msg], batchId=7)

    attempt("first-attempt")
    attempt("second-attempt")
    files = [f for f in os.listdir(out) if f.endswith(".warc")]
    assert len(files) == 1 and files[0].startswith("batch-000000007-")
    with open(os.path.join(out, files[0]), "rb") as fh:
        recs = list(_parse_warc_stream(fh))
    assert [r[5] for r in recs] == ["second-attempt"]


def test_stream_relay_sink_dir_is_valid_drop_folder(spark, tmp_path):
    """End-to-end stream write: WARC source → streaming engine →
    pdp_warc stream sink, two waves, one checkpoint — no duplication
    across drains, and the sink's batch-NNNNNNNNN names sort after one
    another (the drop-folder contract, so a downstream WarcStreamReader
    could tail THIS directory)."""
    from promptly_data_pipelines_spark.operators.warcsource import WarcDataSource

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.dataSource.register(WarcDataSource)

    def drain():
        q = (
            spark.readStream.format("pdp_warc")
            .load(src)
            .writeStream.format("pdp_warc")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive
        return sorted(r["target_uri"] for r in read_warc(spark, out).collect())

    write_warc_files([(1, "one"), (2, "two")], src, n_files=1, prefix="a")
    assert drain() == [f"https://example.org/doc/{i}" for i in (1, 2)]
    write_warc_files([(3, "three")], src, n_files=1, prefix="b")
    assert drain() == [f"https://example.org/doc/{i}" for i in (1, 2, 3)]
    names = sorted(f for f in os.listdir(out) if f.endswith(".warc"))
    assert names == sorted(set(names)) and all(f.startswith("batch-") for f in names)


def test_speculative_loser_never_publishes(tmp_path):
    """Two attempts of the same logical task (speculation / retry after
    a lost result): only the attempt whose commit message reached the
    driver publishes; the loser's staged bytes are swept, batch side
    by the staging rmtree, stream side by the commit-barrier sweep."""
    from pyspark.sql import Row

    from promptly_data_pipelines_spark.operators.warcsource import (
        WarcStreamWriter,
        WarcWriter,
        _parse_warc_stream,
    )

    def row(p):
        return Row(
            record_id="urn:uuid:r-1",
            target_uri="https://example.org/1",
            payload=p,
        )

    out_b = str(tmp_path / "batch")
    os.makedirs(out_b)
    wb = WarcWriter({"path": out_b}, overwrite=True)
    _loser = wb.write(iter([row("loser-attempt")]))
    winner = wb.write(iter([row("winner-attempt")]))
    wb.commit([winner])  # only the winner's message arrives
    files = [f for f in os.listdir(out_b) if f.endswith(".warc")]
    assert len(files) == 1
    with open(os.path.join(out_b, files[0]), "rb") as fh:
        assert [r[5] for r in _parse_warc_stream(fh)] == ["winner-attempt"]
    assert not [d for d in os.listdir(out_b) if d.startswith("_staging")]

    out_s = str(tmp_path / "stream")
    os.makedirs(out_s)
    ws = WarcStreamWriter({"path": out_s})
    _loser = ws.write(iter([row("loser-attempt")]))
    winner = ws.write(iter([row("winner-attempt")]))
    ws.commit([winner], batchId=0)
    files = [f for f in os.listdir(out_s) if f.endswith(".warc")]
    assert len(files) == 1 and files[0].startswith("batch-000000000-")
    with open(os.path.join(out_s, files[0]), "rb") as fh:
        assert [r[5] for r in _parse_warc_stream(fh)] == ["winner-attempt"]
    # loser swept at the commit barrier — staging holds nothing
    assert not any(os.scandir(ws._staging))


def test_restarted_query_replaces_crashed_batch(tmp_path):
    """Exactly-once across a query RESTART: the crashed run published
    batch 0 and left an uncommitted staged file; the restarted run —
    a fresh writer instance, same deterministic staging dir — re-runs
    batch 0 from the checkpoint, REPLACES the old attempt's files
    (never adds to them), and its commit-barrier sweep collects the
    crashed run's orphan."""
    from pyspark.sql import Row

    from promptly_data_pipelines_spark.operators.warcsource import (
        WarcStreamWriter,
        _parse_warc_stream,
    )

    def row(p):
        return Row(
            record_id="urn:uuid:r-1",
            target_uri="https://example.org/1",
            payload=p,
        )

    out = str(tmp_path / "sink")
    os.makedirs(out)
    crashed = WarcStreamWriter({"path": out})
    crashed.commit([crashed.write(iter([row("crashed-attempt")]))], batchId=0)
    orphan = crashed.write(iter([row("crashed-in-flight")]))  # never committed

    restarted = WarcStreamWriter({"path": out})
    restarted.commit([restarted.write(iter([row("replayed")]))], batchId=0)
    files = [f for f in os.listdir(out) if f.endswith(".warc")]
    assert files == ["batch-000000000-00000.warc"]
    with open(os.path.join(out, files[0]), "rb") as fh:
        assert [r[5] for r in _parse_warc_stream(fh)] == ["replayed"]
    # crashed-run residue self-heals at the restart's first commit
    assert not os.path.exists(orphan.staged)


def test_header_smuggling_rejected(spark, tmp_path):
    """A CR/LF inside a header field would let one row forge headers or
    break the NEXT record's framing — the writer must refuse it."""
    import pytest

    from promptly_data_pipelines_spark.operators.warcsource import write_warc

    df = spark.createDataFrame(
        [("urn:uuid:x", "https://example.org/a\r\nWARC-Type: forged", "p")],
        "record_id string, target_uri string, payload string",
    )
    with pytest.raises(Exception, match="CR/LF"):
        write_warc(df, str(tmp_path / "sink"))


def test_stale_staging_swept_at_first_commit(spark, tmp_path):
    """A hard-killed run's staged leftovers (no abort ever fired) must
    not accumulate: the staging dir is deterministic, so the next run
    shares it and its first commit barrier sweeps the orphans — pinned
    END TO END through the real engine."""
    from promptly_data_pipelines_spark.operators.warcsource import WarcDataSource

    out = str(tmp_path / "sink")
    stale_dir = os.path.join(out, "_staging-stream")
    os.makedirs(stale_dir)
    orphan = os.path.join(stale_dir, "task-deadbeef.warctmp")
    with open(orphan, "wb") as fh:
        fh.write(b"orphaned bytes")
    src = str(tmp_path / "src")
    write_warc_files([(1, "one")], src, n_files=1)
    spark.dataSource.register(WarcDataSource)
    q = (
        spark.readStream.format("pdp_warc")
        .load(src)
        .writeStream.format("pdp_warc")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert not os.path.exists(orphan)
    assert len(read_warc(spark, out).collect()) == 1
