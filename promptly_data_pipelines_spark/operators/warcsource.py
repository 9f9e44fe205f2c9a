"""WARC ingest via the Python DataSource API — the extensibility seam.

Web crawls — the corpus every LLM-data pipeline starts from — arrive
as WARC files (ISO 28500: Common Crawl, Internet Archive), not
parquet. Spark has no built-in WARC reader; the Spark-4 Python
DataSource API (`pyspark.sql.datasource`) is the sanctioned way to
add one without JVM code: a `DataSource` subclass declares the
schema, plans one `InputPartition` per WARC file (WARC's natural
split unit — records are not boundary-findable mid-file without an
index, but crawls ship as many ~1 GB files, so file-granular
parallelism is the real-world parallelism), and a per-partition
`read()` generator parses records.

Scale honesty: record PARSING is per-record Python — the inherent
budget of any custom Python source, measured ~35 µs/record. The
protocol offers two handoffs (row tuples or Arrow RecordBatches);
tools/probe_warc.py A/B-measured both at two payload shapes (~100 B
and ~2.5 KB avg) and the tuple handoff won by ~8-10% both times —
building pa.arrays in Python costs more than row pickling saves at
this parse rate, so the reader yields tuples and the probe keeps the
Arrow variant reproducible. The durable conclusion is that the
HANDOFF is second-order: the parse dominates, so the intended
pattern for ingest-once formats is to pay it ONCE and land columnar
(`warc_to_parquet` below), mirroring the reference's
ingest-then-model flow where raw Kafka/CSV land in Iceberg tables
first (setup.py:102-130, raw_provider_postgres.sql). The parser is
record-streaming (reads Content-Length bytes, never splits on
payload content); reader memory is one record, not the file.

The reference has no crawl-format reader (its sources are Postgres/
Kafka/CSV); this fills the ingest gap the web-curation tier
(extensions/web.py) otherwise fakes by synthesizing URLs from
parquet columns.
"""

from __future__ import annotations

import glob
import gzip
import io
import itertools
import os
import shutil
import sys as _sys
import tempfile
import uuid

from pyspark import cloudpickle as _pyspark_cloudpickle

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)

from ..catalog import table
from ..registry import query
from ..session import tune_session
from .scans import _session_tag

_WARC_CAP = 200  # absolute id bound: driver-side staging stays harness-sized
_N_FILES = 8  # staged crawl files → 8 input partitions
# WARC-Date is mandatory per ISO 28500; staging stamps a fixed literal
# so the format is valid AND the oracle-facing columns stay
# deterministic (the reader surfaces it; queries exclude it by the
# nondeterminism protocol only when it is truly nondeterministic —
# here it is a constant).
_WARC_DATE = "2026-01-01T00:00:00Z"

WARC_SCHEMA = (
    "record_id string, warc_type string, target_uri string, "
    "warc_date string, content_length bigint, payload string"
)


def write_warc_files(
    rows: list[tuple[int, str]],
    out_dir: str,
    n_files: int,
    prefix: str = "crawl",
    gzip_members: bool = False,
) -> None:
    """Stage (doc_id, text) rows as valid WARC/1.0 response records
    across ``n_files`` files (doc_id mod n_files — deterministic).
    ``prefix`` lets arrival waves land under lexicographically
    increasing names (the append-only drop-folder contract the stream
    reader tracks offsets by). ``gzip_members=True`` writes
    ``.warc.gz`` in the Common Crawl convention — each record its own
    gzip member, concatenated (ISO 28500 Annex C 'record-at-time
    compression'); ``mtime=0`` keeps the bytes deterministic. Harness
    rigging: a real deployment reads an existing crawl."""
    os.makedirs(out_dir, exist_ok=True)
    shards: dict[int, list[bytes]] = {i: [] for i in range(n_files)}
    for doc_id, text in rows:
        rec = _warc_record_bytes(
            f"urn:uuid:pdp-doc-{doc_id}",
            "response",
            f"https://example.org/doc/{doc_id}",
            _WARC_DATE,
            text,
        )
        shards[doc_id % n_files].append(
            gzip.compress(rec, mtime=0) if gzip_members else rec
        )
    ext = ".warc.gz" if gzip_members else ".warc"
    for i, recs in shards.items():
        with open(os.path.join(out_dir, f"{prefix}-{i:05d}{ext}"), "wb") as fh:
            fh.write(b"".join(recs))


def _warc_record_bytes(
    record_id: str, warc_type: str, target_uri: str, warc_date: str, payload: str
) -> bytes:
    """One valid WARC/1.0 record. Content-Length frames the payload, so
    a payload containing the record separator (``\\r\\n\\r\\n``) — or any
    other header-lookalike bytes — round-trips losslessly: the parser
    reads EXACTLY this many bytes and never scans payload content."""
    body = payload.encode("utf-8")
    return (
        b"WARC/1.0\r\n"
        + f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: <{record_id}>\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"WARC-Target-URI: {target_uri}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n".encode("utf-8")
        + body
        + b"\r\n\r\n"
    )


_WARC_EXTS = (".warc", ".warc.gz")


def _is_warc_name(name: str) -> bool:
    return name.endswith(_WARC_EXTS)


def _open_warc(path: str):
    """Open a crawl file as a byte stream the parser can consume.
    ``.warc.gz`` decompresses through :class:`gzip.GzipFile`, which
    reads CONCATENATED members transparently — so both real-world gz
    layouts (one member per record, Common Crawl's random-access
    convention, and one member per file) parse with the same code; the
    BufferedReader restores cheap ``readline`` over the decompressor.
    Decompression is member-streaming: memory holds one zlib window +
    one record, never the inflated file."""
    if path.endswith(".gz"):
        return io.BufferedReader(gzip.open(path, "rb"))
    return open(path, "rb")


def _parse_warc_stream(fh):
    """Record-streaming WARC parse: header block up to the blank line,
    then EXACTLY Content-Length payload bytes (never a split on
    payload content), then the record separator. Yields one tuple per
    record in WARC_SCHEMA column order."""
    while True:
        headers: dict[str, str] = {}
        line = fh.readline()
        if not line:
            return
        if line.strip() == b"":  # inter-record padding
            continue
        if not line.startswith(b"WARC/"):
            raise ValueError(f"not a WARC record boundary: {line[:40]!r}")
        while True:
            line = fh.readline()
            if line.strip() == b"":
                break
            k, _, v = line.decode("utf-8").partition(":")
            headers[k.strip().lower()] = v.strip()
        n = int(headers["content-length"])
        payload = fh.read(n)
        if len(payload) != n:
            raise ValueError("truncated WARC payload")
        yield (
            headers.get("warc-record-id", "").strip("<>"),
            headers.get("warc-type", ""),
            headers.get("warc-target-uri", ""),
            headers.get("warc-date", ""),
            n,
            payload.decode("utf-8"),
        )


class _WarcFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


# column index in the record tuple (WARC_SCHEMA order) for pushdown
_COL_IDX = {
    "record_id": 0,
    "warc_type": 1,
    "target_uri": 2,
    "warc_date": 3,
    "content_length": 4,
}
_PUSHABLE = {
    EqualTo: lambda v: lambda x: x == v,
    GreaterThan: lambda v: lambda x: x > v,
    GreaterThanOrEqual: lambda v: lambda x: x >= v,
    LessThan: lambda v: lambda x: x < v,
    LessThanOrEqual: lambda v: lambda x: x <= v,
    StringStartsWith: lambda v: lambda x: x.startswith(v),
    StringEndsWith: lambda v: lambda x: x.endswith(v),
    StringContains: lambda v: lambda x: v in x,
}


def _compile_filter(f: Filter):
    """Record-tuple predicate for a pushable filter, else None. Header
    columns only — payload predicates stay Spark-side (the one column
    worth shipping is the one a header filter lets us skip)."""
    make = _PUSHABLE.get(type(f))
    if make is None or len(f.attribute) != 1:
        return None
    idx = _COL_IDX.get(f.attribute[0])
    if idx is None or f.value is None:
        return None
    pred = make(f.value)
    return lambda row: pred(row[idx])


class WarcReader(DataSourceReader):
    def __init__(self, options: dict):
        self._path = options["path"]
        self._preds: list = []

    def partitions(self) -> list[InputPartition]:
        # one partition per crawl file — WARC's natural split unit
        # (.warc.gz included: per-member gz keeps file-granular splits)
        return [
            _WarcFilePartition(os.path.join(self._path, f))
            for f in sorted(os.listdir(self._path))
            if _is_warc_name(f)
        ]

    def read(self, partition: _WarcFilePartition):
        if partition is None:  # zero crawl files: engine passes None
            return
        with _open_warc(partition.path) as fh:
            records = _parse_warc_stream(fh)
            if self._preds:
                records = (
                    r for r in records if all(p(r) for p in self._preds)
                )
            yield from records


class WarcPushdownReader(WarcReader):
    """WarcReader + header-filter pushdown. A SEPARATE class because
    merely defining ``pushFilters`` makes Spark refuse the source
    unless ``spark.sql.python.filterPushdown.enabled`` is true — so
    the DataSource only hands this reader out when the session has the
    conf on (``read_warc`` sets both sides coherently) and plain
    consumers keep a reader that works under any conf."""

    def pushFilters(self, filters: list[Filter]):
        """Header-column pushdown (EqualTo/range/string-match on
        record_id, warc_type, target_uri, warc_date, content_length):
        accepted filters are applied record-by-record BEFORE the Arrow
        batch is built, so skipped records never ship to the JVM —
        for a selective crawl read (one domain, one type) that is the
        difference between transferring the crawl and transferring
        the matches. Payload filters and compound paths are returned
        to Spark unchanged (partial pushdown is the protocol's
        contract: returned filters are re-evaluated Spark-side)."""
        for f in filters:
            pred = _compile_filter(f)
            if pred is None:
                yield f
            else:
                self._preds.append(pred)


class WarcStreamReader(DataSourceStreamReader):
    """Continuous crawl ingest: the directory is an append-only drop
    folder (new files arrive under lexicographically INCREASING names
    — the timestamped-name convention crawl drops follow; a file
    sorting before an already-consumed name would be skipped, by
    contract). Offset = number of files consumed, so the checkpoint
    makes re-drains exactly-once at file granularity; offset math and
    partition planning run on the driver, record parsing runs on
    executors (one partition per new file — the same split unit as
    the batch reader, unlike SimpleDataSourceStreamReader which would
    route record bytes through the driver)."""

    def __init__(self, options: dict):
        self._path = options["path"]

    def _files(self) -> list[str]:
        return sorted(f for f in os.listdir(self._path) if _is_warc_name(f))

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        return {"n": len(self._files())}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [
            _WarcFilePartition(os.path.join(self._path, f))
            for f in self._files()[start["n"] : end["n"]]
        ]

    def read(self, partition: _WarcFilePartition):
        if partition is None:  # empty wave: engine passes None
            return
        with _open_warc(partition.path) as fh:
            yield from _parse_warc_stream(fh)

    def commit(self, end: dict) -> None:
        # consumed files stay in place (the drop folder is the archive)
        pass


class _WarcCommit(WriterCommitMessage):
    """Per-task commit message: the staged file this task produced (or
    None for an empty task) and its record count. Must stay picklable —
    it rides the executor→driver result channel."""

    def __init__(self, staged: str | None, n_records: int):
        self.staged = staged
        self.n_records = n_records


# sink input contract: these two must exist; the rest are defaultable
_SINK_REQUIRED = ("target_uri", "payload")
_SINK_DEFAULTS = {"warc_type": "response", "warc_date": _WARC_DATE}


def _gz_option(options: dict) -> bool:
    """Sink ``compression`` option: 'none' (default) or 'gzip'
    (record-per-member .warc.gz). Anything else is a loud ValueError
    on the driver, not a silently-ignored typo."""
    val = (options.get("compression", "none") or "none").lower()
    if val not in ("none", "gzip"):
        raise ValueError(
            f"pdp_warc sink: unsupported compression {val!r} "
            "(supported: none, gzip)"
        )
    return val == "gzip"


def _check_sink_schema(schema) -> None:
    """Fail on the DRIVER, before any task launches — a missing column
    should cost a ValueError, not a thousand failed tasks."""
    names = set(schema.fieldNames())
    missing = [c for c in _SINK_REQUIRED if c not in names]
    if missing:
        raise ValueError(
            f"pdp_warc sink requires columns {list(_SINK_REQUIRED)}; "
            f"missing {missing} from input schema {sorted(names)}"
        )


def _row_record_bytes(row) -> bytes:
    """Row → WARC record. record_id defaults to a fresh urn:uuid (valid
    per ISO 28500 but nondeterministic — deterministic pipelines pass
    their own); content_length is ALWAYS recomputed from the payload
    (a stale input value must not break framing). NULL in a required
    field is a contract violation, not a silent empty record."""
    d = row.asDict()
    uri, payload = d.get("target_uri"), d.get("payload")
    if uri is None or payload is None:
        raise ValueError(f"pdp_warc sink: NULL target_uri/payload in row {d!r}")
    rid = d.get("record_id") or f"urn:uuid:{uuid.uuid4()}"
    wtype = d.get("warc_type") or _SINK_DEFAULTS["warc_type"]
    wdate = d.get("warc_date") or _SINK_DEFAULTS["warc_date"]
    for field, val in (
        ("record_id", rid),
        ("warc_type", wtype),
        ("target_uri", uri),
        ("warc_date", wdate),
    ):
        # header smuggling guard: a CR/LF inside a header VALUE would
        # terminate the header line early and let payload-controlled
        # data forge headers / break record framing. The payload needs
        # no such check — Content-Length frames it byte-exactly.
        if "\r" in val or "\n" in val:
            raise ValueError(f"pdp_warc sink: CR/LF in header field {field}: {val!r}")
    return _warc_record_bytes(rid, wtype, uri, wdate, payload)


def _stage_records(staging: str, iterator, gz: bool = False) -> _WarcCommit:
    """Executor half of the two-phase commit, shared by batch and
    stream: records land in a task-private uuid-named file under the
    staging dir, so a speculative/retried task can never interleave
    bytes with another attempt, and nothing is visible to readers until
    the driver's commit renames it into place. Empty tasks stage
    nothing (no zero-record files in the final layout). ``gz`` writes
    each record as its own gzip member (record-at-time compression —
    the layout that preserves record-level random access, ISO 28500
    Annex C / Common Crawl), deterministic via ``mtime=0``.

    The first record's bytes are built before the staging dir is made:
    an empty task, or one whose first row fails, of an aborted job must
    not re-create the dir after the driver's ``abort`` removed it."""
    records = (
        gzip.compress(rec, mtime=0) if gz else rec
        for rec in map(_row_record_bytes, iterator)
    )
    first = next(records, None)
    if first is None:
        return _WarcCommit(None, 0)
    os.makedirs(staging, exist_ok=True)
    staged = os.path.join(staging, f"task-{uuid.uuid4().hex}.warctmp")
    n = 0
    with open(staged, "wb") as fh:
        for rec in itertools.chain([first], records):
            fh.write(rec)
            n += 1
    return _WarcCommit(staged, n)


def _staged_paths(messages) -> list[str]:
    return sorted(
        m.staged for m in messages if m is not None and m.staged is not None
    )


class WarcWriter(DataSourceWriter):
    """Batch WARC sink with a real two-phase commit: tasks stage
    (write), the driver publishes (commit) or discards (abort).
    Overwrite clears pre-existing crawl files AT COMMIT TIME — a failed
    job leaves the old data fully intact, the FileOutputCommitter-v1
    guarantee. Final names carry a job-unique token so append mode
    can never collide with an earlier job's parts.

    Scale honesty: rename-as-publish assumes a filesystem with cheap
    atomic rename (local/HDFS). On S3-class object stores rename is
    copy+delete and this committer — like Hadoop's v1 — would need a
    manifest-based variant; that trade is documented, not hidden."""

    def __init__(self, options: dict, overwrite: bool):
        self._path = options["path"]
        self._overwrite = overwrite
        self._gz = _gz_option(options)
        self._token = uuid.uuid4().hex[:12]
        self._staging = os.path.join(self._path, f"_staging-{self._token}")

    def write(self, iterator) -> _WarcCommit:
        return _stage_records(self._staging, iterator, gz=self._gz)

    def commit(self, messages) -> None:
        staged = _staged_paths(messages)
        ext = ".warc.gz" if self._gz else ".warc"
        if self._overwrite:
            for e in _WARC_EXTS:  # clear BOTH layouts, whichever wrote last
                for old in glob.glob(os.path.join(self._path, f"*{e}")):
                    os.remove(old)
        for i, s in enumerate(staged):
            os.replace(
                s, os.path.join(self._path, f"part-{i:05d}-{self._token}{ext}")
            )
        shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self._staging, ignore_errors=True)


class WarcStreamWriter(DataSourceStreamWriter):
    """Streaming WARC sink. Exactly-once per microbatch: final names
    are keyed by zero-padded batchId, and commit deletes any files the
    batch left from a previous attempt before renaming — so an engine
    retry of batch N replaces rather than duplicates it. Zero-padding
    also keeps names lexicographically increasing across batches, which
    means this sink's output directory is itself a valid drop folder
    for WarcStreamReader — the source and sink compose into a relay."""

    def __init__(self, options: dict):
        self._path = options["path"]
        # DETERMINISTIC staging dir — measured protocol fact (r9): the
        # streaming path re-instantiates the writer per role (the
        # executor-side write and the driver-side commit do NOT share
        # one pickled instance, unlike the batch path), so any
        # per-instance token diverges between the path write() staged
        # to and the path commit() renames from. Fixed names keep every
        # instantiation pointing at the same files; isolation instead
        # comes from the sink contract (one active query per output
        # directory — the standard Spark file-sink rule), and a crashed
        # run's leftovers self-heal because the restart shares this dir
        # and the commit-barrier sweep below collects them.
        self._staging = os.path.join(self._path, "_staging-stream")
        self._gz = _gz_option(options)

    def write(self, iterator) -> _WarcCommit:
        return _stage_records(self._staging, iterator, gz=self._gz)

    def commit(self, messages, batchId: int) -> None:
        staged = _staged_paths(messages)
        ext = ".warc.gz" if self._gz else ".warc"
        for e in _WARC_EXTS:
            for old in glob.glob(
                os.path.join(self._path, f"batch-{batchId:09d}-*{e}")
            ):
                os.remove(old)  # retry/restart idempotency: replace, never duplicate
        for i, s in enumerate(staged):
            os.replace(
                s,
                os.path.join(self._path, f"batch-{batchId:09d}-{i:05d}{ext}"),
            )
        # orphan sweep: files staged by attempts whose commit message
        # never reached the driver (speculative losers, failed tasks,
        # or a previous CRASHED run — same dir by design). Safe HERE:
        # commit is the microbatch barrier, so nothing in-flight for
        # this query is staging, and the contract admits no other query
        for orphan in glob.glob(os.path.join(self._staging, "*.warctmp")):
            try:
                os.remove(orphan)
            except OSError:
                pass

    def abort(self, messages, batchId: int) -> None:
        for s in _staged_paths(messages):
            try:
                os.remove(s)
            except OSError:
                pass


# The DataSource class travels to worker processes as a cloudpickle
# payload (batch read planning, and the long-lived
# python_streaming_source_runner that manages stream offsets). Those
# workers do NOT have this package on sys.path unless the deployment
# shipped it (pytest only passed because CWD=repo-root leaked onto the
# path; a plain driver session from any other directory failed —
# caught by tools/driver_sim.py). Registering the module for
# pickle-by-value makes the payload self-contained: every in-module
# helper the protocol classes touch is serialized into the pickle, so
# the source works on a bare 1000-executor cluster with no --py-files.
# The protocol classes deliberately reference ONLY this module +
# stdlib + pyspark (importable everywhere); keep it that way.
_pyspark_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


class WarcDataSource(DataSource):
    """`spark.read.format("pdp_warc").load(dir)` (batch) or
    `spark.readStream.format("pdp_warc").load(dir)` (drop-folder
    stream) after `spark.dataSource.register(WarcDataSource)`; the
    write side mirrors both (`df.write.format("pdp_warc")` and
    `df.writeStream.format("pdp_warc")`)."""

    @classmethod
    def name(cls) -> str:
        return "pdp_warc"

    def schema(self) -> str:
        return WARC_SCHEMA

    def reader(self, schema) -> WarcReader:
        if self.options.get("pushdown", "false").lower() == "true":
            return WarcPushdownReader(self.options)
        return WarcReader(self.options)

    def streamReader(self, schema) -> WarcStreamReader:
        return WarcStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> WarcWriter:
        _check_sink_schema(schema)
        os.makedirs(self.options["path"], exist_ok=True)
        return WarcWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> WarcStreamWriter:
        # NOTE: re-invoked per role by the streaming protocol (write
        # side and commit side are separate instantiations — see the
        # WarcStreamWriter docstring), so nothing here may generate
        # per-call state or sweep shared paths.
        _check_sink_schema(schema)
        os.makedirs(self.options["path"], exist_ok=True)
        return WarcStreamWriter(self.options)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Register (idempotent — latest registration wins) + read, with
    header-filter pushdown. Spark refuses a pushFilters-capable reader
    unless ``spark.sql.python.filterPushdown.enabled`` is on, which
    ``session.tune_session`` sets."""
    tune_session(spark)
    spark.dataSource.register(WarcDataSource)
    return spark.read.format("pdp_warc").option("pushdown", "true").load(path)


def warc_to_parquet(spark: SparkSession, warc_dir: str, parquet_dir: str) -> None:
    """The intended 100 TB pattern: pay the Python parse ONCE, land
    columnar, and every downstream query scans parquet."""
    read_warc(spark, warc_dir).write.mode("overwrite").parquet(parquet_dir)


def write_warc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "none",
) -> None:
    """Register (idempotent) + write a DataFrame as WARC/1.0 files.
    Input contract: ``target_uri`` and ``payload`` columns required;
    ``record_id``/``warc_type``/``warc_date`` honored when present,
    defaulted when absent. One output file per non-empty task.
    ``compression='gzip'`` emits ``.warc.gz`` with one gzip member per
    record (Common Crawl's record-at-time layout)."""
    df.sparkSession.dataSource.register(WarcDataSource)
    (
        df.write.format("pdp_warc")
        .mode(mode)
        .option("compression", compression)
        .save(path)
    )


@query(
    "scan_warc",
    oracle=f"""
    SELECT doc_id,
           'response' AS warc_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {_WARC_CAP}
    """,
)
def scan_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-tier crawl ingest: stage a bounded documents slice as 8 valid
    WARC/1.0 files, read them back through the registered Python
    DataSource (one partition per file), and emit the deterministic
    record columns. The oracle recomputes id/byte-length/md5 from the
    base table, so WARC write → record parse → payload must be
    byte-lossless — the URI round-trips the id, the declared
    Content-Length must equal the payload the parser streamed, and
    the type column pins the header parse."""
    rows = [
        (r.doc_id, r.text)
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WARC_CAP)
        .select("doc_id", "text")
        .collect()
    ]
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_warc_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    write_warc_files(rows, out, _N_FILES)
    raw = read_warc(spark, out)
    return _warc_projection(raw)


@query(
    "scan_warc_gz",
    oracle=f"""
    SELECT doc_id,
           'response' AS warc_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {_WARC_CAP}
    """,
)
def scan_warc_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan_warc over ``.warc.gz`` staging — the format real crawls
    actually ship (Common Crawl: one gzip member per record). Same
    oracle as scan_warc, so the value hash proves decompress → parse →
    payload is byte-lossless; n_bytes pins Content-Length against the
    UNCOMPRESSED payload (a parser reading compressed lengths flips
    the hash)."""
    rows = [
        (r.doc_id, r.text)
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WARC_CAP)
        .select("doc_id", "text")
        .collect()
    ]
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_warcgz_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    write_warc_files(rows, out, _N_FILES, gzip_members=True)
    raw = read_warc(spark, out)
    return _warc_projection(raw)


def _warc_projection(raw: DataFrame) -> DataFrame:
    return raw.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.col("warc_type"),
        F.col("content_length").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
    )


@query(
    "stream_exec_warc",
    oracle=f"""
    SELECT doc_id,
           'response' AS warc_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {_WARC_CAP}
    """,
)
def stream_exec_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-family × the custom source: the WARC drop folder consumed by
    the REAL streaming engine through the Python DataSourceStreamReader.
    Three arrival waves land under increasing names; each availableNow
    drain against ONE checkpoint picks up only the not-yet-consumed
    files (offset = files consumed) and appends to a parquet sink.
    The oracle is the full documents slice, so the value hash proves
    exactly-once end to end: a re-consumed wave would double rows, a
    missed wave would drop them — either flips the row count AND the
    hash."""
    from ..cdc.staging import drain_stream, fresh_staging_dir

    base = fresh_staging_dir(spark, sf_dir, "warc_stream")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    docs = [
        (r.doc_id, r.text)
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WARC_CAP)
        .select("doc_id", "text")
        .collect()
    ]
    spark.dataSource.register(WarcDataSource)
    os.makedirs(src, exist_ok=True)
    for wave in range(3):
        wave_rows = [(d, t) for d, t in docs if d % 3 == wave]
        write_warc_files(wave_rows, src, n_files=2, prefix=f"crawl-w{wave}")
        stream = _warc_projection(spark.readStream.format("pdp_warc").load(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain_stream(q, "warc", timeout_s=120)
    return spark.read.parquet(sink)


@query(
    "sink_warc",
    oracle=f"""
    SELECT doc_id,
           'response' AS warc_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {_WARC_CAP}
    """,
)
def sink_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-tier crawl EGRESS: the documents slice written as WARC through
    the Python DataSourceWriter (distributed two-phase commit — tasks
    stage, driver publishes), then read back through the source and
    reduced to the deterministic record columns. The oracle recomputes
    id/byte-length/md5 from the base table, so the full write path —
    row→record serialization, Content-Length framing, staging rename —
    must be byte-lossless; idempotence of the overwrite commit is free
    re-run safety (the query re-runs in parity sweeps)."""
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_warc_sink_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    src = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WARC_CAP)
        .select(
            F.concat(F.lit("urn:uuid:pdp-doc-"), F.col("doc_id")).alias("record_id"),
            F.concat(F.lit("https://example.org/doc/"), F.col("doc_id")).alias(
                "target_uri"
            ),
            F.col("text").alias("payload"),
        )
        .repartition(4)  # >1 task → >1 staged file → a real multi-task commit
    )
    write_warc(src, out, mode="overwrite")
    return _warc_projection(read_warc(spark, out))


@query(
    "stream_warc_relay",
    oracle=f"""
    SELECT doc_id,
           'response' AS warc_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {_WARC_CAP}
    """,
)
def stream_warc_relay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source and sink composed: a WARC drop folder consumed by the
    streaming engine through DataSourceStreamReader and re-emitted as
    WARC through DataSourceStreamWriter — a crawl relay/mirror. Three
    arrival waves, one checkpoint; the relay output (batch-NNNNNNNNN
    names, lexicographically increasing) is then read back through the
    BATCH reader and checked against the full documents slice. The hash
    proves exactly-once across BOTH sides: a re-consumed wave or a
    non-idempotent batch commit doubles rows, a missed wave drops them."""
    from ..cdc.staging import drain_stream, fresh_staging_dir

    base = fresh_staging_dir(spark, sf_dir, "warc_relay")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    docs = [
        (r.doc_id, r.text)
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WARC_CAP)
        .select("doc_id", "text")
        .collect()
    ]
    spark.dataSource.register(WarcDataSource)
    os.makedirs(src, exist_ok=True)
    for wave in range(3):
        wave_rows = [(d, t) for d, t in docs if d % 3 == wave]
        write_warc_files(wave_rows, src, n_files=2, prefix=f"crawl-w{wave}")
        relay = spark.readStream.format("pdp_warc").load(src)
        q = (
            relay.writeStream.format("pdp_warc")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain_stream(q, "warc relay", timeout_s=120)
    return _warc_projection(read_warc(spark, out))


# The WET-extraction composite's oracle: the same HTML-stage, strip,
# and PII chains the single-op oracles use (extensions/web.py
# _HTML_STAGE_SQL, text_html_strip, pii_scrub), composed over the
# WARC-capped slice. Patterns are RE2/Java-portable by construction.
_WET_ORACLE = f"""
    WITH staged AS (
      SELECT doc_id,
             '<html><head><title>' || source || '</title>'
             || '<style>p{{margin:0}}</style>'
             || '<script type="text/javascript">var a=1 && 2;</script>'
             || '</head><body data-x="1"><h1>' || upper(lang) || '</h1><p>'
             || text || ' &amp; tail &lt;b&gt;</p><br/>'
             || '<div class="ft">&quot;footer&quot;</div></body></html>' AS html
      FROM documents
      WHERE doc_id < {_WARC_CAP}
    ),
    stripped AS (
      SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                   '<[^>]+>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '\\s+', ' ', 'g')) AS wet0
      FROM staged
    ),
    scrubbed AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(wet0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g'),
               '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g') AS wet_text
      FROM stripped
    )
    SELECT doc_id, wet_text,
           CAST(len(list_filter(string_split(wet_text, ' '), w -> w <> '')) AS INT)
             AS n_tokens
    FROM scrubbed
"""


@query("warc_wet_extract", oracle=_WET_ORACLE)
def warc_wet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl WET story end to end through the REAL custom
    source: documents staged as HTML pages, archived as ``.warc.gz``
    through the pdp_warc SINK (two-phase commit, record-per-member
    gzip), read back through the pdp_warc SOURCE (member-aware
    decompression, one partition per crawl file), then HTML→text
    extraction (extensions/web.strip_html), PII scrubbing
    (extensions/text.scrub_pii), and whitespace token counting — the
    WET-record equivalent a crawl-derived training corpus starts
    from. The DuckDB oracle recomputes the whole chain from the base
    table, so the value hash covers sink framing, gzip members,
    parse, and every text transform at once. At 100 TB: the archive
    write is the pay-once ingest; everything after the scan is
    map-side-only expression work (zero shuffles past the read)."""
    from ..catalog import table as _table
    from ..extensions.text import scrub_pii
    from ..extensions.web import stage_html, strip_html

    docs = _table(spark, sf_dir, "documents").filter(F.col("doc_id") < _WARC_CAP)
    src = stage_html(docs).select(
        F.concat(F.lit("urn:uuid:pdp-doc-"), F.col("doc_id")).alias("record_id"),
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id")).alias(
            "target_uri"
        ),
        F.col("html").alias("payload"),
    ).repartition(4)
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_wet_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    write_warc(src, out, mode="overwrite", compression="gzip")
    raw = read_warc(spark, out)
    wet = raw.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        scrub_pii(strip_html(F.col("payload"))).alias("wet_text"),
    )
    return wet.select(
        "doc_id",
        "wet_text",
        F.size(F.filter(F.split("wet_text", " "), lambda x: x != F.lit("")))
        .cast("int")
        .alias("n_tokens"),
    )
