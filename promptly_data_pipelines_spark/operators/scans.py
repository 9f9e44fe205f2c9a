"""Scans, sources, sinks (SURVEY.md §2a).

The reference's source surface: Parquet-backed Iceberg tables
(raw_provider_postgres.sql:2-6), an all-VARCHAR schema-on-read
external CSV (setup.py:111-128, ``skip_header_line_count=1``), a
Postgres JDBC table (raw_care_site_postgres.sql:11-15), a Kafka topic
(source.yaml, cdc module), and a date-partitioned Parquet sink
(raw_provider_postgres.sql:5 ``partitioned_by=['ingestion_cdc_date']``).

JDBC has no harness fixture; ``jdbc_scan`` below documents the
partitioned-read pattern (partitionColumn/lowerBound/upperBound/
numPartitions — without it the whole table funnels through one task)
but is not registered as a driver query.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import date_key
from ..registry import query


def _session_tag(spark: SparkSession) -> str:
    """Per-session unique component for scratch paths: two concurrent
    sessions (parallel drivers, bench + pytest) on the same scale factor
    must not clobber each other's staging output mid-read. The Spark
    application id is unique per session and stable within it (so a
    query re-run reuses rather than leaks its path)."""
    return spark.sparkContext.applicationId.replace(":", "_")


@query(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: Parquet scan with projection + predicate. Catalyst pushes
    both into the vectorized reader: the scan reads 4 columns and
    skips row groups whose stats exclude l_quantity >= 45
    (verify via .explain → PushedFilters/ReadSchema)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )


@query(
    "scan_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: CSV scan, header skipped, all-string declared schema — the
    reference's external client CSV is declared every-column-VARCHAR
    with skip_header_line_count=1 (setup.py:111-128); typing happens
    downstream via explicit casts. Round-trips nation → CSV → typed
    rows, so the oracle is the source table itself."""
    out = os.path.join(
        tempfile.gettempdir(), f"pdp_csv_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}"
    )
    n = table(spark, sf_dir, "nation")
    n.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    raw = (
        spark.read.schema("n_nationkey string, n_name string, n_regionkey string")
        .option("header", True)
        .csv(out)
    )
    return raw.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        F.col("n_name"),
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


@query(
    "sink_partitioned",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS ingestion_cdc_date,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/T4: date-partitioned Parquet sink + readback — the raw-layer
    materialization (raw_provider_postgres.sql:2-12 writes Parquet
    partitioned by ingestion_cdc_date). Readback aggregates per
    partition directory; a per-partition filter would prune at the
    directory level (dynamic partition pruning at scale)."""
    from .layout import partition_for_write  # layout imports this module

    out = os.path.join(
        tempfile.gettempdir(), f"pdp_sink_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}"
    )
    ev = table(spark, sf_dir, "events").withColumn("ingestion_cdc_date", date_key("ts"))
    # hash by the partition column first, or every task writes a sliver
    # into every date dir (tasks × dates tiny files); the hash count is
    # explicit so AQE cannot coalesce the write into a single task
    partition_for_write(ev, "ingestion_cdc_date").write.mode("overwrite").partitionBy(
        "ingestion_cdc_date"
    ).parquet(out)
    # readback with the writer's schema: an empty source writes a
    # file-less partition dir, and schemaless read would fail
    # inference (also pins the partition column's type against
    # directory-name inference)
    back = spark.read.schema(ev.schema).parquet(out)
    return back.groupBy("ingestion_cdc_date").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


def jdbc_scan(
    spark: SparkSession,
    url: str,
    dbtable: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """S3: JDBC table scan (reference raw_care_site_postgres.sql:11-15
    reads Postgres through Trino's postgresql connector,
    postgresql.properties:1-4). Partitioned read: without
    partitionColumn bounds the entire table arrives through a single
    connection/task. Filters and projections push down to the database
    as WHERE/SELECT clauses. Integration-tested against embedded Derby
    (tests/test_jdbc.py): round-trip parity, the 4-slice partitioned
    read, plan-asserted WHERE pushdown, and (r7) dialect fidelity —
    DECIMAL(12,2)/µs-TIMESTAMP/DATE/BOOLEAN/unicode round-trips,
    quoted mixed-case identifiers, fetchsize pass-through, and a
    hand-written ``query`` pushdown. Postgres-only residue (untestable
    without a pg server, documented in the type test): SERIAL/identity,
    timestamptz, array/JSONB columns, COPY bulk protocol, and the
    int2→smallint read mapping (Derby widens SMALLINT→int)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(df: DataFrame, url: str, dbtable: str, mode: str = "append", **options: str) -> None:
    """S7: bulk load into an RDBMS — the reference's pandas→COPY loader
    (datagen.py:196-207). Spark-side: df.write.jdbc with batchsize;
    each partition opens one connection and streams batched inserts."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


@query(
    "scan_orc_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-tier format coverage: ORC sink + scan. ORC is the other
    columnar format a lakehouse ingest layer meets (Hive-era tables);
    Spark's native vectorized ORC reader gives it the same pushdown /
    pruning story as Parquet. Round-trips nation → ORC → back, so the
    oracle is the source table: any type or value damage in the
    writer/reader shows as a parity break."""
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_orc_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    n = table(spark, sf_dir, "nation")
    n.write.mode("overwrite").orc(out)
    return spark.read.schema(n.schema).orc(out).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "scan_jsonl_roundtrip",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-tier format coverage: JSON-Lines sink + schema-declared scan —
    the interchange format of LLM training corpora (one JSON doc per
    line). Two pitfalls this query pins down:

    - timestamps: Spark's default JSON timestampFormat writes
      MILLIsecond precision, silently truncating the micros the
      fixture events carry — both writer and reader must declare a
      6-digit fractional format or the round-trip is lossy;
    - schema: the read declares the writer's schema (no inference
      pass); the embedded JSON string in ``props`` stays an opaque
      string, exactly as a schema-on-read raw layer should treat it.

    At 100 TB JSONL is strictly worse than Parquet (no pushdown, no
    column pruning, ~4× the bytes) — this op exists for corpus
    interchange at the pipeline edges, not for intermediate storage."""
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_jsonl_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev = table(spark, sf_dir, "events")
    ev.write.mode("overwrite").option("timestampFormat", ts_fmt).json(out)
    return (
        spark.read.schema(ev.schema)
        .option("timestampFormat", ts_fmt)
        .option("mode", "FAILFAST")  # corrupt interchange data must
        # fail loudly here; the PERMISSIVE/quarantine path is the
        # badrecords module's job
        .json(out)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )


N_EXPORT_SHARDS = 8
_EXPORT_SUM_MASK = (1 << 40) - 1  # 40-bit per-doc hash: 2^23 docs/shard
# of checksum headroom before the BIGINT sum could overflow


@query(
    "export_jsonl_manifest",
    oracle=f"""
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % {N_EXPORT_SHARDS} AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(CAST(('0x' || substr(md5(text), 17, 16))::UBIGINT
                         % {_EXPORT_SUM_MASK + 1} AS BIGINT)) AS BIGINT) AS content_sum
    FROM documents
    GROUP BY 1
    """,
)
def export_jsonl_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus export: hash-sharded JSONL plus a MANIFEST — the
    contract every downstream loader needs (which shards exist, how
    many rows each holds, and an order-insensitive content checksum to
    detect truncated/duplicated shards without re-reading text). The
    manifest is computed from the WRITTEN files (read back), not from
    the source frame, so a lost task or partial overwrite shows up as
    a parity break against the oracle's source-side expectation — the
    readback IS the verification.

    Mechanics: deterministic md5 shard assignment (rerun-stable, no
    RNG), repartition by shard before partitionBy so each shard dir
    gets one writer (no tasks×shards sliver files — the
    sink_partitioned discipline), checksum = BIGINT sum of a 40-bit
    per-doc content hash (order-insensitive, overflow headroom 2^23
    docs per shard, cross-engine exact — the md5 family of
    extensions/hashing.py).

    At 100 TB: shard count scales to the loader's read parallelism;
    the export is one shuffle (by shard) + a partitioned write, and
    the manifest pass streams the written bytes once."""
    from ..extensions.hashing import _md5_word
    from ..extensions.sampling import hash_bucket
    from .layout import partition_for_write  # layout imports this module

    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_export_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    d = table(spark, sf_dir, "documents")
    # ONE bucket derivation repo-wide: hash_bucket (extensions/sampling)
    # is the md5-first-8-hex contract every hash split uses — review
    # finding: an inline copy here could silently desynchronize the
    # export sharding from the splits.
    sharded = d.withColumn(
        "shard", hash_bucket("doc_id", N_EXPORT_SHARDS).cast("bigint")
    )
    partition_for_write(sharded, "shard").write.mode("overwrite").partitionBy("shard").json(out)
    back = spark.read.schema(sharded.schema).json(out)
    return back.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum(_md5_word(F.col("text"), 17, _EXPORT_SUM_MASK)).cast("bigint").alias(
            "content_sum"
        ),
    )


@query(
    "project_xml",
    oracle="""
    SELECT event_id, user_id AS xml_user, event_type AS xml_type
    FROM events
    WHERE event_id % 7 = 0
    """,
)
def project_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4's XML sibling (Spark 4 native XML, no jar): an XML payload
    column is synthesized from events (attribute + two elements —
    integer/enum fields only, so no float-formatting or escaping
    ambiguity can hide in the round-trip) and decoded with
    ``F.from_xml`` under a declared schema (attributes as ``_name``,
    never inferred). The oracle recomputes the fields from the base
    columns, so the synthesize→parse loop must be lossless for the
    value hash to match — the same synthesize-then-verify pattern as
    cdc/envelope.py. Map-side only: from_xml is a JVM expression
    inside whole-stage codegen; no shuffle, no Python."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    xml = F.concat(
        F.lit('<event id="'),
        F.col("event_id"),
        F.lit('"><user>'),
        F.col("user_id"),
        F.lit("</user><type>"),
        F.col("event_type"),
        F.lit("</type></event>"),
    )
    parsed = ev.select(
        F.from_xml(xml, "_id BIGINT, user BIGINT, type STRING").alias("x")
    )
    return parsed.select(
        F.col("x._id").alias("event_id"),
        F.col("x.user").alias("xml_user"),
        F.col("x.type").alias("xml_type"),
    )


_BINARYFILE_CAP = 200  # absolute id bound: staging stays harness-sized at every SF


@query(
    "scan_binaryfile",
    oracle=f"""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {_BINARYFILE_CAP}
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8's ingest sibling: the ``binaryFile`` source — the scan the
    multimodal tier (extensions/multimodal.py) starts from when blobs
    live as OBJECTS rather than parquet binary columns (image/audio
    corpora land this way). Stages a bounded slice of documents as
    one UTF-8 file per doc (harness rigging — a real deployment scans
    an existing object store), reads them back with
    ``format("binaryFile")``, and emits only the DETERMINISTIC source
    columns (path-derived id, byte length, content md5) —
    modificationTime is excluded by protocol. The oracle recomputes
    all three from the base table, so file write→binary read→hash
    must be byte-lossless. The per-file driver write is bounded by
    the absolute id cap, not corpus size; the scan itself is
    distributed (one task per file group, path/length from the file
    index, content streamed)."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _BINARYFILE_CAP)
        .select("doc_id", "text")
        .collect()
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_binfiles_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    os.makedirs(out, exist_ok=True)
    for r in docs:
        with open(os.path.join(out, f"{r.doc_id}.txt"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    raw = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(out)
    return raw.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "scan_xml_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey FROM supplier",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-tier format coverage: the NATIVE XML source (Spark 4 absorbed
    spark-xml — write with rowTag, read back schema-declared). XML is
    the format enterprise feed drops still arrive in (and what WARC
    response bodies often contain); the round-trip supplier → XML →
    back uses the source table as oracle, so any escaping, type, or
    rowTag damage in writer/reader shows as a parity break. Same
    at-scale caveat as JSONL: edge-interchange only — no pushdown, no
    pruning; convert to parquet at ingest.

    Avro, the remaining interchange format, stays a documented gap:
    spark-avro is an EXTERNAL module (not on this build's classpath —
    only the avro-1.12.1 CORE jars ship with Spark, no
    spark-avro DataSource) and both Maven hosts are DNS-dead in this
    environment — the same re-probed infeasibility as Iceberg/Delta
    (operators/lakehouse.py; both proofs re-stamped 2026-08-16 in the
    ROUND 15 session — identical result to the r12/r13/r14 probes:
    DNS ``Errno -2`` on repo1/repo.maven/pypi, ``pip download
    delta-spark``/``avro`` zero candidates, no spark-avro jar on
    disk, empty ivy/m2 caches)."""
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdp_xml_{os.path.basename(sf_dir.rstrip('/'))}_{_session_tag(spark)}",
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    (
        s.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(out)
    )
    return (
        spark.read.schema(s.schema)
        .format("xml")
        .option("rowTag", "supplier")
        .load(out)
    )
