"""Reproducible sampling & dataset splitting (north-star: what a
training-data pipeline runs right before export). Everything here is
HASH-based, not RNG-based: `df.sample()` draws differ per run,
partitioning, and engine — hash sampling gives the same subset on
every engine and every rerun (and documents itself: the predicate IS
the sample definition). md5 is the hash because both engines compute
identical digests; at 100 TB swap in xxhash64 (cheaper, JVM-side)
once cross-engine parity is no longer needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


# The canonical split boundaries (of 256 hash buckets): < TRAIN_BUCKET
# is train (~80%), < VAL_BUCKET is val (~10%), the rest test. ONE
# definition — dataset_split, dataset_split_grouped and the
# split_contamination metric (extensions/curation.py) must agree on
# the boundary or the contamination gate silently measures a split
# nobody ships.
TRAIN_BUCKET = 205
VAL_BUCKET = 230


def hash_bucket(col, n_buckets: int = 256):
    """Deterministic [0, n_buckets) bucket from the md5 of a key's
    string form. Derived from the first 8 hex chars (32 bits), so the
    contract holds for ANY n_buckets: a 2-char derivation had only 256
    source values — n_buckets > 256 left buckets permanently empty and
    non-divisors skewed the load ~50%. Modulo bias at 32 bits is
    ≤ n_buckets/2^32, irrelevant for sharding."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint") % n_buckets
    ).cast("int")


@query(
    "sample_hash",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 256 < 26
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% reproducible sample (hash bucket < 26 of 256). Pushed to
    the scan as a cheap deterministic predicate — no RNG state, no
    sampling skew across partitions, same rows on every engine/rerun."""
    ev = table(spark, sf_dir, "events")
    return ev.filter(hash_bucket("event_id") < 26).select("event_id", "event_type", "value")


@query(
    "dataset_split",
    oracle=f"""
    WITH assigned AS (
      SELECT event_id, event_type,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS bucket
      FROM events
    )
    SELECT event_id, event_type,
           CASE WHEN bucket < {TRAIN_BUCKET} THEN 'train'
                WHEN bucket < {VAL_BUCKET} THEN 'val'
                ELSE 'test' END AS split,
           (bucket < 26) AS in_sample10
    FROM assigned
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment (~80/10/10 by hash
    bucket) plus a ~10% hash-sample flag (the sample_hash predicate,
    local-only above) — the driver row for the whole hash-sampling
    family. Row-level output: a row's split and sample membership never
    change as the dataset grows — the property RNG splits lack — so
    incremental exports stay consistent across runs. The bucket
    predicate is a cheap deterministic expression that pushes to the
    scan; no RNG state, no per-partition skew."""
    ev = table(spark, sf_dir, "events")
    b = hash_bucket("event_id")
    split = (
        F.when(b < TRAIN_BUCKET, "train").when(b < VAL_BUCKET, "val").otherwise("test")
    )
    return ev.select(
        "event_id",
        "event_type",
        split.alias("split"),
        (b < 26).alias("in_sample10"),
    )


@query(
    "sample_stratified_cap",
    oracle="""
    SELECT label, vec_id FROM (
      SELECT label, vec_id,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM embeddings
    ) WHERE rn <= 20
    """,
)
def sample_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling: at most 20 rows per label, selected in
    hash order (a deterministic 'random' order — class balancing for
    training sets). Window per label → distributes by strata; the
    rank-limit is pushed into the sort (WindowGroupLimit)."""
    e = table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("label", "vec_id")
    )


@query(
    "sample_temperature_mix",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    s AS (SELECT lang, n, CAST(floor(sqrt(n) * 1000) AS BIGINT) AS s FROM c),
    tot AS (SELECT CAST(sum(s) AS BIGINT) AS tw FROM s),
    t AS (SELECT CAST(min((n * tw) // s) AS BIGINT) AS cap FROM s, tot),
    th AS (
      SELECT lang,
             ((((s * cap) // tw) * 65536) // n) AS thresh
      FROM s, tot, t
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN th USING (lang)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
          < thresh
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced language mixture (the mT5 / UniMax
    multilingual sampling step, tau=2): target share per lang is
    proportional to sqrt(observed count), which flattens the head
    (en is 44% of this corpus) without drowning the tail, and each
    lang is down-sampled to its target via the same md5-bucket
    predicate the other sampling ops use.

    Parity-by-construction: the only float op is sqrt(n) — correctly
    rounded per IEEE, identical in both engines — immediately frozen
    to an integer weight (floor(sqrt(n)*1000)); every downstream step
    (total weight, feasible corpus size cap = min over langs of
    n*tot/s, per-lang quota k = s*cap/tot, hash threshold =
    k*65536/n) is INTEGER division, so no accumulation-order or
    rounding divergence is possible. A float pipeline here would
    hinge on the summation order of the weight total — exactly the
    cross-engine trap operators/aggregates.py documents.

    Scale: the per-lang stats frame is lang-cardinality rows; it
    broadcasts back onto the corpus and the keep decision is a pure
    per-row predicate — no window, no sort, no extra shuffle (exact-k
    per lang would need a per-lang ranking sort; the hash-threshold
    form trades ±hash-binomial noise on the achieved mixture for a
    shuffle-free plan, the right trade at 100 TB)."""
    d = table(spark, sf_dir, "documents")
    s = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .withColumn("s", F.floor(F.sqrt("n") * 1000).cast("bigint"))
    )
    tot = s.agg(F.sum("s").cast("bigint").alias("tw"))
    st = s.crossJoin(F.broadcast(tot))
    cap = st.agg(F.min(F.expr("(n * tw) DIV s")).cast("bigint").alias("cap"))
    th = st.crossJoin(F.broadcast(cap)).select(
        "lang", F.expr("(((s * cap) DIV tw) * 65536) DIV n").alias("thresh")
    )
    h16 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    )
    return (
        d.join(F.broadcast(th), "lang")
        .filter(h16 < F.col("thresh"))
        .select("doc_id", "lang", "source")
    )


@query(
    "corpus_shuffle_shard",
    oracle="""
    WITH a AS (
      SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) % 16
               AS shard,
             substr(md5(CAST(doc_id AS VARCHAR)), 3, 8) AS ord_key
      FROM documents
    )
    SELECT doc_id, lang, n_chars, CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id)
                AS BIGINT) AS pos
    FROM a
    """,
)
def corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the step a
    training-data pipeline runs last, before the shard writer: docs
    must reach training order-decorrelated from ingest order (no
    source/time runs inside a shard), reproducibly (same corpus →
    byte-identical shards), with shard = output file. Shard id comes
    from one md5 byte, within-shard order from the NEXT md5 hex span —
    independent bits of the same digest, so shard and order don't
    correlate, and no RNG is involved (``df.sample``/rand would differ
    per run and per engine; the hash IS the shuffle, same argument as
    ``sample_hash``). doc_id breaks the (vanishingly rare) ord_key
    collisions so pos is total and deterministic.

    Scale shape: the window is partitionBy(shard) — Spark
    hash-partitions on shard and sorts within partition, exactly the
    ``repartition(n, shard).sortWithinPartitions(ord_key)`` a shard
    writer runs, so at 100 TB this is one shuffle sized by shard
    count, never a global sort. 16 shards here; real exports pick
    n_shards ≈ corpus_bytes / target_file_size."""
    d = table(spark, sf_dir, "documents")
    md = F.md5(F.col("doc_id").cast("string"))
    a = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.conv(F.substring(md, 1, 2), 16, 10).cast("int") % 16).cast("bigint").alias("shard"),
        F.substring(md, 3, 8).alias("ord_key"),
    )
    w = Window.partitionBy("shard").orderBy("ord_key", "doc_id")
    return a.select(
        "doc_id", "lang", "n_chars", "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@query(
    "sample_class_balance",
    oracle="""
    WITH cc AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_c FROM embeddings GROUP BY label
    ),
    tgt AS (SELECT CAST(max(n_c) AS BIGINT) AS target FROM cc),
    ranked AS (
      SELECT e.vec_id, e.label, c.n_c, t.target,
             row_number() OVER (PARTITION BY e.label ORDER BY e.vec_id) AS rk
      FROM embeddings e JOIN cc c USING (label) CROSS JOIN tgt t
    ),
    reps AS (
      SELECT vec_id, label,
             target // n_c + CASE WHEN rk <= target % n_c THEN 1 ELSE 0 END AS r
      FROM ranked
    )
    SELECT vec_id, label, CAST(unnest(range(0, r)) AS BIGINT) AS replica_idx
    FROM reps
    """,
)
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count oversampling to class parity: every label is
    brought to EXACTLY the majority class's count by integer
    replication — each row repeats target div n_c times and the first
    target mod n_c rows (by id order) once more. Unlike
    fraction-based sampleBy, the output class sizes are exact and the
    replica assignment is deterministic (rerun-/engine-stable, no
    RNG) — what a training-data loader wants from a rebalanced
    manifest (replica_idx lets downstream shuffling treat copies as
    distinct rows).

    Scale: one count aggregation (class-cardinality output, broadcast
    back), one per-class window (partitioned — the id ordering is for
    the remainder assignment only, never a global sort), and an
    in-row sequence explode bounded by the imbalance ratio. The
    minority-explosion factor IS the cost knob: a 1000× imbalanced
    corpus multiplies its minority rows 1000× — cap the target or
    combine with downweighting when that bound bites."""
    e = table(spark, sf_dir, "embeddings")
    cc = e.groupBy("label").agg(F.count("*").cast("bigint").alias("n_c"))
    tgt = cc.agg(F.max("n_c").cast("bigint").alias("target"))
    w = Window.partitionBy("label").orderBy("vec_id")
    ranked = (
        e.select("vec_id", "label")
        .join(F.broadcast(cc), "label")
        .crossJoin(F.broadcast(tgt))
        .withColumn("rk", F.row_number().over(w))
    )
    reps = ranked.select(
        "vec_id",
        "label",
        (
            F.expr("target div n_c")
            + F.when(F.col("rk") <= F.col("target") % F.col("n_c"), 1).otherwise(0)
        ).alias("r"),
    )
    # r >= 1 always: target = max(n_c) >= n_c makes target div n_c >= 1,
    # so no replica filter is needed (a zero-replica row cannot exist)
    return (
        reps
        .select(
            "vec_id",
            "label",
            F.explode(F.sequence(F.lit(0), F.col("r") - 1)).alias("__idx"),
        )
        .select("vec_id", "label", F.col("__idx").cast("bigint").alias("replica_idx"))
    )


SAMPLE_EST_BUCKETS = 26  # ~10.16% of 256 — the shared in_sample10 slice


@query(
    "sample_estimate_totals",
    oracle=f"""
    WITH sampled AS (
      SELECT event_type, value
      FROM events
      WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 256 < {SAMPLE_EST_BUCKETS}
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_sampled,
           (count(*) * 256) // {SAMPLE_EST_BUCKETS} AS est_n_events,
           round(sum(value), 2) AS sampled_sum,
           round(round(sum(value), 2) * 256 / {SAMPLE_EST_BUCKETS}, 2) AS est_sum_value
    FROM sampled
    GROUP BY event_type
    """,
)
def sample_estimate_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled estimation — the query a 100 TB deployment runs when
    the exact census is not worth a full scan: read ONLY the ~10%
    md5-bucket slice (the SAME deterministic slice dataset_split
    exposes as in_sample10, so the sample is shared infrastructure,
    not per-query dice) and scale counts/sums by the inverse sampling
    fraction. Because the sample is hash-defined, BOTH engines compute
    the identical slice and the estimates are exact-value oracle-
    checkable — the estimator's parity is proven, and its ACCURACY is
    asserted against the true totals in tests/test_scaling.py-style
    bounds in tests/test_modules.py. At scale the win compounds:
    the bucket predicate is a pure function of event_id, so a corpus
    laid out by hash bucket prunes 90% of files before the scan."""
    ev = table(spark, sf_dir, "events")
    scale = 256 / SAMPLE_EST_BUCKETS
    sampled = ev.where(hash_bucket("event_id") < SAMPLE_EST_BUCKETS)
    sampled_sum = F.round(F.sum("value"), 2)
    return sampled.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_sampled"),
        # integer div on BOTH sides: a double→bigint cast ROUNDS in
        # DuckDB but TRUNCATES in Spark — the boundary the r12 parity
        # run caught (147.7 → 147 vs 148)
        F.expr(f"(count(*) * 256) div {SAMPLE_EST_BUCKETS}").alias("est_n_events"),
        sampled_sum.alias("sampled_sum"),
        F.round(sampled_sum * F.lit(scale), 2).alias("est_sum_value"),
    )
