"""Sequence packing for LLM pretraining (SURVEY.md §2j north-star,
beyond the reference's scope — the reference has no training-data
path at all; its pipeline ends at curated tables).

Pretraining dataloaders consume fixed-size context windows, not
documents: the corpus is concatenated in a deterministic order and
chunked every ``budget`` tokens (documents may straddle a boundary —
the standard "packed sequences" scheme). The operator assigns every
document its (bin, offset) under that scheme, which is a pure
function of the exclusive prefix sum of token counts in corpus
order — deterministic, oracle-checkable, and the exact bookkeeping a
sharded tokenizer needs to write packed examples independently.

Scale note — the prefix sum is TWO-PHASE, not one giant window: a
window partitioned by ``lang`` alone would run one sequential task
per language (5 partitions for a 100 TB corpus = non-starter).
Instead documents are range-sharded by doc_id (order-preserving),
each shard computes its local prefix in parallel, the per-shard
totals (rows = #shards, tiny) get an exclusive running sum on an
unpartitioned window — safe BECAUSE it is the shard-summary table,
not the corpus — and broadcast back. Same trick as
cdc.batch.stream_late_drop's watermark table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .text import words

TOKEN_BUDGET = 2048  # context-window size in tokens
SHARD_DOCS = 4096  # doc_id range per prefix-sum shard


def pack_assignments(
    d: DataFrame, budget: int = TOKEN_BUDGET, shard_docs: int = SHARD_DOCS
) -> DataFrame:
    """(lang, doc_id, text) → (lang, doc_id, n_tokens, start_token,
    bin_id, bin_offset) under concat-and-chunk packing per lang in
    doc_id order. Tokens = non-empty space-split terms (the corpus
    token definition shared with text_token_counts)."""
    toks = d.select(
        "lang",
        "doc_id",
        F.size(words("text")).cast("bigint").alias("n_tokens"),
        F.expr(f"doc_id DIV {shard_docs}").alias("shard"),
    )
    # phase 1: intra-shard exclusive prefix (parallel across shards)
    intra_w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = toks.withColumn(
        "local_start", F.coalesce(F.sum("n_tokens").over(intra_w), F.lit(0))
    )
    # phase 2: exclusive running total of shard sums (tiny table:
    # rows = shards, so the unpartitioned-per-lang window is safe)
    shard_sums = toks.groupBy("lang", "shard").agg(F.sum("n_tokens").alias("shard_total"))
    shard_w = (
        Window.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = shard_sums.select(
        "lang",
        "shard",
        F.coalesce(F.sum("shard_total").over(shard_w), F.lit(0)).alias("shard_offset"),
    )
    start = F.col("shard_offset") + F.col("local_start")
    # NULL-SAFE on lang: the windows above group a NULL lang into its
    # own partition (matching SQL PARTITION BY), so the offset join
    # must not drop those rows via NULL != NULL equality — that would
    # silently lose every unidentified-language document from the
    # packed corpus while the oracle keeps them.
    offsets_keyed = offsets.withColumnRenamed("lang", "__lang")
    return (
        local.join(
            F.broadcast(offsets_keyed),
            F.col("lang").eqNullSafe(F.col("__lang")) & (local["shard"] == offsets_keyed["shard"]),
        )
        .drop("__lang")
        .drop(offsets_keyed["shard"])
        .select(
            "lang",
            "doc_id",
            "n_tokens",
            start.alias("start_token"),
            F.expr(f"(shard_offset + local_start) DIV {budget}").alias("bin_id"),
            F.expr(f"(shard_offset + local_start) % {budget}").alias("bin_offset"),
        )
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT lang, doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    pref AS (
      -- sum(BIGINT) is HUGEINT in DuckDB: cast back so the driver's
      -- typed compare sees BIGINT on both sides
      SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_token
      FROM toks
    )
    SELECT lang, doc_id, n_tokens, start_token,
           CAST(start_token // {TOKEN_BUDGET} AS BIGINT) AS bin_id,
           CAST(start_token % {TOKEN_BUDGET} AS BIGINT) AS bin_offset
    FROM pref
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing over ``documents``: every doc
    gets its (bin_id, bin_offset) in the packed token stream per lang
    (budget 2048). The oracle computes the same assignment with one
    global window — correct but sequential; the Spark side uses the
    two-phase sharded prefix sum (module docstring) so the windows
    parallelize at corpus scale. Local tier: the driver window is
    full; pytest parity-checks it every run."""
    return pack_assignments(table(spark, sf_dir, "documents"))
