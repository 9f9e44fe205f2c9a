"""Bloom-filter join prefilter (the runtime-filter pattern; reference
scope: the selective dim-fact joins in the curated layer,
`dbt/promptly/models/curated/curated_provider.sql:1-20`).

The gap this fills at 100 TB: when the dim side is too big (or the
planner too conservative) to broadcast-hash-join, Spark shuffles BOTH
sides — including every fact row that can never match. A Bloom filter
of the dim keyset costs m/8 bytes (16 KiB here), rides to every
executor as a plan literal, and rejects non-matching fact rows at the
SCAN, before the shuffle. Spark's own AQE injects these ("runtime
bloom filter") only under size heuristics it controls; this operator
is the explicit form a pipeline author can pin, with a deterministic
md5 hash family so the filter itself is testable (the false-negative
property is pinned in tests/test_curation.py and, against a
pure-Python bitset mirror, tests/test_properties.py).

The final join stays exact, so the composed operator's result equals
the plain join — which is exactly what the DuckDB oracle checks. False
positives only cost shuffled bytes, never correctness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

M_BITS = 1 << 14  # 16 Ki bits = 256 longs; fp ~1e-4 at ~300 keys, k=3
N_HASH = 3

# element_at lookup table for 1 << b (b in 0..63) — shiftleft needs a
# literal shift amount, so the per-row "which bit" select goes through
# a 64-long literal array instead (b=63 is the sign bit: -2^63 in
# two's complement).
_POW2 = [1 << b for b in range(63)] + [-(1 << 63)]


def _positions(key: Column, m_bits: int = M_BITS) -> list[Column]:
    """k bit positions from disjoint 8-hex-char windows of md5(key) —
    the same cross-engine hash family as extensions/dedup.py (not that
    the oracle needs it: the bloom is correctness-transparent — but a
    deterministic filter is a testable filter)."""
    md = F.md5(key.cast("string"))
    return [
        F.conv(F.substring(md, 1 + 8 * i, 8), 16, 10).cast("bigint") % m_bits
        for i in range(N_HASH)
    ]


def build_bloom(dim: DataFrame, key_col: str, m_bits: int = M_BITS) -> list[int]:
    """Aggregate the dim keyset into a bitset: explode each key's k
    positions, bit_or the per-word masks. The aggregation is map-side
    partial (bit_or combines), and what reaches the driver is ≤
    m_bits/64 longs — bounded METADATA (2 KiB per 16 Ki bits) no matter
    how many keys went in, which is why the collect here is safe where
    collecting the keyset itself would not be. NULL keys are dropped
    before hashing (md5(NULL) is NULL — they'd otherwise surface as a
    NULL-keyed aggregate row and crash the bitset assembly); that
    matches join semantics, where a NULL key never matches, and
    ``might_contain`` agrees from the probe side (NULL positions make
    the predicate NULL, which filters fact rows out)."""
    mask = F.element_at(
        F.array(*[F.lit(p) for p in _POW2]), (F.col("pos") % 64).cast("int") + 1
    )
    rows = (
        dim.filter(F.col(key_col).isNotNull())
        .select(F.explode(F.array(*_positions(F.col(key_col), m_bits))).alias("pos"))
        .select(F.floor(F.col("pos") / 64).cast("int").alias("widx"), mask.alias("m"))
        .groupBy("widx")
        .agg(F.bit_or("m").alias("w"))
        .collect()
    )
    bits = [0] * (m_bits // 64)
    for r in rows:
        bits[r["widx"]] = r["w"]
    return bits


def might_contain(key: Column, bloom: list[int], m_bits: int = M_BITS) -> Column:
    """Membership predicate: all k bits set. Pure column arithmetic —
    the bitset and the pow2 table are plan literals, so the test runs
    inside whole-stage codegen at the scan, and Parquet still prunes
    columns/row-groups around it."""
    arr = F.array(*[F.lit(w) for w in bloom])
    pow2 = F.array(*[F.lit(p) for p in _POW2])
    pred = F.lit(True)
    for pos in _positions(key, m_bits):
        word = F.element_at(arr, F.floor(pos / 64).cast("int") + 1)
        bit = F.element_at(pow2, (pos % 64).cast("int") + 1)
        pred = pred & (word.bitwiseAND(bit) != 0)
    return pred


def bloom_prefilter_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Exact inner join with a Bloom prefilter on the fact side: build
    the bitset from the (already filtered) dim, reject non-candidate
    fact rows before any shuffle, then join exactly. Two jobs total:
    the bitset aggregation (scans only the dim key column) and the
    join itself — the dim scan is repeated but tiny next to the fact
    shuffle the filter avoids."""
    bloom = build_bloom(dim, dim_key)
    pre = fact.filter(might_contain(F.col(fact_key), bloom))
    return pre.join(dim, pre[fact_key] == dim[dim_key])


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim-fact join through the Bloom prefilter: BUILDING-
    segment customers (~20% of the dim) against all orders. The oracle
    is the plain join — the bloom must be invisible in the result
    (no false negatives) and only prunes shuffled volume. ~80% of
    fact rows are rejected at the scan here; at 100 TB that's the
    difference between shuffling 100 TB and 20 TB when the dim outgrows
    broadcast range."""
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders")
    joined = bloom_prefilter_join(orders, cust, "o_custkey", "c_custkey")
    return joined.select("o_orderkey", "o_custkey", "o_totalprice", "c_name")
