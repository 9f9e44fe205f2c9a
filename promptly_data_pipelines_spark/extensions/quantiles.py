"""Mergeable quantile sketches (deterministic MRL compactor
hierarchy): the SCALE path for percentiles, next to the exact
dq_quantiles (quality/profile.py).

Exact per-group quantiles need every value co-located — a full-width
shuffle plus a per-group sort, re-paid on every query window. The
production pattern at 100 TB is the same one the repo's HLL rollup
(operators/aggregates.py) uses for COUNT DISTINCT: build tiny
MERGEABLE sketches once per partition/day, persist them, and answer
any coarser rollup (day → month → all-time) by merging sketches —
never re-touching the raw rows. Spark 4 ships that path for distinct
counts (hll_sketch_agg / hll_union) but nothing for quantiles, so
this module implements the sketch itself.

Design — Manku-Rajagopalan-Lindsay-style compactor hierarchy,
DETERMINISTIC on purpose (no KLL coin flips):

- level l holds items of weight 2^l, capacity k per level;
- a full level sorts and keeps the odd-indexed half, pushing it up a
  level (weight doubles) — one compaction displaces any item's rank
  by at most its weight;
- the sketch ACCUMULATES that displacement into a certified
  worst-case rank-error bound (``err``): every estimate this module
  returns carries the bound it is provably inside, and the pytest
  properties assert the TRUE rank error against it (self-certifying,
  the discipline the recall-contracted IVF queries use);
- merge = concatenate levels pairwise + recompact: associative,
  bound-additive, and — because compaction is deterministic — the
  result depends only on the (ordered) inputs, so Spark-side merges
  sort partials by their serialized bytes first and the whole
  pipeline is value-stable run to run.

Spark shapes: sketch_partials is mapInPandas (one pass, one tiny
sketch row per (partition × group) — the map-side-combine shape);
sketch_rollup is applyInPandas keyed by group (shuffles SKETCHES, not
rows: k·log(n/k) floats per group instead of the group's row count).
Approximate values cannot hash-match a DuckDB oracle, so the query
tier is rows-only by necessity — correctness lives in the certified
bound + the exact-when-small property (n ≤ k ⇒ no compaction ⇒
quantiles are EXACT and equality-tested against numpy).
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

SKETCH_K = 200  # per-level capacity: ~L/k relative rank error
SKETCH_QS = (0.5, 0.95, 0.99)

_MAGIC = b"MRL1"


class MRLSketch:
    """Deterministic compactor-hierarchy quantile sketch.

    ``levels[l]`` is an UNSORTED python list of float64 items of
    weight 2**l (sorting happens at compaction/query); ``n`` is the
    total weighted count; ``err`` is the certified worst-case rank
    displacement accumulated by every compaction that ever fed this
    sketch (merge adds the inputs' errors)."""

    __slots__ = ("k", "n", "err", "levels")

    def __init__(self, k: int = SKETCH_K):
        if k < 2:
            raise ValueError(f"sketch capacity k must be >= 2, got {k}")
        self.k = int(k)
        self.n = 0
        self.err = 0
        self.levels: list[list[float]] = [[]]

    def update(self, values: Iterable[float]) -> "MRLSketch":
        buf = np.asarray(list(values), dtype=np.float64)
        if buf.size == 0:
            return self
        if np.isnan(buf).any():
            raise ValueError("quantile sketch refuses NaN values (order-undefined)")
        self.levels[0].extend(buf.tolist())
        self.n += buf.size
        self._compress()
        return self

    def merge(self, other: "MRLSketch") -> "MRLSketch":
        if other.k != self.k:
            raise ValueError(f"cannot merge sketches with k={self.k} vs k={other.k}")
        while len(self.levels) < len(other.levels):
            self.levels.append([])
        for l, items in enumerate(other.levels):
            self.levels[l].extend(items)
        self.n += other.n
        self.err += other.err
        self._compress()
        return self

    def _compress(self) -> None:
        l = 0
        while l < len(self.levels):
            if len(self.levels[l]) > self.k:
                srt = sorted(self.levels[l])
                # keep the odd-indexed half at weight 2^(l+1): each
                # compacted PAIR contributes one survivor, displacing
                # ranks by at most the level weight — certified below
                promoted = srt[1::2]
                leftover = srt[: len(srt) % 2]  # odd count: keep item 0 at level l
                self.levels[l] = leftover
                if l + 1 == len(self.levels):
                    self.levels.append([])
                self.levels[l + 1].extend(promoted)
                self.err += 1 << l
            l += 1

    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for l, lv in enumerate(self.levels):
            items.extend(lv)
            weights.extend([1 << l] * len(lv))
        it = np.asarray(items, dtype=np.float64)
        wt = np.asarray(weights, dtype=np.int64)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def quantile(self, q: float) -> float:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile fraction out of [0,1]: {q}")
        if self.n == 0:
            raise ValueError("empty sketch has no quantiles")
        it, wt = self._weighted()
        target = max(1, int(np.ceil(q * self.n)))
        cum = np.cumsum(wt)
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(it[min(idx, it.size - 1)])

    def to_bytes(self) -> bytes:
        parts = [_MAGIC, struct.pack("<qqq", self.k, self.n, self.err)]
        parts.append(struct.pack("<q", len(self.levels)))
        for lv in self.levels:
            srt = sorted(lv)  # canonical: serialization is order-free
            parts.append(struct.pack("<q", len(srt)))
            parts.append(np.asarray(srt, dtype="<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, payload: bytes) -> "MRLSketch":
        if payload[:4] != _MAGIC:
            raise ValueError("not an MRL sketch payload (bad magic)")
        k, n, err = struct.unpack_from("<qqq", payload, 4)
        (n_levels,) = struct.unpack_from("<q", payload, 28)
        sk = cls(k)
        sk.n, sk.err = n, err
        sk.levels = []
        off = 36
        for _ in range(n_levels):
            (m,) = struct.unpack_from("<q", payload, off)
            off += 8
            sk.levels.append(
                np.frombuffer(payload, dtype="<f8", count=m, offset=off).tolist()
            )
            off += 8 * m
        if off != len(payload):
            raise ValueError("trailing bytes in MRL sketch payload")
        return sk



def _group_schema(df: DataFrame, group_cols: list[str]) -> str:
    """Group columns keep their SOURCE types in every output schema
    (a hardcoded string type would corrupt int/date group keys)."""
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = [c for c in group_cols if c not in by_name]
    if missing:
        raise ValueError(f"group columns not in frame: {missing}")
    # Embedded backticks are refused LOUDLY (r13 review follow-up):
    # the generated DDL could escape them (doubling), but PySpark's
    # own mapInPandas resolves input columns via df[name] on the RAW
    # string (pyspark/sql/pandas/map_ops.py), which its attribute
    # parser rejects — the limitation is upstream, so a clear error
    # here beats an inscrutable INVALID_ATTRIBUTE_NAME_SYNTAX later.
    ticked = [c for c in group_cols if "`" in c]
    if ticked:
        raise ValueError(
            f"group column names with backticks are unsupported by "
            f"Spark's pandas-map column resolution: {ticked}"
        )
    # backtick-quote: a space/dash/reserved-word column name must not
    # produce an unparseable DDL string (ADVICE r12)
    return ", ".join(f"`{c}` {by_name[c]}" for c in group_cols)


def sketch_partials(
    df: DataFrame, value_col: str, group_cols: list[str], k: int = SKETCH_K
) -> DataFrame:
    """One sketch row per (input partition × group) — the map-side
    combine: a single pass over each partition, no shuffle, output
    rows carry k·log(n/k) floats each. NULL values are skipped (SQL
    aggregate semantics)."""
    out_schema = _group_schema(df, group_cols) + ", sketch binary"

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, MRLSketch] = {}
        for pdf in batches:
            for key, sub in pdf.groupby(group_cols, dropna=False, sort=False):
                key = key if isinstance(key, tuple) else (key,)
                vals = sub[value_col].dropna().to_numpy(dtype=np.float64)
                if vals.size:
                    sketches.setdefault(key, MRLSketch(k)).update(vals)
        rows = [
            dict(zip(group_cols, key)) | {"sketch": sk.to_bytes()}
            for key, sk in sketches.items()
        ]
        # empty branch: object-dtype columns, NOT the pandas default
        # float64 — Arrow refuses to cast an (empty) float64 column to
        # date32/string group types (hit by the empty-tables sweep on
        # a date-grouped sketch); empty object casts to anything
        yield pd.DataFrame(
            rows, columns=[*group_cols, "sketch"]
        ) if rows else pd.DataFrame(
            {c: pd.Series([], dtype="object") for c in [*group_cols, "sketch"]}
        )

    return df.select(*group_cols, value_col).mapInPandas(build, out_schema)


def sketch_rollup(
    partials: DataFrame, group_cols: list[str], k: int = SKETCH_K
) -> DataFrame:
    """Merge partial sketches per group: shuffles SKETCH rows only.
    Partials are folded in canonical (serialized-bytes) order so the
    result is independent of shuffle arrival order — determinism is
    part of the contract, not luck."""
    out_schema = _group_schema(partials, group_cols) + ", sketch binary"

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = MRLSketch(k)
        for payload in sorted(pdf["sketch"]):
            acc.merge(MRLSketch.from_bytes(payload))
        return pd.DataFrame([dict(zip(group_cols, key)) | {"sketch": acc.to_bytes()}])

    return partials.groupBy(*group_cols).applyInPandas(merge, out_schema)


def sketch_quantiles(
    sketches: DataFrame,
    group_cols: list[str],
    qs: tuple[float, ...] = SKETCH_QS,
) -> DataFrame:
    """Render merged sketches as (group, q, estimate, n, max_rank_err)
    — the certified bound rides along with every estimate."""
    out_schema = (
        _group_schema(sketches, group_cols)
        + ", q double, estimate double, n bigint, max_rank_err bigint"
    )

    def render(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # fold ALL payloads in canonical byte order (an iloc[0] seed
        # would follow shuffle arrival order when a group holds more
        # than one sketch row — r12 self-review finding)
        acc = None
        for payload in sorted(pdf["sketch"]):
            sk = MRLSketch.from_bytes(payload)
            acc = sk if acc is None else acc.merge(sk)
        return pd.DataFrame(
            [
                dict(zip(group_cols, key))
                | {
                    "q": q,
                    "estimate": acc.quantile(q),
                    "n": acc.n,
                    "max_rank_err": acc.err,
                }
                for q in qs
            ]
        )

    return sketches.groupBy(*group_cols).applyInPandas(render, out_schema)


@query("dq_quantile_sketch")
def dq_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value percentiles from the MERGED sketch rollup
    (partials → per-group merge → p50/p95/p99 + certified rank-error
    bound). Rows-only by necessity — a deterministic-but-approximate
    estimate can't hash-match DuckDB — with correctness carried by the
    pytest properties (true rank error ≤ the sketch's own certified
    bound on every group; EXACT equality with numpy when n ≤ k) and
    determinism by the canonical merge order. The exact twin is
    dq_quantiles (quality/profile.py); at 100 TB this form answers
    the same question from persisted per-day sketch rows without
    re-scanning a single raw value."""
    ev = table(spark, sf_dir, "events")
    partials = sketch_partials(ev, "value", ["event_type"])
    merged = sketch_rollup(partials, ["event_type"])
    return sketch_quantiles(merged, ["event_type"]).orderBy("event_type", "q")


@query("stream_exec_quantile_sketch")
def stream_exec_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch store fed by the REAL streaming engine — the
    deployment shape end to end: events arrive as micro-batches
    (``cdc.staging.drain_partial_store``), each batch's partial
    sketches land in a parquet SKETCH STORE (KBs per batch — the raw
    rows are never retained), and the answer is a rollup+quantile over
    the store. Because merging folds in canonical byte order, the final
    result is a pure function of the partial SET: however the engine
    batched the input, re-running the rollup over the store gives the
    same answer, and the certified bound + exact n hold against the
    batch pipeline (pinned in tests/test_quantile_sketch.py).
    Rows-only by necessity, like dq_quantile_sketch."""
    from ..cdc.staging import drain_partial_store, fresh_staging_dir

    store = drain_partial_store(
        table(spark, sf_dir, "events").select("event_type", "value"),
        fresh_staging_dir(spark, sf_dir, "stream_sketch"),
        lambda batch_df, _batch_id: sketch_partials(batch_df, "value", ["event_type"]),
    )
    merged = sketch_rollup(spark.read.parquet(store), ["event_type"])
    return sketch_quantiles(merged, ["event_type"]).orderBy("event_type", "q")


@query("dq_sketch_serving_rollup")
def dq_sketch_serving_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pattern the module docstring promises, end to end:
    per-(event_type, DAY) sketches are built ONCE and
    persisted; the month tier merges DAY SKETCHES, the all-time tier
    merges month output — after the day store lands, no level ever
    re-touches a raw row (the returned plan reads only the sketch
    store, pinned in tests). This is the 100 TB ops question "p99 by
    day, month, and lifetime" answered with one pass over the data
    ever; each tier's estimate carries its OWN certified bound
    (merge is self-certifying: err adds child errs plus the merge's
    own compactions — tests assert every tier's estimate beats its
    bound against exact recomputation, and that the hierarchy's
    bounds are additive). Rows-only by necessity, like
    dq_quantile_sketch."""
    import os

    from ..cdc.staging import fresh_staging_dir

    day_store = os.path.join(
        fresh_staging_dir(spark, sf_dir, "sketch_serve"), "day_sketches"
    )
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    sketch_rollup(
        sketch_partials(ev, "value", ["event_type", "day"]),
        ["event_type", "day"],
    ).write.mode("overwrite").parquet(day_store)

    days = spark.read.parquet(day_store)
    months = sketch_rollup(
        days.select(
            "event_type",
            F.date_format("day", "yyyy-MM").alias("month"),
            "sketch",
        ),
        ["event_type", "month"],
    )
    # all-time merges the MONTH tier's sketches (not the day store):
    # that makes the hierarchy bound STRUCTURAL — merge err = child
    # errs + own compactions, so all-time err >= sum(month errs) by
    # construction, which is exactly what the hierarchy-additivity
    # test asserts (merging days directly makes that assertion
    # fixture-dependent)
    alltime = sketch_rollup(months.select("event_type", "sketch"), ["event_type"])

    day_q = sketch_quantiles(days, ["event_type", "day"]).select(
        F.lit("day").alias("level"),
        "event_type",
        F.col("day").cast("string").alias("period"),
        "q",
        "estimate",
        "n",
        "max_rank_err",
    )
    month_q = sketch_quantiles(months, ["event_type", "month"]).select(
        F.lit("month").alias("level"),
        "event_type",
        F.col("month").alias("period"),
        "q",
        "estimate",
        "n",
        "max_rank_err",
    )
    all_q = sketch_quantiles(alltime, ["event_type"]).select(
        F.lit("all").alias("level"),
        "event_type",
        F.lit("ALL").alias("period"),
        "q",
        "estimate",
        "n",
        "max_rank_err",
    )
    return day_q.unionByName(month_q).unionByName(all_q).orderBy(
        "level", "event_type", "period", "q"
    )
