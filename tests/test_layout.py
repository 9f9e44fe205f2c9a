"""Layout invariants (operators/layout.py): clustered writes produce
narrow, effectively-disjoint row-group statistics that a selective
filter can skip, and a dim-filtered join dynamically prunes the fact
scan's partitions. Value-level equality is covered by the oracle-parity
suite (layout_clustered_scan). A no-Spark check pins that every
package repartition names its task count."""

from __future__ import annotations

import ast
import os
import shutil
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from conftest import SF_DIR

from promptly_data_pipelines_spark.catalog import table
from promptly_data_pipelines_spark.functions import date_key
from promptly_data_pipelines_spark.operators.layout import (
    clustered_write,
    dpp_fact_dim_join,
)

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
)


def _is_column(node: ast.expr) -> bool:
    """A column name or ``col(...)``/``expr(...)`` — not a count."""
    if isinstance(node, ast.Constant):
        return isinstance(node.value, str)
    func = getattr(node, "func", None)
    return getattr(func, "id", getattr(func, "attr", None)) in ("col", "column", "expr")


def test_every_repartition_names_its_count():
    """AQE coalesces an uncounted ``repartition(<col>)`` of a small
    input into one task; a partitioned write then runs on one core.
    Hash ahead of a ``partitionBy`` write with
    ``layout.partition_for_write``."""
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            offenders += [
                f"{os.path.relpath(path, _PKG)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
                and (not node.args or _is_column(node.args[0]))
            ]
    assert not offenders, f"repartition without an explicit count: {offenders}"


def _row_group_ranges(path: str, col: str) -> list[tuple[int, int]]:
    pf = pq.ParquetFile(path)
    idx = pf.schema_arrow.get_field_index(col)
    out = []
    for rg in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(rg).column(idx).statistics
        out.append((st.min, st.max))
    return out


def test_clustered_row_groups_are_narrow(spark):
    base = os.path.join(tempfile.gettempdir(), "pdp_layout_test")
    shutil.rmtree(base, ignore_errors=True)
    clustered, unsorted = os.path.join(base, "clustered"), os.path.join(base, "unsorted")
    ev = table(spark, SF_DIR, "events").withColumn("day", date_key("ts"))
    clustered_write(ev, clustered, "day", ["user_id"])
    ev.repartition(8).write.mode("overwrite").partitionBy("day").parquet(unsorted)

    lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).first()
    full_span = hi - lo

    def spans(root: str) -> list[float]:
        out = []
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if fn.endswith(".parquet"):
                    for mn, mx in _row_group_ranges(os.path.join(dirpath, fn), "user_id"):
                        out.append((mx - mn) / max(1, full_span))
        return out

    clustered_spans = spans(clustered)
    unsorted_spans = spans(unsorted)
    assert clustered_spans and unsorted_spans
    # unsorted row groups cover ~the whole user range; clustered files
    # are sorted, so multi-row-group files slice the range instead.
    # With one row group per file both layouts have full-file spans —
    # the discriminating fact is within-file ordering, checked below.
    assert max(unsorted_spans) > 0.9

    # within every clustered file, row-group ranges are non-overlapping
    # and ordered (the sortWithinPartitions contract parquet stats see)
    for dirpath, _dirs, files in os.walk(clustered):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            ranges = _row_group_ranges(os.path.join(dirpath, fn), "user_id")
            for (a_min, a_max), (b_min, b_max) in zip(ranges, ranges[1:]):
                assert a_min <= a_max <= b_min <= b_max


def test_dpp_prunes_fact_partitions(spark):
    """The dim-filtered join must inject a runtime partition-pruning
    subquery into the fact scan (dynamicpruningexpression in the
    plan) — at 100 TB this is the difference between scanning three
    day directories and scanning all of them."""
    base = os.path.join(tempfile.gettempdir(), "pdp_dpp_test")
    shutil.rmtree(base, ignore_errors=True)
    fact_dir = os.path.join(base, "fact")
    ev = table(spark, SF_DIR, "events").withColumn("day", date_key("ts"))
    ev.repartition("day").write.mode("overwrite").partitionBy("day").parquet(fact_dir)

    days = (
        ev.select("day").distinct().withColumn("is_hot", F.col("day") <= F.lit("2024-01-03"))
    )
    dim = days.filter(F.col("is_hot"))
    joined = dpp_fact_dim_join(spark, fact_dir, dim, "day")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is the plain filtered count
    want = ev.filter(F.col("day") <= F.lit("2024-01-03")).count()
    assert joined.count() == want


def test_zorder_key_is_monotone_per_dimension(spark):
    """Morton-key sanity: with one dimension fixed, the key orders by
    the other — so single-column filters keep working on a Z-ordered
    layout (it strictly generalizes single-key clustering)."""
    from promptly_data_pipelines_spark.operators.layout import zorder_key

    # b sweeps THROUGH the scaled midpoint (49/99 ≈ the bit-31 seam):
    # an int32 key goes negative for the top half and this fails
    rows = [(a, b) for a in range(0, 100, 7) for b in range(0, 100, 11)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select(
        "a", "b", zorder_key(F.col("a"), F.col("b"), 0, 99, 0, 99).alias("z")
    ).collect()
    by_b: dict[int, list[tuple[int, int]]] = {}
    by_a: dict[int, list[tuple[int, int]]] = {}
    for r in got:
        by_b.setdefault(r["b"], []).append((r["a"], r["z"]))
        by_a.setdefault(r["a"], []).append((r["b"], r["z"]))
        assert r["z"] >= 0, f"z-key overflowed to negative: {r}"
    for fixed in (by_b, by_a):
        for _k, pairs in fixed.items():
            pairs.sort()
            zs = [z for _v, z in pairs]
            assert zs == sorted(zs), "z-key not monotone with the other dim fixed"


def test_zorder_chunks_narrow_both_dimensions(spark):
    """The point of the Z-curve: CONTIGUOUS runs of the sorted order
    (row groups, once written) span a small slice of BOTH dimensions.
    A plain (a, b) sort narrows only a. Simulated row groups (chunks
    of the z-sorted order) keep the test independent of parquet
    row-group sizing."""
    from promptly_data_pipelines_spark.operators.layout import zorder_key

    ev = table(spark, SF_DIR, "events").select("user_id", "event_id")
    lo_u, hi_u, lo_e, hi_e = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("event_id"), F.max("event_id")
    ).first()
    z = zorder_key(F.col("user_id"), F.col("event_id"), lo_u, hi_u, lo_e, hi_e)
    rows = ev.select("user_id", "event_id", z.alias("z")).orderBy("z").collect()
    chunk = 100
    spans_u, spans_e = [], []
    for i in range(0, len(rows) - chunk + 1, chunk):
        c = rows[i : i + chunk]
        us = [r["user_id"] for r in c]
        es = [r["event_id"] for r in c]
        spans_u.append((max(us) - min(us)) / max(1, hi_u - lo_u))
        spans_e.append((max(es) - min(es)) / max(1, hi_e - lo_e))
    mean_u = sum(spans_u) / len(spans_u)
    mean_e = sum(spans_e) / len(spans_e)
    # both dimensions narrow: each 100-row run covers well under half
    # the value space (a single-key sort leaves the second ~1.0)
    assert mean_u < 0.5, f"user_id chunks too wide: {mean_u:.3f}"
    assert mean_e < 0.5, f"event_id chunks too wide: {mean_e:.3f}"
