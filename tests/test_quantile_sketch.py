"""Mergeable quantile sketch (extensions/quantiles.py): certified
rank-error bound, exact-when-small, merge associativity/determinism,
and the Spark rollup honoring all of it on the real fixture."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from promptly_data_pipelines_spark.extensions.quantiles import (
    SKETCH_QS,
    MRLSketch,
    dq_quantile_sketch,
    sketch_partials,
    sketch_rollup,
)

from conftest import SF_DIR


def _true_rank_band(sorted_vals: np.ndarray, x: float) -> tuple[int, int]:
    """[lowest, highest] 1-based rank a value occupies in the data."""
    lo = int(np.searchsorted(sorted_vals, x, side="left")) + 1
    hi = int(np.searchsorted(sorted_vals, x, side="right"))
    return lo, max(lo, hi)


def _assert_within_bound(sk: MRLSketch, vals: np.ndarray):
    srt = np.sort(vals)
    for q in SKETCH_QS:
        est = sk.quantile(q)
        target = max(1, int(np.ceil(q * len(vals))))
        lo, hi = _true_rank_band(srt, est)
        # estimate's true rank band must intersect [target-err, target+err]
        assert lo - sk.err <= target <= hi + sk.err, (
            f"q={q}: est={est} rank[{lo},{hi}] target={target} err={sk.err}"
        )


def test_exact_when_no_compaction():
    """n <= k means zero compactions: err == 0 and every quantile is
    EXACT (the ceil-rank order statistic), equality-checked."""
    rng = np.random.default_rng(7)
    vals = rng.normal(size=200)
    sk = MRLSketch(k=200).update(vals)
    assert sk.err == 0
    srt = np.sort(vals)
    for q in (0.01, 0.5, 0.95, 1.0):
        assert sk.quantile(q) == srt[max(1, int(np.ceil(q * len(vals)))) - 1]


def test_certified_bound_holds_large():
    rng = np.random.default_rng(11)
    vals = np.concatenate(
        [rng.normal(size=40_000), rng.exponential(size=20_000) * 100]
    )
    sk = MRLSketch(k=200).update(vals)
    assert sk.err > 0  # compactions actually happened
    assert sk.err < 0.10 * len(vals)  # the bound is useful, not vacuous
    _assert_within_bound(sk, vals)


def test_merge_bound_and_determinism():
    """merge(build(A), build(B)) stays inside its own certified bound
    on A∪B, and merging in either order yields the IDENTICAL sketch
    bytes after canonical-order folding (the Spark rollup contract)."""
    rng = np.random.default_rng(3)
    a, b = rng.normal(size=30_000), rng.uniform(-5, 5, size=15_000)
    sa = MRLSketch(k=200).update(a)
    sb = MRLSketch(k=200).update(b)
    both = np.concatenate([a, b])
    payloads = sorted([sa.to_bytes(), sb.to_bytes()])
    m1 = MRLSketch(k=200)
    for p in payloads:
        m1.merge(MRLSketch.from_bytes(p))
    m2 = MRLSketch(k=200)
    for p in payloads:  # same canonical order, fresh accumulator
        m2.merge(MRLSketch.from_bytes(p))
    assert m1.to_bytes() == m2.to_bytes()
    assert m1.n == len(both)
    _assert_within_bound(m1, both)


def test_serialization_roundtrip_and_refusals():
    sk = MRLSketch(k=16).update(np.arange(500, dtype=float))
    rt = MRLSketch.from_bytes(sk.to_bytes())
    assert (rt.k, rt.n, rt.err) == (sk.k, sk.n, sk.err)
    assert rt.quantile(0.5) == sk.quantile(0.5)
    with pytest.raises(ValueError, match="bad magic"):
        MRLSketch.from_bytes(b"XXXX" + sk.to_bytes()[4:])
    with pytest.raises(ValueError, match="trailing bytes"):
        MRLSketch.from_bytes(sk.to_bytes() + b"\x00")
    with pytest.raises(ValueError, match="NaN"):
        MRLSketch(k=16).update([1.0, float("nan")])
    with pytest.raises(ValueError, match="k="):
        MRLSketch(k=16).merge(MRLSketch(k=32))
    with pytest.raises(ValueError, match="empty sketch"):
        MRLSketch(k=16).quantile(0.5)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
        min_size=1,
        max_size=3000,
    ),
    st.integers(min_value=8, max_value=64),
)
def test_property_bound_any_input(vals, k):
    arr = np.asarray(vals, dtype=np.float64)
    sk = MRLSketch(k=k).update(arr)
    assert sk.n == len(arr)
    _assert_within_bound(sk, arr)


def test_spark_rollup_matches_local_and_bound(spark):
    """The distributed pipeline (mapInPandas partials → applyInPandas
    merge → quantiles) must (a) be deterministic across runs, (b) hold
    the certified bound against the exact per-group data, and (c)
    report n == the group's non-null count."""
    from promptly_data_pipelines_spark.catalog import table
    from promptly_data_pipelines_spark.extensions.quantiles import sketch_quantiles

    ev = table(spark, SF_DIR, "events")
    out1 = dq_quantile_sketch(spark, SF_DIR).collect()
    out2 = dq_quantile_sketch(spark, SF_DIR).collect()
    assert [r.asDict() for r in out1] == [r.asDict() for r in out2]

    truth = {
        r.event_type: np.sort(np.asarray(r.vals, dtype=np.float64))
        for r in ev.groupBy("event_type")
        .agg(F_collect("value").alias("vals"))
        .collect()
    }
    for r in out1:
        vals = truth[r.event_type]
        assert r.n == len(vals)
        target = max(1, int(np.ceil(r.q * r.n)))
        lo = int(np.searchsorted(vals, r.estimate, side="left")) + 1
        hi = max(lo, int(np.searchsorted(vals, r.estimate, side="right")))
        assert lo - r.max_rank_err <= target <= hi + r.max_rank_err

    # sketch rows are tiny relative to the data they summarize
    partials = sketch_partials(ev, "value", ["event_type"])
    merged = sketch_rollup(partials, ["event_type"])
    sizes = merged.select(F_len("sketch").alias("b")).collect()
    assert all(row.b < 64_000 for row in sizes)
    # and the quantile renderer agrees with a local re-merge
    served = {
        (r.event_type, r.q): r.estimate
        for r in sketch_quantiles(merged, ["event_type"]).collect()
    }
    assert len(served) == 3 * len(truth)


def F_collect(col):
    from pyspark.sql import functions as F

    return F.collect_list(F.col(col))


def F_len(col):
    from pyspark.sql import functions as F

    return F.length(F.col(col))


def test_persisted_partials_remerge_identical(spark, tmp_path):
    """The 100 TB story made exact: write the per-partition partial
    sketches to parquet (the 'per-day sketch table'), read them back,
    roll up — the result must be BYTE-IDENTICAL to the direct
    pipeline (canonical-order folding makes the merge a pure function
    of the partial SET, so storage round-trips change nothing)."""
    from promptly_data_pipelines_spark.catalog import table
    from promptly_data_pipelines_spark.extensions.quantiles import (
        sketch_quantiles,
    )

    ev = table(spark, SF_DIR, "events")
    partials = sketch_partials(ev, "value", ["event_type"])
    direct = sketch_rollup(partials, ["event_type"])

    store = str(tmp_path / "sketch_store.parquet")
    partials.write.parquet(store)
    stored = sketch_rollup(spark.read.parquet(store), ["event_type"])

    d = {r.event_type: bytes(r.sketch) for r in direct.collect()}
    s = {r.event_type: bytes(r.sketch) for r in stored.collect()}
    assert d == s
    q_direct = {
        (r.event_type, r.q): (r.estimate, r.n, r.max_rank_err)
        for r in sketch_quantiles(direct, ["event_type"]).collect()
    }
    q_stored = {
        (r.event_type, r.q): (r.estimate, r.n, r.max_rank_err)
        for r in sketch_quantiles(stored, ["event_type"]).collect()
    }
    assert q_direct == q_stored


def test_group_schema_keeps_source_types(spark):
    """Sketching grouped by an INT column must carry the int type
    through (r12 self-review: a hardcoded string schema would corrupt
    non-string group keys)."""
    from promptly_data_pipelines_spark.catalog import table

    ev = table(spark, SF_DIR, "events")
    partials = sketch_partials(ev, "value", ["user_id"])
    assert dict(partials.dtypes)["user_id"] == "bigint"
    merged = sketch_rollup(partials, ["user_id"])
    assert dict(merged.dtypes)["user_id"] == "bigint"
    assert merged.count() == ev.select("user_id").distinct().count()


def test_stream_fed_sketch_store_bound_and_exact_n(spark):
    """The streaming ingest (foreachBatch → sketch store → rollup)
    must report EXACT n per group (sketches never lose count) and
    estimates inside their certified bound against the raw data —
    however the engine happened to batch the files. The store holds
    several micro-batches' partials, so the merge is really exercised
    across batch boundaries."""
    import glob
    import os

    from promptly_data_pipelines_spark.catalog import table
    from promptly_data_pipelines_spark.cdc.staging import staging_base
    from promptly_data_pipelines_spark.extensions.quantiles import (
        stream_exec_quantile_sketch,
    )

    out = stream_exec_quantile_sketch(spark, SF_DIR).collect()
    assert out
    store = os.path.join(staging_base(spark, SF_DIR, "stream_sketch"), "store")
    assert len(glob.glob(os.path.join(store, "batch_id=*"))) >= 2
    ev = table(spark, SF_DIR, "events")
    truth = {
        r.event_type: np.sort(np.asarray(r.vals, dtype=np.float64))
        for r in ev.groupBy("event_type").agg(F_collect("value").alias("vals")).collect()
    }
    assert {r.event_type for r in out} == set(truth)
    for r in out:
        vals = truth[r.event_type]
        assert r.n == len(vals)
        target = max(1, int(np.ceil(r.q * r.n)))
        lo = int(np.searchsorted(vals, r.estimate, side="left")) + 1
        hi = max(lo, int(np.searchsorted(vals, r.estimate, side="right")))
        assert lo - r.max_rank_err <= target <= hi + r.max_rank_err


def test_group_schema_quotes_awkward_names(spark):
    """A group column named with a space/dash must survive the
    generated DDL schema string (ADVICE r12: unquoted names made the
    mapInPandas schema unparseable)."""
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .select(
            (F.col("id") % 3).cast("string").alias("group key-1"),
            F.rand(7).alias("value"),
        )
    )
    partials = sketch_partials(df, "value", ["group key-1"])
    merged = sketch_rollup(partials, ["group key-1"])
    assert merged.count() == 3
    assert merged.columns[0] == "group key-1"
    # embedded backtick: refused LOUDLY with the reason — PySpark's
    # own mapInPandas resolves columns via df[raw_name], which its
    # attribute parser rejects, so silent acceptance would only move
    # the failure somewhere inscrutable (r13 review follow-up)
    df2 = df.withColumnRenamed("group key-1", "g`k")
    with pytest.raises(ValueError, match="backtick"):
        sketch_partials(df2, "value", ["g`k"])


def test_serving_rollup_hierarchy_bounds_and_store_only_plan(spark):
    """Day→month→all-time serving (r12 verdict #7): every tier's
    estimate must sit within ITS OWN certified bound against exact
    recomputation of that period's raw values, n must be exact at
    every tier (sketches never lose count), coarser tiers' bounds are
    additive (a merge's err >= the sum of its children's — plus only
    its own compactions), and the returned plan must read ONLY the
    persisted sketch store — the raw events table appears nowhere
    after the day tier is built."""
    from promptly_data_pipelines_spark.catalog import table
    from promptly_data_pipelines_spark.extensions.quantiles import (
        dq_sketch_serving_rollup,
    )
    from pyspark.sql import functions as F

    out = dq_sketch_serving_rollup(spark, SF_DIR)
    # store-only serving: the final plan scans the day-sketch parquet,
    # never the events source
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "day_sketches" in plan, plan[:2000]
    assert "events.parquet" not in plan
    rows = out.collect()
    assert rows

    ev = table(spark, SF_DIR, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    raw = ev.filter(F.col("value").isNotNull()).collect()
    by_day, by_month, by_all = {}, {}, {}
    for r in raw:
        d = str(r.day)
        by_day.setdefault((r.event_type, d), []).append(r.value)
        by_month.setdefault((r.event_type, d[:7]), []).append(r.value)
        by_all.setdefault((r.event_type, "ALL"), []).append(r.value)
    truth = {"day": by_day, "month": by_month, "all": by_all}

    err_by_tier = {}
    for r in rows:
        vals = np.sort(np.asarray(truth[r.level][(r.event_type, r.period)]))
        assert r.n == len(vals), (r.level, r.event_type, r.period)
        target = max(1, int(np.ceil(r.q * r.n)))
        lo = int(np.searchsorted(vals, r.estimate, side="left")) + 1
        hi = max(lo, int(np.searchsorted(vals, r.estimate, side="right")))
        assert lo - r.max_rank_err <= target <= hi + r.max_rank_err, (
            r.level, r.event_type, r.period, r.q,
        )
        err_by_tier.setdefault(r.level, {})[
            (r.event_type, r.period, r.q)
        ] = r.max_rank_err

    # bound additivity up the hierarchy: each month's err >= sum of its
    # days' errs (merge adds child errs; only its own compactions add
    # more), and all-time >= sum of months, per event_type
    day_err = {}
    for (etype, period, q), e in err_by_tier["day"].items():
        if q == 0.5:
            day_err.setdefault((etype, period[:7]), 0)
            day_err[(etype, period[:7])] += e
    for (etype, month, q), e in err_by_tier["month"].items():
        if q == 0.5:
            assert e >= day_err[(etype, month)], (etype, month)
    month_err_sum = {}
    for (etype, month, q), e in err_by_tier["month"].items():
        if q == 0.5:
            month_err_sum.setdefault(etype, 0)
            month_err_sum[etype] += e
    for (etype, period, q), e in err_by_tier["all"].items():
        if q == 0.5:
            assert e >= month_err_sum[etype], etype
