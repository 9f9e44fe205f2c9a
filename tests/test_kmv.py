"""KMV / theta distinct sketch (extensions/kmv.py): mergeable-form
bit-equality with the declarative form, exact-when-small, accuracy
contract vs true cardinalities, set-algebra consistency identities,
and merge order-insensitivity. Oracle value parity for the two
queries runs in tests/test_oracle_parity.py like every registry
entry; these tests cover what the oracle can't — closeness to TRUTH
(the oracle replays the same estimator, so it can't catch a biased
one) and the distributed partial/merge path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from promptly_data_pipelines_spark.catalog import table
from promptly_data_pipelines_spark.extensions.kmv import (
    KMV_K,
    POW2_60,
    kmv_estimate,
    kmv_hash,
    kmv_merge,
    kmv_sketch,
    kmv_sketch_partials,
)

from conftest import SF_DIR


def _user_day_col():
    return F.concat_ws(
        "/",
        F.col("user_id"),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"),
    )


@pytest.fixture(scope="module")
def events(spark):
    return table(spark, SF_DIR, "events")


def test_partials_merge_bit_equal_to_declarative(spark, events):
    """The 100 TB path (bounded per-partition partials + kilobyte
    merge) must produce the IDENTICAL sketch as the declarative
    window form — k-smallest-distinct is an associative reduction, so
    any divergence is a bug, not noise. Repartitioning the input
    changes partial boundaries and must not change the result."""
    declarative = {
        r["event_type"]: r["hashes"]
        for r in kmv_sketch(events, ["event_type"], _user_day_col()).collect()
    }
    for nparts in (1, 7):
        partials = kmv_sketch_partials(
            events.repartition(nparts), ["event_type"], _user_day_col()
        )
        merged = {
            r["event_type"]: r["hashes"]
            for r in kmv_merge(partials, ["event_type"]).collect()
        }
        assert merged == declarative, f"nparts={nparts}"


def test_partials_are_bounded(spark, events):
    """Every partial sketch row carries at most k hashes — the bound
    that makes the shuffle kilobytes instead of rows."""
    partials = kmv_sketch_partials(
        events.repartition(5), ["event_type"], _user_day_col()
    )
    sizes = [r["n"] for r in partials.select(F.size("hashes").alias("n")).collect()]
    assert sizes and max(sizes) <= KMV_K


def test_exact_when_small(spark, events):
    """A group with fewer than k distinct keys keeps every hash:
    theta pins to 2^60 and the 'estimate' is the exact count."""
    est = {
        r["event_type"]: r
        for r in kmv_estimate(
            kmv_sketch(events, ["event_type"], F.col("user_id"))
        ).collect()
    }
    truth = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for seg, row in est.items():
        if truth[seg] < KMV_K:
            assert row["theta"] == 1 << 60
            assert row["est_distinct"] == truth[seg] == row["sketch_size"]


def test_estimate_accuracy_contract(spark, events):
    """KMV relative error has stdev ~1/sqrt(k-2); assert every
    segment estimate is within 4 sigma of the true distinct user-day
    count. k=32 forces the ESTIMATION branch even at the small test
    SF (where the default k=256 would hold every segment exactly);
    deterministic data + hash, so this either always passes or flags
    a real estimator bug."""
    k = 32
    est = {
        r["event_type"]: r["est_distinct"]
        for r in kmv_estimate(
            kmv_sketch(events, ["event_type"], _user_day_col(), k=k), k=k
        ).collect()
    }
    truth = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct(_user_day_col()).alias("n"))
        .collect()
    }
    tol = 4.0 / np.sqrt(k - 2)
    assert any(n > k for n in truth.values()), "fixture no longer exercises estimation"
    for seg, n_true in truth.items():
        if n_true <= k:
            assert est[seg] == n_true
        else:
            rel = abs(est[seg] - n_true) / n_true
            assert rel <= tol, f"{seg}: est={est[seg]} true={n_true} rel={rel:.3f}"


def test_set_ops_consistency_and_accuracy(spark):
    """Sample counts rebuilt independently via python set algebra on
    the theta-clipped sketches, plus truth-accuracy: each estimate
    within 4 sigma of its own binomial sampling error, floored at the
    sample grain (1/theta_norm per sample entry). Pinned to sf0.01,
    where segments exceed k=256 so the clip/rescale path is real (at
    sf0.001 the sketches are exact and theta never clips)."""
    from promptly_data_pipelines_spark.registry import run

    sf_dir = "/root/testdata/sf0.01"
    row = run("agg_kmv_set_ops", spark, sf_dir).collect()[0]
    assert row["theta"] < 1 << 60, "fixture no longer exercises the clipped path"
    events = table(spark, sf_dir, "events")

    # independently rebuild the theta-clipped samples and check the
    # query's sample counts against python set algebra
    ud = _user_day_col()
    seg_sketch = kmv_estimate(
        kmv_sketch(
            events.filter(F.col("event_type").isin("click", "purchase")),
            ["event_type"],
            ud,
        )
    )
    by_seg = {r["event_type"]: r for r in seg_sketch.collect()}
    theta = min(by_seg["click"]["theta"], by_seg["purchase"]["theta"])
    sa = {h for h in by_seg["click"]["hashes"] if h < theta}
    sb = {h for h in by_seg["purchase"]["hashes"] if h < theta}
    assert row["theta"] == theta
    assert row["union_sample"] == len(sa | sb)
    assert row["inter_sample"] == len(sa & sb)
    assert row["diff_sample"] == len(sa - sb)
    a = events.filter(F.col("event_type") == "click").select(ud.alias("ud")).distinct()
    b = (
        events.filter(F.col("event_type") == "purchase")
        .select(ud.alias("ud"))
        .distinct()
    )
    true_union = a.union(b).distinct().count()
    true_inter = a.intersect(b).count()
    true_diff = a.exceptAll(a.intersect(b)).count()

    theta_norm = row["theta"] / POW2_60
    for est, n_sample, n_true in (
        (row["est_union"], row["union_sample"], true_union),
        (row["est_intersection"], row["inter_sample"], true_inter),
        (row["est_difference"], row["diff_sample"], true_diff),
    ):
        if n_sample == 0:
            continue
        # binomial sampling: stdev of the sample count is
        # sqrt(n_true * theta * (1 - theta)); rescale to estimate units
        sigma_est = np.sqrt(n_true * theta_norm * (1 - theta_norm)) / theta_norm
        assert abs(est - n_true) <= 4 * sigma_est + 1 / theta_norm, (
            f"est={est} true={n_true} sigma={sigma_est:.1f}"
        )


def test_rollup_merge_equals_from_scratch(spark, events):
    """Mergeability theorem: the k smallest of the UNION of the
    per-segment retained minima equals the KMV sketch built from
    scratch over the ungrouped corpus — so a persisted per-segment
    sketch store answers any coarser rollup exactly as a full rescan
    would."""
    seg = kmv_sketch(events, ["event_type"], _user_day_col())
    merged = sorted(
        {h for r in seg.collect() for h in r["hashes"]}
    )[:KMV_K]
    scratch = kmv_sketch(
        events.withColumn("_g", F.lit(1)), ["_g"], _user_day_col()
    ).collect()[0]["hashes"]
    assert merged == scratch


def test_merge_is_idempotent_and_commutative_numpy():
    """Pure-python property of the reduction the Spark forms rely on:
    sorted-unique-truncate over any partition of the input, in any
    order, equals the single-pass result."""
    rng = np.random.RandomState(7)
    vals = rng.randint(0, 1 << 60, size=5000, dtype=np.int64)
    k = 64
    single = np.unique(vals)[:k]
    for seed in range(3):
        order = np.random.RandomState(seed).permutation(len(vals))
        chunks = np.array_split(vals[order], 9)
        partials = [np.unique(c)[:k] for c in chunks]
        merged = np.unique(np.concatenate(partials))[:k]
        assert np.array_equal(merged, single)


def test_stream_fed_store_equals_batch(spark):
    """The streaming-fed merged sketch must be BIT-EQUAL to the batch
    query — k-smallest-distinct is batching-independent, which is what
    licenses the streaming query's full value oracle. The store holds
    several micro-batches' partials, so that independence is really
    exercised."""
    import glob
    import os

    from promptly_data_pipelines_spark.cdc.staging import staging_base
    from promptly_data_pipelines_spark.registry import run

    streamed = [tuple(r) for r in run("stream_exec_kmv_sketch", spark, SF_DIR).collect()]
    batch = [tuple(r) for r in run("agg_kmv_distinct", spark, SF_DIR).collect()]
    assert streamed == batch
    store = os.path.join(staging_base(spark, SF_DIR, "kmv_store"), "store")
    assert len(glob.glob(os.path.join(store, "batch_id=*"))) >= 2


def test_null_keys_excluded_and_forms_agree(spark):
    """NULL keys must not consume sketch slots (COUNT(DISTINCT)
    semantics) and the declarative and mergeable forms must agree on
    nullable input — the r13 review found the window form silently
    SHRANK the sketch (NULLS FIRST ate rank 1, collect_list dropped
    it) while the partial form crashed on the int64 cast."""
    k = 4
    rows = [("a", None)] + [("a", f"k{i}") for i in range(10)] + [("b", None)]
    df = spark.createDataFrame(rows, "g string, key string")
    decl = {
        r["g"]: r["hashes"]
        for r in kmv_sketch(df, ["g"], F.col("key"), k=k).collect()
    }
    assert len(decl["a"]) == k, "NULL consumed a sketch slot"
    assert "b" not in decl or decl["b"] == []  # all-NULL group: no sketch row
    merged = {
        r["g"]: r["hashes"]
        for r in kmv_merge(
            kmv_sketch_partials(df.repartition(3), ["g"], F.col("key"), k=k),
            ["g"],
            k=k,
        ).collect()
    }
    assert merged == decl


def test_kmv_hash_matches_duckdb(spark, oracle_con):
    """The 60-bit md5 slice must agree digit-for-digit across engines
    — the whole oracle strategy rests on it."""
    keys = ["42/2024-01-01", "", "user", "7/1999-12-31"]
    sdf = spark.createDataFrame([(k,) for k in keys], "key string").select(
        "key", kmv_hash(F.col("key")).alias("hv")
    )
    got = {r["key"]: r["hv"] for r in sdf.collect()}
    for k in keys:
        exp = oracle_con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)", [k]
        ).fetchone()[0]
        assert got[k] == exp, k


def test_set_ops_one_row_even_with_empty_segment(spark, tmp_path):
    """r13 ADVICE: the set-ops output must mirror the oracle's
    always-one-row counts CTE. A fixture where one segment (or both)
    is absent previously produced ZERO rows (crossJoin of an empty
    side) — a confusing parity failure instead of the oracle's
    one row of zero counts."""
    from promptly_data_pipelines_spark.registry import run

    base = table(spark, SF_DIR, "events")
    # click-only slice: the purchase side is empty
    base.filter(F.col("event_type") == "click").write.parquet(
        str(tmp_path / "one" / "events.parquet")
    )
    row = run("agg_kmv_set_ops", spark, str(tmp_path / "one")).collect()
    assert len(row) == 1
    r = row[0]
    assert r["inter_sample"] == 0 and r["diff_sample"] == r["union_sample"] > 0
    assert r["est_intersection"] == 0

    # neither segment present: one row, zero counts, NULL theta/estimates
    base.filter(F.col("event_type") == "error").write.parquet(
        str(tmp_path / "none" / "events.parquet")
    )
    row = run("agg_kmv_set_ops", spark, str(tmp_path / "none")).collect()
    assert len(row) == 1
    r = row[0]
    assert r["union_sample"] == 0 and r["theta"] is None and r["est_union"] is None


def test_overlap_matrix_serving_equals_direct(spark):
    """r13 verdict #5: the serving matrix answered from the stream-fed
    sketch STORE must equal the same matrix computed directly from
    batch sketches over the raw rows — the store adds no error (KMV
    merge is batching-independent), it only removes the rescan."""
    from promptly_data_pipelines_spark.extensions.kmv import (
        kmv_overlap_matrix,
    )
    from promptly_data_pipelines_spark.registry import run

    served = [r.asDict() for r in run("kmv_serving_overlap_matrix", spark, SF_DIR).collect()]
    ev = table(spark, SF_DIR, "events")
    direct = [
        r.asDict()
        for r in kmv_overlap_matrix(
            kmv_sketch(ev, ["event_type"], _user_day_col()), "event_type"
        ).collect()
    ]
    assert served == direct
    # shape + invariants: all unordered segment pairs, bounded ratios
    n_seg = ev.select("event_type").distinct().count()
    assert len(served) == n_seg * (n_seg - 1) // 2
    for row in served:
        assert row["seg_a"] < row["seg_b"]
        assert 0.0 <= row["jaccard"] <= 1.0
        assert row["jaccard"] <= row["overlap_coef"] <= 1.0
        assert row["inter_sample"] <= row["union_sample"]
        assert row["est_intersection"] <= row["est_union"]
