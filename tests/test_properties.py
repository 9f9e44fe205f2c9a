"""Property-based tests (hypothesis) for the invariants that example
tests can't sweep: randomized corpora against exact Python mirrors.

The reference ships no property tests (SURVEY.md §5); these go beyond
it. Each property uses a small deterministic profile (derandomize, few
examples) because every example runs real Spark jobs — the value is in
the adversarial shapes hypothesis finds (ties, empty docs, duplicate
tokens, all-rows-in-one-batch arrivals), not in example volume.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import uuid
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from promptly_data_pipelines_spark.cdc.batch import merge_upsert_frames
from promptly_data_pipelines_spark.extensions.dedup import (
    DF_CAP,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from promptly_data_pipelines_spark.extensions.text import words
from promptly_data_pipelines_spark.pipelines.incremental import incremental_run

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

def _bag(df) -> Counter:
    """``df``'s rows as a multiset, from ONE Spark action. The join
    properties compare two of these in Python: ``a - b`` empty is
    ``a.exceptAll(b).isEmpty()``, without re-running both plans per
    check."""
    return Counter(df.collect())


VOCAB = ["a", "b", "c", "ab", "ba"]  # tiny: forces shared shingles

doc_text = st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12).map(" ".join)
corpus = st.lists(
    st.tuples(doc_text, st.sampled_from(["en", "de"])), min_size=2, max_size=14
)


def _shingles(text: str) -> set[str]:
    ws = [w for w in text.split(" ") if w != ""]
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


def _brute_jaccard(docs: list[tuple[int, str, str]], df_cap: int) -> dict:
    """Exact mirror of ngram_jaccard_pairs: per-(shingle,lang) document
    frequency, live shingles have df in [2, cap], intersection counts
    live shingles only, sizes stay pre-cap."""
    gsets = {doc_id: _shingles(text) for doc_id, text, _lang in docs}
    langs = {doc_id: lang for doc_id, _text, lang in docs}
    df: dict = {}
    for doc_id, g in gsets.items():
        for sh in g:
            df[(sh, langs[doc_id])] = df.get((sh, langs[doc_id]), 0) + 1
    out = {}
    ids = sorted(gsets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if langs[a] != langs[b]:
                continue
            live = {
                sh
                for sh in gsets[a] & gsets[b]
                if 2 <= df[(sh, langs[a])] <= df_cap
            }
            c = len(live)
            if c == 0:
                continue
            j = c / (len(gsets[a]) + len(gsets[b]) - c)
            if j >= 0.5:
                out[(a, b)] = j
    return out


@SETTINGS
@given(corpus=corpus)
def test_jaccard_matches_bruteforce(spark, corpus):
    docs = [(i, text, lang) for i, (text, lang) in enumerate(corpus)]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    handle: list = []
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, cache_handle=handle).collect()
    }
    for cached in handle:  # deterministic unpersist: 6 examples/run
        cached.unpersist()
    want = _brute_jaccard(docs, DF_CAP)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


@SETTINGS
@given(corpus=st.lists(doc_text, min_size=1, max_size=10))
def test_simhash_swar_matches_plain_vote(spark, corpus):
    """The SWAR bit-sliced signature must equal the plain per-bit
    majority vote computed from the SAME word hashes — which since r6
    is the md5-derived 63-bit hash, recomputed here in pure Python
    (hashlib) so the check is engine-independent."""
    import hashlib

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    def h63(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[16:32], 16) & ((1 << 63) - 1)

    hashes = {
        r["doc_id"]: [h63(w) for w in r["ws"]]
        for r in df.select("doc_id", words("text").alias("ws")).collect()
    }
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    for doc_id, hs in hashes.items():
        if not hs:  # empty docs drop out of the signature table
            assert doc_id not in got
            continue
        sig = 0
        for i in range(63):
            pop = sum((h >> i) & 1 for h in hs)
            if 2 * pop > len(hs):
                sig |= 1 << i
        assert got[doc_id] == sig, f"doc {doc_id}: {got[doc_id]} != {sig}"


merge_case = st.dictionaries(
    st.integers(min_value=0, max_value=5),  # key space with collisions
    st.tuples(
        st.lists(st.integers(min_value=0, max_value=9), unique=True, max_size=3),
        st.lists(st.integers(min_value=0, max_value=9), unique=True, max_size=3),
    ),
    min_size=1,
    max_size=6,
)


@SETTINGS
@given(case=merge_case)
def test_merge_upsert_matches_replay(spark, case):
    """merge_upsert must equal the naive replay: per key, the highest
    ts wins; on an exact ts tie the UPDATE side wins."""
    snap_rows, upd_rows = [], []
    for key, (snap_ts, upd_ts) in case.items():
        snap_rows += [(key, t, f"s{key}:{t}") for t in snap_ts]
        upd_rows += [(key, t, f"u{key}:{t}") for t in upd_ts]
    if not snap_rows or not upd_rows:
        return
    schema = "k long, ts long, payload string"
    merged = merge_upsert_frames(
        spark.createDataFrame(snap_rows, schema),
        spark.createDataFrame(upd_rows, schema),
        "k",
        order_cols=("ts",),
    )
    got = {r["k"]: (r["ts"], r["payload"]) for r in merged.collect()}
    want = {}
    for side, rows in ((0, snap_rows), (1, upd_rows)):
        for k, t, p in rows:
            if k not in want or (t, side) > (want[k][0], want[k][1]):
                want[k] = (t, side, p)
    assert got == {k: (t, p) for k, (t, side, p) in want.items()}


compact_case = st.tuples(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), st.integers(min_value=0, max_value=999)),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=10),  # target rows per file
)


@SETTINGS
@given(case=compact_case)
def test_compaction_preserves_multiset_and_bounds_files(spark, case):
    """For ANY input distribution and target size: compaction preserves
    the exact row multiset and no output file exceeds the target."""
    import pyarrow.parquet as pq

    from promptly_data_pipelines_spark.operators.compaction import compact_partitioned

    rows, target = case
    base = os.path.join(tempfile.gettempdir(), f"pdp_comp_prop_{uuid.uuid4().hex[:8]}")
    try:
        src, out = os.path.join(base, "src"), os.path.join(base, "out")
        df = spark.createDataFrame(
            [(f"p{p}", i, v) for i, (p, v) in enumerate(rows)],
            "part string, row_id long, v long",
        )
        df.repartition(4).write.partitionBy("part").parquet(src)
        compact_partitioned(spark, src, out, "part", target_rows_per_file=target)
        got = sorted(
            (r["part"], r["row_id"], r["v"])
            for r in spark.read.parquet(out).collect()
        )
        want = sorted((f"p{p}", i, v) for i, (p, v) in enumerate(rows))
        assert got == want
        for f in spark.read.parquet(out).inputFiles():
            assert pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows <= target
    finally:
        shutil.rmtree(base, ignore_errors=True)


arrivals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=27),  # day offset
        st.sampled_from(["click", "view"]),
        st.integers(min_value=0, max_value=100),  # integer-valued double
        st.integers(min_value=0, max_value=2),  # arrival batch — arbitrary lateness
    ),
    min_size=1,
    max_size=30,
)


@SETTINGS
@given(rows=arrivals)
def test_incremental_converges_under_any_arrival_order(spark, rows):
    """The incremental rollup must equal the full recompute no matter
    how rows are scattered across arrival batches — including empty
    batches and maximal lateness (old days arriving last)."""
    wh = os.path.join(tempfile.gettempdir(), f"pdp_incr_prop_{uuid.uuid4().hex[:8]}")
    try:
        data = [
            (i, f"2024-01-{d + 1:02d} 12:00:00", et, float(v), b)
            for i, (d, et, v, b) in enumerate(rows)
        ]
        df = spark.createDataFrame(
            data, "event_id long, ts_s string, event_type string, value double, b int"
        ).withColumn("ts", F.to_timestamp("ts_s"))
        for bid in range(3):
            batch = df.filter(F.col("b") == bid).select("event_id", "ts", "event_type", "value")
            incremental_run(spark, batch, f"b{bid}", wh)
        got = {
            # partition inference may type day as DATE; str() of either
            # form is the yyyy-MM-dd key
            (str(r["day"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.read.parquet(os.path.join(wh, "rollup", "daily")).collect()
        }
        want: dict = {}
        for _i, (d, et, v, _b) in enumerate(rows):
            key = (f"2024-01-{d + 1:02d}", et)
            n, s = want.get(key, (0, 0.0))
            want[key] = (n + 1, s + float(v))
        assert got == {k: (n, round(s, 2)) for k, (n, s) in want.items()}
    finally:
        shutil.rmtree(wh, ignore_errors=True)


pii_token = st.sampled_from(
    [
        "hello",
        "a.b@x.io",
        "10.0.0.1",
        "123-45-6789",
        "not-an-ip-1.2.3",
        "x@y",  # not an email (no TLD)
        "1.2.3.4.5",  # ambiguous dotted run
        "me+tag@mail.example.com",
        "999-99-9999",
        "12-34-5678",  # not an SSN shape
    ]
)


@SETTINGS
@given(texts=st.lists(st.lists(pii_token, max_size=8).map(" ".join), min_size=1, max_size=12))
def test_pii_scrub_is_idempotent_and_total(spark, texts):
    """scrub(scrub(x)) == scrub(x), and the scrubbed text matches NONE
    of the PII patterns (replacement tokens carry no digits, so no
    rewrite can manufacture a new match)."""
    from promptly_data_pipelines_spark.extensions.text import _PII_PATTERNS, scrub_pii

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    once = df.select("i", scrub_pii("text").alias("s1"))
    twice = once.select("i", "s1", scrub_pii(F.col("s1")).alias("s2"))
    leftovers = [
        F.regexp_extract("s1", pat, 0).alias(f"m{j}")
        for j, (pat, _r) in enumerate(_PII_PATTERNS)
    ]
    rows = twice.select("s1", "s2", *leftovers).collect()
    for r in rows:
        assert r["s1"] == r["s2"], f"not idempotent: {r['s1']!r} -> {r['s2']!r}"
        for j in range(len(_PII_PATTERNS)):
            assert r[f"m{j}"] == "", f"pattern {j} still matches scrubbed {r['s1']!r}"


pack_corpus = st.lists(
    st.tuples(
        # None: unidentified language — must pack, never silently drop
        st.sampled_from(["en", "de", None]),
        st.lists(st.sampled_from(["tok", "xx", "longer-token"]), max_size=6).map(" ".join),
    ),
    min_size=1,
    max_size=16,
)


@SETTINGS
@given(docs=pack_corpus)
def test_pack_assignments_match_sequential_mirror(spark, docs):
    """Concat-and-chunk packing must equal the sequential mirror for
    ANY corpus and a small budget that forces bin boundaries: exclusive
    prefix starts per lang in doc_id order, bin = start DIV budget."""
    from promptly_data_pipelines_spark.extensions.packing import pack_assignments

    budget = 7
    df = spark.createDataFrame(
        [(i, lang, text) for i, (lang, text) in enumerate(docs)],
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["start_token"], r["bin_id"], r["bin_offset"])
        for r in pack_assignments(df, budget=budget, shard_docs=3).collect()
    }
    running: dict = {}
    for i, (lang, text) in enumerate(docs):
        n = len([w for w in text.split(" ") if w])
        start = running.get(lang, 0)
        running[lang] = start + n
        assert got[i] == (n, start, start // budget, start % budget), (
            f"doc {i} ({lang}): {got[i]} != {(n, start, start // budget, start % budget)}"
        )


@SETTINGS
@given(s=st.text(min_size=0, max_size=40))
def test_md5_hash_family_cross_engine(spark, s):
    """The r6 hash primitives (_md5_word masks) must be value-identical
    across Spark, DuckDB, and pure Python on arbitrary strings — this
    equality is what lets minhash/simhash driver rows be oracle-checked
    at all."""
    import hashlib

    import duckdb

    from promptly_data_pipelines_spark.extensions.dedup import (
        _MASK58,
        _MASK62,
        _MASK63,
        _md5_word,
    )

    hx = hashlib.md5(s.encode()).hexdigest()
    py = (
        int(hx[16:32], 16) & _MASK63,
        int(hx[16:32], 16) & _MASK62,
        int(hx[0:16], 16) & _MASK58,
    )
    row = (
        spark.range(1)
        .select(
            _md5_word(F.lit(s), 17, _MASK63),
            _md5_word(F.lit(s), 17, _MASK62),
            _md5_word(F.lit(s), 1, _MASK58),
        )
        .first()
    )
    duck = duckdb.execute(
        """select
        CAST(('0x'||substr(md5(?),17,16))::UBIGINT % 9223372036854775808 AS BIGINT),
        CAST(('0x'||substr(md5(?),17,16))::UBIGINT % 4611686018427387904 AS BIGINT),
        CAST(('0x'||substr(md5(?),1,16))::UBIGINT % 288230376151711744 AS BIGINT)""",
        [s, s, s],
    ).fetchone()
    assert tuple(row) == py == tuple(duck)


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference union-find: node -> min-id representative."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_converges_logarithmically_on_path_graph(spark):
    """VERDICT r5 #5: the large/small-star loop claims O(log n)
    rounds. A 4096-node path is the adversarial depth case — naive
    min-label propagation needs ~4096 rounds (O(diameter)); the star
    alternation must finish in ~log2(4096)=12 (13 measured; pinned
    with slack at 16, far under max_iter=50). Counted via the loop's
    stats out-param, not wall time."""
    from promptly_data_pipelines_spark.extensions.dedup import connected_components

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(4095)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    rows = connected_components(df, stats=stats).collect()
    assert stats["rounds"] <= 16, f"path-4096 took {stats['rounds']} rounds"
    assert len(rows) == 4096
    assert {r.cluster_rep for r in rows} == {0}


def test_cc_two_clique_bridge(spark):
    """Two 20-cliques joined by a single bridge edge: the bridge must
    merge them into ONE component rooted at the global min, within a
    constant round count (3 measured, pinned at 6)."""
    from promptly_data_pipelines_spark.extensions.dedup import connected_components

    edges = (
        [(i, j) for i in range(20) for j in range(i + 1, 20)]
        + [(100 + i, 100 + j) for i in range(20) for j in range(i + 1, 20)]
        + [(19, 100)]
    )
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    stats: dict = {}
    rows = connected_components(df, stats=stats).collect()
    assert stats["rounds"] <= 6
    got = {r.doc_id: r.cluster_rep for r in rows}
    assert set(got.values()) == {0} and len(got) == 40


random_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)
    ),
    min_size=1,
    max_size=40,
)


@SETTINGS
@given(edges=random_edges)
def test_cc_matches_union_find(spark, edges):
    """connected_components must agree with a reference union-find on
    arbitrary random graphs (self-loops and duplicate/reversed edges
    included — the operator must canonicalize them away)."""
    from promptly_data_pipelines_spark.extensions.dedup import connected_components

    real = [(a, b) for a, b in edges if a != b]
    if not real:  # all self-loops: no edge survives, result is empty
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        assert connected_components(df).count() == 0
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_rep for r in connected_components(df).collect()}
    assert got == _union_find_components(real)


# ---------------------------------------------------------------- bloom

bloom_keys = st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=30)


def _py_bloom_positions(key: int, m_bits: int) -> list[int]:
    """Pure-Python mirror of bloomjoin._positions (md5 hex windows)."""
    import hashlib

    hexd = hashlib.md5(str(key).encode()).hexdigest()
    return [int(hexd[8 * i : 8 * i + 8], 16) % m_bits for i in range(3)]


@SETTINGS
@given(keys=bloom_keys, probes=bloom_keys)
def test_bloom_matches_python_mirror(spark, keys, probes):
    """Spark's bitset build and membership predicate agree with a
    pure-Python bloom over the same md5 hash family — in particular
    ZERO false negatives on any inserted keyset, including negative
    keys, duplicates, and colliding positions."""
    from promptly_data_pipelines_spark.operators.bloomjoin import (
        M_BITS,
        build_bloom,
        might_contain,
    )

    dim = spark.createDataFrame([(k,) for k in keys], "k long")
    bloom = build_bloom(dim, "k")

    # python mirror bitset (signed-64 semantics per word)
    words_py = [0] * (M_BITS // 64)
    for k in keys:
        for pos in _py_bloom_positions(k, M_BITS):
            w, b = divmod(pos, 64)
            bit = 1 << b if b < 63 else -(1 << 63)
            # bit_or over signed longs == bitwise or of the patterns
            words_py[w] |= bit & ((1 << 64) - 1)
    # normalize to signed
    words_py = [w - (1 << 64) if w >= (1 << 63) else w for w in words_py]
    assert bloom == words_py

    probe_df = spark.createDataFrame([(p,) for p in set(keys) | set(probes)], "k long")
    got = {
        r["k"]: r["hit"]
        for r in probe_df.select(
            "k", might_contain(F.col("k"), bloom).alias("hit")
        ).collect()
    }
    for p in got:
        expect = all(
            (words_py[pos // 64] >> (pos % 64)) & 1
            or (pos % 64 == 63 and words_py[pos // 64] < 0)
            for pos in _py_bloom_positions(p, M_BITS)
        )
        assert got[p] == expect, f"key {p}: spark={got[p]} python={expect}"
        if p in set(keys):
            assert got[p], f"false negative on inserted key {p}"


# ---------------------------------------------------------- sessionize

session_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # user_id
        st.integers(min_value=0, max_value=200 * 60_000),  # ts offset ms
    ),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(evs=session_events)
def test_sessionize_gaps_matches_python_mirror(spark, evs):
    """Random event streams (duplicate timestamps, exact-boundary
    gaps, single-event users) must sessionize identically to a
    sequential Python mirror of the >30-minute rule."""
    import datetime as dt

    from promptly_data_pipelines_spark.operators.windows import (
        SESSION_GAP_MS,
        sessionize_gaps,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(milliseconds=off), int(u), "view", 1.0, "{}")
        for i, (u, off) in enumerate(evs)
    ]
    d = str(os.path.join(tempfile.gettempdir(), f"pdp_sess_prop_{uuid.uuid4().hex}"))
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))

    got = {
        (r["user_id"], r["session_idx"]): r["n_events"]
        for r in sessionize_gaps(spark, d).collect()
    }

    # python mirror: per user, order by (ms, event_id), new session on
    # gap > SESSION_GAP_MS
    per_user: dict[int, list[tuple[int, int]]] = {}
    for i, (u, off) in enumerate(evs):
        per_user.setdefault(u, []).append((off, i))
    want: dict[tuple[int, int], int] = {}
    for u, lst in per_user.items():
        lst.sort()
        idx = 0
        prev = None
        for off, _i in lst:
            if prev is None or off - prev > SESSION_GAP_MS:
                idx += 1
            want[(u, idx)] = want.get((u, idx), 0) + 1
            prev = off
    assert got == want
    shutil.rmtree(d, ignore_errors=True)


def test_bpe_trainer_matches_sequential_reference(spark):
    """bpe_train vs a from-scratch sequential BPE (Sennrich 2016
    pseudocode: count weighted adjacent pairs, argmax with (count desc,
    pair asc) tie-break, greedy left-to-right merge scan) on the real
    corpus word counts: the merge tables must be identical, step for
    step. This is the correctness evidence for the iterative trainer —
    the data-dependent argmax per round makes a one-shot SQL oracle
    impossible."""
    from collections import Counter

    import duckdb

    from conftest import SF_DIR
    from promptly_data_pipelines_spark.extensions.curation import (
        BPE_MERGES,
        BPE_MIN_PAIR,
        bpe_train,
    )
    from promptly_data_pipelines_spark.registry import run

    wc_rows = duckdb.connect().execute(
        f"""SELECT word, count(*) AS n FROM (
              SELECT unnest(string_split(text, ' ')) AS word
              FROM read_parquet('{SF_DIR}/documents.parquet'))
            WHERE word <> '' GROUP BY word"""
    ).fetchall()

    def seq_bpe(wc, n_merges):
        seqs = [(list(w), n) for w, n in wc]
        out = []
        for step in range(n_merges):
            counts = Counter()
            for s, n in seqs:
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] += n
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            if c < BPE_MIN_PAIR:
                break
            out.append((step, a, b, a + b, c))
            merged = a + b
            nxt = []
            for s, n in seqs:
                r, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        r.append(merged)
                        i += 2
                    else:
                        r.append(s[i])
                        i += 1
                nxt.append((r, n))
            seqs = nxt
        return out

    expected = seq_bpe(wc_rows, BPE_MERGES)
    got = [
        (r.step, r.tok_a, r.tok_b, r.merged, r.pair_count)
        for r in run("bpe_train_merges", spark, SF_DIR).collect()
    ]
    assert got == expected
    assert len(got) > 0, "corpus must yield at least one merge"


def test_pca_projection_matches_numpy_reference(spark):
    """embedding_pca_project vs single-process numpy PCA on the same
    vectors: same mean/covariance/eigh pipeline, same sign rule.
    Tolerance-based (1e-8 absolute on unit-scale data): the
    distributed covariance sums partials in partition order, so the
    last float ulps differ from numpy's row order."""
    import duckdb
    import numpy as np

    from conftest import SF_DIR
    from promptly_data_pipelines_spark.extensions.similarity import PCA_K
    from promptly_data_pipelines_spark.registry import run

    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype="float64")
    mean = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    comps = vecs[:, ::-1][:, :PCA_K].T.copy()
    for i in range(PCA_K):
        j = np.flatnonzero(np.abs(comps[i]) > 1e-12)
        if len(j) and comps[i, j[0]] < 0:
            comps[i] = -comps[i]
    expected = (x - mean) @ comps.T

    # eigengap sanity: with a degenerate spectrum the component basis
    # is not unique and a coordinate-wise compare would be meaningless
    top = vals[::-1][: PCA_K + 1]
    assert np.min(np.abs(np.diff(top))) > 1e-9, "degenerate eigengap"

    got_rows = {r.vec_id: r.proj for r in run("embedding_pca_project", spark, SF_DIR).collect()}
    got = np.array([got_rows[i] for i in ids])
    np.testing.assert_allclose(got, expected, atol=1e-8)


# --------------------------------------------------- line dedup property

line_word = st.sampled_from(["x", "y", "z", "nav"])
line_text = st.lists(line_word, min_size=1, max_size=3).map(" ".join)
line_corpus = st.lists(  # doc -> its ordered lines
    st.lists(line_text, min_size=1, max_size=5), min_size=1, max_size=8
)


@SETTINGS
@given(corpus=line_corpus)
def test_line_dedup_matches_python_mirror(spark, corpus):
    """line_dedup vs a direct Python mirror on tiny random corpora
    drawn from a 4-word vocabulary (forces cross-doc line collisions,
    within-doc repeats, and all-hot documents): kept-line reassembly
    and the distinct-doc census must agree exactly."""
    from collections import defaultdict

    from pyspark.sql import Row

    from promptly_data_pipelines_spark.extensions.lines import line_dedup

    min_df = 3
    rows = [
        Row(doc_id=d, seg_idx=i, line=ln)
        for d, lines in enumerate(corpus)
        for i, ln in enumerate(lines)
    ]

    docs_per_line = defaultdict(set)
    for r in rows:
        docs_per_line[r.line].add(r.doc_id)
    hot = {ln for ln, ds in docs_per_line.items() if len(ds) >= min_df}
    expected = {}
    for d, lines in enumerate(corpus):
        kept = [ln for ln in lines if ln not in hot]
        if kept:
            expected[d] = (len(kept), " ".join(kept))

    got = {
        r.doc_id: (r.n_lines_kept, r.clean_text)
        for r in line_dedup(
            spark.createDataFrame(rows, "doc_id long, seg_idx long, line string"),
            min_doc_freq=min_df,
        ).collect()
    }
    assert got == expected


# --- r8: URL canonicalization properties -----------------------------------

url_token = st.sampled_from(
    ["a", "b", "p1", "x.html", "ref", "refresh", "utm_x", "fbclid", "id"]
)
url_strategy = st.builds(
    lambda scheme, www, host, port, segs, params, frag: (
        f"{scheme}://{'www.' if www else ''}{host}{port}"
        + "".join(f"/{s}" for s in segs)
        + ("?" + "&".join(f"{k}={i}" for i, k in enumerate(params)) if params else "")
        + frag
    ),
    st.sampled_from(["http", "https", "HTTP", "HtTpS"]),
    st.booleans(),
    st.sampled_from(["ex.com", "Sub.Shop.co", "localhost", "h.io"]),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.lists(url_token, min_size=0, max_size=3),
    st.lists(url_token, min_size=0, max_size=4),
    st.sampled_from(["", "#frag", "#a/b?c=1"]),
)


@SETTINGS
@given(urls=st.lists(url_strategy, min_size=1, max_size=8))
def test_canonical_url_idempotent_and_shape(spark, urls):
    """canonical_url is IDEMPOTENT (canonicalizing a canonical URL is a
    no-op — the property that makes a crawl frontier's dedup key
    stable across re-crawls) and shape-normal: https scheme, no
    fragment, no tracking params, sorted query, no trailing slash.
    Hypothesis sweeps scheme case, www/ports, dotless hosts, tracking
    and tracking-lookalike params (refresh vs ref), and fragments."""
    from promptly_data_pipelines_spark.extensions.web import (
        TRACKING_KEYS,
        TRACKING_PREFIX,
        canonical_url,
    )

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c1"))
    twice = once.select("c1", canonical_url(F.col("c1")).alias("c2"))
    for r in twice.collect():
        assert r.c1 == r.c2, f"not idempotent: {r.c1!r} -> {r.c2!r}"
        assert r.c1.startswith("https://")
        assert "#" not in r.c1
        assert not r.c1.endswith("/")
        if "?" in r.c1:
            q = r.c1.split("?", 1)[1]
            parts = q.split("&")
            assert parts == sorted(parts), f"query not sorted: {r.c1!r}"
            for p in parts:
                key = p.split("=", 1)[0]
                assert not key.startswith(TRACKING_PREFIX), r.c1
                assert key not in TRACKING_KEYS, r.c1


@SETTINGS
@given(urls=st.lists(url_strategy, min_size=2, max_size=8))
def test_canonical_url_matches_python_mirror(spark, urls):
    """canonical_url against an independent pure-Python mirror of the
    documented spec — catches drift between the expression tree and
    the intended semantics (not just between the two SQL engines,
    which share the spec's blind spots)."""
    import re as _re

    from promptly_data_pipelines_spark.extensions.web import (
        TRACKING_KEYS,
        TRACKING_PREFIX,
        canonical_url,
    )

    def mirror(u: str) -> str:
        u = _re.sub(r"#.*$", "", u)
        u = _re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*://", "", u)
        m = _re.match(r"^([^/?]+)", u)
        host = (m.group(1) if m else "").lower()
        host = _re.sub(r"^www\.", "", host)
        host = _re.sub(r":(443|80)$", "", host)
        pm = _re.match(r"^[^/?]+(/[^?]*)?", u)
        path = _re.sub(r"/+$", "", pm.group(1) or "" if pm else "")
        qm = _re.search(r"\?(.*)$", u)
        raw = (qm.group(1) if qm else "").split("&")
        kept = sorted(
            p
            for p in raw
            if p != ""
            and not p.startswith(TRACKING_PREFIX)
            and p.split("=", 1)[0] not in TRACKING_KEYS
        )
        return "https://" + host + path + ("?" + "&".join(kept) if kept else "")

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [mirror(u) for u in urls]


# --- heavy hitters: MG census vs exact Python counter ----------------

hh_keys = st.lists(
    st.sampled_from(["k1", "k2", "k3", "k4", "k5", "k6", "k7", "k8"]),
    min_size=1,
    max_size=60,
)


@SETTINGS
@given(keys=hh_keys, support=st.sampled_from([0.05, 0.15, 0.3]))
def test_heavy_hitters_match_exact_counter(spark, keys, support):
    """Any key multiset, minimal lossless capacity (⌈1/s⌉−1), hostile
    partitioning (3 partitions over ≤60 rows): the census must equal
    the exact Counter filtered at strictly-greater support — including
    boundary multiplicities hypothesis lands exactly on n·s."""
    from collections import Counter

    from promptly_data_pipelines_spark.extensions.heavyhitters import heavy_hitters

    df = spark.createDataFrame([(k,) for k in keys], "key string").repartition(3)
    got = {
        r["key"]: r["n_occurrences"]
        for r in heavy_hitters(df, "key", support=support).collect()
    }
    n = len(keys)
    want = {k: c for k, c in Counter(keys).items() if c > n * support}
    assert got == want


# --- WARC record serialization: write → parse identity ----------------

# header VALUES: no CR/LF (writer rejects those — smuggling guard) and
# no leading/trailing whitespace (the parser strips per RFC-style
# header semantics); payloads are arbitrary unicode including
# separators and header lookalikes — Content-Length framing must not
# care what's inside
_hdr_text = st.text(
    alphabet=st.characters(blacklist_characters="\r\n", blacklist_categories=("Cs",)),
    min_size=1,
    max_size=30,
).map(lambda s: "h" + s.strip() + "h")
_payload_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)
_warc_rows = st.lists(
    st.tuples(_hdr_text, _hdr_text, _hdr_text, _hdr_text, _payload_text),
    min_size=1,
    max_size=8,
)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(rows=_warc_rows)
def test_warc_record_roundtrip_property(rows):
    """Pure-Python (no Spark): any header-legal field values and ANY
    payload — including embedded record separators and header
    lookalikes — must survive serialize→parse bit-exactly, with
    content_length equal to the payload's UTF-8 byte length."""
    import io

    from promptly_data_pipelines_spark.operators.warcsource import (
        _parse_warc_stream,
        _warc_record_bytes,
    )

    blob = b"".join(
        _warc_record_bytes(rid, wt, uri, wd, p) for rid, wt, uri, wd, p in rows
    )
    parsed = list(_parse_warc_stream(io.BytesIO(blob)))
    assert len(parsed) == len(rows)
    for (rid, wt, uri, wd, p), got in zip(rows, parsed):
        assert got == (rid, wt, uri, wd, len(p.encode("utf-8")), p)


# ------------------------------------------------ retrieval properties

retrieval_doc = st.lists(
    st.sampled_from(["table", "scan", "merge", "x", "table scan"]),
    min_size=0,
    max_size=12,
).map(" ".join)


@SETTINGS
@given(corpus=st.lists(retrieval_doc, min_size=1, max_size=10))
def test_phrase_search_matches_python_mirror(spark, corpus):
    """index_phrase_search vs a direct token-list scan: same matching
    docs, same counts, same first positions — hypothesis supplies the
    adversarial shapes (phrase at doc edges, overlapping 'table table
    scan', empty docs, docs shorter than the phrase)."""
    import pandas as pd

    from promptly_data_pipelines_spark.extensions.retrieval import (
        index_phrase_search,
    )

    tmp = tempfile.mkdtemp(prefix="pdp_phrase_prop_")
    try:
        df = pd.DataFrame(
            {
                "doc_id": range(len(corpus)),
                "text": corpus,
                "lang": "en",
                "source": "web",
            }
        )
        df["doc_id"] = df["doc_id"].astype("int64")
        df["n_chars"] = df["text"].str.len().astype("int64")
        df.to_parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r.doc_id: (r.n_matches, r.first_pos)
            for r in index_phrase_search(spark, tmp).collect()
        }
        want = {}
        for i, text in enumerate(corpus):
            toks = [w for w in text.split(" ") if w]
            hits = [
                p
                for p in range(len(toks) - 1)
                if toks[p] == "table" and toks[p + 1] == "scan"
            ]
            if hits:
                want[i] = (len(hits), hits[0])
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@SETTINGS
@given(
    corpus=st.lists(retrieval_doc, min_size=1, max_size=10),
    split_bits=st.lists(st.booleans(), min_size=10, max_size=10),
)
def test_index_delta_merge_equals_full_rebuild_any_split(spark, corpus, split_bits):
    """The merge theorem for ARBITRARY disjoint splits (the registered
    query only exercises doc_id % 5): for every hypothesis-chosen
    base/delta partition, merge_indexes(build(A), build(B)) must equal
    build(A ∪ B) row-for-row — df, cf, and the capped postings head."""
    from promptly_data_pipelines_spark.extensions.retrieval import (
        _build_index,
        merge_indexes,
    )

    docs = [
        (i, text, "en", "web")
        for i, text in enumerate(corpus)
        if text.split()  # empty docs index nothing on either side
    ]
    if not docs:
        return
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    ids = [i for i, *_ in docs if split_bits[i % 10]]
    base = df.where(F.col("doc_id").isin(ids)) if ids else df.limit(0)
    delta = df.subtract(base)
    full = {
        r.term: (r.df, r.cf, r.postings_head)
        for r in _build_index(df)
        .withColumn("postings_head", F.array_join("head", ","))
        .drop("head")
        .collect()
    }
    merged = {
        r.term: (r.df, r.cf, r.postings_head)
        for r in merge_indexes(_build_index(base), _build_index(delta)).collect()
    }
    assert merged == full


@SETTINGS
@given(bits=st.lists(st.booleans(), min_size=7, max_size=7))
def test_er_incremental_equals_full_any_split(spark, bits):
    """The incremental-ER theorem for ARBITRARY record splits (the
    registered query only exercises originals-then-variants): for any
    base/new partition of the record set — including ones that cut an
    entity across batches — prior assignments re-entered as
    rep→member edges plus delta-only candidate pairs must resolve to
    EXACTLY the from-scratch entities. Split keys use rec_id % 7
    (1e6 % 7 == 1, so each typo class lands one bucket over from its
    original — entities genuinely straddle the split)."""
    from promptly_data_pipelines_spark.extensions.entity import (
        _er_pairs,
        _er_records,
        _label,
    )
    from conftest import SF_DIR

    records = _er_records(spark, SF_DIR)
    sel = [i for i in range(7) if bits[i]]
    base = records.where(F.col("rec_id") % 7 == -1) if not sel else records.where(
        (F.col("rec_id") % 7).isin(sel)
    )
    new = records.subtract(base)
    prior = _label(base, _er_pairs(base, base))
    prior_edges = prior.where(F.col("rec_id") != F.col("entity_id")).select(
        F.col("entity_id").alias("doc_a"), F.col("rec_id").alias("doc_b")
    )
    inc = _label(records, prior_edges.unionByName(_er_pairs(new, records)))
    full = _label(records, _er_pairs(records, records))
    got = {(r.rec_id, r.entity_id, r.entity_size) for r in inc.collect()}
    want = {(r.rec_id, r.entity_id, r.entity_size) for r in full.collect()}
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # join key (few → collisions)
            st.integers(min_value=0, max_value=999),  # payload
        ),
        min_size=0,
        max_size=60,
    ),
    dim=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.text(alphabet="abc", min_size=1, max_size=3),
        ),
        min_size=0,
        max_size=12,
    ),
    hot_min=st.integers(min_value=1, max_value=20),
    n_salts=st.integers(min_value=2, max_value=8),
)
def test_salted_join_transparent_any_input(spark, rows, dim, hot_min, n_salts):
    """salted_inner_join == plain inner join for ARBITRARY inputs and
    thresholds: duplicate keys on both sides, keys hot by any margin,
    empty frames — salting is a physical rewrite, never a semantic
    one."""
    from promptly_data_pipelines_spark.operators.joins import salted_inner_join

    probe = spark.createDataFrame(
        [(k, v) for k, v in rows], "k bigint, payload bigint"
    )
    build = spark.createDataFrame(
        [(k, s) for k, s in dim], "bk bigint, tag string"
    )
    plain = probe.join(build, probe["k"] == build["bk"], "inner").select(
        "k", "payload", "tag"
    )
    salted = salted_inner_join(
        probe, build, "k", "bk", n=n_salts, hot_min_rows=hot_min
    ).select("k", "payload", "tag")
    got, want = _bag(salted), _bag(plain)
    assert not got - want  # salted.exceptAll(plain) is empty
    assert not want - got  # plain.exceptAll(salted) is empty
    assert got.total() == want.total()  # multiset equality both ways
    # the strategy rival under the identical inputs (r12): hot/cold
    # split must be transparent too, whatever the threshold classifies
    from promptly_data_pipelines_spark.operators.joins import hotcold_split_join

    split = hotcold_split_join(
        probe, build, "k", "bk", hot_min_rows=hot_min
    ).select("k", "payload", "tag")
    split_bag = _bag(split)
    assert not split_bag - want  # split.exceptAll(plain) is empty
    assert not want - split_bag  # plain.exceptAll(split) is empty
    assert split_bag.total() == want.total()


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=0,
        max_size=40,
    ),
    dim=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.text(alphabet="abc", min_size=1, max_size=3),
        ),
        min_size=0,
        max_size=12,
    ),
)
def test_null_routed_left_join_transparent_any_input(spark, rows, dim):
    """null_routed_left_join == plain left join for ARBITRARY inputs:
    NULL keys on either side, duplicate build keys, empty frames — the
    NULL routing is a physical rewrite, never a semantic one (NULL
    equi-matches nothing, in the build side too)."""
    from promptly_data_pipelines_spark.operators.joins import (
        null_routed_left_join,
    )

    probe = spark.createDataFrame(rows, "k bigint, payload bigint")
    build = spark.createDataFrame(dim, "bk bigint, tag string")
    plain = probe.join(build, probe["k"] == build["bk"], "left").select(
        "k", "payload", "bk", "tag"
    )
    routed = null_routed_left_join(probe, build, "k", "bk").select(
        "k", "payload", "bk", "tag"
    )
    got, want = _bag(routed), _bag(plain)
    assert not got - want  # routed.exceptAll(plain) is empty
    assert not want - got  # plain.exceptAll(routed) is empty
    assert got.total() == want.total()


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=0,
        max_size=40,
    ),
    dim=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.text(alphabet="abc", min_size=1, max_size=3),
        ),
        min_size=0,
        max_size=12,
    ),
    hot_min=st.integers(min_value=1, max_value=20),
    n_salts=st.integers(min_value=2, max_value=8),
)
def test_salted_left_join_transparent_any_input(spark, rows, dim, hot_min, n_salts):
    """salted_left_join == plain left join for ARBITRARY inputs and
    thresholds: NULL keys on both sides, duplicate build keys (a probe
    row must meet every matching build row exactly once through the
    salt), keys hot by any margin, empty frames."""
    from promptly_data_pipelines_spark.operators.joins import salted_left_join

    probe = spark.createDataFrame(rows, "k bigint, payload bigint")
    build = spark.createDataFrame(dim, "bk bigint, tag string")
    plain = probe.join(build, probe["k"] == build["bk"], "left").select(
        "k", "payload", "bk", "tag"
    )
    salted = salted_left_join(
        probe, build, "k", "bk", n=n_salts, hot_min_rows=hot_min
    ).select("k", "payload", "bk", "tag")
    got, want = _bag(salted), _bag(plain)
    assert not got - want  # salted.exceptAll(plain) is empty
    assert not want - got  # plain.exceptAll(salted) is empty
    assert got.total() == want.total()


def test_null_routed_left_join_refuses_overlapping_columns(spark):
    """Same-named columns on both sides would make the joined output
    ambiguous — fail loudly before the engine does."""
    from promptly_data_pipelines_spark.operators.joins import (
        null_routed_left_join,
    )

    a = spark.createDataFrame([(1, 2)], "k bigint, tag bigint")
    b = spark.createDataFrame([(1, 3)], "bk bigint, tag bigint")
    with pytest.raises(ValueError, match="tag"):
        null_routed_left_join(a, b, "k", "bk")


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=0,
        max_size=40,
    ),
    dim=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.text(alphabet="abc", min_size=1, max_size=3),
        ),
        min_size=0,
        max_size=12,
    ),
    bcast_max=st.integers(min_value=0, max_value=15),
    hot_min=st.integers(min_value=1, max_value=20),
)
def test_adaptive_join_transparent_any_thresholds(spark, rows, dim, bcast_max, hot_min):
    """adaptive_inner_join == plain inner join for ARBITRARY inputs and
    ANY threshold combination — whichever branch the measurements pick
    (broadcast/plain/hotcold/salted), strategy is physics, never
    semantics."""
    from promptly_data_pipelines_spark.operators.joins import (
        adaptive_inner_join,
        choose_join_strategy,
    )

    probe = spark.createDataFrame(rows, "k bigint, payload bigint")
    build = spark.createDataFrame(dim, "bk bigint, tag string")
    plain = probe.join(build, probe["k"] == build["bk"], "inner").select(
        "k", "payload", "tag"
    )
    adaptive = adaptive_inner_join(
        probe, build, "k", "bk",
        broadcast_max_rows=bcast_max, hot_min_rows=hot_min,
    ).select("k", "payload", "tag")
    # two-directional exceptAll emptiness IS multiset equality
    got, want = _bag(adaptive), _bag(plain)
    assert not got - want  # adaptive.exceptAll(plain) is empty
    assert not want - got  # plain.exceptAll(adaptive) is empty
    # the chooser itself is total: it always names a strategy
    assert choose_join_strategy(
        probe, build, "k", "bk",
        broadcast_max_rows=bcast_max, hot_min_rows=hot_min,
    ) in {"broadcast", "plain", "hotcold", "salted"}


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            # ~1/4 NULL keys: the outer chooser must compose NULL
            # routing with whichever strategy the census picks
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=0,
        max_size=40,
    ),
    dim=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.text(alphabet="abc", min_size=1, max_size=3),
        ),
        min_size=0,
        max_size=12,
    ),
    bcast_max=st.integers(min_value=0, max_value=15),
    hot_min=st.integers(min_value=1, max_value=20),
)
def test_adaptive_left_join_transparent_any_thresholds(
    spark, rows, dim, bcast_max, hot_min
):
    """adaptive_left_join == plain left join for ARBITRARY inputs —
    including NULL probe keys, duplicate build keys, and empty sides —
    under ANY threshold combination: every branch (broadcast / routed
    plain / routed hotcold / routed salted) is a physical rewrite,
    never a semantic one."""
    from promptly_data_pipelines_spark.operators.joins import adaptive_left_join

    probe = spark.createDataFrame(rows, "k bigint, payload bigint")
    build = spark.createDataFrame(dim, "bk bigint, tag string")
    plain = probe.join(build, probe["k"] == build["bk"], "left").select(
        "k", "payload", "tag"
    )
    adaptive = adaptive_left_join(
        probe, build, "k", "bk",
        broadcast_max_rows=bcast_max, hot_min_rows=hot_min,
    ).select("k", "payload", "tag")
    # two-directional exceptAll emptiness IS multiset equality
    got, want = _bag(adaptive), _bag(plain)
    assert not got - want  # adaptive.exceptAll(plain) is empty
    assert not want - got  # plain.exceptAll(adaptive) is empty


def test_salted_join_refuses_reserved_salt_column(spark):
    """A caller frame that already carries '_salt' must fail LOUDLY —
    withColumn would silently overwrite it and the output drop would
    eat the user's column (ADVICE r12)."""
    import pytest

    from promptly_data_pipelines_spark.operators.joins import salted_inner_join

    probe = spark.createDataFrame([(1, 9)], "k bigint, _salt bigint")
    build = spark.createDataFrame([(1, "a")], "bk bigint, tag string")
    with pytest.raises(ValueError, match="_salt"):
        salted_inner_join(probe, build, "k", "bk")
    with pytest.raises(ValueError, match="_salt"):
        salted_inner_join(
            probe.select("k"), build.withColumn("_salt", F.lit(0)), "k", "bk"
        )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=300).map(sorted)
)
def test_varint_delta_codec_roundtrip(positions):
    """delta-varint postings codec: exact round-trip for ANY sorted
    non-negative sequence (dups included — zero gaps are legal), and
    the encoding never exceeds the naive 8-byte-per-value bound."""
    from promptly_data_pipelines_spark.extensions.retrieval import (
        _varint_delta_decode,
        _varint_delta_encode,
    )

    blob = _varint_delta_encode(positions)
    assert _varint_delta_decode(blob) == list(positions)
    assert len(blob) <= 8 * max(1, len(positions))


# --- snapshot-store lifecycle (r15: tags + expiry + time travel) ----------

store_ops = st.lists(
    st.one_of(
        st.just(("commit",)),
        st.tuples(st.just("tag"), st.integers(0, 2), st.booleans()),
        st.tuples(st.just("untag"), st.integers(0, 2)),
        st.tuples(st.just("expire"), st.integers(2, 4)),
        # r16: a tag re-point that CRASHES between delete(ptr) and
        # rename(tmp, ptr) — the window the r15 judge flagged as
        # silently unpinning a snapshot. Recovery must complete the
        # move, so the model commits it.
        st.tuples(st.just("tag_crash"), st.integers(0, 2), st.booleans()),
        # r16 branches: fork (at head or oldest), commit on the
        # branch, fast-forward merge (conflict iff main moved since
        # the fork), delete
        st.tuples(st.just("branch"), st.integers(0, 2), st.booleans()),
        st.tuples(st.just("branch_commit"), st.integers(0, 2)),
        st.tuples(st.just("merge"), st.integers(0, 2)),
        st.tuples(st.just("delete_branch"), st.integers(0, 2)),
    ),
    min_size=1,
    max_size=12,
)


@SETTINGS
@given(ops=store_ops)
def test_snapshot_store_lifecycle_invariants(spark, ops):
    """Adversarial pin of the snap-dir store's lifecycle semantics
    against a pure-Python model, under ANY interleaving of commits,
    tagging (head or oldest-retained), tag deletion, and expiry:
    (a) the committed state is always readable and equals the model;
    (b) every retained batch time-travels to exactly its own rows;
    (c) expire_snapshots removes precisely model-retained minus
        (newest keep_last ∪ committed ∪ tagged) — the committed and
        tagged snapshots are NEVER expired;
    (d) list_tags always round-trips the model's tag map — INCLUDING
        after a tag re-point crashed between delete and rename
        (the 'tag_crash' op): recovery promotes the orphaned tmp, so
        a mid-retag crash can no longer unpin a snapshot (r16);
    (e) r16 branches: a fresh branch reads as its fork base, branch
        commits stay invisible to main, merge fast-forwards exactly
        when main's committed snapshot is still the fork base (loud
        conflict otherwise, branch left intact), merge consumes the
        branch, and a live branch's base is never expired."""
    import os
    import tempfile

    from promptly_data_pipelines_spark.operators import snapshot_store as SS
    from promptly_data_pipelines_spark.operators.fs import FileSystemOps

    tgt = tempfile.mkdtemp(prefix="pdp_store_prop_")
    fs = FileSystemOps(spark)
    snaps: set[int] = set()
    committed: int | None = None
    tags: dict[str, int] = {}
    payloads: dict[int, tuple] = {}  # main snap id -> its (batch, payload) row
    branches: dict[str, dict] = {}   # name -> {base, snaps: {id: row}, committed}
    next_id = 0
    names = ["alpha", "beta", "gamma"]

    def write_snap(root: str, bid: int, row: tuple) -> None:
        spark.createDataFrame([row], "batch bigint, payload string") \
            .coalesce(1).write.mode("overwrite").parquet(f"{root}/snap-{bid}")
        tmp = f"{root}/_LATEST.tmp-{bid}"
        fs.put_text(tmp, f"snap-{bid}")
        fs.delete(f"{root}/_LATEST")
        fs.rename(tmp, f"{root}/_LATEST")

    def commit(bid: int) -> None:
        payloads[bid] = (bid, f"v{bid}")
        write_snap(tgt, bid, payloads[bid])

    for op in ops:
        if op[0] == "commit":
            commit(next_id)
            snaps.add(next_id)
            committed = next_id
            next_id += 1
        elif op[0] == "branch":
            name = names[op[1]]
            if committed is None:
                with pytest.raises(FileNotFoundError):
                    SS.branch_snapshot(spark, tgt, name)
                continue
            if name in branches:
                with pytest.raises(ValueError, match="already exists"):
                    SS.branch_snapshot(spark, tgt, name)
                continue
            base = committed if op[2] else min(snaps)
            assert SS.branch_snapshot(spark, tgt, name, batch_id=base) == base
            branches[name] = {"base": base, "snaps": {}, "committed": None}
        elif op[0] == "branch_commit":
            name = names[op[1]]
            if name not in branches:
                continue
            b = branches[name]
            bid = (max(b["snaps"]) if b["snaps"] else b["base"]) + 1
            row = (bid, f"b{name}{bid}")
            write_snap(f"{tgt}/_BRANCH-{name}", bid, row)
            b["snaps"][bid] = row
            b["committed"] = bid
        elif op[0] == "merge":
            name = names[op[1]]
            if name not in branches:
                with pytest.raises(FileNotFoundError):
                    SS.merge_branch(spark, tgt, name)
                continue
            b = branches[name]
            if committed != b["base"]:
                with pytest.raises(ValueError, match="merge conflict"):
                    SS.merge_branch(spark, tgt, name)
                continue  # branch must survive a conflict — checked below
            got = SS.merge_branch(spark, tgt, name)
            if b["committed"] is None:
                assert got == b["base"]  # nothing to merge: trivial ff
            else:
                minted = max(snaps) + 1
                assert got == minted
                payloads[minted] = b["snaps"][b["committed"]]
                snaps.add(minted)
                committed = minted
                # the sink mints max(engine id, committed+1); the
                # model's direct-commit counter must respect the same
                next_id = max(next_id, minted + 1)
            del branches[name]
        elif op[0] == "delete_branch":
            name = names[op[1]]
            SS.delete_branch(spark, tgt, name)
            branches.pop(name, None)
        elif op[0] == "tag":
            name = names[op[1]]
            if committed is None:
                with pytest.raises(FileNotFoundError):
                    SS.tag_snapshot(spark, tgt, name)
                continue
            target = committed if op[2] else min(snaps)
            got = SS.tag_snapshot(spark, tgt, name, batch_id=target)
            assert got == target
            tags[name] = target
        elif op[0] == "untag":
            name = names[op[1]]
            SS.delete_tag(spark, tgt, name)
            tags.pop(name, None)
        elif op[0] == "tag_crash":
            name = names[op[1]]
            if committed is None:
                continue
            target = committed if op[2] else min(snaps)
            # simulate tag_snapshot dying between delete(ptr) and
            # rename(tmp, ptr): the tmp holds the new target, the
            # pointer is gone — the exact window that used to lose
            # the tag (and its pin) silently
            fs.put_text(f"{tgt}/_TAG.tmp-{name}", f"snap-{target}")
            fs.delete(f"{tgt}/_TAG-{name}")
            tags[name] = target  # recovery must complete the move
        elif op[0] == "expire":
            keep_last = op[1]
            if committed is None:
                assert SS.expire_snapshots(spark, tgt, keep_last=keep_last) == []
                continue
            newest = set(sorted(snaps)[-keep_last:])
            keep = (
                newest
                | {committed}
                | set(tags.values())
                | {b["base"] for b in branches.values()}
            )
            expect = sorted(snaps - keep)
            assert SS.expire_snapshots(spark, tgt, keep_last=keep_last) == expect
            snaps -= set(expect)

        # invariants after every op
        assert SS.list_tags(spark, tgt) == tags
        assert SS.list_branches(spark, tgt) == {
            n: b["base"] for n, b in branches.items()
        }
        if committed is None:
            continue
        head = SS.read_upsert_target(spark, tgt).collect()
        assert [(r.batch, r.payload) for r in head] == [payloads[committed]]
        hist = {h["batch_id"] for h in SS.upsert_history(spark, tgt)}
        assert hist == snaps
        for b in snaps:
            rows = SS.read_upsert_target(spark, tgt, as_of_batch=b).collect()
            assert [(r.batch, r.payload) for r in rows] == [payloads[b]]
        for name, b in tags.items():
            rows = SS.read_upsert_target(spark, tgt, as_of_tag=name).collect()
            assert [(r.batch, r.payload) for r in rows] == [payloads[b]]
        for name, b in branches.items():
            want = (
                b["snaps"][b["committed"]]
                if b["committed"] is not None
                else payloads[b["base"]]
            )
            rows = SS.read_branch(spark, tgt, name).collect()
            assert [(r.batch, r.payload) for r in rows] == [want]
