"""Regenerate docs/QUERIES.md and docs/PLANS.md from the registry at
HEAD: ``python docs/generate.py`` (run from the repo root; needs the
sf0.01 testdata for the explain output).

PLANS.md prose lives in _PLAN_NOTES below — edit it here, never in the
generated file. Every property a note calls out is regression-pinned
in tests/test_plan_quality.py; this doc is the human-readable review
of the same plans.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

ROTATION_POLICY = """\
## Tier & rotation policy

The registry is two-tiered (registry.py), and `registry._ORDER` alone
decides the tier:

- **registered**: the driver-visible tier, exactly the 50 names in
  `registry._ORDER`, in that order (the loader raises if a name is not
  registered). The driver records a CORRECTNESS row per registered
  query, and its window holds ~50 rows — so this tier is a curated set
  of composite queries covering every SURVEY.md §2 operator family,
  ordered family-representatives-first.
- **local-only**: every other registered query — fine-grained
  single-operator variants and demonstrations. Not driver-visible, but
  tests/test_oracle_parity.py runs BOTH tiers against DuckDB
  identically on every pytest run, so local-tier correctness is
  continuously verified, not grandfathered.

**Rotation**: when a new query deserves a driver row and the window
is full, a query whose semantics the newcomer supersedes is demoted
to the local tier by editing `_ORDER` only (swap the name — count
stays 50); `@query` takes just a name and an oracle. Demotion is safe
because the local tier keeps full oracle parity in pytest; what
changes is only which 50 rows the driver records. Two rules keep the
window honest: no operator family may lose its last driver row, and a
demoted query keeps its oracle so parity coverage never shrinks. The
r5–r16 rotation log is in BASELINE.md.
"""

# name -> prose note for PLANS.md (what the plan MUST show and why)
_PLAN_NOTES: dict[str, str] = {
    "flagship_curated": """\
The headline curated pipeline. What to check: every parquet scan
carries `PushedFilters` and a pruned `ReadSchema` (customer reads
exactly (c_custkey, c_nationkey)); region/nation join as
BroadcastHashJoin; the latest-wins dedup runs as WindowGroupLimit
(Partial below the exchange, Final above — each partition keeps one
row per user before the shuffle); the user-cardinality dim
deliberately has NO broadcast hint — AQE decides, the correct call
at 100×.""",
    "join_star": """\
J5 star join (the OMOP star shape). What to check: every dimension
side is a BroadcastExchange (plan-pinned) so the fact table shuffles
exactly once for the final aggregation — at 100 TB the fact scan
streams through map-side joins; dims are KB-scale.""",
    "dedup_ngram_jaccard": """\
The r3/r4 rewrite, current as of r5 — grouped-by-shingle pair
generation with the df-cap pre-filter. What to check, top to bottom:

1. ONE corpus scan: the shingled frame is persisted
   (InMemoryRelation) and feeds both branches — the df-count
   hot-shingle pre-filter and the posting lists. All `Scan parquet`
   occurrences in the tree share one node id (pinned:
   test_jaccard_single_corpus_scan).
2. The hot-shingle guard sits BELOW the collect: a
   `BroadcastHashJoin LeftAnti` (build side = the over-cap df-count
   aggregate, a tiny Zipf head) drops every posting of an over-cap
   shingle map-side, BEFORE the ObjectHashAggregate that
   collect_lists the postings — so no reduce task ever materializes
   more than df_cap postings for one shingle (pinned:
   test_jaccard_hot_shingles_dropped_before_collect; bound pinned on
   adversarial data: test_jaccard_df_cap_bounds_hot_shingle_postings).
   `capped_postings(broadcast_hot=False)` selects the shuffle-anti
   fallback for a corpus whose hot head outgrows broadcast; the
   exchange it adds is on (sh, lang) — the same partitioning the
   downstream groupBy needs.
3. Pair generation is in-row (higher-order functions over the sorted
   posting list: ordered pairs + size-band prune) — no posting
   self-join, no re-shingling below any exchange (pinned:
   test_explode_heavy_exprs_not_recomputed_below_exchange).""",
    "dedup_simhash": """\
SWAR bit-sliced SimHash + banded Hamming join. What to check: the
64-bit signature is aggregated with bit-parallel integer ops (no
per-bit rows), candidate pairs come from equi-joins on band keys
(pigeonhole: Hamming ≤ 3 ⟹ one of 4 bands matches exactly) — a
shuffle on band keys, never an all-pairs product.""",
    "dedup_near_text": """\
MinHash-LSH candidates. What to check: signatures aggregate per doc
in one pass; the band → bucket-join generates candidates through an
equi-join on (band, bucket, lang) — linear + shuffle; the short-doc
and df guards drop degenerate buckets before the join.""",
    "dedup_near_text_exact": """\
LSH candidates → EXACT in-row Jaccard verify (r8 — the dense-crawl
scale path for the n-gram verifier). What to check: candidates come
from the shared band-bucket equi-join (_lsh_candidate_pairs — same
semantics as dedup_near_text by construction); the verify is two
plain equi-joins of the candidate pairs onto the per-doc shingle-set
table followed by one in-row array_intersect — no per-shingle pair
stream ever exists (the inverted-index form emits S·C(c,2) rows per
dense cluster, measured 318× at 10× rows), and no df-cap is needed
because no posting list is materialized. Pinned: no
CartesianProduct/nested-loop join, cached signature relation
(test_near_text_exact_plan_shape).""",
    "similarity_topk_ivfpq": """\
IVF×PQ composite (r8 — the FAISS IVFx,PQy serving shape). What to
check: candidates are an equi-join of cell assignments with the
BROADCAST probe table (never a pair product); the ADC stage joins
candidates to the 4 B/vector codes and the broadcast partial-distance
table — raw vectors appear only in the shortlist re-rank join; no
Python anywhere. Pinned: BroadcastHashJoin present, no
CartesianProduct, no EvalPython (test_ivfpq_plan_shape).""",
    "dedup_embedding_cosine": """\
Embedding-cosine near-dup pairs. What to check: the pair join is a
ShuffledHashJoin on the 16-way salted block key — `hint(
"shuffle_hash")` pins it even with tiny local size stats, because at
100 TB the build side IS the corpus and a broadcast would OOM
(pinned: test_embedding_cosine_no_corpus_broadcast — no
BroadcastExchange anywhere in this plan).""",
    "similarity_topk": """\
Exact ANN baseline. What to check: the tiny query set (5 vectors) is
the BroadcastExchange side against the full corpus scan; cosine is
JVM-side zip_with/aggregate (no Python in the plan); per-query top-k
via window rank over the broadcast-joined scores — one corpus pass.""",
    "text_repetition": """\
Gopher-style repetition quality filters in ONE fused pass. What to
check: a single `Scan parquet` node id and ZERO join nodes (pinned:
test_text_repetition_single_scan_no_joins) — words and bigrams are
tagged structs concatenated into one array, so one explode feeds one
(doc, kind, token) count and one per-doc conditional-aggregate
rollup. Both agg stages show partial/final HashAggregate pairs
(map-side combine); both exchanges hash on doc_id. The naive
base/word/bigram three-branch form scans the corpus 3× — what this
plan exists to avoid.""",
    "dedup_cluster_cc": """\
Pairs → transitive clusters. The displayed plan covers the pair
stage (identical to dedup_ngram_jaccard) plus the final label/size
rollup; the star rounds in between are a driver loop of
localCheckpoint-truncated groupBy+join rounds — each round's plan is
two hash aggregations and one join, all keyed by node id, and the
loop count is O(log n) (pinned on a 64-node path:
test_connected_components_transitive_and_log_rounds). What to check
in the visible plan: no transitive-closure join (the oracle's
recursive CTE is the small-data mirror, not the Spark plan) and no
collect of the edge set — fixed-point detection is an agg of
(count, hash-sum) on the checkpointed frame.""",
    "sample_temperature_mix": """\
UniMax/mT5 temperature rebalancing. What to check: the per-lang
stats subtree is lang-cardinality rows feeding two
BroadcastExchanges (total weight, feasible cap) and the final join
back onto the corpus is a BroadcastHashJoin on lang — the corpus
itself never shuffles, sorts, or windows; the keep decision is a
per-row md5-bucket predicate against the broadcast integer
threshold.""",
    "stream_late_drop": """\
The deterministic batch twin of the watermark semantics (the real
engine runs in stream_exec_late_drop, whose plan is a streaming
micro-batch plan — not dumpable here; its semantics are pinned by
the driver oracle + test_stream_exec_late_drop_actually_drops).
What to check here: per-batch max is a distributed groupBy; the
unpartitioned prefix-max window runs on the tiny batch-summary
table (rows = batches, not events); the watermark table broadcasts
back onto arrivals.""",
}

GROUPED_MAP_STORY = """\
## The grouped-map family (udf_grouped_map*)

Three forms, measured every round (bench.py secondary lines):

- `udf_grouped_map_coarse` — the HEADLINE form: ~100 entity buckets,
  so each applyInPandas call amortizes its Python invocation over
  ~100 rows. This is the realistic shape for per-entity model
  scoring at scale (you batch entities; you don't call Python per
  tiny group).
- `udf_grouped_map` — the 10k-tiny-groups WORST CASE, kept as a
  recorded secondary line so the per-call applyInPandas tax stays
  visible (~12× the JVM twin at sf0.1). The plan is identical to the
  coarse form (FlatMapGroupsInPandas after one exchange); only the
  group cardinality differs — the lesson is about call granularity,
  not plan shape.
- `udf_grouped_map_window_twin` — the same semantics expressed as a
  zero-Python JVM window; the floor the Pandas path is measured
  against.

What to check in all three plans: exactly one Exchange (the groupBy
key), ArrowEvalPython/FlatMapGroupsInPandas for the Python forms
(never BatchEvalPython — pinned: test_udf_queries_are_arrow_vectorized),
and no Python at all in the window twin.
"""


def gen_queries_md() -> str:
    from promptly_data_pipelines_spark.registry import (
        all_oracles,
        all_queries,
        local_only_oracles,
        local_only_queries,
    )

    reg_q, reg_o = all_queries(), all_oracles()
    loc_q, loc_o = local_only_queries(), local_only_oracles()

    def first_line(fn) -> str:
        doc = (fn.__doc__ or "").strip().split("\n")[0]
        return doc[:72]

    out = [
        "# Query index",
        "",
        "Auto-generated by `python docs/generate.py`; regenerate after",
        "adding or rotating operators.",
        "",
        ROTATION_POLICY,
        "## Driver-visible queries (registered, in registration order)",
        "",
        f"{len(reg_q)} queries; {len(reg_o)} oracle-checked, "
        f"{len(reg_q) - len(reg_o)} rows-only.",
        "",
        "| # | query | check | description |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(reg_q.items(), 1):
        check = "oracle" if name in reg_o else "rows-only"
        out.append(f"| {i} | `{name}` | {check} | {first_line(fn)} |")
    out += [
        "",
        "## Local-only queries (pytest parity tier)",
        "",
        f"{len(loc_q)} queries; {len(loc_o)} oracle-checked in pytest "
        "(tests/test_oracle_parity.py runs both tiers identically).",
        "",
        "| query | check | description |",
        "|---|---|---|",
    ]
    for name, fn in sorted(loc_q.items()):
        check = "oracle" if name in loc_o else "rows-only"
        out.append(f"| `{name}` | {check} | {first_line(fn)} |")
    out.append("")
    return "\n".join(out)


def gen_plans_md(spark) -> str:
    from promptly_data_pipelines_spark.registry import all_queries, local_only_queries

    queries = {**all_queries(), **local_only_queries()}
    out = [
        "# Plan review — key physical plans at sf0.01",
        "",
        "Auto-generated by `python docs/generate.py`",
        "(`explain(\"formatted\")` at HEAD) for the plan-quality-critical",
        "queries; the properties called out in each note are",
        "regression-pinned in `tests/test_plan_quality.py`.",
        "",
    ]
    for name, note in _PLAN_NOTES.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            queries[name](spark, SF_DIR).explain("formatted")
        out += [f"## {name}", "", note, "", "```", buf.getvalue().rstrip(), "```", ""]
    out.append(GROUPED_MAP_STORY)
    return "\n".join(out)


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "QUERIES.md"), "w") as f:
        f.write(gen_queries_md())
    print("wrote QUERIES.md")

    from promptly_data_pipelines_spark.session import get_session

    spark = get_session("pdp-docs", cpus=8, shuffle_partitions=8)
    with open(os.path.join(here, "PLANS.md"), "w") as f:
        f.write(gen_plans_md(spark))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
