"""Query registry backing the driver contract (__spark_entry__.py).

Every operator from SURVEY.md §2 registers itself here with a name, a
callable ``(spark, sf_dir) -> DataFrame``, and (when SQL-expressible)
an equivalent DuckDB oracle SQL string. The driver runs both at
sf=0.01 and compares row-count + schema + order-insensitive value
hash — so registered queries must alias every computed column
identically on both sides and avoid nondeterminism.

Two tiers, decided by ``_ORDER`` alone:

- **registered**: the names in ``_ORDER``, exposed to the driver
  through ``all_queries()``/``all_oracles()`` in that order. The
  driver records a CORRECTNESS row for at most ~50 queries in
  registration order, so this tier is a curated set of ≤50 composite
  queries that together cover every SURVEY.md §2 operator family.
- **local-only**: every other registered name — fine-grained
  single-operator variants and demonstrations. Not shown to the
  driver, but the local pytest oracle-parity suite
  (tests/test_oracle_parity.py) runs them against DuckDB exactly like
  registered ones, so their correctness stays continuously verified.

Rotating a query between tiers means editing ``_ORDER`` only.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}

# Driver-visible tier and order: one representative per query family
# first (dedup, similarity, text, UDF, DQ, sampling, multimodal), then
# the §2 operator core. Every other registered query is local-only.
_ORDER: tuple[str, ...] = (
    # flagship + LLM-pipeline families, front-loaded so a short
    # correctness window still reaches them
    "flagship_curated",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_near_text",
    "dedup_simhash",
    # entity resolution: pairwise resolve + golden-record survivorship
    "er_resolve_customers",
    "er_golden_records",
    # ANN: exact top-k + the composed cells+codes index maintenance
    "similarity_topk",
    "text_token_counts",
    "ivfpq_index_delta_add",
    "text_tfidf_topk",
    # retrieval: BM25 ranking, index-only phrase match and the serve
    # paths (document-at-a-time BM25, bucket-pruned term lookup)
    "text_bm25_topk",
    "index_positional_phrase",
    "text_bm25_search",
    "index_term_lookup",
    "udf_grouped_map",
    # the two-sided cogroup surface, at a sane group granularity
    "cogroup_order_reconcile_coarse",
    "dq_suite",
    "dataset_split",
    # multimodal: byte-level pipeline plus the real JPEG, MJPEG-AVI and
    # PCM codecs
    "multimodal_pipeline",
    "multimodal_jpeg_roundtrip",
    "multimodal_video_frames",
    "audio_frame_features",
    "corpus_diff",
    # §2 operator core
    "agg_group",
    # distinct counts: KMV set algebra served pairwise from the
    # stream-fed sketch store
    "kmv_serving_overlap_matrix",
    "dedup_latest",
    "join_anti_semi",
    "join_star",
    "join_bucketed",
    # large-large hot-key joins: the measured chooser and the named
    # hot/cold form, on the plain join's oracle
    "join_adaptive_skew",
    "join_hotcold_skew",
    "project_events_clean",
    "scan_csv",
    "scan_warc",
    "sink_partitioned",
    "union_sources",
    "setop_diff",
    "topk_group",
    "window_suite",
    "window_resample_locf",
    "sql_surface_q3",
    "reference_curated_provider",
    "cdc_parse",
    # CDC merge through the real engine across an ALTER TABLE boundary
    "merge_upsert_schema_evolution",
    # streaming: T5/T6 and the per-micro-batch skew chooser run through
    # the Structured Streaming engine
    "stream_exec_tumbling",
    "stream_exec_session",
    "stream_exec_adaptive_join",
    "agg_group_salted",
)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the query ``name``; ``oracle`` is the DuckDB SQL
    the driver runs side-by-side (omit only for non-SQL-expressible ops,
    which the driver then checks rows-only). ``_ORDER`` decides whether
    the driver sees it."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    """Driver-visible queries, in the pinned _ORDER."""
    _load_all()
    return {n: _QUERIES[n] for n in _ORDER}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {n: _ORACLE[n] for n in _ORDER if n in _ORACLE}


def local_only_queries() -> dict[str, QueryFn]:
    """Pytest-only single-operator variants (not driver-visible)."""
    _load_all()
    return {n: f for n, f in _QUERIES.items() if n not in _ORDER}


def local_only_oracles() -> dict[str, str]:
    _load_all()
    return {n: o for n, o in _ORACLE.items() if n not in _ORDER}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (import = register),
    then check every _ORDER name was registered."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        aggregates,
        badrecords,
        bloomjoin,
        bucketing,
        compaction,
        evolution,
        joins,
        layout,
        projections,
        scans,
        setops,
        sorts,
        sql_surface,
        warcsource,
        windows,
    )
    from .cdc import batch, streaming  # noqa: F401
    from .quality import checks, profile  # noqa: F401
    from .pipelines import (  # noqa: F401
        corpus_prep,
        elt_job,
        flagship,
        incremental,
        reference_pipeline,
        web_corpus,
    )
    from .extensions import (  # noqa: F401
        audio,
        classify,
        curation,
        dedup,
        entity,
        graph,
        heavyhitters,
        kmv,
        lines,
        multimodal,
        packing,
        quantiles,
        retrieval,
        sampling,
        similarity,
        snapshot,
        text,
        udfs,
        video,
        web,
    )

    missing = [n for n in _ORDER if n not in _QUERIES]
    if missing:
        raise RuntimeError(f"_ORDER names no registered query: {missing}")
    _LOADED = True


def run(name: str, spark: SparkSession, sf_dir: str) -> Any:
    _load_all()
    return _QUERIES[name](spark, sf_dir)
