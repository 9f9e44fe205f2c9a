"""Degenerate-input sweep: EVERY registered and local query runs
against a zero-row copy of the catalog (correct schemas, no data) and
must produce a well-formed — almost always empty — result without
raising. This is the robustness class example-based tests miss: empty
partitions, fresh tables, a filter that matched nothing upstream. At
100 TB some task always sees an empty slice.

Queries whose CONTRACT requires data (documented below, each with the
reason) are exempted from the no-raise requirement but must still
fail with a clear error, not a Py4J stack bomb.
"""

from __future__ import annotations

import os

import pytest

from promptly_data_pipelines_spark.catalog import DECLARED_SCHEMAS, TABLES
from promptly_data_pipelines_spark.registry import (
    all_queries,
    local_only_queries,
)

QUERIES = {**all_queries(), **local_only_queries()}

# Contract-requires-data exemptions. Each entry must state why empty
# input is outside the operator's domain (not just "it crashes").
EXPECTED_DATA_DEPENDENT: dict[str, str] = {
    # k-means needs at least one centroid seed vector (vec_id % 64 == 0)
    # — an index build over an empty corpus is a no-op a pipeline skips
    "similarity_topk_ivf": "IVF index build needs >=1 seed centroid",
    "similarity_topk_ivf_raw": "IVF index build needs >=1 seed centroid",
    # PQ codebook training seeds from vec_id < PQ_K — an index build
    # over an empty corpus is a pipeline ordering error
    "similarity_topk_pq": "PQ codebook training needs seed vectors",
    # the IVF×PQ composite builds BOTH indexes — same contract
    "similarity_topk_ivfpq": "IVF+PQ index build needs seed vectors",
    # the delta-add demos BUILD their index first (base + rebuild) —
    # same seed contract as every other IVF/PQ build
    "ivfpq_index_delta_add": "IVF+PQ index build needs seed vectors",
}


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLES:
        spark.createDataFrame([], DECLARED_SCHEMAS[t]).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    if name in EXPECTED_DATA_DEPENDENT:
        # the contract for exempted queries: a CLEAR, intentional error
        # (ValueError with the documented reason), never a Py4J stack
        # bomb — executed and asserted, not skipped
        with pytest.raises(ValueError, match="empty corpus"):
            QUERIES[name](spark, empty_sf_dir).collect()
        return
    df = QUERIES[name](spark, empty_sf_dir)
    rows = df.collect()
    assert df.columns, f"{name}: empty schema"
    assert rows is not None
