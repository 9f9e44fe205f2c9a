"""The driver tier has one source of truth: ``registry._ORDER``. The
no-Spark checks pin that no query registration carries its own tier
flag and that the accessors split the registry exactly along
``_ORDER``."""

from __future__ import annotations

import ast
import inspect
import os

from promptly_data_pipelines_spark import registry
from promptly_data_pipelines_spark.registry import _ORDER

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
)


def _modules():
    for root, _dirs, files in os.walk(_PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, _PKG), ast.parse(f.read(), path)


def test_no_query_call_passes_a_tier_flag():
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == "query"
        and any(kw.arg == "registered" for kw in node.keywords)
    ]
    assert not offenders, (
        f"the driver tier is decided by registry._ORDER alone: {len(offenders)} "
        f"query(...) calls pass registered=: {offenders}"
    )


def test_query_takes_name_and_oracle_only():
    assert list(inspect.signature(registry.query).parameters) == ["name", "oracle"]


def test_tiers_split_along_order():
    assert list(registry.all_queries()) == list(_ORDER)
    local = list(registry.local_only_queries())
    assert not set(local) & set(_ORDER)
    assert set(local) == set(registry._QUERIES) - set(_ORDER)
    assert set(registry.local_only_oracles()) == set(registry._ORACLE) - set(_ORDER)
