"""Vector search keeps one owner per job (``extensions/similarity.py``):
``_queries`` builds the query set, ``_top_k`` ranks every result, the
removed paths stay removed and the constants stay constants. An AST
pass over the module; no Spark."""

from __future__ import annotations

import ast
import os

_SRC = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
    "extensions",
    "similarity.py",
)
# function → parameters it must not grow back; each is set by no caller
# and stands for the constant it always was
_REMOVED_PARAMS = {
    "learned_centroids": {"iters"},
    "pq_index_save": {"iters"},
    "ivfpq_index_save": {"iters"},
    "ivf_topk": {"nprobe", "n_assign"},
    "pq_index_search": {"top_k"},
    "ivfpq_index_search": {"top_k"},
    "_pq_adc_rerank": {"top_k"},
}
_REMOVED_DEFS = {
    "hyperplane_signatures",
    "similar_pairs_hyperplane",
    "pq_index_add_vectors",
    "pq_index_delta_add",
}


def _tree() -> ast.Module:
    with open(_SRC, encoding="utf-8") as f:
        return ast.parse(f.read(), _SRC)


def _functions_with(match) -> dict[str | None, list[int]]:
    """innermost enclosing function → lines of every node ``match`` accepts."""
    out: dict[str | None, list[int]] = {}

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if match(child):
                out.setdefault(fn, []).append(child.lineno)
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if inner else fn)

    visit(_tree(), None)
    return out


def test_one_function_ranks():
    where = _functions_with(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "row_number"
    )
    assert list(where) == ["_top_k"], f"rank through _top_k: {where}"


def test_one_function_selects_the_queries():
    def is_query_filter(n):
        return isinstance(n, ast.Compare) and any(
            isinstance(x, ast.Name) and x.id == "N_QUERIES"
            for x in (n.left, *n.comparators)
        )

    where = _functions_with(is_query_filter)
    assert list(where) == ["_queries"], f"take the query set from _queries: {where}"


def test_removed_paths_stay_removed():
    defined = {
        n.name
        for n in _tree().body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    assert not defined & _REMOVED_DEFS


def test_removed_parameters_stay_removed():
    params = {
        n.name: {a.arg for a in (*n.args.args, *n.args.kwonlyargs)}
        for n in _tree().body
        if isinstance(n, ast.FunctionDef)
    }
    assert set(_REMOVED_PARAMS) <= set(params)
    back = {fn: params[fn] & gone for fn, gone in _REMOVED_PARAMS.items() if params[fn] & gone}
    assert not back, f"these stand for constants: {back}"
