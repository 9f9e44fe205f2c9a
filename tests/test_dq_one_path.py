"""One builder per dbt test kind: inside ``quality/checks.py`` only the
``*_check`` violation builders may call the check predicates
(``isNull``, ``isin``, ``expr``) or run a ``"left_anti"`` join. The
suite runners map specs to builders and count what they return, so a
check compiled a second time inline (and drifting from its builder) is
flagged here. No Spark needed."""

from __future__ import annotations

import ast
import os

_CHECKS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
    "quality",
    "checks.py",
)
_PREDICATES = {"isNull", "isin", "expr"}


def _is_predicate(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    if name in _PREDICATES:
        return True
    return name == "join" and any(
        isinstance(a, ast.Constant) and a.value == "left_anti"
        for a in [*node.args, *(k.value for k in node.keywords)]
    )


def test_check_predicates_live_in_the_builders():
    with open(_CHECKS, encoding="utf-8") as f:
        tree = ast.parse(f.read(), _CHECKS)
    offenders = [
        f"{getattr(stmt, 'name', '<module>')}:{node.lineno}"
        for stmt in tree.body
        if not (isinstance(stmt, ast.FunctionDef) and stmt.name.endswith("_check"))
        for node in ast.walk(stmt)
        if _is_predicate(node)
    ]
    assert not offenders, (
        "compute dbt test predicates in a *_check builder and count it "
        f"through run_suite / run_suite_config: {offenders}"
    )
