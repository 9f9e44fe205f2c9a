"""No-Spark check that only ``session.py`` writes the shuffle partition
count. Every other module that needs a different count for one job
(a stream's state partitions) builds it in
``session.scoped_session``; a ``conf.set`` of the shared session's
value would leak into, and race with, every other query on it.
"""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
)
_KEY = "spark.sql.shuffle.partitions"


def _shuffle_conf_sets(path: str) -> list[int]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "set"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == _KEY
    ]


def test_only_session_module_sets_shuffle_partitions():
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in files:
            path = os.path.join(root, fn)
            if fn.endswith(".py") and path != os.path.join(_PKG, "session.py"):
                offenders += [
                    f"{os.path.relpath(path, _PKG)}:{n}" for n in _shuffle_conf_sets(path)
                ]
    assert not offenders, (
        f"conf.set({_KEY!r}, ...) outside session.py: {offenders} — "
        "use session.scoped_session for a per-stream count"
    )

