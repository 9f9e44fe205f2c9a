"""No-Spark check that only ``session.py`` writes session conf. Every
other module that needs a different value for one job (a stream's
state partitions) builds it in ``session.scoped_session``, and every
runtime default the package relies on is set once in
``session.tune_session``; a ``conf.set`` on the caller's session
anywhere else would leak into, and race with, every other query on it.
"""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
)


def _conf_sets(path: str) -> list[int]:
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
    ]


def test_only_session_module_sets_conf():
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in files:
            path = os.path.join(root, fn)
            if fn.endswith(".py") and path != os.path.join(_PKG, "session.py"):
                offenders += [
                    f"{os.path.relpath(path, _PKG)}:{n}" for n in _conf_sets(path)
                ]
    assert not offenders, (
        f"conf.set(...) outside session.py: {offenders} — set a runtime "
        "default in session.tune_session, a per-stream value in "
        "session.scoped_session"
    )
