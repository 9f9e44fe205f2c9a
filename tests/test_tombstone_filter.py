"""One home for the tombstone filter: every struct decode that drops
deletes goes through ``cdc.envelope.decode_live_envelopes``, which
parses each message once. A hand-written ``col("after").isNotNull()``
filter over ``decode_envelopes`` is pushed below the decode by Catalyst
and parses each message four times (pinned on the plan by
``test_plan_quality::test_envelope_decoded_once``). No Spark needed.

The VARIANT decode keeps its own filter: its ``after`` is a variant
collapsed to SQL null once, bound to a local name, not a struct field
read by name."""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
)
_HOME = "cdc/envelope.py"


def _after_is_not_null(node: ast.AST) -> bool:
    """``<x>("after").isNotNull()`` — ``F.col``, ``col``, ``getField``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "isNotNull"
    ):
        return False
    recv = node.func.value
    return (
        isinstance(recv, ast.Call)
        and len(recv.args) == 1
        and isinstance(recv.args[0], ast.Constant)
        and recv.args[0].value == "after"
    )


def test_tombstone_filter_has_one_home():
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, _PKG)
            if rel == _HOME:
                continue
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            offenders += [
                f"{rel}:{node.lineno}" for node in ast.walk(tree) if _after_is_not_null(node)
            ]
    assert not offenders, (
        "drop tombstones with cdc.envelope.decode_live_envelopes, not a "
        f"filter over decode_envelopes: {offenders}"
    )
