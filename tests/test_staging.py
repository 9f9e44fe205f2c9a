"""The staged-stream harness (``cdc/staging.py``): one stager, one
foreachBatch writer, one drain, one stream-fed partial store. The
no-Spark checks pin that the package has no other copy of them; the
Spark tests pin the stager's ordering contract end to end through
``upsert_sink`` and the partial store's replay rule."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from promptly_data_pipelines_spark.catalog import table
from promptly_data_pipelines_spark.cdc import streaming as S
from promptly_data_pipelines_spark.cdc.envelope import synthesize_envelopes
from promptly_data_pipelines_spark.cdc.staging import (
    drain_stream,
    stage_frames,
    write_batch_partial,
)
from promptly_data_pipelines_spark.extensions.kmv import (
    _user_day,
    kmv_merge,
    kmv_sketch_partials,
)
from promptly_data_pipelines_spark.extensions.quantiles import (
    MRLSketch,
    sketch_partials,
    sketch_rollup,
)
from promptly_data_pipelines_spark.operators.snapshot_store import upsert_history

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
)
# call → the (module, function) pairs allowed to make it; a method
# name matches any receiver, a dotted one only that module's function,
# and a plain function name a direct call of it
_ONLY_IN = {
    "awaitTermination": {("cdc/staging.py", "drain_stream")},
    "foreachBatch": {("cdc/staging.py", "foreach_batch_writer")},
    "foreach_batch_writer": {
        ("cdc/staging.py", "drain_partial_store"),
        ("cdc/streaming.py", "upsert_sink"),
        ("cdc/streaming.py", "materialized_view_sink"),
        ("pipelines/incremental.py", "stream_exec_incremental"),
    },
    "os.utime": {("cdc/staging.py", "publish_arrivals")},
    "shutil.move": {("cdc/staging.py", "publish_arrivals")},
}


def _modules():
    for root, _dirs, files in os.walk(_PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, _PKG), ast.parse(f.read(), path)


def _watched_calls(tree: ast.AST) -> list[tuple[str, str | None, int]]:
    """(call, innermost enclosing function, line) for every watched call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                attr, recv = child.func.attr, child.func.value
                dotted = f"{recv.id}.{attr}" if isinstance(recv, ast.Name) else None
                for call in (attr, dotted):
                    if call in _ONLY_IN:
                        out.append((call, fn, child.lineno))
            elif isinstance(child, ast.Call) and isinstance(child.func, ast.Name):
                if child.func.id in _ONLY_IN:
                    out.append((child.func.id, fn, child.lineno))
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if inner else fn)

    visit(tree, None)
    return out


def test_stage_and_drain_steps_have_one_home():
    offenders = [
        f"{rel}:{line} {call} in {fn}"
        for rel, tree in _modules()
        for call, fn, line in _watched_calls(tree)
        if (rel, fn) not in _ONLY_IN[call]
    ]
    assert not offenders, (
        "stage with cdc.staging.stage_frames/publish_arrivals, build writers "
        "with foreach_batch_writer, drain with drain_stream, feed a "
        f"per-batch partial store with drain_partial_store: {offenders}"
    )


def test_no_private_imports_from_streaming():
    target = "promptly_data_pipelines_spark.cdc.streaming"
    offenders = []
    for rel, tree in _modules():
        pkg = ["promptly_data_pipelines_spark"] + os.path.dirname(rel).split(os.sep)
        pkg = [p for p in pkg if p]
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom):
                continue
            parts = pkg[: len(pkg) - node.level + 1] if node.level else []
            module = ".".join(parts + (node.module.split(".") if node.module else []))
            offenders += [
                f"{rel}:{node.lineno} {a.name}"
                for a in node.names
                if module == target and a.name.startswith("_")
            ]
    assert not offenders, offenders


class _FakeQuery:
    def __init__(self, drained: bool):
        self.drained = drained
        self.timeouts: list[int] = []
        self.stopped = False

    def awaitTermination(self, timeout):
        self.timeouts.append(timeout)
        return self.drained

    def stop(self):
        self.stopped = True


def test_drain_stream_stops_and_raises_on_timeout():
    q = _FakeQuery(drained=False)
    with pytest.raises(RuntimeError, match="warc stream did not drain within 120s"):
        drain_stream(q, "warc", timeout_s=120)
    assert q.stopped and q.timeouts == [120]
    # a drained query is left alone; the default bound is 300 s
    q = _FakeQuery(drained=True)
    drain_stream(q, "upsert")
    assert not q.stopped and q.timeouts == [300]


def test_stage_frames_orders_after_held_files_and_drains_one_snapshot_each(
    spark, tmp_path
):
    """A second-generation stage (the schema-evolution restart shape)
    lands after the file already in ``src``: one file per frame, the
    empty frame included, names and mtimes strictly ascending past the
    held file; ``maxFilesPerTrigger=1`` then commits one snapshot per
    file."""
    src, ckpt, tgt = (str(tmp_path / d) for d in ("src", "ckpt", "tgt"))
    ev = table(spark, SF_DIR, "events")
    stage_frames([synthesize_envelopes(ev.filter(F.col("event_id") % 3 == 0))], src)
    (held,) = os.listdir(src)
    stage_frames(
        [
            synthesize_envelopes(f)
            for f in (
                ev.filter(F.col("event_id") % 3 == 1),
                ev.limit(0),
                ev.filter(F.col("event_id") % 3 == 2),
            )
        ],
        src,
    )
    names = sorted(os.listdir(src))
    assert len(names) == 4 and names[0] == held
    mtimes = [os.path.getmtime(os.path.join(src, n)) for n in names]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    assert os.path.getsize(os.path.join(src, names[2])) == 0

    stream = (
        spark.readStream.schema(S.RAW_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = S.upsert_sink(S.live_rows(stream), tgt, ckpt, keep_snapshots=100).start()
    drain_stream(q, "stager contract")
    assert len(upsert_history(spark, tgt)) == 4


def _mrl_n(partials):
    merged = sketch_rollup(partials, ["event_type"])
    return {r.event_type: MRLSketch.from_bytes(bytes(r.sketch)).n for r in merged.collect()}


def _kmv_hashes(partials):
    merged = kmv_merge(partials.select("event_type", "hashes"), ["event_type"])
    return {r.event_type: list(r.hashes) for r in merged.collect()}


# sketch → (staged columns, per-batch partial, merged summary)
_PARTIALS = {
    "mrl": (
        lambda ev: ev.select("event_type", "event_id", "value"),
        lambda batch_df, _batch_id: sketch_partials(batch_df, "value", ["event_type"]),
        _mrl_n,
    ),
    "kmv": (
        lambda ev: ev.select("event_type", "event_id", _user_day(ev).alias("ud")),
        lambda batch_df, _batch_id: kmv_sketch_partials(
            batch_df, ["event_type"], F.col("ud")
        ),
        _kmv_hashes,
    ),
}


@pytest.mark.parametrize("sketch", sorted(_PARTIALS))
def test_replayed_batch_replaces_its_partial(spark, tmp_path, sketch):
    """foreachBatch is at-least-once: a redelivered batch_id must
    REPLACE its partial, not add a second copy. Delivering batch 0
    twice leaves the store unchanged (for MRL a second copy would
    double batch 0's n; KMV's merged value would survive it, but the
    store must not grow), and with batch 1 the store merges to the
    one-shot summary over the whole table."""
    stage, partial, summary = _PARTIALS[sketch]
    ev = stage(table(spark, SF_DIR, "events"))
    b0, b1 = ev.where("event_id % 2 = 0"), ev.where("event_id % 2 = 1")
    store = str(tmp_path / "store")

    def stored():
        return sorted(map(repr, spark.read.parquet(store).collect()))

    write_batch_partial(store, partial, b0, 0)
    once = stored()
    write_batch_partial(store, partial, b0, 0)  # redelivery
    assert stored() == once
    write_batch_partial(store, partial, b1, 1)
    assert summary(spark.read.parquet(store)) == summary(partial(ev, None))
