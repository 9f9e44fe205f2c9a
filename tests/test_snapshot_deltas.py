"""Merge-on-read in the snapshot store, on a store where deltas really
happen: a 480-row base and ~20-row upsert batches, so the first three
commits after a full snapshot are deltas and the fourth compacts
(8 x chain rows >= base rows). Every read is checked against a
pure-Python latest-wins replay of the same batches — the state that
``merge_upsert_frames`` applied batch by batch yields.
"""

from __future__ import annotations

import os
from collections import defaultdict
from datetime import datetime, timedelta
from functools import reduce

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from promptly_data_pipelines_spark.operators import snapshot_store as SS
from promptly_data_pipelines_spark.operators.fs import FileSystemOps

SCHEMA = "k bigint, ts timestamp, v string"
T0 = datetime(2024, 1, 1)
BASE = [(k, T0, f"b{k}") for k in range(480)]


def _batch(i: int) -> list[tuple]:
    """Batch ``i`` >= 1: newer updates, a ts tie with the base, a ts tie
    with the previous batch, out-of-order older updates and inserts."""
    at = T0 + timedelta(hours=i)
    rows = [(i * 10 + j, at, f"u{i}") for j in range(10)]
    rows += [(200 + i * 3 + j, T0, f"t{i}") for j in range(3)]  # ties the base: wins
    if i > 1:
        rows.append(((i - 1) * 10, T0 + timedelta(hours=i - 1), f"tie{i}"))  # ties batch i-1
    rows += [(300 + i * 2 + j, T0 - timedelta(hours=1), "old") for j in range(2)]  # loses
    rows += [(1000 + i * 5 + j, at, f"n{i}") for j in range(5)]
    return rows


def _replay(batches: list[list[tuple]]) -> set[tuple]:
    state: dict[int, tuple] = {}
    for rows in batches:
        for k, ts, v in rows:
            if k not in state or ts >= state[k][1]:
                state[k] = (k, ts, v)
    return set(state.values())


def _commit(spark, root, rows, batch_id, keep=100, run="run", **kw) -> None:
    df = spark.createDataFrame(rows, SCHEMA)
    SS.commit(spark, root, keep, batch_id, SS.Upsert(df, "k", **kw), run_id=run)


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def _meta(spark, root, sid) -> dict:
    return SS._marker(FileSystemOps(spark), root, sid)[2]


def _chained(spark, tmp_path, name: str, n: int, keep: int = 100) -> tuple[str, list]:
    """A store holding the base plus batches 1..n; returns (root, batches)."""
    root = str(tmp_path / name)
    batches = [BASE] + [_batch(i) for i in range(1, n + 1)]
    for b, rows in enumerate(batches):
        _commit(spark, root, rows, b, keep=keep)
    return root, batches


def test_every_snapshot_equals_a_sequential_replay(spark, tmp_path):
    root, batches = _chained(spark, tmp_path, "tgt", 5)
    chains = {b: _meta(spark, root, b)["chain"] for b in range(6)}
    assert chains == {0: [], 1: [1], 2: [1, 2], 3: [1, 2, 3], 4: [], 5: [5]}
    # every retained snapshot and the head (as 6), read in one action
    views = [SS.read_upsert_target(spark, root, as_of_batch=b) for b in range(6)]
    views.append(SS.read_upsert_target(spark, root))
    tagged = [v.withColumn("b", F.lit(b)) for b, v in enumerate(views)]
    got = defaultdict(set)
    for r in reduce(DataFrame.unionByName, tagged).collect():
        got[r.b].add((r.k, r.ts, r.v))
    assert got == {b: _replay(batches[: b + 1]) for b in range(7)}
    # a delta dir holds only its batch's rows
    assert spark.read.parquet(f"{root}/snap-2").count() == len(batches[2])
    # the compacted dir, read plainly, equals the view it replaced
    assert _rows(spark.read.parquet(f"{root}/snap-4")) == _replay(batches[:5])
    assert _meta(spark, root, 3)["chain_rows"] == sum(len(b) for b in batches[1:4])


def test_delta_crash_matrix(spark, tmp_path, monkeypatch):
    root, batches = _chained(spark, tmp_path, "tgt", 1)
    want1, want2 = _replay(batches), _replay(batches + [_batch(2)])

    # (a) data written, no marker: nothing serves the dir, not even the
    # _SUCCESS fallback once the pointer is gone
    put = FileSystemOps.put_text

    def no_marker(self, path, *a):
        if path.endswith("snap-2/_BATCH"):
            raise OSError("crash before the marker")
        return put(self, path, *a)

    monkeypatch.setattr(FileSystemOps, "put_text", no_marker)
    with pytest.raises(OSError, match="before the marker"):
        _commit(spark, root, _batch(2), 2)
    monkeypatch.undo()
    assert os.listdir(f"{root}/snap-2") and not os.path.exists(f"{root}/snap-2/_SUCCESS")
    os.remove(f"{root}/_LATEST")
    assert _rows(SS.read_upsert_target(spark, root)) == want1
    _commit(spark, root, _batch(2), 2)  # redelivery rewrites it
    assert _rows(SS.read_upsert_target(spark, root)) == want2

    # (b) data and marker written, no pointer flip: the committed state
    # stays, the dir is not time-travelable, and the fallback serves
    # it as its merged view, never as the bare batch
    monkeypatch.setattr(SS, "_commit_pointer", lambda *a: (_ for _ in ()).throw(OSError("flip")))
    with pytest.raises(OSError, match="flip"):
        _commit(spark, root, _batch(3), 3)
    monkeypatch.undo()
    assert _rows(SS.read_upsert_target(spark, root)) == want2
    with pytest.raises(FileNotFoundError, match="snap-3 not available"):
        SS.read_upsert_target(spark, root, as_of_batch=3)
    os.remove(f"{root}/_LATEST")
    want3 = _replay(batches + [_batch(2), _batch(3)])
    assert _rows(SS.read_upsert_target(spark, root)) == want3

    # (c) redelivery after the flip short-circuits: same state, same dirs
    _commit(spark, root, _batch(3), 3)
    dirs = sorted(os.listdir(root))
    _commit(spark, root, _batch(3), 3)
    assert sorted(os.listdir(root)) == dirs
    assert _meta(spark, root, 3)["chain"] == [1, 2, 3]
    assert _rows(SS.read_upsert_target(spark, root)) == want3


def test_gc_expiry_tags_and_branch_bases_keep_whole_chains(spark, tmp_path):
    root, batches = _chained(spark, tmp_path, "tgt", 3, keep=2)
    # keep_snapshots=2 keeps 3 and 2, and 3's chain reads 0..2
    assert [h["batch_id"] for h in SS.upsert_history(spark, root)] == [3, 2, 1, 0]
    SS.tag_snapshot(spark, root, "mid", batch_id=2)
    SS.branch_snapshot(spark, root, "dev", batch_id=1)
    for b in (4, 5, 6):  # 4 compacts; the tag and branch still pin 0..2
        _commit(spark, root, _batch(b), b, keep=2)
        batches.append(_batch(b))
    assert [h["batch_id"] for h in SS.upsert_history(spark, root)] == [6, 5, 4, 2, 1, 0]
    assert _rows(SS.read_upsert_target(spark, root, as_of_tag="mid")) == _replay(batches[:3])
    assert _rows(SS.read_branch(spark, root, "dev")) == _replay(batches[:2])
    assert SS.expire_snapshots(spark, root, keep_last=2) == []
    SS.delete_tag(spark, root, "mid")
    assert SS.expire_snapshots(spark, root, keep_last=2) == [2]  # 1 still pins 0
    SS.delete_branch(spark, root, "dev")
    assert SS.expire_snapshots(spark, root, keep_last=2) == [0, 1]
    assert _rows(SS.read_upsert_target(spark, root)) == _replay(batches)


def test_fast_forward_merge_of_a_delta_head(spark, tmp_path):
    root, batches = _chained(spark, tmp_path, "tgt", 1)
    SS.branch_snapshot(spark, root, "dev")
    broot = SS.branch_root(root, "dev")
    _commit(spark, broot, _batch(2), 0, run="branch")
    _commit(spark, broot, _batch(3), 1, run="branch")
    # the first branch commit is full: its predecessor is main's
    assert _meta(spark, broot, 2)["chain"] == []
    assert _meta(spark, broot, 3)["chain"] == [3]
    merged = SS.merge_branch(spark, root, "dev")
    assert merged == 2 and _meta(spark, root, merged)["chain"] == []
    want = _replay(batches + [_batch(2), _batch(3)])
    assert _rows(spark.read.parquet(f"{root}/snap-{merged}")) == want
    assert _rows(SS.read_upsert_target(spark, root)) == want
    # main keeps committing deltas over the merged snapshot
    _commit(spark, root, _batch(4), 2)
    assert _meta(spark, root, 3)["chain"] == [3]
    assert _rows(SS.read_upsert_target(spark, root)) == _replay(
        batches + [_batch(b) for b in (2, 3, 4)]
    )


def test_evolved_chain_reads_widest_schema_and_strict_raises(spark, tmp_path):
    root = str(tmp_path / "tgt")
    _commit(spark, root, BASE, 0)
    wide = spark.createDataFrame(
        [(1, T0 + timedelta(hours=1), "w", "web")], SCHEMA + ", channel string"
    )
    SS.commit(spark, root, 100, 1, SS.Upsert(wide, "k", evolve_schema=True), run_id="run")
    _commit(spark, root, [(2, T0 + timedelta(hours=1), "narrow")], 2, evolve_schema=True)
    assert _meta(spark, root, 2)["chain"] == [1, 2]
    got = SS.read_upsert_target(spark, root)
    assert got.columns == ["k", "ts", "v", "channel"]
    rows = {r.k: (r.v, r.channel) for r in got.collect()}
    assert rows[1] == ("w", "web") and rows[2] == ("narrow", None) and rows[3] == ("b3", None)
    assert len(rows) == len(BASE)
    # strict mode: a batch without the table's new column still raises
    with pytest.raises(AnalysisException):
        _commit(spark, root, [(3, T0 + timedelta(hours=2), "strict")], 3)


def test_first_commit_keeps_one_row_per_key(spark, tmp_path):
    root = str(tmp_path / "tgt")
    probe = spark.createDataFrame([(1, 1), (1, 2), (2, 1)], "k bigint, ts bigint")
    SS.commit(spark, root, 2, 0, SS.Upsert(probe, "k"), run_id="run")
    assert _rows(SS.read_upsert_target(spark, root)) == {(1, 2), (2, 1)}
    assert _rows(spark.read.parquet(f"{root}/snap-0")) == {(1, 2), (2, 1)}


def test_each_written_state_runs_at_most_one_window(spark, tmp_path, monkeypatch):
    root, _ = _chained(spark, tmp_path, "tgt", 1)
    windows = []
    write = SS._write_snap

    def counting(fs, df, *args):
        windows.append(df._jdf.queryExecution().optimizedPlan().toString().count("Window ["))
        return write(fs, df, *args)

    monkeypatch.setattr(SS, "_write_snap", counting)
    SS.branch_snapshot(spark, root, "dev")
    _commit(spark, SS.branch_root(root, "dev"), _batch(2), 0, run="branch")
    for b in (2, 3, 4):  # two deltas, then a compaction over the chain 1..3
        _commit(spark, root, _batch(b), b)
    assert windows == [1, 0, 0, 1]
