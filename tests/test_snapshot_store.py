"""Filesystem traffic of the snapshot store, and the Spark jobs a read
plans with.

FileSystemOps is wrapped from outside, so the counts are what the
store really asks of the filesystem: every commit reads the store root
with ONE listing (commit, GC, the pin set and tag-tmp recovery all
parse it), and every public store call builds one FileSystemOps.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from promptly_data_pipelines_spark.catalog import table
from promptly_data_pipelines_spark.cdc import streaming as S
from promptly_data_pipelines_spark.cdc.envelope import synthesize_envelopes
from promptly_data_pipelines_spark.operators import snapshot_store as SS
from promptly_data_pipelines_spark.operators.fs import FileSystemOps

_COMMITS = 5


@pytest.fixture
def fs_traffic(monkeypatch):
    """Record (method, path) of every FileSystemOps call and count
    constructions."""
    calls: list[tuple[str, str]] = []
    built = [0]
    init = FileSystemOps.__init__

    def counting_init(self, *a, **k):
        built[0] += 1
        init(self, *a, **k)

    monkeypatch.setattr(FileSystemOps, "__init__", counting_init)
    for name in ("mkdirs", "exists", "list_paths", "put_text", "get_text", "delete", "rename"):
        orig = getattr(FileSystemOps, name)

        def wrapped(self, path, *a, _orig=orig, _name=name, **k):
            calls.append((_name, path))
            return _orig(self, path, *a, **k)

        monkeypatch.setattr(FileSystemOps, name, wrapped)
    return calls, built


def _root_listings(calls, root: str) -> int:
    return sum(
        1 for m, p in calls if m == "list_paths" and p.rstrip("/") == root.rstrip("/")
    )


def _drain_one_file(spark, part, src: str, tgt: str, ckpt: str, i: int) -> None:
    part.coalesce(1).write.json(os.path.join(src, f"part-{i}"))
    stream = (
        spark.readStream.schema(S.RAW_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .json(src)
    )
    S.drain_stream(S.upsert_sink(S.live_rows(stream), tgt, ckpt).start(), "store traffic")


@pytest.mark.parametrize("with_refs", [False, True], ids=["plain", "tag_and_branch"])
def test_one_root_listing_per_upsert_commit(spark, tmp_path, fs_traffic, with_refs):
    calls, built = fs_traffic
    src, ckpt, tgt = (str(tmp_path / d) for d in ("src", "ckpt", "tgt"))
    env = synthesize_envelopes(table(spark, SF_DIR, "events")).cache()
    parts = [env.filter(F.crc32("raw_message") % (_COMMITS + 1) == i) for i in range(_COMMITS + 1)]

    # batch 0 seeds the store; the refs (if any) pin it from then on
    _drain_one_file(spark, parts[0], src, tgt, ckpt, 0)
    if with_refs:
        SS.tag_snapshot(spark, tgt, "keep")
        SS.branch_snapshot(spark, tgt, "dev")
    for i in range(1, _COMMITS + 1):
        del calls[:]
        built[0] = 0
        _drain_one_file(spark, parts[i], src, tgt, ckpt, i)
        assert _root_listings(calls, tgt) == 1, [c for c in calls if c[0] == "list_paths"]
        assert built[0] == 1, f"commit {i} built {built[0]} FileSystemOps"
    env.unpersist()

    retained = [h["batch_id"] for h in SS.upsert_history(spark, tgt)]
    if with_refs:
        # the pin set came from that one listing: GC kept the seed
        assert retained == [_COMMITS, _COMMITS - 1, 0]
        assert SS.list_tags(spark, tgt) == {"keep": 0}
        assert SS.list_branches(spark, tgt) == {"dev": 0}
    else:
        assert retained == [_COMMITS, _COMMITS - 1]
    back = SS.read_upsert_target(spark, tgt)
    assert back.count() == back.select("event_id").distinct().count()


def test_one_filesystem_ops_per_public_store_call(spark, tmp_path, fs_traffic):
    calls, built = fs_traffic
    tgt = str(tmp_path / "tgt")
    for b in range(3):
        spark.createDataFrame([(1, f"v{b}"), (b + 2, "x")], "k bigint, v string") \
            .write.parquet(f"{tgt}/snap-{b}")
    with open(f"{tgt}/_LATEST", "w") as fh:
        fh.write("snap-2")

    def one(fn, *args, **kwargs):
        del calls[:]
        built[0] = 0
        out = fn(spark, tgt, *args, **kwargs)
        assert built[0] == 1, f"{fn.__name__} built {built[0]} FileSystemOps"
        assert _root_listings(calls, tgt) <= 1, f"{fn.__name__} listed the root twice"
        return out

    assert one(SS.tag_snapshot, "t0", batch_id=0) == 0
    assert one(SS.list_tags) == {"t0": 0}
    assert one(SS.branch_snapshot, "dev") == 2
    assert one(SS.list_branches) == {"dev": 2}
    assert one(SS.read_branch, "dev").count() == 2
    assert [h["batch_id"] for h in one(SS.upsert_history)] == [2, 1, 0]
    assert one(SS.read_upsert_target, as_of_tag="t0").count() == 2
    assert one(SS.upsert_changelog, "k", from_tag="t0").count() > 0
    assert one(SS.expire_snapshots) == []  # 1 and 2 newest, 0 tagged
    assert one(SS.merge_branch, "dev") == 2  # no branch commits: trivial
    one(SS.delete_tag, "t0")
    assert one(SS.expire_snapshots) == [0]


# FileSystemOps calls of one steady-state full upsert_sink commit before
# deltas existed: listing, _LATEST, _SUCCESS, _BATCH read, _BATCH write,
# the three-call pointer flip and one GC delete
_FULL_COMMIT_CALLS = 9


def test_delta_commit_traffic_no_more_than_a_full_commit(spark, tmp_path, fs_traffic):
    calls, built = fs_traffic
    tgt = str(tmp_path / "tgt")
    for b in range(3):  # a 400-row base, then 10-row batches: all deltas
        rows = [(k, b, f"v{b}") for k in (range(400) if b == 0 else range(b, b + 10))]
        df = spark.createDataFrame(rows, "k bigint, ts int, v string")
        del calls[:]
        built[0] = 0
        SS.commit(spark, tgt, 2, b, SS.Upsert(df, "k"), run_id="run")
    assert _root_listings(calls, tgt) == 1
    assert built[0] == 1
    assert len(calls) <= _FULL_COMMIT_CALLS, calls
    assert SS._marker(FileSystemOps(spark), tgt, 2)[2]["chain"] == [1, 2]


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in keys]
    group = f"store-pin-{id(fn)}"
    sc.setJobGroup(group, "store job pin")
    try:
        fn()
    finally:
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_upsert_target_plans_without_jobs(spark, tmp_path):
    """A store whose markers record the schema plans a read, delta
    chain included, without a parquet schema-inference job; a
    markerless (older) dir still infers it, which is one job."""
    tgt = str(tmp_path / "tgt")
    for b in range(2):
        df = spark.createDataFrame([(k, b) for k in range(40 if b == 0 else 2)], "k bigint, ts int")
        SS.commit(spark, tgt, 2, b, SS.Upsert(df, "k"), run_id="run")
    assert SS._marker(FileSystemOps(spark), tgt, 1)[2]["chain"] == [1]
    assert _jobs_launched(spark, lambda: SS.read_upsert_target(spark, tgt)) == 0
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([(1, 0)], "k bigint, ts int").write.parquet(f"{legacy}/snap-0")
    assert _jobs_launched(spark, lambda: SS.read_upsert_target(spark, legacy)) == 1
