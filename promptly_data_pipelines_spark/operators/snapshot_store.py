"""The snap-dir snapshot store: the commit, time-travel, tag, branch,
change-feed and expiry surface the reference delegates to its catalog
(raw_provider_postgres.sql:9-10 declares an Iceberg ``merge``; Nessie
holds the snapshot refs, infra/trino/etc/catalog/iceberg.properties:1-5).
The stream sinks in ``cdc.streaming`` commit through :func:`commit`.

On-disk layout of a store root:

    snap-<id>/            the table state after snapshot <id>: either the
                          FULL table (a base), or a DELTA — only the rows
                          of one upsert batch, read merged over its chain
        _BATCH            "<run_id>\\n<engine batch id>" (or a merge tag),
                          then a JSON line: base id, chain ids, key and
                          order columns, schema, base and chain row counts
        _SUCCESS          written by the commit after _BATCH: complete
    _LATEST               name of the committed snap dir
    _LATEST.tmp-<x>       a pointer flip in flight (stale after a crash)
    _TAG-<name>           name of the snap dir a tag pins
    _TAG.tmp-<name>       a tag move in flight
    _BRANCH-<name>/       a branch: itself a store root, plus
        _BASE             name of the main snap dir it forked from

MERGE-ON-READ (Iceberg v2's row-level-delete model,
https://iceberg.apache.org/spec/#row-level-deletes): a small upsert
batch commits as a delta; the commit that finds its predecessor's
chain at 1/8 of the base rows or more compacts into a full table.
Every upsert state — a delta read, a compaction, the first commit, a
branch's first commit — is ONE ``latest_wins`` over snapshot files ∪
batch (:func:`_view`). A dir without the JSON line is a full table,
read with an inferred schema.

Every operation reads the root with ONE listing (:func:`_layout`) and
works from the parsed result; control files inside snap and branch
dirs are read directly.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.batch import latest_wins
from .fs import FileSystemOps

_REF_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")
_ENTRY = re.compile(
    r"snap-(\d+)|_TAG-(.+)|_TAG\.tmp-(.+)|_BRANCH-(.+)|(_LATEST\.tmp-.+)|_LATEST|_BASE"
)


@dataclass
class _Layout:
    """One listing of a store root, parsed into its entries."""

    root: str
    snaps: set[int] = field(default_factory=set)
    tags: set[str] = field(default_factory=set)
    tag_tmps: set[str] = field(default_factory=set)
    branches: set[str] = field(default_factory=set)
    stale: list[str] = field(default_factory=list)  # _LATEST.tmp-* names
    latest: bool = False
    base: bool = False


def _absent(fn, *args):
    """``fn(*args)``, or None when the path it touches does not exist."""
    try:
        return fn(*args)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        return None


def _layout(fs: FileSystemOps, root: str) -> _Layout:
    lay = _Layout(root)
    for p in _absent(fs.list_paths, root) or []:
        m = _ENTRY.fullmatch(p.rsplit("/", 1)[-1])
        if m is None:
            continue
        snap, tag, tag_tmp, branch, stale = m.groups()
        if snap is not None:
            lay.snaps.add(int(snap))
        elif tag is not None:
            lay.tags.add(tag)
        elif tag_tmp is not None:
            lay.tag_tmps.add(tag_tmp)
        elif branch is not None:
            lay.branches.add(branch)
        elif stale is not None:
            lay.stale.append(stale)
        elif m.group(0) == "_LATEST":
            lay.latest = True
        else:
            lay.base = True
    return lay


def _snap_id(name: str) -> int | None:
    m = re.fullmatch(r"snap-(\d+)", name.strip())
    return int(m.group(1)) if m else None


def _ref_name(kind: str, name: str) -> str:
    if not _REF_NAME.match(name):
        raise ValueError(
            f"invalid {kind} name {name!r}: must be alphanumeric plus ._- "
            "and start with an alphanumeric"
        )
    return name


def branch_root(target_path: str, name: str) -> str:
    return f"{target_path}/_BRANCH-{_ref_name('branch', name)}"


def _committed(fs: FileSystemOps, lay: _Layout) -> tuple[str, int] | None:
    """(store root holding it, id) of the committed snapshot: the
    _LATEST pointer if it names a complete (``_SUCCESS``) dir, else the
    highest complete ``snap-N``, else — on a branch root with no commits
    of its own — the main-store fork base its ``_BASE`` names. The
    ``_SUCCESS`` fallback makes pointer corruption recoverable instead
    of fatal. The base is pinned against main's GC while the branch
    exists (:func:`_pins`), so a missing base is a real error."""
    root = lay.root
    if lay.latest:
        sid = _snap_id(_absent(fs.get_text, f"{root}/_LATEST") or "")
        if sid is not None and fs.exists(f"{root}/snap-{sid}/_SUCCESS"):
            return root, sid
    for sid in sorted(lay.snaps, reverse=True):
        if fs.exists(f"{root}/snap-{sid}/_SUCCESS"):
            return root, sid
    if not lay.base:
        return None
    base = fs.get_text(f"{root}/_BASE").strip()
    parent = root.rstrip("/").rsplit("/", 1)[0]
    if fs.exists(f"{parent}/{base}/_SUCCESS"):
        return parent, _snap_id(base)
    raise FileNotFoundError(
        f"branch base {base} under {parent} is missing or "
        "uncommitted — the branch outlived its fork point"
    )


def _retained(fs: FileSystemOps, lay: _Layout) -> list[int]:
    """Ids of the complete (``_SUCCESS``) snap dirs, newest first."""
    return [
        sid for sid in sorted(lay.snaps, reverse=True)
        if fs.exists(f"{lay.root}/snap-{sid}/_SUCCESS")
    ]


def _marker(fs: FileSystemOps, root: str, sid: int) -> tuple[str | None, str, dict | None]:
    """(run id, engine batch id, meta) from ``snap-<sid>/_BATCH``. A
    single-line marker (a merge tag) has no run id; a dir without a
    marker is named by its engine batch id. ``meta`` is the JSON line
    (:func:`_write_snap`), None when the marker has none."""
    raw = _absent(fs.get_text, f"{root}/snap-{sid}/_BATCH")
    if raw is None:
        return None, str(sid), None
    head, brace, meta = raw.partition("\n{")
    run, engine = head.split("\n", 1) if "\n" in head else (None, head)
    return (
        run if run is None else run.strip(),
        engine.strip(),
        json.loads(brace.lstrip("\n") + meta) if brace else None,
    )


_SNAP_ORDER = "__snap_order"
_UPSERT_ORDER = ["ts"]


def _view(
    spark: SparkSession,
    snap: tuple[str, int] | None,
    meta: dict | None,
    upsert: Upsert | None = None,
    snap_id: int = 0,
) -> DataFrame:
    """The table as of ``snap`` (root, id), or — with ``upsert`` — the
    state after that batch commits as snapshot ``snap_id`` (``snap``
    None: into an empty store). The store's one merge rule: per key,
    the highest (order columns, snap order) row of the snapshot's base
    and chain files, read in ONE scan, plus the batch, wins. A file's
    snap order comes from its path, so data files hold only the
    table's columns; the batch takes ``snap_id``, above every id in the
    chain. That is what replaying the batches through
    ``merge_upsert_frames`` one by one yields. The scan uses the
    recorded schema, so an evolved chain reads with its widest one;
    the batch joins it with ``allowMissingColumns=evolve_schema``. A
    full snapshot read alone is one scan with no window; a dir without
    a recorded schema is a full table read with an inferred one."""
    reader = spark.read.schema(T.StructType.fromJson(meta["schema"])) if meta else spark.read
    if upsert is None and not (meta and meta["chain"]):
        return reader.parquet(f"{snap[0]}/snap-{snap[1]}")
    scan = None
    if snap is not None:
        ids = [meta["base"], *meta["chain"]] if meta else [snap[1]]
        order = F.regexp_extract(F.col("_metadata.file_path"), r"/snap-(\d+)/[^/]*$", 1)
        scan = reader.parquet(*[f"{snap[0]}/snap-{i}" for i in ids])
        scan = scan.withColumn(_SNAP_ORDER, order.cast("long"))
    if upsert is None:
        merged, key, order_cols = scan, meta["key"], meta["order"]
    else:
        merged = upsert.batch.withColumn(_SNAP_ORDER, F.lit(snap_id).cast("long"))
        if scan is not None:
            merged = scan.unionByName(merged, allowMissingColumns=upsert.evolve_schema)
        key, order_cols = upsert.key, _UPSERT_ORDER
    return latest_wins(merged, key, [*order_cols, _SNAP_ORDER]).drop(_SNAP_ORDER)


def _closure(fs: FileSystemOps, root: str, ids: set, known: dict[int, dict | None]) -> set[int]:
    """``ids`` plus every snapshot their chains read: a GC that keeps a
    delta must keep its base and the deltas before it. ``known`` holds
    metas the caller already read."""
    out: set[int] = set()
    for sid in ids - {None}:
        meta = known[sid] if sid in known else _marker(fs, root, sid)[2]
        out |= {sid} if meta is None else {sid, meta["base"], *meta["chain"]}
    return out


def _read(
    spark: SparkSession, fs: FileSystemOps, lay: _Layout, as_of_batch: int | None = None
) -> DataFrame:
    snap = _committed(fs, lay)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {lay.root}")
    if as_of_batch is None:
        return _view(spark, snap, _marker(fs, *snap)[2])
    requested = f"{lay.root}/snap-{as_of_batch}"
    # the dir must exist AND be at or below the committed id: a crash
    # after snap-N's write but before the pointer flip leaves a valid-
    # looking snap-N that was never committed, and redelivery will
    # overwrite it in place on restart — serving it would be torn state
    if as_of_batch > snap[1] or not fs.exists(f"{requested}/_SUCCESS"):
        kept = sorted(b for b in _retained(fs, lay) if b <= snap[1])
        raise FileNotFoundError(
            f"snapshot snap-{as_of_batch} not available under {lay.root} "
            f"(committed: snap-{snap[1]}; retained batches: "
            f"{kept or 'none'}) — expired by retention or never committed"
        )
    return _view(spark, (lay.root, as_of_batch), _marker(fs, lay.root, as_of_batch)[2])


def read_upsert_target(
    spark: SparkSession,
    target_path: str,
    as_of_batch: int | None = None,
    as_of_tag: str | None = None,
) -> DataFrame:
    """Read a store: the committed state, or — TIME TRAVEL — the state
    exactly as of snapshot ``as_of_batch``, or as of a NAMED TAG
    (:func:`tag_snapshot`, the Nessie/Iceberg ``VERSION AS OF 'tag'``
    role). Every ``snap-N`` dir is the full table after batch N or a
    delta whose ``_BATCH`` names its chain, so reading history costs
    one directory resolve plus, for a delta, one latest-wins pass over
    the chain (:func:`_view`); the recorded schema means no read runs
    a schema-inference job. Raises a
    CLEAR error when the requested snapshot has been expired or was
    never committed — never a silent fallback to a different version
    (a job reading 'yesterday's table' must fail loudly if yesterday is
    gone, not read today's).

    CONCURRENCY CONTRACT: the returned DataFrame is LAZY — the check
    here does not pin the snapshot for the reader's later action.
    ``keep_last``/``keep_snapshots`` protect the committed snapshot and
    its predecessor only, so :func:`expire_snapshots` running alongside
    an ``as_of_batch`` read of an OLDER batch can delete the dir
    mid-read. Either size ``keep_last`` to the oldest batch any live
    reader uses, or :func:`tag_snapshot` the batch and read
    ``as_of_tag=``: tagged snapshots are pinned against both
    :func:`expire_snapshots` and the sink's own GC until the tag is
    deleted."""
    if as_of_batch is not None and as_of_tag is not None:
        raise ValueError("pass at most one of as_of_batch / as_of_tag")
    fs = FileSystemOps(spark)
    lay = _layout(fs, target_path)
    if as_of_tag is not None:
        as_of_batch = _resolve_tag(fs, lay, as_of_tag)
    return _read(spark, fs, lay, as_of_batch)


def upsert_history(spark: SparkSession, target_path: str) -> list[dict]:
    """The retained snapshot log as [{batch_id, committed}], newest
    first — what Iceberg exposes as the snapshots metadata table."""
    fs = FileSystemOps(spark)
    lay = _layout(fs, target_path)
    snap = _committed(fs, lay)
    cid = snap[1] if snap is not None else None
    return [{"batch_id": b, "committed": b == cid} for b in _retained(fs, lay)]


def _recover_tag_tmps(fs: FileSystemOps, lay: _Layout) -> None:
    """Finish or abort tag moves a crash interrupted. A move is
    put_text(tmp) → delete(ptr) → rename(tmp, ptr); a crash between the
    delete and the rename leaves the tag with NO pointer, and since tags
    pin snapshots against GC, a maintenance pass in that state would
    delete the pinned snapshot. For every ``_TAG.tmp-<name>``:

    - pointer MISSING → the move was past its point of no return:
      COMPLETE it (rename tmp → ptr);
    - pointer PRESENT → the crash came before the delete, and the
      pointer still names the old target: DELETE the tmp (a rename
      consumes the tmp, so a surviving tmp never belongs to a finished
      move).

    Idempotent; resolves, listings, GC and expiry all run it."""
    for name in sorted(lay.tag_tmps):
        tmp = f"{lay.root}/_TAG.tmp-{name}"
        if name in lay.tags:
            fs.delete(tmp)
        else:
            fs.rename(tmp, f"{lay.root}/_TAG-{name}")
            lay.tags.add(name)
    lay.tag_tmps.clear()


def _tags(fs: FileSystemOps, lay: _Layout) -> dict[str, int]:
    return {
        name: _snap_id(fs.get_text(f"{lay.root}/_TAG-{name}"))
        for name in sorted(lay.tags)
    }


def _branches(fs: FileSystemOps, lay: _Layout) -> dict[str, int]:
    """{name: base id}. A ``_BRANCH-`` dir without a ``_BASE`` (a crash
    between mkdirs and the pointer write) is not a branch."""
    out = {}
    for name in sorted(lay.branches):
        base = _absent(fs.get_text, f"{lay.root}/_BRANCH-{name}/_BASE")
        if base is not None:
            out[name] = _snap_id(base)
    return out


def _pins(fs: FileSystemOps, lay: _Layout) -> set[int]:
    """Ids no GC may delete: tag pins ∪ branch fork bases. A branch's
    base is main data the branch's own chain builds on — expiring it
    would sever every branch read and the eventual merge."""
    _recover_tag_tmps(fs, lay)
    return set(_tags(fs, lay).values()) | set(_branches(fs, lay).values())


def _resolve_tag(fs: FileSystemOps, lay: _Layout, name: str) -> int:
    _ref_name("tag", name)
    if name not in lay.tags:
        _recover_tag_tmps(fs, lay)
    if name not in lay.tags:
        raise FileNotFoundError(
            f"tag {name!r} not found under {lay.root} "
            f"(known tags: {sorted(lay.tags) or 'none'})"
        )
    return _snap_id(fs.get_text(f"{lay.root}/_TAG-{name}"))


def _checked_snap(fs: FileSystemOps, target_path: str, batch_id: int | None, verb: str) -> int:
    """``batch_id``, defaulting to the committed snapshot, checked to be
    a complete snap dir of this store."""
    if batch_id is None:
        snap = _committed(fs, _layout(fs, target_path))
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {target_path}")
        batch_id = snap[1]
    if not fs.exists(f"{target_path}/snap-{batch_id}/_SUCCESS"):
        raise FileNotFoundError(
            f"cannot {verb} snap-{batch_id}: no committed snapshot dir under "
            f"{target_path} (expired or never committed)"
        )
    return batch_id


def tag_snapshot(
    spark: SparkSession,
    target_path: str,
    name: str,
    batch_id: int | None = None,
) -> int:
    """Create (or move) a NAMED TAG over a snapshot — the Nessie tag
    ref. ``batch_id=None`` tags the committed snapshot. A tagged
    snapshot is PINNED: neither :func:`expire_snapshots` nor the sink's
    own GC deletes it while the tag exists, so
    ``read_upsert_target(..., as_of_tag=name)`` is safe against
    concurrent maintenance. The pointer commits via temp file + rename
    like ``_LATEST`` (no reader or crash sees a truncated pointer), and
    a crash inside a re-point's delete-then-rename window (local/HDFS
    rename won't overwrite) is finished by :func:`_recover_tag_tmps`
    instead of losing the tag and silently unpinning its snapshot.
    Returns the pinned batch id."""
    ptr = f"{target_path}/_TAG-{_ref_name('tag', name)}"
    fs = FileSystemOps(spark)
    batch_id = _checked_snap(fs, target_path, batch_id, "tag")
    tmp = f"{target_path}/_TAG.tmp-{name}"
    fs.put_text(tmp, f"snap-{batch_id}")
    fs.delete(ptr)
    if not fs.rename(tmp, ptr):
        # a concurrent recovery pass may have promoted (or swept) the
        # tmp between our delete and rename; the pointer write must
        # still win, so overwrite-create it directly — losing the tag
        # here would unpin the snapshot
        fs.put_text(ptr, f"snap-{batch_id}")
        fs.delete(tmp)
    return batch_id


def delete_tag(spark: SparkSession, target_path: str, name: str) -> None:
    """Drop a named tag. Its snapshot becomes eligible for the normal
    retention rules on the NEXT GC/maintenance pass — deleting a tag
    never deletes data by itself. A leftover tmp is deleted FIRST:
    removing only the pointer would let recovery promote the tmp and
    resurrect the tag."""
    _ref_name("tag", name)
    fs = FileSystemOps(spark)
    fs.delete(f"{target_path}/_TAG.tmp-{name}")
    fs.delete(f"{target_path}/_TAG-{name}")


def list_tags(spark: SparkSession, target_path: str) -> dict[str, int]:
    """All named tags as {name: batch_id}, after tmp recovery — GC's
    pin set is derived from the same listing."""
    fs = FileSystemOps(spark)
    lay = _layout(fs, target_path)
    _recover_tag_tmps(fs, lay)
    return _tags(fs, lay)


def branch_snapshot(
    spark: SparkSession,
    target_path: str,
    name: str,
    batch_id: int | None = None,
) -> int:
    """Create a WRITABLE BRANCH — Nessie's branch ref.
    ``batch_id=None`` forks from the committed snapshot.

    A branch is a sub-store at ``<target>/_BRANCH-<name>`` whose
    ``_BASE`` pointer names the main snapshot it forked from. Every
    store operation (``upsert_sink(branch=)``, :func:`read_branch`,
    tags, expiry) works on it unchanged because the branch IS a store
    root: its first commit merges against the base through the _BASE
    fallback, with NO copy of the base data (a fork is one pointer
    file at any size). The base is PINNED against main's retention
    while the branch exists. Returns the base batch id."""
    broot = branch_root(target_path, name)
    fs = FileSystemOps(spark)
    if fs.exists(f"{broot}/_BASE"):
        raise ValueError(f"branch {name!r} already exists under {target_path}")
    batch_id = _checked_snap(fs, target_path, batch_id, "branch from")
    fs.mkdirs(broot)
    fs.put_text(f"{broot}/_BASE", f"snap-{batch_id}")
    return batch_id


def list_branches(spark: SparkSession, target_path: str) -> dict[str, int]:
    """All live branches as {name: base_batch_id}."""
    fs = FileSystemOps(spark)
    return _branches(fs, _layout(fs, target_path))


def delete_branch(spark: SparkSession, target_path: str, name: str) -> None:
    """Drop a branch and every snapshot it committed. Main is untouched;
    the fork base becomes eligible for normal retention on the next
    maintenance pass (same contract as :func:`delete_tag`)."""
    FileSystemOps(spark).delete(branch_root(target_path, name), recursive=True)


def _branch_base(fs: FileSystemOps, target_path: str, name: str) -> int:
    base = _absent(fs.get_text, f"{branch_root(target_path, name)}/_BASE")
    if base is None:
        known = sorted(_branches(fs, _layout(fs, target_path)))
        raise FileNotFoundError(
            f"branch {name!r} not found under {target_path} "
            f"(known branches: {known or 'none'})"
        )
    return _snap_id(base)


def read_branch(spark: SparkSession, target_path: str, name: str) -> DataFrame:
    """A branch's committed state (the fork base until its first
    commit). Time travel within the branch:
    ``read_upsert_target(spark, <branch root>, as_of_batch=...)``."""
    fs = FileSystemOps(spark)
    _branch_base(fs, target_path, name)
    return _read(spark, fs, _layout(fs, branch_root(target_path, name)))


def merge_branch(
    spark: SparkSession,
    target_path: str,
    name: str,
    key: str | None = None,
    allow_rebase: bool = False,
    on_conflict: str = "fail",
) -> int:
    """Merge a branch back into main — Nessie's merge. Two modes:

    **Fast-forward** (the default, always safe): main's committed
    snapshot must still BE the branch's fork base. Then the branch's
    committed state is main-prefix + branch batches by construction,
    so the merge is a zero-copy RENAME of the branch's committed dir
    into main under a freshly minted id, then the usual pointer flip.
    A branch head that is a delta is written into main as one full
    snapshot instead, since its chain stays in the branch root.
    If main moved since the fork this raises a LOUD conflict —
    silently re-folding divergent writes is what a catalog must never
    do.

    **Rebase** (``allow_rebase=True``, requires ``key``): re-apply the
    branch's delta onto main's moved head — Nessie's content-aware
    merge. The delta is the rows that differ from the fork base
    (:func:`changelog_frame`: union-schema, null-safe); a key changed on
    BOTH sides since the base is a CONTENT CONFLICT:
    ``on_conflict='fail'`` (default) raises with the count and sample
    keys, ``'branch'`` lets the branch's version win on those keys,
    ``'main'`` keeps main's. Non-conflicting branch changes always
    apply. The merged state is written as a NEW main snapshot (one
    write of the table, the honest cost of a real rebase; the plan is
    two key-partitioned diff joins + an anti-join + union).

    The merge CONSUMES the branch; a crash between the pointer flip and
    the branch delete leaves a stale branch whose next merge fails the
    conflict check — drop it with :func:`delete_branch`. Returns the new
    committed main id: max(main snap ids) + 1. The sink mints
    ``max(engine batch id, committed + 1)``, so main's own later
    commits stay monotonic past it."""
    if on_conflict not in ("fail", "branch", "main"):
        raise ValueError(
            f"on_conflict must be 'fail', 'branch', or 'main', got {on_conflict!r}"
        )
    fs = FileSystemOps(spark)
    base_id = _branch_base(fs, target_path, name)
    broot = branch_root(target_path, name)
    lay = _layout(fs, target_path)
    main = _committed(fs, lay)
    if main is None:
        raise FileNotFoundError(f"no committed snapshot under {target_path}")
    rebase = main[1] != base_id
    if rebase and not allow_rebase:
        raise ValueError(
            f"merge conflict: main committed snap-{main[1]} but branch "
            f"{name!r} forked from snap-{base_id} — main moved since the "
            "fork; re-branch from the head and replay the changes, or "
            "pass allow_rebase=True (with key=) for a content-aware "
            "rebase merge"
        )
    if rebase and key is None:
        raise ValueError("allow_rebase=True requires key= (the merge key)")
    blay = _layout(fs, broot)
    new_id = max(lay.snaps) + 1
    new_dir = f"{target_path}/snap-{new_id}"
    if rebase:
        order = (_marker(fs, *main)[2] or {}).get("order")
        merged = _rebase(spark, fs, lay, blay, name, base_id, key, on_conflict)
        meta = _full_meta(new_id, merged, key, order)
        _write_snap(fs, merged, new_dir, f"merge-rebase:{name}", meta)
    else:
        bsnap = _committed(fs, blay)
        if bsnap[0] != broot:
            # the branch never committed (resolution fell through to
            # the base): nothing to merge
            fs.delete(broot, recursive=True)
            return base_id
        marker = f"merge:{name}:snap-{bsnap[1]}"
        meta = _marker(fs, *bsnap)[2]
        if meta is not None and meta["chain"]:
            # a delta is whole only over its chain, which stays in the
            # branch root: write the head's view as a full snapshot
            head = _view(spark, bsnap, meta)
            meta = _full_meta(new_id, head, meta["key"], meta["order"])
            _write_snap(fs, head, new_dir, marker, meta)
        else:
            if not fs.rename(f"{broot}/snap-{bsnap[1]}", new_dir):
                raise OSError(f"rename {broot}/snap-{bsnap[1]} -> {new_dir} failed")
            if meta is not None:
                marker += "\n" + json.dumps({**meta, "base": new_id})
            fs.put_text(f"{new_dir}/_BATCH", marker)
    _commit_pointer(fs, target_path, new_id, f"merge-{new_id}")
    fs.delete(broot, recursive=True)
    return new_id


def _rebase(
    spark: SparkSession,
    fs: FileSystemOps,
    lay: _Layout,
    blay: _Layout,
    name: str,
    base_id: int,
    key: str,
    on_conflict: str,
) -> DataFrame:
    """The rebase arm of :func:`merge_branch`: main's head with the
    branch's delta-vs-base applied. The store never deletes rows, so a
    delta is inserts + update postimages only, each carrying the full
    row. Branch rows win UNCONDITIONALLY on the keys they apply to (a
    catalog merge is by-version, not by-timestamp — latest-wins by ts
    would silently drop a branch fix older than a main write);
    ``on_conflict`` decides which keys those are."""
    base_df = _read(spark, fs, lay, base_id)

    def delta(new: DataFrame) -> DataFrame:
        return (
            changelog_frame(base_df, new, key)
            .filter(F.col("change_type").isin("insert", "update_postimage"))
            .drop("change_type")
        )

    main_df = _read(spark, fs, lay)
    branch_new = delta(_read(spark, fs, blay))
    main_changed = delta(main_df).select(key)
    conflicts = branch_new.select(key).join(main_changed, on=key, how="inner")
    if on_conflict == "fail":
        sample = [r[0] for r in conflicts.limit(5).collect()]
        if sample:
            raise ValueError(
                f"rebase conflict merging branch {name!r}: {conflicts.count()} "
                f"key(s) changed on BOTH main and the branch since "
                f"snap-{base_id} (sample: {sample}) — resolve with "
                "on_conflict='branch' or 'main', or reconcile manually and "
                "re-branch"
            )
    apply_rows = (
        branch_new.join(main_changed, on=key, how="left_anti")
        if on_conflict == "main"
        else branch_new
    )
    # branch rows replace main rows on their keys; unionByName with
    # NULL-fill keeps the union schema when either side evolved
    return main_df.join(apply_rows.select(key), on=key, how="left_anti").unionByName(
        apply_rows, allowMissingColumns=True
    )


def upsert_changelog(
    spark: SparkSession,
    target_path: str,
    key: str,
    from_batch: int | None = None,
    to_batch: int | None = None,
    from_tag: str | None = None,
    to_tag: str | None = None,
) -> DataFrame:
    """CHANGE DATA FEED between two retained snapshots — the Delta CDF /
    Iceberg ``changelog`` role, free because every ``snap-N`` reads as
    the full table (a delta through its chain, :func:`_view`): one
    full-outer join on the key yields, per row,
    ``insert`` (key only in the newer state), ``delete`` (only in the
    older), or an ``update_preimage`` / ``update_postimage`` pair (any
    column differing, null-safe). Unchanged keys emit nothing.

    ENDPOINTS: each side is a batch id OR a tag (both forms for one
    endpoint raise). ``None`` means the COMMITTED HEAD, so
    ``from_tag='cut'`` alone reads "cut → head"; a call with NO
    endpoint would diff the head against itself and raises.

    Across an ``upsert_sink(evolve_schema=True)`` boundary the diff runs
    over the UNION of both schemas (see :func:`changelog_frame`).

    Scale posture: two snapshot scans + one co-partitioned full-outer
    join; change rows come from a ``when``-built array + ``explode``
    (one pass, no second join, no driver involvement) — the shape
    Delta's CDF amortizes by storing change files, which the snap-dir
    store trades for storage-free derivation over its retained window."""
    if from_batch is not None and from_tag is not None:
        raise ValueError("pass at most one of from_batch / from_tag")
    if to_batch is not None and to_tag is not None:
        raise ValueError("pass at most one of to_batch / to_tag")
    if from_batch is None and from_tag is None and to_batch is None and to_tag is None:
        raise ValueError(
            "no endpoint given: both sides default to the committed head, "
            "which diffs the head against itself (always empty) — pass a "
            "batch id or tag for at least one endpoint"
        )
    fs = FileSystemOps(spark)
    lay = _layout(fs, target_path)
    if from_tag is not None:
        from_batch = _resolve_tag(fs, lay, from_tag)
    if to_tag is not None:
        to_batch = _resolve_tag(fs, lay, to_tag)
    old = _read(spark, fs, lay, from_batch)
    new = _read(spark, fs, lay, to_batch)
    return changelog_frame(old, new, key)


def changelog_frame(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """The change-feed core shared by :func:`upsert_changelog`, the
    rebase merge and the sink's per-commit feed: one key-equi
    full-outer join, change rows from a when-built array + explode
    (plan pinned in tests/test_plan_quality.py — no cartesian/BNLJ,
    unchanged keys never materialize a row). Diffs over the UNION of
    both schemas with NULL-fill, so an update whose only change is a
    newly added column IS a change and the output carries the evolved
    schema (Delta's CDF across mergeSchema). A column whose TYPE
    differs between the sides raises — type evolution is not
    diffable."""
    old_types = dict(old.dtypes)
    new_types = dict(new.dtypes)
    for c in set(old_types) & set(new_types):
        if old_types[c] != new_types[c]:
            raise ValueError(
                f"column {c!r} changed type across the feed window "
                f"({old_types[c]} -> {new_types[c]}): type evolution is "
                "not diffable — re-key or backfill explicitly"
            )
    cols = old.columns + [c for c in new.columns if c not in old_types]
    old = old.select(
        *[
            F.col(c) if c in old_types else F.lit(None).cast(new_types[c]).alias(c)
            for c in cols
        ]
    )
    new = new.select(
        *[
            F.col(c) if c in new_types else F.lit(None).cast(old_types[c]).alias(c)
            for c in cols
        ]
    )
    sa = F.struct(*[F.col(f"a.{c}").alias(c) for c in cols])
    sb = F.struct(*[F.col(f"b.{c}").alias(c) for c in cols])
    j = old.alias("a").join(
        new.alias("b"), F.col(f"a.{key}") == F.col(f"b.{key}"), "full_outer"
    )

    def tagged(label: str, row: F.Column) -> F.Column:
        return F.struct(F.lit(label).alias("change_type"), row.alias("row"))

    changes = (
        F.when(F.col(f"a.{key}").isNull(), F.array(tagged("insert", sb)))
        .when(F.col(f"b.{key}").isNull(), F.array(tagged("delete", sa)))
        .when(
            ~sa.eqNullSafe(sb),
            F.array(tagged("update_preimage", sa), tagged("update_postimage", sb)),
        )
        # no otherwise: unchanged keys fall through to NULL, and
        # explode() of a NULL array emits zero rows — the unchanged
        # mass (normally ~all of the table) never materializes a row
    )
    return j.select(F.explode(changes).alias("e")).select(
        F.col("e.change_type").alias("change_type"), "e.row.*"
    )


def expire_snapshots(
    spark: SparkSession, target_path: str, keep_last: int = 2
) -> list[int]:
    """Maintenance (Iceberg ``expire_snapshots`` / Delta VACUUM): prune
    history to the newest ``keep_last`` snapshots. The COMMITTED
    snapshot is always kept (expiry reclaims storage, it never rolls
    back), and so is every snapshot a tag or a branch base pins — each
    with the base and deltas its chain reads. Crash-orphaned ``snap-N``
    dirs lacking ``_SUCCESS`` BELOW the
    committed id are deleted too: they can never be served and the
    engine never redelivers below the committed id, so they would leak
    forever. An uncommitted dir AT or ABOVE the committed id is an
    in-flight or about-to-be-redelivered write and is left alone.
    Returns the expired ids (orphan cleanup is not expiry of history).

    ``keep_last`` floors at 2, like the sink's ``keep_snapshots``: a
    reader that resolved the committed snapshot just before a new
    commit flipped the pointer is still lazily reading the PREDECESSOR.
    The same race applies to time-travel readers of older batches —
    run maintenance only when no reader holds an unexecuted plan over
    an expirable batch, or have readers pin via :func:`tag_snapshot`."""
    if keep_last < 2:
        raise ValueError(f"keep_last must be >= 2, got {keep_last}")
    fs = FileSystemOps(spark)
    lay = _layout(fs, target_path)
    hist = _retained(fs, lay)
    snap = _committed(fs, lay)
    committed = snap[1] if snap is not None and snap[0] == lay.root else None
    keep = _closure(fs, lay.root, set(hist[:keep_last]) | {committed} | _pins(fs, lay), {})
    expired = sorted(b for b in hist if b not in keep)
    orphans = [b for b in lay.snaps - set(hist) if committed is not None and b < committed]
    for b in expired + orphans:
        fs.delete(f"{target_path}/snap-{b}", recursive=True)
    return expired


def _commit_pointer(fs: FileSystemOps, target_path: str, sid: int, tag) -> None:
    # temp pointer + rename, never an in-place truncation of _LATEST —
    # a reader or crash mid-write would see an empty pointer (the
    # _SUCCESS fallback would still recover)
    tmp = f"{target_path}/_LATEST.tmp-{tag}"
    fs.put_text(tmp, f"snap-{sid}")
    fs.delete(f"{target_path}/_LATEST")
    fs.rename(tmp, f"{target_path}/_LATEST")


def _gc(
    fs: FileSystemOps, lay: _Layout, keep_snapshots: int, keep: set, known: dict[int, dict | None]
) -> None:
    # best-effort GC of superseded snapshots: the newest keep_snapshots
    # survive, ``keep`` (the committed snapshot and the predecessor a
    # concurrent reader may have just resolved) is ALWAYS kept, tags
    # and branch bases pin theirs exactly as against expire_snapshots,
    # and every kept delta keeps its chain. Stale _LATEST.tmp-* files
    # (a crash between put_text and rename) go too: the listing
    # predates this commit's own tmp.
    newest = set(sorted(lay.snaps)[-keep_snapshots:])
    keep = _closure(fs, lay.root, newest | _pins(fs, lay) | keep, known)
    for sid in sorted(lay.snaps - keep):
        fs.delete(f"{lay.root}/snap-{sid}", recursive=True)
    for name in lay.stale:
        fs.delete(f"{lay.root}/{name}")


@dataclass(frozen=True)
class Upsert:
    """A commit that MERGEs one change batch into the table by ``key``,
    latest ``ts`` winning (:func:`_view`). ``evolve_schema`` widens the
    table with the batch's new columns, NULL-filling either side."""

    batch: DataFrame
    key: str
    evolve_schema: bool = False


def _delta_schema(upsert: Upsert | None, meta: dict | None) -> dict | None:
    """The table schema (JSON) after ``upsert`` commits as a delta over
    the local snapshot ``meta`` describes, or None when the commit must
    write the full table: no upsert of the recorded key and order, the
    chain already holds 1/8 of the base rows or more (the compaction
    rule), a shared column changed type, or a strict upsert's columns
    differ (the full merge raises)."""
    if (
        upsert is None
        or meta is None
        or (meta["key"], meta["order"]) != (upsert.key, _UPSERT_ORDER)
        or 8 * meta["chain_rows"] >= meta["base_rows"]
    ):
        return None
    table = T.StructType.fromJson(meta["schema"])
    have = {f.name: f.dataType for f in table}
    batch = upsert.batch.schema
    if any(f.name in have and have[f.name] != f.dataType for f in batch):
        return None
    new = [f for f in batch if f.name not in have]
    if not upsert.evolve_schema and (new or len(batch) != len(table)):
        return None
    return T.StructType([*table, *new]).jsonValue()


def _full_meta(sid: int, df: DataFrame, key: str | None, order) -> dict:
    return {"base": sid, "chain": [], "key": key, "order": order, "schema": df.schema.jsonValue()}


def _write_snap(fs: FileSystemOps, df: DataFrame, snap_dir: str, head: str, meta: dict) -> dict:
    """Write ``df`` into ``snap_dir``, then its ``_BATCH`` (``head`` and
    ``meta`` with the row counts the write observed), then
    ``_SUCCESS``. The data write itself leaves no ``_SUCCESS``, so a
    complete dir always carries its marker: a crash before the marker
    leaves a dir nothing serves — never a delta read as a full table.
    Returns the written meta."""
    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    ).parquet(snap_dir)
    n = rows.get["n"]
    if meta["chain"]:
        meta = {**meta, "chain_rows": meta["chain_rows"] + n}
    else:
        meta = {**meta, "base_rows": n, "chain_rows": 0}
    fs.put_text(f"{snap_dir}/_BATCH", f"{head}\n{json.dumps(meta)}")
    fs.put_text(f"{snap_dir}/_SUCCESS", "")
    return meta


def commit(
    spark: SparkSession,
    target_path: str,
    keep_snapshots: int,
    batch_id: int,
    transform,
    emit=None,
    run_id: str = "",
    branch: str | None = None,
) -> None:
    """The COMMIT PROTOCOL every foreachBatch sink over the store shares:
    resolve the committed predecessor, short-circuit crash redelivery,
    write the new immutable ``snap-<id>`` dir + its ``_BATCH`` marker
    (:func:`_write_snap`), run the optional
    ``emit(prev_df, new_state, snap_id)`` hook (BEFORE the pointer
    flip, so a post-flip crash redelivers with the emit already
    durable), then flip ``_LATEST`` and GC superseded snapshots. One
    place for the crash matrix (pointer flip vs checkpoint commit vs
    emit). ``branch`` names the branch whose root ``target_path`` is;
    writing to a branch that does not exist fails.

    The new dir is a DELTA — the raw batch, one write job, no shuffle
    and no predecessor read — when ``transform`` is an :class:`Upsert`
    and :func:`_delta_schema` allows it over a LOCAL predecessor (a
    branch's first commit, whose predecessor is main's, is full).
    Otherwise it is the full table: for an :class:`Upsert`, the
    :func:`_view` of the predecessor's files plus the batch; for an
    opaque callable, ``transform(prev_df_or_None)``.

    ``run_id`` scopes the redelivery short-circuit to the WRITING QUERY
    (its checkpoint path): engine batch ids restart at 0 for every
    fresh checkpoint, so a bare id match would swallow the first batch
    of a *different* query appending to the same target whenever the
    committed ``_BATCH`` carried the same number. The marker stores
    ``<run_id>\\n<batch_id>``; redelivery requires BOTH to match. A
    single-line marker (a merge commit) compares the id only; a dir
    without a marker is named by its engine batch id.

    SNAPSHOT IDS vs ENGINE BATCH IDS: snap ids are a store-local
    monotonic sequence ``max(engine batch id, committed id + 1)`` —
    equal to the engine id until a merge commit or a branch's base
    pushes the store ahead of the engine's counter. GC, the _SUCCESS
    fallback, the history and the merge-on-read order all order by
    snap id."""
    fs = FileSystemOps(spark)
    lay = _layout(fs, target_path)
    if branch is not None and not lay.base:
        raise FileNotFoundError(
            f"branch {branch!r} does not exist — create it with "
            "branch_snapshot before writing to it"
        )
    prev = _committed(fs, lay)
    run, engine, meta = _marker(fs, *prev) if prev is not None else (None, None, None)
    # only a snapshot LOCAL to this store can be a redelivery or a
    # delta's predecessor: a branch root's base resolves into the
    # parent store, whose _BATCH belongs to main's engine sequence
    local = prev is not None and prev[0] == target_path
    if local and engine == str(batch_id) and run in (None, run_id):
        # Redelivery after a crash between the pointer flip and the
        # checkpoint commit: this batch's snapshot IS the committed
        # state. Transforming again would lazily read the very dir the
        # overwrite targets and wedge the stream on every restart.
        # Re-flip the pointer (_LATEST may have been lost mid-rename)
        # and GC keeping the newest OTHER snapshot as the predecessor,
        # so re-committing the same state never shrinks retention.
        _commit_pointer(fs, target_path, prev[1], batch_id)
        other = max(lay.snaps - {prev[1]}, default=None)
        _gc(fs, lay, keep_snapshots, {prev[1], other}, {prev[1]: meta})
        return
    snap_id = batch_id if prev is None else max(batch_id, prev[1] + 1)
    snap_dir = f"{target_path}/snap-{snap_id}"
    head = f"{run_id}\n{batch_id}"
    upsert = transform if isinstance(transform, Upsert) else None
    schema = _delta_schema(upsert, meta) if local else None
    prev_df = _view(spark, prev, meta) if prev and (upsert is None or emit) else None
    if schema is not None:
        delta = {**meta, "chain": [*meta["chain"], snap_id], "schema": schema}
        new = _write_snap(fs, upsert.batch, snap_dir, head, delta)
    else:
        if upsert is None:
            state, key, order = transform(prev_df), None, None
        else:
            state, key, order = _view(spark, prev, meta, upsert, snap_id), upsert.key, _UPSERT_ORDER
        new = _write_snap(fs, state, snap_dir, head, _full_meta(snap_id, state, key, order))
    if emit is not None:
        emit(prev_df, _view(spark, (target_path, snap_id), new), snap_id)
    _commit_pointer(fs, target_path, snap_id, batch_id)
    lay.snaps.add(snap_id)
    known = {snap_id: new, **({prev[1]: meta} if local else {})}
    _gc(fs, lay, keep_snapshots, set(known), known)
