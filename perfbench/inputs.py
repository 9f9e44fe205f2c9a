"""Seeded input generator for the benchmark workloads.

One process, numpy + pyarrow only (no Spark), so generation cost never
depends on the engine under test. Every table is written in the
``catalog.DECLARED_SCHEMAS`` shape; timestamps are naive microsecond
parquet, as in the driver fixtures. The same (seed, size) always gives
byte-identical tables, and a finished set is cached on disk under its
(seed, size) key so a repeated run pays only the load.

CDC arrival files are Debezium envelopes wrapped in the file-source row
shape ``{"raw_message": <envelope JSON>, "kafka_timestamp": ...}`` that
``cdc.streaming.read_envelope_stream`` reads.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_NATIONS = 25
EVENT_FILES = 4
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def tree_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


@dataclass(frozen=True)
class Size:
    """Row counts of one input set. ``name`` is part of the cache key."""

    name: str
    events: int = 0
    customers: int = 0
    cdc_table: int = 0  # rows of the initial upsert target
    cdc_batch: int = 0  # change rows per arrival file


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """One parquet file, or a directory of ``files`` part files (a
    multi-file table scans as parallel tasks, as a lakehouse table
    does; Spark reads either form from the same path)."""
    if files == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy")


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    # ~30 days of traffic, strictly increasing micro timestamps; 5 % of
    # user ids lie beyond the customer table, so the curated model's
    # 'unknown' nation fill is exercised. Activity is power-law over
    # users (rank^-0.8: the busiest user has ~4 % of events) — skewed,
    # but no single key outweighs a whole shuffle partition, so where
    # the hot keys hash to does not swing the op time from seed to seed
    gaps = rng.integers(1, 2 * (30 * 86_400_000_000 // max(n, 1)) + 2, size=n)
    ts = T0_US + np.cumsum(gaps)
    hi = int(n_users * 1.05)
    weights = 1.0 / np.arange(1, hi + 1) ** 0.8
    user = rng.permutation(hi)[rng.choice(hi, size=n, p=weights / weights.sum())]
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    value = np.round(rng.random(n) * 100.0, 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def _customers(rng: np.random.Generator, n: int) -> pa.Table:
    segs = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, size=n).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.random(n) * 10_000 - 1_000, 2)),
            "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, size=n)]),
        }
    )


def _nations() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array((np.arange(N_NATIONS) % 5).astype(np.int32)),
        }
    )


def generate(out_dir: str, seed: int, size: Size) -> dict:
    """Write every table ``size`` asks for under ``out_dir`` and return
    the manifest (row and byte counts per table)."""
    os.makedirs(out_dir, exist_ok=True)
    r_ev, r_cu = (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(2))
    tables: dict[str, pa.Table] = {}
    if size.events:
        tables["events"] = _events(r_ev, size.events, size.customers)
        tables["customer"] = _customers(r_cu, size.customers)
        tables["nation"] = _nations()
    manifest: dict = {"seed": seed, "size": size.name, "tables": {}}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(t, path, files=EVENT_FILES if name == "events" else 1)
        manifest["tables"][name] = {"rows": t.num_rows, "bytes": tree_bytes(path)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def cached(cache_root: str, seed: int, size: Size) -> tuple[str, dict]:
    """The input dir for (seed, size), generated on first use. A set is
    published by renaming a finished temp dir, so an interrupted
    generation is never mistaken for a cached one."""
    final = os.path.join(cache_root, f"{size.name}-seed{seed}")
    if not os.path.exists(os.path.join(final, "manifest.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, size)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(os.path.join(final, "manifest.json")) as f:
        return final, json.load(f)


# ---- CDC change log ---------------------------------------------------

SOURCE = {"db": "promptly", "schema": "public", "table": "events"}


def _image(eid: int, user: int, etype: str, value: float) -> dict:
    return {
        "event_id": eid,
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": f'{{"k": {eid % 100}}}',
    }


def _line(op: str, ts_ms: int, before: dict | None, after: dict | None) -> str:
    env = {"payload": {"op": op, "ts_ms": ts_ms, "before": before, "after": after, "source": SOURCE}}
    stamp = np.datetime64(ts_ms, "ms").astype(str) + "Z"
    return json.dumps({"raw_message": json.dumps(env), "kafka_timestamp": stamp})


class ChangeLog:
    """Seeded Debezium change stream against one keyed table.

    Batch 0 is the initial load (inserts only). Every later batch holds
    distinct keys: ~80 % updates of live keys, ~15 % inserts of new
    keys, ~5 % delete tombstones. Event time rises one hour per batch,
    so the latest-wins order across batches is unambiguous. ``state``
    is the independent replay: the live rows a latest-wins MERGE of the
    batches so far must hold. Tombstones carry only a ``before`` image;
    the sink's decode keeps rows with an ``after`` image, so they leave
    the target unchanged."""

    def __init__(self, seed: int, size: Size) -> None:
        self.seed = seed
        self.size = size
        self.next_key = 0
        self.batches = 0
        self.state: dict[int, tuple[int, str, float, int]] = {}
        self._keys = np.empty(0, dtype=np.int64)

    def next_batch(self) -> tuple[list[str], dict[str, int]]:
        """Envelope lines of the next arrival file and its op counts;
        applies the batch to ``state``."""
        rng = np.random.default_rng([self.seed, self.batches])
        ts_ms = T0_US // 1000 + self.batches * 3_600_000
        if self.batches == 0:
            n_upd, n_del, n_ins = 0, 0, self.size.cdc_table
        else:
            n = self.size.cdc_batch
            n_upd, n_del = int(n * 0.80), int(n * 0.05)
            n_ins = n - n_upd - n_del
        picked = rng.choice(len(self._keys), size=n_upd + n_del, replace=False) if n_upd + n_del else []
        existing = self._keys[picked]
        new_keys = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins
        users = rng.integers(0, 50_000, size=n_upd + n_ins)
        etypes = rng.integers(0, len(EVENT_TYPES), size=n_upd + n_ins)
        values = np.round(rng.random(n_upd + n_ins) * 100.0, 2)
        offs = rng.integers(0, 3_000_000, size=len(existing) + n_ins)
        lines: list[str] = []
        for i, key in enumerate(list(existing[:n_upd]) + list(new_keys)):
            eid, t = int(key), ts_ms + int(offs[i])
            row = (int(users[i]), EVENT_TYPES[etypes[i]], float(values[i]), t)
            img = _image(eid, row[0], row[1], row[2])
            if i < n_upd:
                prev = self.state[eid]
                lines.append(_line("u", t, _image(eid, prev[0], prev[1], prev[2]), img))
            else:
                lines.append(_line("r" if self.batches == 0 else "c", t, None, img))
            self.state[eid] = row
        for j, key in enumerate(existing[n_upd:]):
            eid = int(key)
            prev = self.state[eid]
            t = ts_ms + int(offs[n_upd + n_ins + j])
            lines.append(_line("d", t, _image(eid, prev[0], prev[1], prev[2]), None))
        self._keys = np.concatenate([self._keys, new_keys])
        self.batches += 1
        rng.shuffle(lines)
        return lines, {"u": n_upd, "c": n_ins, "d": n_del}
