"""Tests of the benchmark itself: seeded inputs, metric names, failure
accounting. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys

import pytest

from perfbench import harness, inputs, metrics, oracles
from perfbench.workloads import WORKLOADS, OpRecord, _union_s

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = inputs.Size("t", events=3_000, customers=300, cdc_table=500, cdc_batch=50)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_same_seed_gives_identical_inputs(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 11, SMALL)
    b = inputs.generate(str(tmp_path / "b"), 11, SMALL)
    c = inputs.generate(str(tmp_path / "c"), 12, SMALL)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))
    assert a["tables"]["events"]["rows"] == SMALL.events


def test_same_seed_gives_identical_change_log():
    one, two = inputs.ChangeLog(5, SMALL), inputs.ChangeLog(5, SMALL)
    for _ in range(4):
        assert one.next_batch() == two.next_batch()
    assert one.state == two.state


def test_change_log_replay_is_latest_wins():
    log = inputs.ChangeLog(3, SMALL)
    lines, counts = log.next_batch()
    assert counts == {"u": 0, "c": SMALL.cdc_table, "d": 0}
    assert len(log.state) == SMALL.cdc_table
    before = dict(log.state)
    lines, counts = log.next_batch()
    assert sum(counts.values()) == len(lines) == SMALL.cdc_batch
    envs = [json.loads(json.loads(x)["raw_message"])["payload"] for x in lines]
    keys = [(e["after"] or e["before"])["event_id"] for e in envs]
    assert len(set(keys)) == len(keys), "keys are distinct within a batch"
    for e in envs:
        k = (e["after"] or e["before"])["event_id"]
        if e["op"] == "d":
            assert log.state[k] == before[k], "a tombstone leaves the row"
        else:
            assert log.state[k][3] == e["ts_ms"] > before.get(k, (0, "", 0.0, 0))[3]
    assert len(log.state) == SMALL.cdc_table + counts["c"]


def test_benchmark_json_matches_the_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    recs = [OpRecord(op_s=1.0 + i, rows=10, bytes_in=100, bytes_written=50) for i in range(3)]
    e2e = harness.end_to_end(recs, setup_s=2.0, jvm_peak=2**30)
    printed = metrics.result(e2e, trace=False)
    assert list(printed) == [m["name"] for m in bench["end_to_end"]]
    assert all(printed[m["name"]]["unit"] == m["unit"] for m in bench["end_to_end"])
    assert list(metrics.result({}, trace=True)) == [m["name"] for m in bench["per_layer"]]
    assert set(WORKLOADS) == {w["name"] for w in bench["workloads"]}


def test_forced_failure_is_counted_and_the_loop_continues():
    def run_op(i):
        if i == 1:
            raise RuntimeError("forced failure inside op 1")
        return OpRecord(op_s=0.1, rows=1, bytes_in=1, bytes_written=1), i

    def check(out, rec):
        if out == 2:
            raise oracles.OutputMismatch("forced mismatch in op 2")

    log = io.StringIO()
    loop = harness.Loop(run_op, check, log)
    done = [loop.once(i) for i in range(5)]
    assert (loop.attempted, loop.failed) == (5, 2)
    assert [d is None for d in done] == [False, True, True, False, False]
    assert "forced failure inside op 1" in log.getvalue()
    assert "forced mismatch in op 2" in log.getvalue()


def test_op_median_takes_the_least_stolen_half_with_steal_factored_out(monkeypatch):
    monkeypatch.setattr(harness, "cpus", lambda: 4)

    def rec(op_s, steal):
        return OpRecord(op_s=op_s, rows=1, bytes_in=1, bytes_written=1, steal=steal)

    assert harness.undisturbed_s(2.8, 0.1) == pytest.approx(2.0)
    # the two most stolen ops are left out whatever their time
    recs = [rec(4.0, 0.10), rec(2.0, 0.0), rec(1.0, 0.20), rec(3.0, 0.0)]
    assert harness.steady_median_s(recs) == 2.5
    assert harness.steady_median_s(recs[:3]) == pytest.approx((2.0 + 4.0 / 1.4) / 2)
    assert harness.steady_median_s([rec(5.0, 0.25)]) == pytest.approx(2.5)


def test_report_ends_with_the_result_line():
    values = {m.name: 1.5 for m in metrics.END_TO_END}
    record = {"trace": False, "machine": {"cpus": 4}, "correct": True, "attempted": 3,
              "failed": 0, "values": values}
    out = io.StringIO()
    harness.report(record, out)
    last = json.loads(out.getvalue().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["metrics"]["op_p50_s"] == {"value": 1.5, "unit": "s"}


def test_helpers():
    assert _union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert harness._p90(list(range(1, 11))) == 9


def test_one_short_run_prints_every_end_to_end_metric():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_upsert", "--seed", "3",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert list(last["metrics"]) == [m.name for m in metrics.END_TO_END]
    assert all(v["value"] > 0 for v in last["metrics"].values())
