"""Quiet-floor regression flagging (bench.py, r11 verdict #2): the
machine-readable floor table + WARN that would have self-flagged the
r11 driver run's 2.9x skew10_dedup_near_text_exact reading."""

from __future__ import annotations

import json
import os

import bench


def test_check_floors_flags_only_true_timing_regressions():
    floors = {"a": 1.0, "b": 1.0, "similarity_ivf_recall": 0.92, "c": 0.5}
    timings = {
        "a": 2.5,  # 2.5x floor -> flagged
        "b": 1.9,  # under the 2x ratio -> clean
        "similarity_ivf_recall": 1.0,  # recall lines are never flagged
        "skew10_error": "OOM",  # error markers are never flagged
        "c": 1.001,  # 2.0x exactly is NOT flagged (strict >)
        "new_line": 99.0,  # no floor recorded yet -> clean
    }
    warns = bench.check_floors(timings, floors)
    assert set(warns) == {"a", "c"}
    val, floor, ratio, norm_ratio = warns["a"]
    assert (val, floor) == (2.5, 1.0) and ratio == 2.5
    assert norm_ratio == 2.5  # scale=1.0 -> normalized == raw


def test_check_floors_calibration_normalization():
    """r14 verdict #1: a 1.5x-slower host-day inflated every line and
    produced 22 raw floor warnings, all machine state. The comparison
    is now normalized by the calibration scale; the raw ratio stays
    in the record for attribution."""
    floors = {"a": 1.0, "b": 1.0}
    timings = {"a": 2.5, "b": 3.5}
    # scale 1.5: a's normalized reading 1.67x -> clean; b's 2.33x -> flagged
    warns = bench.check_floors(timings, floors, scale=1.5)
    assert set(warns) == {"b"}
    val, floor, raw, norm = warns["b"]
    assert (val, floor, raw) == (3.5, 1.0, 3.5) and norm == 2.33


def test_floor_scale_clamps_at_reference():
    # faster-than-reference days never scale readings up
    assert bench.floor_scale(0.45) == 1.0
    assert bench.floor_scale(None) == 1.0
    assert bench.floor_scale(0.0) == 1.0
    # the r14 slow-day band: 0.843 start -> ~1.53x the 0.55 reference
    assert abs(bench.floor_scale(0.843) - 0.843 / bench.FLOOR_CAL_REF) < 1e-9
    assert bench.floor_scale(0.843) > 1.5


def test_update_floors_only_ratchets_down():
    floors = {"a": 1.0, "b": 2.0}
    merged = bench.update_floors(
        {"a": 1.5, "b": 0.8, "new": 3.0, "x_recall": 0.9, "e_error": "x"},
        floors,
    )
    assert merged == {"a": 1.0, "b": 0.8, "new": 3.0}
    # input tables are never mutated
    assert floors == {"a": 1.0, "b": 2.0}


def test_headline_line_fits_the_driver_tail_budget():
    """r12 verdict #1: BENCH_r11/r12.json shipped "parsed": null because
    the final stdout line (headline + ~60-entry secondary) outgrew the
    driver's ~2.2 KB tail capture. The final line is now headline-only
    and must serialize under HEADLINE_LINE_BUDGET even with worst-case
    float widths on every headline query."""
    timings = {name: 12345.678 for name in bench.HEADLINE}
    line = json.dumps(bench.build_headline(timings, 0.1))
    assert len(line) <= bench.HEADLINE_LINE_BUDGET, (len(line), line)
    parsed = json.loads(line)
    # the driver's contract: metric/value/unit/queries/sf — nothing else
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert set(parsed["queries"]) == set(bench.HEADLINE)


def test_committed_floors_file_parses_and_covers_the_r11_flag():
    with open(bench.FLOORS_PATH) as fh:
        raw = json.load(fh)
    assert set(raw) == {"cpus", "note", "floors"}
    floors = bench.floors_for_run(raw, raw["cpus"])
    assert floors, "bench_floors.json must ship with seeded floors"
    assert all(isinstance(v, float) and v > 0 for v in floors.values())
    # the exact line the r11 verdict flagged must now self-flag: the
    # 13.4s loaded driver reading against the quiet floor
    warns = bench.check_floors({"skew10_dedup_near_text_exact": 13.4}, floors)
    assert "skew10_dedup_near_text_exact" in warns
    assert os.path.exists(bench.FLOORS_PATH)


def test_floors_apply_only_on_their_core_count():
    """The floors were set on local[32]; a 4-core calibration probe
    reads 0.644 s, inside the quiet gate, so without the core-count
    check a quiet 4-core run would WARN against and min-merge into the
    32-core table."""
    table = {"cpus": 32, "floors": {"a": 1.0}}
    assert bench.floors_for_run(table, 32) == {"a": 1.0}
    assert bench.floors_for_run(table, 4) is None
    # a table that does not record its core count is never ratcheted
    assert bench.floors_for_run({"floors": {"a": 1.0}}, 32) is None


class _FakeWriter:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


class _FakeDF:
    write = _FakeWriter()


class _FakeCatalog:
    def clearCache(self):
        pass


class _FakeSpark:
    catalog = _FakeCatalog()


def test_stress_lines_isolate_a_single_failure():
    """r13 verdict #1: the r13 driver stress tier lost ALL six new skew
    lines because one deliberately-pathological line failed inside a
    shared try/except. run_stress_lines must record the failing line's
    error marker + FULL traceback + loadavg-at-failure, and still time
    every other line."""

    def ok(_spark, _sf):
        return _FakeDF()

    def boom(_spark, _sf):
        raise RuntimeError("lost task 10 in stage 396.0 (simulated)")

    names = ["alpha", "boom_line", "omega"]
    queries = {"alpha": ok, "boom_line": boom, "omega": ok}
    secondary: dict[str, object] = {}
    spread: dict[str, list[float]] = {}
    line_load: dict[str, float] = {}
    tracebacks: dict[str, str] = {}
    bench.run_stress_lines(
        _FakeSpark(), queries, "/nonexistent", names, secondary, spread, line_load, tracebacks
    )
    # lines AFTER the failure are present — the r13 defect inverted
    assert "skew10_alpha" in secondary and "skew10_omega" in secondary
    assert isinstance(secondary["skew10_omega"], float)
    # the failing line leaves a 200-char-capped marker ...
    err = secondary["skew10_boom_line_error"]
    assert "RuntimeError" in err and len(err) <= 200
    assert "skew10_boom_line" not in secondary
    # ... a FULL traceback for the sidecar (attributable, not a stub) ...
    assert "Traceback" in tracebacks["skew10_boom_line"]
    assert "lost task 10" in tracebacks["skew10_boom_line"]
    # ... and the loadavg at the moment of failure
    assert "skew10_boom_line_at_failure" in line_load


def test_stress_line_list_matches_the_registry():
    """Every STRESS_LINES name must resolve in the query registry —
    a typo'd rotation would otherwise only fail inside the forked
    tier, where it degrades to an error marker instead of a test."""
    from promptly_data_pipelines_spark.registry import all_queries, local_only_queries

    known = {**local_only_queries(), **all_queries()}
    missing = [n for n in bench.STRESS_LINES if n not in known]
    assert not missing, missing
