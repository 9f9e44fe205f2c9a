"""Metric definitions: one source for the printed result, the per-layer
table and the checks against ``BENCHMARK.json``.

Every workload prints every metric of its mode. A per-layer metric of a
module the workload never calls reads 0: that is the predicted non-move
(the ``cdc.streaming`` metrics on ``elt_nightly``, and so on).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EndToEnd:
    name: str
    unit: str
    better: str
    bound: float
    what: str


@dataclass(frozen=True)
class Layer:
    name: str
    unit: str
    better: str
    moves: str  # the end-to-end metric it should move
    on: str  # the workloads it should move it on


END_TO_END = (
    EndToEnd("setup_s", "s", "lower", 0.25,
             "median set-up round (session start, input load, initial table) plus warm-up ops, steal factored out"),
    EndToEnd("op_p50_s", "s", "lower", 0.25, "median wall time of one op, its consumer read included, steal factored out, over the least-stolen half of the ops"),
    EndToEnd("rows_per_s", "rows/s", "higher", 0.25, "input rows of one op per second of median op time"),
    EndToEnd("write_amp", "ratio", "lower", 0.05, "bytes written per byte of op input"),
    EndToEnd("peak_rss_mb", "MB", "lower", 0.1, "peak RSS (high-water mark) of the driver JVM"),
)

ELT, CDC = "elt_nightly", "cdc_upsert"
ALL = f"{ELT},{CDC}"


def _layer(prefix: str, moves: str, on: str, *items: tuple[str, str, str]) -> list[Layer]:
    return [Layer(f"{prefix}.{n}", u, b, moves, on) for n, u, b in items]


_S, _LO, _HI = "s", "lower", "higher"

PER_LAYER = tuple(
    _layer("session", "setup_s,peak_rss_mb", ALL,
           ("get_session_s", _S, _LO), ("jvm_gc_s", _S, _LO))
    + _layer("op", "op_p50_s", ALL,
             ("jobs", "count", _LO), ("tasks", "count", _LO),
             ("executor_run_s", _S, _LO), ("executor_cpu_s", _S, _LO),
             ("core_util", "ratio", _HI), ("shuffle_write_bytes", "B", _LO),
             ("spill_bytes", "B", _LO), ("input_bytes", "B", _LO),
             ("output_bytes", "B", _LO))
    + _layer("pipelines.orchestrator", "op_p50_s", ELT,
             ("model_s.raw_events", _S, _LO), ("model_s.raw_user_nation", _S, _LO),
             ("model_s.curated_activity", _S, _LO), ("level0_overlap", "ratio", _HI))
    + _layer("pipelines.elt_job", "op_p50_s,rows_per_s", ELT,
             ("run_elt_s", _S, _LO), ("self_s", _S, _LO), ("read_curated_s", _S, _LO),
             ("jobs", "count", _LO),
             ("executor_run_s", _S, _LO), ("core_util", "ratio", _HI),
             ("shuffle_write_bytes", "B", _LO))
    + _layer("quality", "op_p50_s", ELT,
             ("checks.run_suite_s", _S, _LO), ("report.write_report_s", _S, _LO),
             ("jobs", "count", _LO))
    + _layer("cdc.streaming", "op_p50_s,write_amp", CDC,
             ("drain_s", _S, _LO), ("drain_p90_s", _S, _LO),
             ("add_batch_ms", "ms", _LO), ("query_planning_ms", "ms", _LO),
             ("wal_commit_ms", "ms", _LO), ("commit_offsets_ms", "ms", _LO),
             ("outside_trigger_ms", "ms", _LO),
             ("bytes_written_per_commit", "B", _LO),
             ("predecessor_bytes_read_per_commit", "B", _LO),
             ("store_bytes", "B", _LO), ("files_per_snapshot", "count", _LO),
             ("read_upsert_target_s", _S, _LO))
    + _layer("cdc.batch", "op_p50_s", f"{CDC},{ELT}",
             ("merge_s", _S, _LO), ("shuffle_write_bytes", "B", _LO),
             ("spill_bytes", "B", _LO), ("executor_run_s", _S, _LO))
    + _layer("trace", "op_p50_s", ALL,
             ("traced_op_p50_s", _S, _LO), ("untraced_op_p50_s", _S, _LO),
             ("overhead_s", _S, _LO), ("spans_per_op", "count", _LO))
)


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` these definitions imply."""
    from .workloads import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
            for m in END_TO_END
        ],
        "per_layer": [{"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER],
    }


RUN_SECONDS = 8


def result(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """The ``metrics`` object of the printed result: every metric of the
    mode, in definition order, with its unit."""
    if trace:
        # a layer the workload never reaches reads 0
        return {m.name: {"value": float(values.get(m.name, 0.0)), "unit": m.unit} for m in PER_LAYER}
    return {m.name: {"value": float(values[m.name]), "unit": m.unit} for m in END_TO_END}
