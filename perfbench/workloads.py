"""The benchmark workloads. Each is a closed loop with one client: the
next op starts when the previous one has returned and been checked.

An op ends with one consumer read of what it produced, and ``op_s``
includes it; the read is also reported per layer. Everything else an op needs (the
next CDC arrival file, clean-up of the previous op's output, the
checks) happens outside the timed interval.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from . import inputs, oracles
from .oracles import OutputMismatch


@dataclass
class OpRecord:
    op_s: float
    rows: int  # input rows the op processed
    bytes_in: int  # bytes of the op's input
    bytes_written: int
    layer: dict[str, float] = field(default_factory=dict)
    steal: float = 0.0  # hypervisor steal share of the machine's CPU during the op


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


class Workload:
    name = ""
    why = ""
    size: inputs.Size
    warmup_ops = 2
    min_ops = 2  # measured ops per run, however long they take

    def __init__(self, work: str, seed: int, cpus: int) -> None:
        self.seed = seed
        self.cpus = cpus
        self.cache = os.path.join(work, "inputs")
        self.run_dir = os.path.join(work, "run", self.name)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.input_dir = ""
        self.manifest: dict = {}

    def load_inputs(self) -> None:
        self.input_dir, self.manifest = inputs.cached(self.cache, self.seed, self.size)

    def setup(self, spark) -> None:
        """One set-up round after a fresh session start."""
        self.load_inputs()

    def prepare_checks(self) -> None:
        """Compute expected outputs (once, untimed)."""

    def instrument(self, tracer) -> None:
        """Wrap the package functions the workload reaches only
        indirectly (trace mode only)."""

    def op(self, spark, i: int, tracer) -> tuple[OpRecord, object]:
        raise NotImplementedError

    def check(self, spark, out: object, rec: OpRecord) -> None:
        """Raise ``OutputMismatch`` when ``out`` is wrong."""

    def final_check(self, spark) -> None:
        """Checks over the end state of the run."""

    def finish_trace(self, spark) -> dict[str, float]:
        """Per-layer values measured once per traced run."""
        return {}

    def span_layers(self, tracer, spans, rec: OpRecord) -> dict[str, float]:
        """Per-layer values of one traced op from its resolved spans."""
        return {}

    def input_bytes(self, *tables: str) -> int:
        return sum(self.manifest["tables"][t]["bytes"] for t in tables)

    def _core_util(self, counters: dict, wall_s: float) -> float:
        return counters["executor_run_s"] / (wall_s * self.cpus) if wall_s > 0 else 0.0


def _by_name(spans) -> dict[str, object]:
    return {sp.name: sp for sp in spans}


class EltNightly(Workload):
    name = "elt_nightly"
    why = (
        "run_elt into a fresh warehouse: CDC decode, day-partitioned raw, dim, "
        "latest-wins curated, DQ suite, report; JVM scans, shuffles and "
        "partitioned writes with almost no streaming or extension code"
    )
    size = inputs.Size("elt", events=80_000, customers=8_000)
    warmup_ops = 4  # op time falls for ~5 ops (JIT) before it levels off
    min_ops = 3

    def prepare_checks(self) -> None:
        self.cols = ("user_id", "event_id", "ts", "nation_name", "event_type", "value")
        self.expected = sorted(
            oracles.registry_oracle("elt_pipeline_run", self.input_dir, ("events", "customer", "nation"))
        )
        self.expected_counts = oracles.elt_counts(self.input_dir)

    def instrument(self, tracer) -> None:
        from promptly_data_pipelines_spark.pipelines import elt_job, orchestrator
        from promptly_data_pipelines_spark.quality import checks, report

        register = orchestrator.Pipeline.model

        def model(pipeline, name, deps=None):
            deco = register(pipeline, name, deps)

            def traced(fn):
                deco(tracer.wrap(f"pipelines.orchestrator.model:{name}", fn))
                return fn

            return traced

        orchestrator.Pipeline.model = model
        # elt_job imports both by name
        elt_job.run_suite = tracer.wrap("quality.checks.run_suite", checks.run_suite)
        elt_job.write_report = tracer.wrap("quality.report.write_report", report.write_report)

    def op(self, spark, i, tracer):
        from promptly_data_pipelines_spark.pipelines.elt_job import run_elt

        wh = os.path.join(self.run_dir, f"warehouse-{i}")
        t0 = time.perf_counter()
        with tracer.span("pipelines.elt_job.run_elt"):
            res = run_elt(spark, self.input_dir, wh)
        t1 = time.perf_counter()
        curated = res["curated"].collect()
        t2 = time.perf_counter()
        rec = OpRecord(
            op_s=t2 - t0,
            rows=self.manifest["tables"]["events"]["rows"],
            bytes_in=self.input_bytes("events", "customer", "nation"),
            bytes_written=inputs.tree_bytes(wh),
            layer={"pipelines.elt_job.read_curated_s": t2 - t1},
        )
        shutil.rmtree(wh)
        return rec, (res, curated)

    def check(self, spark, out, rec) -> None:
        res, curated = out
        if not res["passed"]:
            raise OutputMismatch("DQ suite reported a failed check")
        if res["counts"] != self.expected_counts:
            raise OutputMismatch(f"model counts {res['counts']} != {self.expected_counts}")
        if oracles.rows(curated, self.cols) != self.expected:
            raise OutputMismatch("curated_activity differs from the elt_pipeline_run oracle")

    def span_layers(self, tracer, spans, rec):
        named = _by_name(spans)
        run = named["pipelines.elt_job.run_elt"]
        kids = [sp for sp in spans if sp.parent == run.sid]
        models = {
            sp.name.split(":", 1)[1]: sp for sp in spans if sp.name.startswith("pipelines.orchestrator.model:")
        }
        level0 = [models[m] for m in ("raw_events", "raw_user_nation")]
        inc = tracer.inclusive(spans, run)
        suite, report = named["quality.checks.run_suite"], named["quality.report.write_report"]
        merge = models["curated_activity"]
        out = {
            f"pipelines.orchestrator.model_s.{m}": sp.wall_s for m, sp in models.items()
        }
        out |= {
            "pipelines.orchestrator.level0_overlap": sum(sp.wall_s for sp in level0)
            / _union_s([(sp.start, sp.end) for sp in level0]),
            "pipelines.elt_job.run_elt_s": run.wall_s,
            "pipelines.elt_job.self_s": run.wall_s - _union_s([(k.start, k.end) for k in kids]),
            "pipelines.elt_job.jobs": inc["jobs"],
            "pipelines.elt_job.executor_run_s": inc["executor_run_s"],
            "pipelines.elt_job.core_util": self._core_util(inc, run.wall_s),
            "pipelines.elt_job.shuffle_write_bytes": inc["shuffle_write_bytes"],
            "quality.checks.run_suite_s": suite.wall_s,
            "quality.report.write_report_s": report.wall_s,
            "quality.jobs": suite.counters["jobs"] + report.counters["jobs"],
            "cdc.batch.merge_s": merge.wall_s,
            "cdc.batch.shuffle_write_bytes": merge.counters["shuffle_write_bytes"],
            "cdc.batch.spill_bytes": merge.counters["spill_bytes"],
            "cdc.batch.executor_run_s": merge.counters["executor_run_s"],
        }
        return out


def _progress_ms(progress, key: str) -> float:
    d = progress.durationMs if hasattr(progress, "durationMs") else progress["durationMs"]
    return float(d.get(key, 0))


class CdcUpsert(Workload):
    name = "cdc_upsert"
    why = (
        "one Debezium arrival file per op MERGEd by upsert_sink into a large "
        "snapshot table, then a consumer read; stresses the snapshot commit "
        "protocol with small batches"
    )
    size = inputs.Size("cdc", cdc_table=50_000, cdc_batch=1_000)
    warmup_ops = 3
    min_ops = 6

    def load_inputs(self) -> None:
        # the change log is generated batch by batch from the seed; only
        # the manifest (shape of the input) is recorded here
        self.manifest = {
            "seed": self.seed,
            "size": self.size.name,
            "tables": {
                "cdc_initial": {"rows": self.size.cdc_table},
                "cdc_batch": {"rows": self.size.cdc_batch},
            },
        }

    def setup(self, spark) -> None:
        """A fresh store loaded with the initial table (change batch 0)."""
        from promptly_data_pipelines_spark.cdc.streaming import read_upsert_target

        self.load_inputs()
        self.log = inputs.ChangeLog(self.seed, self.size)
        shutil.rmtree(self.run_dir)
        self.src, self.ckpt, self.tgt, self.stage = (
            os.path.join(self.run_dir, d) for d in ("src", "ckpt", "tgt", "stage")
        )
        os.makedirs(self.src)
        os.makedirs(self.stage)
        staged, nbytes = self._stage(0)
        self.manifest["tables"]["cdc_initial"]["bytes"] = nbytes
        self._publish(staged)
        self._drain(spark)
        if read_upsert_target(spark, self.tgt).count() != len(self.log.state):
            raise OutputMismatch("initial load row count differs from the change log")
        self.prev_snapshot_bytes = inputs.tree_bytes(self._committed())

    def _stage(self, batch: int) -> tuple[str, int]:
        """Write change batch ``batch`` where the source does not list it."""
        lines, _ = self.log.next_batch()
        path = os.path.join(self.stage, f"{batch:06d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        return path, os.path.getsize(path)

    def _publish(self, staged: str) -> None:
        """Drop a staged file into the source directory (atomic rename)."""
        os.rename(staged, os.path.join(self.src, os.path.basename(staged)))

    def _drain(self, spark):
        from promptly_data_pipelines_spark.cdc.streaming import (
            drain_stream,
            live_rows,
            read_envelope_stream,
            upsert_sink,
        )

        q = upsert_sink(live_rows(read_envelope_stream(spark, self.src)), self.tgt, self.ckpt).start()
        drain_stream(q, "cdc_upsert arrival")
        return q

    def _committed(self) -> str:
        with open(os.path.join(self.tgt, "_LATEST")) as f:
            return os.path.join(self.tgt, f.read().strip())

    def op(self, spark, i, tracer):
        from pyspark.sql import functions as F

        from promptly_data_pipelines_spark.cdc.streaming import read_upsert_target

        staged, arrival_bytes = self._stage(self.log.batches)
        ckpt_before = inputs.tree_bytes(self.ckpt)
        t0 = time.perf_counter()
        self._publish(staged)
        with tracer.span("cdc.streaming.drain"):
            q = self._drain(spark)
        t1 = time.perf_counter()
        with tracer.span("cdc.streaming.read_upsert_target"):
            got = read_upsert_target(spark, self.tgt).agg(
                F.count("*"),
                F.sum("event_id"),
                F.sum(F.round(F.col("value") * 100).cast("long")),
                F.sum(F.unix_millis("ts")),
            ).first()
        t2 = time.perf_counter()
        snap = inputs.tree_bytes(self._committed())
        written = snap + max(0, inputs.tree_bytes(self.ckpt) - ckpt_before)
        progress = q.recentProgress
        trig = sum(_progress_ms(p, "triggerExecution") for p in progress)
        rec = OpRecord(
            op_s=t2 - t0,
            rows=self.size.cdc_batch,
            bytes_in=arrival_bytes,
            bytes_written=written,
            layer={
                "cdc.streaming.drain_s": t1 - t0,
                "cdc.streaming.read_upsert_target_s": t2 - t1,
                "cdc.streaming.add_batch_ms": sum(_progress_ms(p, "addBatch") for p in progress),
                "cdc.streaming.query_planning_ms": sum(_progress_ms(p, "queryPlanning") for p in progress),
                "cdc.streaming.wal_commit_ms": sum(_progress_ms(p, "walCommit") for p in progress),
                "cdc.streaming.commit_offsets_ms": sum(_progress_ms(p, "commitOffsets") for p in progress),
                "cdc.streaming.outside_trigger_ms": (t1 - t0) * 1e3 - trig,
                "cdc.streaming.bytes_written_per_commit": written,
                "cdc.streaming.predecessor_bytes_read_per_commit": self.prev_snapshot_bytes,
                "cdc.batch.merge_s": sum(_progress_ms(p, "addBatch") for p in progress) / 1e3,
            },
        )
        self.prev_snapshot_bytes = snap
        return rec, tuple(got)

    def check(self, spark, out, rec) -> None:
        want = oracles.cdc_aggregate(self.log.state)
        if out != want:
            raise OutputMismatch(f"target aggregate {out} != replay {want}")

    def final_check(self, spark) -> None:
        from pyspark.sql import functions as F

        from promptly_data_pipelines_spark.cdc.streaming import read_upsert_target

        got = read_upsert_target(spark, self.tgt).select(
            "event_id", "user_id", "event_type", "value", F.unix_millis("ts").alias("ms")
        ).collect()
        if sorted(tuple(r) for r in got) != oracles.cdc_rows(self.log.state):
            raise OutputMismatch("final upsert target differs from the latest-wins replay")

    def finish_trace(self, spark) -> dict[str, float]:
        snap = self._committed()
        files = [f for f in os.listdir(snap) if f.endswith(".parquet")]
        return {
            "cdc.streaming.store_bytes": inputs.tree_bytes(self.tgt) + inputs.tree_bytes(self.ckpt),
            "cdc.streaming.files_per_snapshot": len(files),
        }

    def span_layers(self, tracer, spans, rec):
        drain = _by_name(spans)["cdc.streaming.drain"]
        return {
            "cdc.batch.shuffle_write_bytes": drain.counters["shuffle_write_bytes"],
            "cdc.batch.spill_bytes": drain.counters["spill_bytes"],
            "cdc.batch.executor_run_s": drain.counters["executor_run_s"],
        }


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (EltNightly, CdcUpsert)}
