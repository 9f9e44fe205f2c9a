"""Run one workload: set up, warm up, measure for a fixed time, check
every op, and assemble the end-to-end or per-layer metrics."""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import time
import traceback

from . import metrics
from .workloads import WORKLOADS, OpRecord, Workload

SETUP_ROUNDS = 3


def jvm_peak_bytes() -> int:
    """Peak RSS of the driver JVM, read from ``/proc`` outside the
    program: its own high-water mark (``VmHWM``), which no sampling gap
    can miss. Neither workload starts Python workers."""
    with open(f"/proc/{jvm_pid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings: on a shared host, the main cause of whole
    runs reading slower."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def start_session(work: str):
    from promptly_data_pipelines_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    return get_session(
        cpus=cpus(),
        extra_conf={
            # a fixed heap (initial = max) keeps heap sizing, and so GC
            # work and the memory peak, from drifting between runs
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run resolves every job and stage once, at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def jvm_pid() -> int:
    """The driver JVM: the process pyspark launched (spark-submit execs
    into java, keeping the pid)."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM process, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def machine(wl: Workload) -> dict:
    import pyspark

    return {
        "cpus": cpus(),
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", ""),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "platform": platform.platform(),
        "seed": wl.seed,
        "inputs": wl.manifest.get("tables", {}),
    }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, -(-9 * len(s) // 10) - 1)]


class Loop:
    """Closed-loop op runner: every op is checked, a failing op (raised
    or mismatched output) is counted and logged and the loop goes on."""

    def __init__(self, run_op, check, log=sys.stderr) -> None:
        self.run_op, self.check, self.log = run_op, check, log
        self.attempted = 0
        self.failed = 0

    def once(self, i: int) -> OpRecord | None:
        self.attempted += 1
        try:
            rec, out = self.run_op(i)
            self.check(out, rec)
            return rec
        except Exception:
            self.failed += 1
            print(f"op {i} failed:\n{traceback.format_exc()}", file=self.log)
            return None


def undisturbed_s(wall_s: float, steal: float) -> float:
    """``wall_s`` with the hypervisor's steal factored out: about what the
    interval takes on a host of its own. An op waits for all of its
    parallel parts, so time stolen from any vCPU holds it up; on a
    shared 4-vCPU VM, ELT op times rose as 1 + cpus x steal share (2.6 s
    at no steal, 4.7 s at 20 %), and dividing by that factor brought the
    run medians of a calm and a busy half hour to within 6 % of each
    other, from 55 % apart."""
    return wall_s / (1 + cpus() * steal)


def steady_median_s(recs: list[OpRecord]) -> float:
    """Median undisturbed op time over the half of the ops (at least
    one) that the hypervisor disturbed least: other guests take the
    CPUs in bursts of tens of seconds, past what ``undisturbed_s``
    corrects. Choosing by steal, never by op time, keeps a slower
    program reading slower."""
    least = sorted(recs, key=lambda r: r.steal)[: -(-len(recs) // 2)]
    return _median([undisturbed_s(r.op_s, r.steal) for r in least])


def end_to_end(recs: list[OpRecord], setup_s: float, jvm_peak: int) -> dict[str, float]:
    op_p50 = steady_median_s(recs)
    return {
        "setup_s": setup_s,
        "op_p50_s": op_p50,
        "rows_per_s": _median([r.rows for r in recs]) / op_p50 if op_p50 else 0.0,
        "write_amp": sum(r.bytes_written for r in recs) / max(1, sum(r.bytes_in for r in recs)),
        "peak_rss_mb": jvm_peak / 2**20,
    }


def per_layer(wl: Workload, tracer, traced: list[tuple[int, OpRecord]], untraced: list[OpRecord],
              get_session_s: float) -> dict[str, float]:
    """Median over the traced ops of each per-layer value."""
    tracer.resolve()
    rows: list[dict[str, float]] = []
    for i, rec in traced:
        spans = tracer.of_op(i)
        root = next(sp for sp in spans if sp.name == "op")
        inc = tracer.inclusive(spans, root)
        vals = {f"op.{k}": v for k, v in inc.items() if f"op.{k}" in _LAYER_NAMES}
        vals["op.core_util"] = inc["executor_run_s"] / (root.wall_s * wl.cpus)
        vals["trace.spans_per_op"] = len(spans)
        vals |= rec.layer
        vals |= wl.span_layers(tracer, spans, rec)
        rows.append(vals)
    keys = {k for r in rows for k in r}
    out = {k: _median([r[k] for r in rows if k in r]) for k in keys}
    drains = [r["cdc.streaming.drain_s"] for r in rows if "cdc.streaming.drain_s" in r]
    if drains:
        out["cdc.streaming.drain_p90_s"] = _p90(drains)
    out["session.get_session_s"] = get_session_s
    out["trace.traced_op_p50_s"] = steady_median_s([rec for _, rec in traced])
    out["trace.untraced_op_p50_s"] = steady_median_s(untraced)
    out["trace.overhead_s"] = out["trace.traced_op_p50_s"] - out["trace.untraced_op_p50_s"]
    return out


_LAYER_NAMES = {m.name for m in metrics.PER_LAYER}


def run(name: str, seed: int, seconds: float, trace: bool, work: str, log=sys.stderr) -> dict:
    """Run workload ``name``; returns the full result record."""
    from .trace import Tracer

    wl = WORKLOADS[name](work, seed, cpus())
    rounds, session_s = [], []
    spark = None
    try:
        for _ in range(SETUP_ROUNDS):
            t0, jiffies = time.perf_counter(), cpu_jiffies()
            if spark is not None:
                spark.stop()
            spark = start_session(work)
            session_s.append(time.perf_counter() - t0)
            wl.setup(spark)
            rounds.append((time.perf_counter() - t0, steal_share(jiffies, cpu_jiffies())))
        wl.prepare_checks()
        tracer = Tracer(spark)
        if trace:
            wl.instrument(tracer)
        gc_before: dict[int, float] = {}

        def run_op(i: int):
            tracer.op = i
            if tracer.active:
                gc_before[i] = tracer.jvm_gc_s()
            jiffies = cpu_jiffies()
            try:
                with tracer.span("op"):
                    rec, out = wl.op(spark, i, tracer)
                rec.steal = steal_share(jiffies, cpu_jiffies())
            finally:
                # a real run meets new inputs: drop what the op cached
                # (the package leaves some persisted frames to the
                # context cleaner) so the next op cannot reuse it
                spark.catalog.clearCache()
            if tracer.active:
                rec.layer["session.jvm_gc_s"] = tracer.jvm_gc_s() - gc_before[i]
            return rec, out

        loop = Loop(run_op, lambda out, rec: wl.check(spark, out, rec), log)
        t0, jiffies = time.perf_counter(), cpu_jiffies()
        for i in range(wl.warmup_ops):
            loop.once(i)
        setup_s = _median([undisturbed_s(*r) for r in rounds]) + undisturbed_s(
            time.perf_counter() - t0, steal_share(jiffies, cpu_jiffies())
        )

        traced: list[tuple[int, OpRecord]] = []
        untraced: list[OpRecord] = []
        i = wl.warmup_ops
        # a traced run alternates traced and untraced ops over twice the
        # time, so both halves see the same warm-up state. At least
        # min_ops ops run: where a few ops fill the window, the op count
        # (and so which ops the median takes) would otherwise flip
        # between runs
        deadline = time.perf_counter() + seconds * (2 if trace else 1)
        while time.perf_counter() < deadline or i - wl.warmup_ops < wl.min_ops:
            tracer.active = trace and i % 2 == 1
            rec = loop.once(i)
            if rec is not None:
                (traced.append((i, rec)) if tracer.active else untraced.append(rec))
            i += 1
        tracer.active = False
        final_ok = True
        try:
            wl.final_check(spark)
        except Exception:
            final_ok = False
            print(f"final check failed:\n{traceback.format_exc()}", file=log)
        jvm_peak = jvm_peak_bytes()
        if trace:
            values = per_layer(wl, tracer, traced, untraced, _median(session_s))
            values |= wl.finish_trace(spark)
        else:
            values = end_to_end(untraced, setup_s, jvm_peak)
        record = {
            "workload": name,
            "trace": trace,
            "machine": machine(wl),
            "setup_rounds_s": [w for w, _ in rounds],
            "setup_rounds_steal": [st for _, st in rounds],
            "jvm_peak_mb": jvm_peak / 2**20,
            "ops": [r.op_s for r in untraced] + [r.op_s for _, r in traced],
            "ops_steal": [r.steal for r in untraced] + [r.steal for _, r in traced],
            "correct": final_ok and loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "values": values,
        }
    finally:
        if spark is not None:
            stop_jvm(spark)
    return record


def report(record: dict, out=sys.stdout) -> None:
    """Machine shape and inputs, the metric table (per-layer, with the
    tracing overhead, for a traced run), then the result line, last."""
    trace = record["trace"]
    v = record["values"]
    print("machine " + json.dumps(record["machine"]), file=out)
    if not trace:
        for m in metrics.END_TO_END:
            print(f"{m.name:12} {v[m.name]:14.6g} {m.unit:7} {m.what}", file=out)
    else:
        print(f"{'layer metric':58} {'value':>14} {'unit':6} moves / on", file=out)
        for m in metrics.PER_LAYER:
            print(f"{m.name:58} {v.get(m.name, 0.0):14.6g} {m.unit:6} {m.moves} / {m.on}", file=out)
        print(f"tracing overhead: {v['trace.overhead_s']:+.4f} s per op (op_p50_s traced - untraced)", file=out)
    result = {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics.result(record["values"], trace),
    }
    print(json.dumps(result), file=out)
