"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The benchmark builds its inputs from the
seed, sets up a session on ``local[<cpus>]``, warms up, then runs the
workload's ops in a closed loop for ``--seconds``, checking each op's
output. The last line of standard output is the JSON result; with
``--trace 1`` the metrics are the per-layer ones, preceded by the
per-layer table and the tracing overhead. Everything the run writes
stays under ``.perfbench/`` in the repository root; the full record of
each run is kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "promptly_data_pipelines_spark"


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes under ``work``, pin the session's
    memory and time zone; must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what earlier runs left behind
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    # import as a package from the root, never as loose modules from
    # perfbench/ (its trace.py would shadow the standard library's)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    _prepare_env(work)
    record = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    harness.report(record)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
