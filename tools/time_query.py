"""Time one or more named queries exactly the way bench.py does
(noop sink, clearCache between reps, untimed warmup pass for
PAIR_OPS-style plans), in a fresh JVM — the A/B loop for a single
line without paying for the whole bench run.

Run:  python tools/time_query.py [-r REPS] [-w] name...
  -r REPS  timed repetitions (default 3; min is reported)
  -w       one untimed warmup pass first (the bench PAIR_OPS discipline)

PDP_TIME_QUERY_CONF="k=v,k=v" adds session confs for an A/B. Keys of
session.RUNTIME_DEFAULTS (AQE, timezone, parquet codec) are refused:
the first table read runs tune_session, which resets them, so both
sides would measure the default. A/B those by commit instead.

Prints one JSON line {name: {"min": s, "runs": [...]}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-r", "--reps", type=int, default=3)
    ap.add_argument("-w", "--warmup", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from promptly_data_pipelines_spark.registry import (
        all_queries,
        local_only_queries,
    )
    from promptly_data_pipelines_spark.session import RUNTIME_DEFAULTS, get_session

    # conf A/B hook: PDP_TIME_QUERY_CONF="k=v,k=v" applies extra confs
    # on top of the engine defaults, so a candidate session setting can
    # be measured without touching session.py; RUNTIME_DEFAULTS keys are
    # refused (see the module docstring)
    extra = dict(
        kv.split("=", 1)
        for kv in os.environ.get("PDP_TIME_QUERY_CONF", "").split(",")
        if "=" in kv
    )
    reset = sorted(set(extra) & set(RUNTIME_DEFAULTS))
    if reset:
        sys.exit(
            f"PDP_TIME_QUERY_CONF: {', '.join(reset)} is reset by tune_session on "
            "the first table read; A/B a runtime default by commit instead"
        )
    spark = get_session(
        "pdp-time-query", cpus=CPUS, shuffle_partitions=CPUS, extra_conf=extra or None
    )
    queries = {**local_only_queries(), **all_queries()}
    # the bench's tiny JIT warmup
    queries["agg_count"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for name in args.names:
        spark.sparkContext.setJobDescription(f"time_query: {name}")
        if args.warmup:
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        runs: list[float] = []
        for _ in range(args.reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(runs), "runs": runs}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
