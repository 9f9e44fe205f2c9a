"""In-process model orchestrator — the app.py + dbt-DAG role.

The reference orchestrates by shelling out to dbt sequentially
(promptly/app.py:29-64, ``subprocess.run`` per step, threads=1 in
profiles.yml:21); dbt resolves ``ref()`` calls into a model DAG
(curated_provider.sql:52,67). Here: models are Python functions
returning DataFrames, dependencies are declared, execution is a
topological sort with fail-fast — one process, no subprocess
boundaries. Independent models of one topo level run concurrently
(the reference cannot: threads=1).
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

ModelFn = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass
class Model:
    name: str
    fn: ModelFn
    deps: list[str] = field(default_factory=list)


class Pipeline:
    """Register models with deps (the ``ref()`` graph), then ``run``:
    topo-sort, execute each model with its resolved upstream frames,
    register the result as a temp view (the SQL surface dbt exposes),
    fail fast on error (app.py:61-64 check=True analog)."""

    def __init__(self) -> None:
        self._models: dict[str, Model] = {}

    def model(self, name: str, deps: list[str] | None = None) -> Callable[[ModelFn], ModelFn]:
        def deco(fn: ModelFn) -> ModelFn:
            if name in self._models:
                raise ValueError(f"duplicate model: {name}")
            self._models[name] = Model(name, fn, list(deps or []))
            return fn

        return deco

    def topo_order(self) -> list[str]:
        order: list[str] = []
        state: dict[str, int] = {}  # 0=unvisited 1=visiting 2=done

        def visit(name: str) -> None:
            if name not in self._models:
                raise KeyError(f"unknown model dependency: {name}")
            if state.get(name) == 1:
                raise ValueError(f"dependency cycle through {name}")
            if state.get(name) == 2:
                return
            state[name] = 1
            for d in self._models[name].deps:
                visit(d)
            state[name] = 2
            order.append(name)

        for name in self._models:
            visit(name)
        return order

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Run level by level: each topo level's independent models run
        concurrently (Spark's scheduler accepts jobs from multiple
        threads, so independent models overlap their cluster usage — the
        reference cannot, TRINO_DBT_THREADS=1, profiles.yml:21). A
        one-model level runs inline on the caller's thread."""
        results: dict[str, DataFrame] = {}

        def run_one(name: str) -> DataFrame:
            m = self._models[name]
            return m.fn(spark, {d: results[d] for d in m.deps})

        for group in self._topo_levels():
            log.info("running level: %s", group)
            if len(group) == 1:
                frames = [run_one(group[0])]
            else:
                # cap the pool: past ~8 concurrent jobs the local
                # scheduler is saturated and extra threads only cost
                # driver memory
                with ThreadPoolExecutor(max_workers=min(8, len(group))) as ex:
                    frames = list(ex.map(run_one, group))
            for name, df in zip(group, frames):
                df.createOrReplaceTempView(name)
                results[name] = df
        return results

    def _topo_levels(self) -> list[list[str]]:
        order = self.topo_order()
        level: dict[str, int] = {}
        for name in order:
            deps = self._models[name].deps
            level[name] = 1 + max((level[d] for d in deps), default=-1)
        out: list[list[str]] = []
        for name in order:
            while len(out) <= level[name]:
                out.append([])
            out[level[name]].append(name)
        return out
