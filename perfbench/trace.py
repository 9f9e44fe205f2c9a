"""Spans around calls into the package's layers, and the Spark engine
counters of the jobs each span launched.

A span records name, parent, wall interval and the op it belongs
to; spans stay in memory and are resolved against Spark's
status store once, when the run ends. Each span sets its own job group
in the thread that runs it, so jobs launched from worker threads (the
orchestrator's parallel model level) are attributed to the model that
launched them. Jobs with no group of ours (streaming micro-batches,
helper threads the program starts itself) are attributed to the
deepest span whose interval covers their submission time.

py4j notes: Scala ``Seq`` values are read with ``.apply(i)``, and
``AppStatusStore.stageList`` takes all five of its arguments.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

# Spark stage counters summed per span; times in seconds
COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: int
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``active``; does nothing otherwise."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.op = -1
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        # the stack of the thread that opened the op's root span: a span
        # opened in a thread of the program's own pool is a child of the
        # span open there
        self._main: list[Span] = []
        self._lock = threading.Lock()

    # ---- recording -----------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if not self._main:
            self._main = stack
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        sp = Span(next(self._ids), parent.sid if parent else None, name, self.op, time.time())
        sc = self.spark.sparkContext
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = [sc.getLocalProperty(k) for k in keys]
        sc.setJobGroup(f"{_GROUP_PREFIX}{sp.sid}", name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            for k, v in zip(keys, prev):
                sc.setLocalProperty(k, v)
            if stack is self._main and not stack:
                self._main = []
            with self._lock:
                self.spans.append(sp)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def jvm_gc_s(self) -> float:
        mgmt = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        beans = mgmt.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    # ---- resolution ----------------------------------------------------

    def resolve(self) -> None:
        """Attribute every job to a span and sum its stage counters."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        stages: dict[int, dict[str, float]] = {}
        seq = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(seq.size()):
            s = seq.apply(i)
            c = stages.setdefault(s.stageId(), dict.fromkeys(COUNTERS, 0.0))
            c["tasks"] += s.numCompleteTasks()
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            c["input_bytes"] += s.inputBytes()
            c["output_bytes"] += s.outputBytes()
        by_sid = {sp.sid: sp for sp in self.spans}
        ordered = sorted(self.spans, key=lambda sp: sp.start)
        seen_stages: set[int] = set()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sp = None
            group = j.jobGroup()
            if group.isDefined() and str(group.get()).startswith(_GROUP_PREFIX):
                sp = by_sid.get(int(str(group.get())[len(_GROUP_PREFIX):]))
            if sp is None and j.submissionTime().isDefined():
                t = j.submissionTime().get().getTime() / 1e3
                covering = [s for s in ordered if s.start <= t <= s.end]
                sp = covering[-1] if covering else None
            if sp is None:
                continue
            sp.jobs.append(j.jobId())
            c = sp.counters
            c["jobs"] += 1
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_id = ids.apply(k)
                if stage_id in stages and stage_id not in seen_stages:
                    seen_stages.add(stage_id)
                    for key, v in stages[stage_id].items():
                        c[key] += v

    # ---- queries over resolved spans -----------------------------------

    def of_op(self, op: int) -> list[Span]:
        return [sp for sp in self.spans if sp.op == op]

    @staticmethod
    def inclusive(spans: list[Span], root: Span) -> dict[str, float]:
        """Counters of ``root`` plus all of its descendants."""
        kids: dict[int | None, list[Span]] = {}
        for sp in spans:
            kids.setdefault(sp.parent, []).append(sp)
        total = dict.fromkeys(COUNTERS, 0.0)
        todo = [root]
        while todo:
            sp = todo.pop()
            for k, v in sp.counters.items():
                total[k] += v
            todo.extend(kids.get(sp.sid, []))
        return total
