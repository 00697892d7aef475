"""In-memory spans and Spark status-store attribution for the traced run.

A span is a named interval with a parent; all spans of one pass share the
pass id. While a span is open, its id is the Spark job group, so after the
pass the jobs it launched can be read back from the status store (which
works with ``spark.ui.enabled=false``). Jobs that run under another group
(a streaming query's micro-batches run under their query's own group) and
stages are attributed by submission time instead; the workload is a closed
loop, so at most one leaf span is open at a time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "perfbench-"
RAN = ("COMPLETE", "FAILED", "ACTIVE")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: spans cost one generator frame and record nothing."""

    enabled = False
    overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        yield None

    def new_pass(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.pass_id = -1
        self._stack: list[Span] = []
        # perf_counter -> epoch seconds, to compare with the JVM's clock
        self.epoch_offset = time.time() - time.perf_counter()

    def new_pass(self) -> None:
        self.pass_id += 1

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.pass_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{self._stack[-1].id}", self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - s.end

    def epoch_ms(self, t: float) -> float:
        return (t + self.epoch_offset) * 1000.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


def status_store(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from Spark's status store, serialized in the JVM."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    )
    stages = store.stageList(
        None, False, False,
        getattr(store, "stageList$default$4")(), getattr(store, "stageList$default$5")(),
    )
    return (
        json.loads(mapper.writeValueAsString(store.jobsList(None))),
        json.loads(mapper.writeValueAsString(stages)),
    )


def attribute(tracer: Tracer, span: Span, jobs: list[dict], stages: list[dict]) -> dict:
    """Jobs, stages and task metrics launched while ``span`` or one of its
    descendants was open."""
    lo, hi = tracer.epoch_ms(span.start), tracer.epoch_ms(span.end)
    ids = {span.id}
    for s in tracer.spans[span.id + 1:]:  # children are opened after parents
        if s.parent in ids:
            ids.add(s.id)
    groups = {f"{GROUP_PREFIX}{i}" for i in ids}

    def inside(rec: dict) -> bool:
        t = rec.get("submissionTime")
        return t is not None and lo <= t <= hi

    n_jobs = sum(
        1 for j in jobs
        if j.get("jobGroup") in groups
        or (not str(j.get("jobGroup") or "").startswith(GROUP_PREFIX) and inside(j))
    )
    ran = [s for s in stages if s["status"] in RAN and inside(s)]
    mb = 1.0 / (1 << 20)
    return {
        "jobs": n_jobs,
        "stages": len(ran),
        "tasks": sum(s["numTasks"] for s in ran),
        "task_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
        "task_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "input_mb": sum(s["inputBytes"] for s in ran) * mb,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) * mb,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) * mb,
        "shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in ran) / 1e3,
        "spill_mb": sum(s["diskBytesSpilled"] for s in ran) * mb,
        "failed_tasks": sum(s["numFailedTasks"] for s in ran),
    }
