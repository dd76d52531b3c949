"""Spans around the benchmark's calls into the program's layers.

Each span runs its Spark actions under a job group of its own, so the
Spark status store attributes jobs, tasks, busy time and bytes to it
without any change to the program. Spans stay in memory and are written
out once, at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .stats import self_time

COUNTERS = (
    "jobs",
    "tasks",
    "busy_ms",
    "cpu_ms",
    "input_bytes",
    "input_records",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)


@dataclass
class Span:
    name: str
    op_id: int
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen_job = -1

    @contextmanager
    def span(self, name: str, op_id: int):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        sp = Span(name, op_id, 0.0, parent=self._stack[-1] if self._stack else None, group=f"ub{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_ms(self, idx: int) -> float:
        sp = self.spans[idx]
        return 1000.0 * self_time(sp.start, sp.end, [(c.start, c.end) for c in self.children(idx)])

    def subtree(self, idx: int) -> list[Span]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo += [j for j, s in enumerate(self.spans) if s.parent == i]
        return out

    def collect_counters(self) -> None:
        """Attribute every job finished since the last call to its span's
        counters. Call outside any span: it waits for the listener bus."""
        jsc = self.spark._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        by_group = {s.group: s for s in self.spans}
        seen_stages: set[int] = set()
        newest = self._seen_job
        jobs = store.jobsList(None).iterator()
        while jobs.hasNext():
            job = jobs.next()
            jid = job.jobId()
            if jid <= self._seen_job:
                continue
            newest = max(newest, jid)
            group = job.jobGroup()
            sp = by_group.get(group.get()) if group.isDefined() else None
            if sp is None:
                continue
            c = sp.counters
            c["jobs"] += 1
            stages = job.stageIds().iterator()
            while stages.hasNext():
                sid = stages.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                c["tasks"] += st.numTasks()
                c["busy_ms"] += st.executorRunTime()
                c["cpu_ms"] += st.executorCpuTime() / 1e6
                c["input_bytes"] += st.inputBytes()
                c["input_records"] += st.inputRecords()
                c["output_bytes"] += st.outputBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        self._seen_job = newest

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d["ms"] = s.ms
            d["self_ms"] = self.self_ms(i)
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f)
