"""Measuring Spark from outside: job groups, the status store, JVM beans.

Every unit of measured work runs under a span: a name, a start and end
time, its parent span, and the Spark job group whose jobs (and their stage
metrics) belong to it.  Spans are kept in memory and written out once, at
the end of the run.
"""

from __future__ import annotations

import gc
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class JobStats:
    job_id: int
    name: str  # the job's call site, e.g. "parquet at ..."
    action: str  # the SQL action that ran it ("count at ..."), else ``name``
    seconds: float
    stages: int
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_write_bytes: int
    output_bytes: int


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    jobs: tuple[JobStats, ...] = ()
    result: object = None  # what a traced call captured from its output

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SparkProbe:
    """Reads job, stage and JVM figures through the SparkContext's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._actions: dict[int, str] = {}
        self._executions_seen = 0
        self._ssc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._tracker = self.sc.statusTracker()
        self._mgmt = self._jvm.java.lang.management.ManagementFactory

    def set_group(self, group: str | None) -> None:
        """Tag the thread's next jobs with ``group``.  Only the group id is
        set, not a job description, so each SQL execution keeps its action's
        call site ("count at ...") as its description."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds each finished job and its stage metrics."""
        self._ssc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def _refresh_actions(self) -> None:
        """Map job ids to the SQL execution (one DataFrame action) that
        submitted them; AQE stage jobs carry no call site of their own."""
        n = self._sql_store.executionsCount()
        if n <= self._executions_seen:
            return
        execs = self._sql_store.executionsList(self._executions_seen, n - self._executions_seen)
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            desc = ex.description()
            jobs = ex.jobs().keysIterator()
            while jobs.hasNext():
                self._actions[int(jobs.next())] = desc
        self._executions_seen = n

    def job_stats(self, job_id: int) -> JobStats:
        self._refresh_actions()
        store = self._ssc.statusStore()
        jd = store.job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        seconds = (
            (done.get().getTime() - sub.get().getTime()) / 1000.0
            if sub.isDefined() and done.isDefined()
            else 0.0
        )
        stages = tasks = shuffle = out = 0
        run_ms = cpu_ns = 0
        it = jd.stageIds().iterator()
        while it.hasNext():
            try:
                st = store.lastStageAttempt(it.next())
            except Py4JJavaError:  # evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += st.numCompleteTasks()
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            shuffle += st.shuffleWriteBytes()
            out += st.outputBytes()
        name = jd.name()
        return JobStats(
            job_id,
            name,
            self._actions.get(job_id, name),
            seconds,
            stages,
            tasks,
            run_ms / 1e3,
            cpu_ns / 1e9,
            shuffle,
            out,
        )

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans()) / 1e3

    def live_heap_mb(self) -> float:
        """Heap in use after forced full collections.  Python drops its JVM
        references first, and the pause lets Spark's context cleaner release
        broadcasts and shuffles whose handles the first collection freed."""
        gc.collect()
        for pause in (0.5, 0.0):
            self._jvm.java.lang.System.gc()
            time.sleep(pause)
        return self._mgmt.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def jvm_hwm_mb(self) -> float:
        """Peak resident set of the Spark JVM (``VmHWM``)."""
        pid = self._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def versions(self) -> dict[str, str]:
        return {
            "spark": self.sc.version,
            "java": self._jvm.java.lang.System.getProperty("java.version"),
        }


class Tracer:
    """Nested spans, each with its own job group; restores the enclosing
    span's group on exit so jobs land in the innermost span."""

    def __init__(self, probe: SparkProbe) -> None:
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, parent, f"pb{idx}", 0.0)
        self.spans.append(sp)
        self._stack.append(idx)
        self.probe.set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.probe.set_group(None if parent is None else self.spans[parent].group)

    def collect_jobs(self, spans: list[Span], stages: bool) -> None:
        """Attach each span's jobs; with ``stages`` also their stage metrics
        (a few py4j calls per stage, so only traced runs ask for them)."""
        self.probe.drain()
        for sp in spans:
            ids = self.probe.job_ids(sp.group)
            if stages:
                sp.jobs = tuple(self.probe.job_stats(j) for j in ids)
            else:
                sp.jobs = tuple(JobStats(j, "", "", 0.0, 0, 0, 0.0, 0.0, 0, 0) for j in ids)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span nested under it."""
        idx = self.spans.index(root)
        out, keep = [], {idx}
        for i in range(idx, len(self.spans)):
            if i == idx or self.spans[i].parent in keep:
                keep.add(i)
                out.append(self.spans[i])
        return out

    def self_seconds(self, sp: Span) -> float:
        idx = self.spans.index(sp)
        return sp.seconds - sum(s.seconds for s in self.spans if s.parent == idx)

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "parent": s.parent,
                "group": s.group,
                "jobs": [j.__dict__ for j in s.jobs],
            }
            for s in self.spans
        ]
