"""Spans around the benchmark's calls into the engine, with counters.

A span records name, start, end and parent.  Spark status-store counters
(jobs, stages, tasks, executor run/CPU/GC time, shuffle, input and output
bytes) are attached when the run ends: every job is charged to the
innermost span open at its submission time, and every stage to the first
job that lists it.  Spans that ask for it also carry the CPU seconds of
the whole process tree (this process, the JVM and its Python workers) from
/proc, because Python UDF work runs outside the JVM's task CPU counter.

With tracing off, ``span`` yields at once and records nothing.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float  # epoch seconds
    end: float = 0.0
    cpu_s: float | None = None
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    stage_ids: list = field(default_factory=list)
    self_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def process_tree_cpu_s(root_pid: int | None = None) -> float:
    """User+system CPU seconds of ``root_pid`` and all its descendants,
    including reaped children."""
    root_pid = root_pid or os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue  # exited while listing
        rest = data[data.rindex(")") + 2 :].split()
        pid = int(name)
        parent[pid] = int(rest[1])
        ticks[pid] = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stages: dict[int, dict] = {}  # status-store counters per stage id
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._local = threading.local()
        self._root_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            # first span in this thread: the main thread's stack is the
            # context (worker threads of build_index run under its span)
            main = threading.current_thread() is threading.main_thread()
            st = self._local.stack = (
                self._root_stack if main else list(self._root_stack[-1:])
            )
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, cpu: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        st = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, st[-1].id if st else None, op, time.time())
            self.spans.append(s)
        if cpu:
            s.cpu_s = -process_tree_cpu_s()
        st.append(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            if cpu:
                s.cpu_s += process_tree_cpu_s()
            st.pop()
            self.overhead_s += time.perf_counter() - t1

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children(x))
        return out

    def total(self, s: Span, key: str) -> int:
        """Counter ``key`` of ``s`` including all its descendants."""
        return sum(x.counters[key] for x in self.subtree(s))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def finish(self, spark) -> None:
        """Attach status-store counters and compute self times."""
        if not self.enabled:
            return
        jobs, stages = _status_store(spark)
        self.stages = stages
        charged: set = set()
        for submitted_ms, stage_ids in sorted(jobs):
            s = self._innermost_at(submitted_ms / 1000.0)
            if s is None:
                continue
            s.counters["jobs"] += 1
            for sid in stage_ids:
                if sid in charged or sid not in stages:
                    continue
                charged.add(sid)
                st = stages[sid]
                s.stage_ids.append(sid)
                s.counters["stages"] += 1
                for k, v in st.items():
                    if k in s.counters:
                        s.counters[k] += v
        for s in self.spans:
            s.self_s = s.seconds - _covered(s, self.children(s))

    def _innermost_at(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            # 1 ms slack: the status store keeps millisecond timestamps
            if s.start - 0.001 <= t <= s.end + 0.001:
                if best is None or s.start >= best.start:
                    best = s
        return best

    def self_times(self) -> dict[str, float]:
        """Self seconds summed per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.self_s
        return out

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                "self_s": s.self_s,
                "cpu_s": s.cpu_s,
                "counters": s.counters,
                "stage_ids": s.stage_ids,
            }
            for s in self.spans
        ]


def _covered(s: Span, kids: list[Span]) -> float:
    """Length of the part of ``s`` that the (possibly overlapping) child
    intervals cover."""
    ivs = sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _iter(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def _status_store(spark):
    """(jobs, stages) from Spark's status store, which keeps running with
    the UI off: jobs as (submission epoch ms, [stage ids]), stages as
    {stage id: counters summed over attempts, plus the stage's wall time
    from submission to completion as ``wall_ms``}."""
    jsc = spark._jsc.sc()  # noqa: SLF001 - status store has no Python API
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - internal API; fall back to a grace period
        time.sleep(2.0)
    gw = spark.sparkContext._gateway  # noqa: SLF001
    empty = gw.jvm.java.util.ArrayList()
    store = jsc.statusStore()
    stages: dict[int, dict] = {}
    for st in _iter(store.stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)):
        c = stages.setdefault(st.stageId(), dict.fromkeys((*COUNTERS[2:], "wall_ms"), 0))
        c["tasks"] += st.numCompleteTasks()
        sub, done = st.submissionTime(), st.completionTime()
        if sub.isDefined() and done.isDefined():
            c["wall_ms"] += done.get().getTime() - sub.get().getTime()
        c["run_ms"] += st.executorRunTime()
        c["cpu_ms"] += st.executorCpuTime() // 1_000_000
        c["gc_ms"] += st.jvmGcTime()
        c["input_bytes"] += st.inputBytes()
        c["output_bytes"] += st.outputBytes()
        c["shuffle_read_bytes"] += st.shuffleReadBytes()
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
    jobs = []
    for j in _iter(store.jobsList(empty)):
        sub = j.submissionTime()
        if not sub.isDefined():
            continue
        ids = j.stageIds()
        jobs.append((sub.get().getTime(), [ids.apply(i) for i in range(ids.length())]))
    return jobs, stages


def task_skew(spark, stage_id: int) -> float | None:
    """Max over median task duration of one stage's first attempt."""
    import statistics

    store = spark._jsc.sc().statusStore()  # noqa: SLF001
    tasks = store.taskList(stage_id, 0, 100_000)
    durs = [t.duration().get() for t in _iter(tasks) if t.duration().isDefined()]
    if not durs:
        return None
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else None
