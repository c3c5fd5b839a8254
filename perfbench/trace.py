"""Spans, Spark stage diffs, executed-plan row counts and process-tree
memory, all observed from outside the program.

A :class:`Tracer` records one span per layer call made by the benchmark
(name, start, end, parent).  When it is given a :class:`StageProbe`, each
span also runs under its own Spark job group and carries the stages and
jobs that completed inside it, read from the JVM ``AppStatusStore``
(works with the UI disabled).  Spans stay in memory until
:meth:`Tracer.to_json` at the end of the run.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Span:
    __slots__ = ("name", "parent", "start", "end", "stages", "jobs")

    def __init__(self, name: str, parent: int | None, start: float):
        self.name = name
        self.parent = parent
        self.start = start
        self.end: float | None = None
        self.stages: list[dict] = []
        self.jobs = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, probe: "StageProbe | None" = None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._probe = probe
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        snap = None
        if self._probe is not None:
            snap = self._probe.snapshot()
            self._probe.set_group(name)
        sp = Span(name, parent, self._clock())
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()
            if self._probe is not None:
                sp.stages, sp.jobs = self._probe.since(snap)
                self._probe.set_group(
                    self.spans[parent].name if parent is not None else None
                )

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """The span's duration minus the part its child spans cover."""
        sp = self.spans[idx]
        kids = [(c.start, c.end) for c in self.children(idx)]
        return sp.duration - covered(kids)

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": self.spans[s.parent].name if s.parent is not None else None,
                "parent_idx": s.parent,
                "start_s": s.start,
                "end_s": s.end,
                "self_s": self.self_time(i),
                "jobs": s.jobs,
                "stages": s.stages,
            }
            for i, s in enumerate(self.spans)
        ]


class StageProbe:
    """Stage and job diffs from the Spark JVM's ``AppStatusStore``."""

    _FIELDS = (
        "executorRunTime", "inputBytes", "inputRecords", "outputBytes",
        "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
        "diskBytesSpilled", "numTasks",
    )

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gw = self._sc._gateway

    def _drain(self) -> None:
        # stage completion reaches the store through the listener bus
        self._bus.waitUntilEmpty()

    # Both lists come back newest first (descending ids), and the benchmark
    # runs one action at a time, so a span owns every id above the
    # highest id seen when it opened.
    def _stages(self):
        stages = self._store.stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None
        )
        for i in range(stages.size()):
            yield stages.apply(i)

    def _jobs(self):
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            yield jobs.apply(i)

    def snapshot(self) -> tuple[int, int]:
        self._drain()
        top_stage = next((s.stageId() for s in self._stages()), -1)
        top_job = next((j.jobId() for j in self._jobs()), -1)
        return top_stage, top_job

    def since(self, snap: tuple[int, int]) -> tuple[list[dict], int]:
        self._drain()
        top_stage, top_job = snap
        out = []
        for s in self._stages():
            if s.stageId() <= top_stage:
                break
            if s.status().toString() == "SKIPPED":
                continue
            row = {"stage_id": s.stageId(), "attempt": s.attemptId(), "name": s.name()}
            for f in self._FIELDS:
                row[f] = getattr(s, f)()
            row["task_skew"] = self._task_skew(s.stageId(), s.attemptId())
            out.append(row)
        jobs = 0
        for j in self._jobs():
            if j.jobId() <= top_job:
                break
            jobs += 1
        return out[::-1], jobs

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        """Max over median task run time of one stage (1.0 = balanced)."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self._store.taskSummary(stage_id, attempt, q)
        if not summ.isDefined():
            return 1.0
        run = summ.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def set_group(self, name: str | None) -> None:
        if name is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(name, name)


def stage_sum(stages: list[dict], field: str) -> float:
    return sum(s[field] for s in stages)


@dataclass
class PlanGraph:
    """One executed SQL plan: per node (name, description, output rows or
    None when the node counts none), and each node's children."""

    nodes: dict[int, tuple[str, str, int | None]]
    children: dict[int, list[int]] = field(default_factory=dict)

    def rows_out(self, nid: int) -> int:
        """Rows leaving ``nid``; a node that counts none (a Project) passes
        on the count of the single child below it."""
        while self.nodes[nid][2] is None:
            kids = self.children.get(nid, [])
            if len(kids) != 1:
                raise ValueError(f"no row count at or below node {nid}")
            nid = kids[0]
        return self.nodes[nid][2]

    def matching(self, pred) -> list[int]:
        return [n for n, (name, desc, _) in self.nodes.items() if pred(name, desc)]

    def rows_into(self, pred) -> int:
        """Rows entering the lowest nodes that ``pred(name, desc)`` picks
        (a node is skipped when a node below it is picked too)."""
        picked = set(self.matching(pred))
        total = 0
        for nid in picked:
            below, stack = False, list(self.children.get(nid, []))
            while stack and not below:
                kid = stack.pop()
                below = kid in picked
                stack.extend(self.children.get(kid, []))
            if not below:
                total += sum(self.rows_out(k) for k in self.children.get(nid, []))
        return total


class PlanProbe:
    """Executed plans of the SQL executions that ran inside a window, read
    from the JVM ``SQLAppStatusStore`` (kept with the UI disabled)."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def snapshot(self) -> int:
        self._bus.waitUntilEmpty()
        return self._store.executionsCount()

    def since(self, snap: int) -> list[PlanGraph]:
        # the store keeps the last 1000 executions and lists them oldest
        # first; a run stays far below that, so positions are stable
        self._bus.waitUntilEmpty()
        execs = self._store.executionsList(snap, 1 << 30)
        return [self._graph(execs.apply(i).executionId()) for i in range(execs.size())]

    def _graph(self, eid: int) -> PlanGraph:
        values = {}
        it = self._store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        g = self._store.planGraph(eid)
        nodes = {}
        all_nodes = g.allNodes()
        for i in range(all_nodes.size()):
            nd = all_nodes.apply(i)
            rows = None
            ms = nd.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() == "number of output rows" and m.accumulatorId() in values:
                    rows = int(values[m.accumulatorId()].replace(",", ""))
            nodes[nd.id()] = (nd.name(), nd.desc(), rows)
        graph = PlanGraph(nodes)
        edges = g.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            graph.children.setdefault(e.toId(), []).append(e.fromId())
        return graph


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    parent: int
    name: str
    vsize: int
    rss_bytes: int
    cpu_ticks: int  # user + system, reaped children included


def proc_tree(root: int) -> dict[int, Proc]:
    """``root`` and every live descendant, read from ``/proc``."""
    procs: dict[int, Proc] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        f = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = Proc(
            parent=int(f[1]),
            name=stat[stat.index("(") + 1:stat.rindex(")")],
            vsize=int(f[20]),
            rss_bytes=int(f[21]) * _PAGE,
            cpu_ticks=sum(int(x) for x in f[11:15]),
        )
    kids: dict[int, list[int]] = {}
    for pid, p in procs.items():
        kids.setdefault(p.parent, []).append(pid)
    tree, pending = {}, [root]
    while pending:
        pid = pending.pop()
        pending.extend(kids.get(pid, ()))
        if pid in procs:
            tree[pid] = procs[pid]
    return tree


def tree_rss(tree: dict[int, Proc]) -> int:
    """Resident bytes of a process tree.  A child whose address space has
    exactly its parent's size is the parent's address space, shared (a JVM
    thread spawning a helper with vfork, which runs on the JVM's pages
    until it execs) or just forked (a Python worker), so it counts once."""
    total = 0
    for p in tree.values():
        up = tree.get(p.parent)
        if up is not None and up.vsize == p.vsize:
            continue
        total += p.rss_bytes
    return total


# JVM threads that compile hot code; /proc truncates names to 15 bytes
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _thread_ticks(pid: int, names: tuple[str, ...]) -> int:
    """CPU ticks of ``pid``'s threads whose name starts with one of
    ``names``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process ended
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:stat.rindex(")")].startswith(names):
            total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13])
    return total


def tree_cpu_s(tree: dict[int, Proc]) -> float:
    """CPU seconds a process tree has used, less what the JVM's JIT
    compiler threads used: compiling is the warm-up's cost, and it runs in
    bursts that land in whichever operation happens to be running.  Time a
    shared host gives to other guests (steal) is not in it, unlike wall
    time."""
    ticks = sum(p.cpu_ticks for p in tree.values())
    ticks -= sum(_thread_ticks(pid, _JIT_THREADS) for pid, p in tree.items() if p.name == "java")
    return ticks / _TICK


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    Spark JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._root = os.getpid()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss(proc_tree(self._root)))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False
