"""Measurement helpers: /proc sampling, spans, and Spark-side counts.

psutil is not assumed: RSS and CPU time are read from ``/proc`` for this
process and every descendant (the Spark JVM and its python workers).
Spark counts come from outside the program: jobs, stages and tasks from
the status tracker, and plan row counts (``numOutputRows``)
from the SQL status store after the action has finished.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from 3 (state) on


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb(pids: list[int]) -> dict:
    """Summed RSS (MiB) of ``pids`` split into driver, jvm and workers."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE / 2**20
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        kind = "driver" if pid == os.getpid() else "jvm" if comm == "java" else "workers"
        out[kind] += rss
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime + stime (+ reaped children's) of ``pids``, in seconds."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def _jit_ticks(pid: int) -> int:
    """utime + stime ticks of the JIT compiler threads of ``pid`` if it is a JVM."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() != "java":
                return 0
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    ticks = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        st = raw[raw.rindex(")") + 2 :].split()
        ticks += int(st[11]) + int(st[12])
    return ticks


def work_cpu_s(pids: list[int]) -> float:
    """``tree_cpu_s`` less the JVM's JIT compiler threads.

    Compiling hot code costs the JVM about a quarter of a run's CPU time
    and falls off over minutes, so it would tie an op's CPU time to how
    long the process has run. The JVM must run a fixed set of compiler
    threads (-XX:-UseDynamicNumberOfCompilerThreads): the time of a thread
    that exits stays in its process but leaves this subtraction."""
    return tree_cpu_s(pids) - sum(_jit_ticks(p) for p in pids) / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat: time the
    hypervisor ran something else while this machine wanted the CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def cpu_pressure() -> str | None:
    try:
        with open("/proc/pressure/cpu") as f:
            return f.read().strip()
    except OSError:
        return None


class Sampler:
    """Background thread: peak summed RSS of the process tree over the run."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_rss_mb = 0.0
        self.peak_split: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        split = tree_rss_mb(descendants())
        if sum(split.values()) > self.peak_rss_mb:
            self.peak_rss_mb, self.peak_split = sum(split.values()), split

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(5)
        self.sample()


class Clock:
    """Wall and CPU seconds of a block. CPU is ``work_cpu_s`` of this
    process tree (driver, JVM, python workers): time the hypervisor stole
    from the machine is not in it, so it moves far less with the host's
    load."""

    def __enter__(self) -> "Clock":
        self._cpu0 = work_cpu_s(descendants())
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.cpu = work_cpu_s(descendants()) - self._cpu0


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written at exit."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, op: int | None = None, **attrs):
        return _Span(self, name, op, attrs)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op, attrs: dict):
        self.tracer, self.name, self.op, self.attrs = tracer, name, op, attrs
        self.wall = 0.0

    def __enter__(self) -> "_Span":
        tr = self.tracer
        self.start = time.perf_counter()
        if tr.enabled:
            self.id = len(tr.spans)
            tr.spans.append(
                {
                    "id": self.id,
                    "name": self.name,
                    "op": self.op,
                    "parent": tr._stack[-1] if tr._stack else None,
                    "start": self.start - tr._t0,
                    "end": None,
                    **self.attrs,
                }
            )
            tr._stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.wall = end - self.start
        tr = self.tracer
        if tr.enabled:
            tr._stack.pop()
            tr.spans[self.id]["end"] = end - tr._t0
            tr.spans[self.id].update(self.attrs)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkProbe:
    """Job/stage/task counts and SQL plan row counts since a mark.

    Job ids are sequential, so the jobs of an interval are the ids between
    two reads of the scheduler's job counter; their stages and task counts
    come from the public status tracker."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def mark(self) -> tuple[int, int]:
        """(next job id, last SQL execution id), for jobs() and plans()."""
        self._jsc.listenerBus().waitUntilEmpty()
        ex = _seq(self._store().executionsList())
        return self._jsc.dagScheduler().numTotalJobs(), max((e.executionId() for e in ex), default=-1)

    def jobs(self, mark: tuple[int, int]) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = range(mark[0], self._jsc.dagScheduler().numTotalJobs())
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def plans(self, mark: tuple[int, int]) -> list[dict]:
        """Plan graphs of the SQL executions since ``mark``: nodes with
        their numOutputRows and the child→parent edges."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._store()
        out = []
        for e in _seq(store.executionsList()):
            eid = e.executionId()
            if eid <= mark[1]:
                continue
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            nodes = {}
            for n in _seq(graph.allNodes()):
                rows = None
                for m in _seq(n.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows = int(str(v.get()).replace(",", ""))
                nodes[n.id()] = {"name": n.name(), "rows": rows}
            parent = {ed.fromId(): ed.toId() for ed in _seq(graph.edges())}
            out.append({"nodes": nodes, "parent": parent})
        return out


def pip_rows(plans: list[dict]) -> dict:
    """Probe rows, candidates and matches of every PIP join in ``plans``.

    The join explodes each point into its cover-level parents (Generate),
    probes the broadcast cover (first BroadcastHashJoin above it:
    candidates), then joins the edge table with the ray-cast predicate
    (next BroadcastHashJoin, or a Filter right above it: matched)."""
    out = {"pip.probe_rows": 0, "pip.candidates": 0, "pip.matched": 0, "pip.joins": 0}
    for plan in plans:
        nodes, parent = plan["nodes"], plan["parent"]
        for nid, node in nodes.items():
            if node["name"] != "Generate" or node["rows"] is None:
                continue
            chain, cur = [], parent.get(nid)
            while cur is not None and len(chain) < 2:
                if nodes[cur]["name"] == "BroadcastHashJoin":
                    chain.append(cur)
                cur = parent.get(cur)
            if len(chain) < 2:
                continue
            matched = nodes[chain[1]]["rows"]
            above = parent.get(chain[1])
            if above is not None and nodes[above]["name"] == "Filter":
                matched = nodes[above]["rows"]
            out["pip.probe_rows"] += node["rows"]
            out["pip.candidates"] += nodes[chain[0]]["rows"] or 0
            out["pip.matched"] += matched or 0
            out["pip.joins"] += 1
    return out
