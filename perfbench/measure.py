"""Measurement helpers that observe the engine from outside.

Nothing here changes what the engine computes:

- ``Spans`` wraps public methods (``Schema.validate``, ``Warehouse.*``,
  runner listing) with wall-clock timers, installed only around traced
  samples;
- ``job_counts`` reads job-group accounting from
  ``SparkContext.statusTracker()``;
- ``SqlMetrics`` walks the final (post-AQE) plan graph and SQL metric
  values that Spark's SQL status store keeps for every execution, which
  works with ``spark.ui.enabled=false``;
- ``TreeMonitor`` samples the resident memory of this process tree, the
  CPU it and its JIT compiler threads use, and the CPU that the rest of
  the machine uses.
"""

from __future__ import annotations

import collections
import functools
import os
import re
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")
MB = float(2 ** 20)


class Spans:
    """Inclusive wall time and call count per label, for wrapped methods."""

    def __init__(self):
        self.seconds = collections.Counter()
        self.calls = collections.Counter()
        self._undo = []

    def wrap(self, owner, name: str, label: str) -> None:
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.seconds[label] += time.perf_counter() - t0
                self.calls[label] += 1

        setattr(owner, name, timed)
        self._undo.append((owner, name, orig))

    def reset(self) -> None:
        self.seconds.clear()
        self.calls.clear()

    def restore(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()


def job_counts(sc, group: str) -> dict:
    """Jobs, executed stages and completed tasks of one job group."""
    tracker = sc.statusTracker()
    stage_ids = set()
    jobs = tracker.getJobIdsForGroup(group)
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def persisted_rdds(sc) -> dict:
    """The JVM handles of the RDDs the context keeps persisted, by id."""
    found = sc._jsc.getPersistentRDDs()
    return {int(k): found.get(k) for k in found.keySet().toArray()}


_UNITS = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)$")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number: bytes for sizes,
    milliseconds for timings. Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the total is kept."""
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    m = _VALUE.match(head)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """SQL metrics of the executions that ran after a mark."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _ids(self) -> list:
        execs = self._store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    def mark(self) -> int:
        return max(self._ids(), default=-1)

    def since(self, mark: int, wanted: frozenset) -> list:
        """One dict per (node, metric) of every execution newer than
        ``mark``, for metric names in ``wanted``: exec, node, desc,
        cluster (the whole-stage-codegen cluster holding the node, or
        None), child (name of the node feeding it), metric, value.
        A cluster's own ``duration`` is its pipeline time."""
        self._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        out = []
        for eid in sorted(i for i in self._ids() if i > mark):
            values = self._store.executionMetrics(eid)
            graph = self._store.planGraph(eid)
            names, feeds = {}, {}
            nodes = []
            stack = [(graph.nodes().apply(i), None) for i in range(graph.nodes().size())]
            while stack:
                node, cluster = stack.pop()
                if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
                    inner = node.nodes()
                    stack.extend((inner.apply(i), node.name()) for i in range(inner.size()))
                nodes.append((node, cluster))
                names[node.id()] = node.name()
            edges = graph.edges()
            for i in range(edges.size()):
                e = edges.apply(i)
                feeds[e.toId()] = names.get(e.fromId())
            for node, cluster in nodes:
                metrics = node.metrics()
                name, desc = node.name(), None
                for i in range(metrics.size()):
                    m = metrics.apply(i)
                    metric = m.name()
                    if metric not in wanted:
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if desc is None:
                        desc = node.desc()
                    out.append({
                        "exec": eid, "node": name, "desc": desc,
                        "cluster": cluster, "child": feeds.get(node.id()),
                        "metric": metric, "value": parse_metric(v.get()),
                    })
        return out


def _stat_fields(pid: str):
    with open("/proc/{}/stat".format(pid)) as fh:
        raw = fh.read()
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list:
    children = collections.defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                children[int(_stat_fields(entry)[1])].append(int(entry))
            except (OSError, ValueError, IndexError):
                continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _comm(pid) -> str:
    with open("/proc/{}/comm".format(pid)) as fh:
        return fh.read().strip()


def tree_rss_bytes(pids) -> dict:
    """Resident bytes of each live process, keyed ``<command>:<pid>``.

    A ``java`` child of a ``java`` process is one the JVM is spawning
    (Hadoop's local file system runs shell commands) before its exec: it
    shares the JVM's memory, so it is not counted a second time."""
    out = {}
    for pid in pids:
        try:
            comm = _comm(pid)
            if comm == "java" and _comm(_stat_fields(str(pid))[1]) == "java":
                continue
            with open("/proc/{}/statm".format(pid)) as fh:
                out["{}:{}".format(comm, pid)] = int(fh.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            continue
    return out


def tree_cpu_ticks(pids) -> int:
    """utime+stime of the tree, plus what its reaped children used."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(str(pid))
            total += sum(int(x) for x in f[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return total


def thread_ticks(pid: int, tid: int) -> int:
    """utime+stime of one thread."""
    with open("/proc/{}/task/{}/stat".format(pid, tid)) as fh:
        raw = fh.read()
    f = raw[raw.rindex(")") + 2:].split()
    return int(f[11]) + int(f[12])


def jit_ticks(pids) -> int:
    """utime+stime of the JVM's JIT compiler threads in ``pids``."""
    total = 0
    for pid in pids:
        try:
            tids = os.listdir("/proc/{}/task".format(pid))
        except OSError:
            continue
        for tid in tids:
            try:
                with open("/proc/{}/task/{}/comm".format(pid, tid)) as fh:
                    if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        total += thread_ticks(pid, int(tid))
            except (OSError, ValueError, IndexError):
                continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds this process tree has used. The kernel leaves the time
    the hypervisor stole out of it."""
    return tree_cpu_ticks(tree_pids(os.getpid())) / TICK


def machine_ticks() -> tuple:
    """(busy, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    busy = vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
    return busy, (vals[7] if len(vals) > 7 else 0)


class TreeMonitor:
    """Peak resident memory of this process tree while armed, sampled in a
    background thread, and per-window CPU records."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_by_process = {}
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._tid = None
        self._started = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        self._started.wait()

    def _loop(self) -> None:
        self._tid = threading.get_native_id()
        self._started.set()
        while not self._stop.wait(self.interval):
            if self._armed.is_set():
                by_process = tree_rss_bytes(tree_pids(os.getpid()))
                total = sum(by_process.values())
                if total > self.peak:
                    self.peak, self.peak_by_process = total, by_process

    def reset(self) -> None:
        self.peak, self.peak_by_process = 0, {}

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def window_start(self) -> tuple:
        pids = tree_pids(os.getpid())
        return (machine_ticks(), tree_cpu_ticks(pids), jit_ticks(pids),
                thread_ticks(os.getpid(), self._tid))

    def window_end(self, start: tuple) -> dict:
        """Steal share of busy+steal time on the machine, and CPU seconds
        used since ``start`` by this tree, by its JIT compiler threads, by
        this monitor's thread and by processes outside the tree."""
        (busy0, steal0), own0, jit0, mon0 = start
        busy1, steal1 = machine_ticks()
        pids = tree_pids(os.getpid())
        own1, jit1 = tree_cpu_ticks(pids), jit_ticks(pids)
        mon1 = thread_ticks(os.getpid(), self._tid)
        busy, steal = busy1 - busy0, steal1 - steal0
        return {
            "steal_pct": 100.0 * steal / (busy + steal) if busy + steal else 0.0,
            "own_cpu_s": (own1 - own0) / TICK,
            "jit_cpu_s": (jit1 - jit0) / TICK,
            "monitor_cpu_s": (mon1 - mon0) / TICK,
            "others_cpu_s": max(busy - (own1 - own0), 0) / TICK,
        }
