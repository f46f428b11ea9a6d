"""Measurements taken from outside the program: executed-plan metrics,
process-tree memory, host load, CPU calibration and Spark task failures.

Nothing here imports tilemaker_spark; every probe reads the JVM, /proc
or the clock.
"""

from __future__ import annotations

import os
import signal
import threading
import time


# ------------------------------------------------------------ plan metrics
def _children(node) -> list:
    """Child plan nodes, looking through AQE wrappers and query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        # the current plan: final once the action ran, and reading it
        # never starts execution
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    kids = node.children()
    out = [kids.apply(i) for i in range(kids.size())]
    subs = node.subqueries()
    out += [subs.apply(i) for i in range(subs.size())]
    return out


def plan_nodes(df) -> list:
    """[(node name, {metric name: value})] for every node of the executed
    physical plan of ``df``. Read it after an action on ``df`` itself
    (not on a frame derived from it), so AQE's final plan and its
    metrics are populated. An exchange reached again through
    ReusedExchangeExec ran once and is listed once."""
    out, seen = [], set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        # query stages number themselves apart from plan node ids
        if (name, node.id()) in seen:
            continue
        seen.add((name, node.id()))
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append((name, metrics))
        stack.extend(_children(node))
    return out


def shuffle_bytes(nodes: list) -> int:
    """Bytes written by every shuffle exchange of an executed plan."""
    return sum(m.get("dataSize", 0) for name, m in nodes
               if name == "ShuffleExchangeExec")


def output_rows(nodes: list, name: str) -> int:
    """numOutputRows summed over the plan nodes called ``name``."""
    return sum(m.get("numOutputRows", 0) for n, m in nodes if n == name)


def materialize(df):
    """Run ``df`` once and keep its rows: the checkpointed frame feeds the
    next stage, and ``df``'s own executed plan keeps the stage metrics."""
    return df.localCheckpoint(eager=True)


def failed_tasks(sc) -> int:
    """Failed task attempts over every job the status tracker retains."""
    st = sc.statusTracker()
    total = 0
    for jid in st.getJobIdsForGroup(None):
        job = st.getJobInfo(jid)
        for sid in (job.stageIds if job else ()):
            stage = st.getStageInfo(sid)
            if stage:
                total += stage.numFailedTasks
    return total


# ------------------------------------------------------------ processes
def _ppid_map() -> dict:
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and ')'; ppid follows the last ')'
        out[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list:
    ppids = _ppid_map()
    kids, frontier = [], [root]
    while frontier:
        parent = frontier.pop()
        for pid, ppid in ppids.items():
            if ppid == parent:
                kids.append(pid)
                frontier.append(pid)
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n to
    each, so a forked child (a Python worker, or a JVM child before its
    exec) adds only the memory it does not share."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss(root: int) -> dict:
    """Memory in MB of ``root`` and all its descendants (driver Python,
    the JVM and its Python workers), split by command name."""
    out = {}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        kind = "java" if comm == "java" else "python" if comm.startswith("python") else "other"
        out[kind] = out.get(kind, 0.0) + _pss_kb(pid) / 1024.0
        out[kind + "_procs"] = out.get(kind + "_procs", 0) + 1
    out["total"] = sum(v for k, v in out.items() if not k.endswith("_procs"))
    return out


class MemSampler:
    """Background sampler of the process tree's peak memory (PSS),
    from construction until ``close``; ``at_peak`` is the split at the
    peak sample."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root, self.period_s = root, period_s
        self.peak_mb, self.at_peak = 0.0, {}
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._done.is_set():
            now = tree_pss(self.root)
            if now["total"] > self.peak_mb:
                self.peak_mb, self.at_peak = now["total"], now
            self._done.wait(self.period_s)

    def close(self):
        self._done.set()
        self._thread.join(timeout=5)


def stop_children(root: int, timeout_s: float = 30.0) -> list:
    """Terminate every remaining descendant of ``root`` and wait for each
    to end; returns the pids that had to be signalled."""
    left = descendants(root)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout_s / 2
        while time.time() < deadline:
            _reap()
            if not [p for p in left if os.path.exists(f"/proc/{p}")]:
                return left
            time.sleep(0.1)
    return left


def _reap():
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ------------------------------------------------------------ host record
def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_calibration_s(n: int = 1_500_000) -> float:
    """Seconds of one pure-Python loop of fixed work in this process: a
    single-core speed reading taken next to every run."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0
