"""Measurement probes: the process tree under /proc, and Spark's own
status stores read through the py4j gateway.

`ProcTree` samples resident memory of this process and every descendant
(the JVM, the PySpark daemon and its workers) and splits CPU time by
process role. `SparkProbe` counts jobs per job group and reads stage and
SQL-operator metrics. Both are read-only observers of the engine.
"""

from __future__ import annotations

import os
import re
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, float, int] | None:
    """(ppid, own cpu seconds, cpu seconds of reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after the comm, 0-based from `state`: ppid(1) utime(11)
    # stime(12) cutime(13) cstime(14) rss(21)
    return (
        int(f[1]),
        (int(f[11]) + int(f[12])) / _CLK,
        (int(f[13]) + int(f[14])) / _CLK,
        int(f[21]) * _PAGE,
    )


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _role(cmd: str) -> str:
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "pyworker"
    if "java" in cmd.split(" ", 1)[0] or "org.apache.spark" in cmd:
        return "jvm"
    return "other"


class ProcTree:
    """Peak resident memory of the whole process tree, sampled every
    `interval` seconds on a daemon thread, plus CPU seconds per role."""

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._roles: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def snapshot(self) -> dict[int, tuple[int, float, float, int]]:
        """pid -> _stat(pid) for the root and its descendants."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        tree, frontier = {self.root}, [self.root]
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_) in stats.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return {p: stats[p] for p in tree if p in stats}

    def rss_bytes(self) -> int:
        """Resident bytes of the tree. A child of the driver or the JVM
        whose cmdline is still its parent's is a spawn caught before its
        exec (the JVM forks `chmod` while writing files): it shares the
        parent's memory, so it is not counted twice. The cmdline is read
        before the child's own stat, so a child that has exec'd by then is
        counted with its own memory."""
        snap = self.snapshot()
        total = 0
        for pid, (ppid, _, _, rss) in snap.items():
            if ppid in snap and (ppid == self.root or self._role(ppid) == "jvm"):
                if _cmdline(pid) == _cmdline(ppid):
                    continue
                st = _stat(pid)
                rss = st[3] if st is not None else 0
            total += rss
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = self.rss_bytes()
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)

    def reset_peak(self) -> None:
        """Start a new peak window from the current resident memory."""
        total = self.rss_bytes()
        with self._lock:
            self.peak_bytes = total

    def _role(self, pid: int) -> str:
        role = self._roles.get(pid)
        if role is None:
            role = self._roles[pid] = _role(_cmdline(pid))
        return role

    def cpu_by_role(self) -> dict[str, float]:
        """CPU seconds so far of the driver (this process), the JVM and the
        Python workers. A worker that exited was reaped by the daemon, so
        its time is in the daemon's children counters."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, (_, own, reaped, _) in self.snapshot().items():
            if pid == self.root:
                out["driver"] += own
                continue
            role = self._role(pid)
            if role == "pyworker":
                out[role] += own + reaped
            elif role == "jvm":
                out[role] += own
        return out

    def live_descendants(self) -> list[int]:
        return [p for p in self.snapshot() if p != self.root]


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Spark's formatted SQL metric ('1,234', '12.3 s', '64.0 MiB', or the
    'total (min, med, max ...)\\n<total> (...)' form) -> seconds/bytes/count."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkProbe:
    """Read-only views of the driver's AppStatusStore / SQLAppStatusStore."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = self.jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """tasks, shuffle-write bytes and spilled bytes over the jobs' stages."""
        out = {"tasks": 0.0, "shuffle_write": 0.0, "spill": 0.0}
        stages: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            attempts = self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles
            )
            for i in range(attempts.length()):
                s = attempts.apply(i)
                out["tasks"] += s.numTasks()
                out["shuffle_write"] += s.shuffleWriteBytes()
                out["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def last_execution_id(self) -> int:
        ex = self._sql.executionsList()
        n = ex.length()
        return ex.apply(n - 1).executionId() if n else -1

    def sql_totals(self, after_id: int) -> dict[str, float]:
        """Operator metrics of every SQL execution newer than `after_id`:
        broadcast collect time, and for the point-in-polygon join the rows
        entering the exact refine (the bbox BroadcastNestedLoopJoin output)
        and the rows it keeps (the Filter consuming that join)."""
        out = {"broadcast_collect_s": 0.0, "refine_in_rows": 0.0, "joined_rows": 0.0}
        ex = self._sql.executionsList()
        for i in range(ex.length()):
            eid = ex.apply(i).executionId()
            if eid <= after_id:
                continue
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            nodes = graph.allNodes()
            by_id, metric = {}, {}
            for k in range(nodes.length()):
                node = nodes.apply(k)
                by_id[node.id()] = node.name()
                ms = node.metrics()
                for j in range(ms.length()):
                    pm = ms.apply(j)
                    v = values.get(pm.accumulatorId())
                    metric[(node.id(), pm.name())] = v.get() if v.isDefined() else None
            for (nid, mname), text in metric.items():
                if mname == "time to collect" and by_id[nid] == "BroadcastExchange":
                    out["broadcast_collect_s"] += parse_metric(text)
            edges = graph.edges()
            for k in range(edges.length()):
                e = edges.apply(k)
                child, parent = e.fromId(), e.toId()
                if by_id.get(child) == "BroadcastNestedLoopJoin" and by_id.get(parent) == "Filter":
                    out["refine_in_rows"] += parse_metric(metric.get((child, "number of output rows")))
                    out["joined_rows"] += parse_metric(metric.get((parent, "number of output rows")))
        return out

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def udf_self_seconds(self) -> float:
        """Total time recorded by the PySpark `perf` UDF profiler, then
        cleared so the next read starts from zero."""
        collector = self.spark._profiler_collector
        total = sum(s.total_tt for s in collector._perf_profile_results.values())
        self.spark.profile.clear(type="perf")
        return total


def settle(spark, quiet: float = 1.0, limit: float = 5.0) -> float:
    """After warm-up: one full GC, then wait until the JIT compiler has been
    idle for `quiet` seconds (at most `limit`), so the compilations that
    warm-up queued do not compete with the first timed ops. Returns the
    seconds spent."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory
    t0 = time.perf_counter()
    jvm.java.lang.System.gc()
    jit = mx.getCompilationMXBean()
    last, idle_since = jit.getTotalCompilationTime(), time.perf_counter()
    while time.perf_counter() - t0 < limit:
        time.sleep(0.1)
        now = jit.getTotalCompilationTime()
        if now != last:
            last, idle_since = now, time.perf_counter()
        elif time.perf_counter() - idle_since >= quiet:
            break
    return time.perf_counter() - t0


def window_burn(iters: int = 5_000_000) -> float:
    """Seconds of a fixed single-thread pure-Python loop: a Spark-free
    reading of how fast this host runs right now."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i * i % 7
    return time.perf_counter() - t0
