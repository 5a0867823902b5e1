"""Engine counters read from outside the program.

Nothing here touches the package under test. Stage, job, task-time
and shuffle numbers come from the JVM status store (it is filled with
``spark.ui.enabled=false`` too), Python-worker numbers from the SQL
metrics Spark keeps for every Python exec node, pinned data from the
persistent-RDD map, and memory from ``/proc`` and the JVM's JMX
beans.
"""

from __future__ import annotations

import os
import re
import threading
import time
from typing import NamedTuple

# display names of the Python exec-node SQL metrics (PythonSQLMetrics)
PY_TOTAL = "time to run Python workers"  # pythonTotalTime
PY_BOOT = "time to start Python workers"  # pythonBootTime
PY_ROWS = "number of output rows"  # pythonNumRowsReceived on a Python node
_PY_NODE = re.compile(r"Python|Pandas|Arrow")

# raw SQLMetric accumulator values by metric type -> seconds
_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6}


def _metric_value(text: str) -> float:
    """Parse one SQL-metric display string. Aggregated task metrics
    read ``total (min, med, max ...)\\n<total> (...)``; the total is the
    first value on the second line."""
    line = text.split("\n")[-1].split(" (")[0].strip().replace(",", "")
    parts = line.split()
    if len(parts) == 2:
        unit = parts[1]
        if unit in _UNITS:
            return float(parts[0]) * _UNITS[unit]
        scale = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
        return float(parts[0]) * scale.get(unit, 1)
    return float(parts[0])


class Snapshot(NamedTuple):
    """High-water marks of the status stores before a layer call."""

    job: int
    stage: int
    execution: int
    pinned: set[int]


class CounterReader:
    """Reads what a layer call did from the status stores. One client
    runs calls back to back, so everything newer than the snapshot
    taken before a call belongs to that call."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._accumulators = sc._jvm.org.apache.spark.util.AccumulatorContext
        self.cores = sc.defaultParallelism
        self.read_s = 0.0  # time spent reading counters: the tracing overhead

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def pinned(self) -> set[int]:
        """Ids of the RDDs currently persisted (cached or
        localCheckpointed)."""
        return {int(k) for k in self._sc._jsc.getPersistentRDDs().keySet()}

    def snapshot(self) -> Snapshot:
        t = time.perf_counter()
        self._drain()
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        execs = self._sql.executionsList()
        snap = Snapshot(
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
            execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
            self.pinned(),
        )
        self.read_s += time.perf_counter() - t
        return snap

    def since(self, snap: Snapshot, wall_s: float) -> dict:
        """Counters of everything that ran after ``snap``."""
        t = time.perf_counter()
        self._drain()
        jobs = self._store.jobsList(None)
        n_jobs = 0
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= snap.job:
                break
            n_jobs += 1
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        n_stages = 0
        run_ms = 0
        shuffle_b = 0
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= snap.stage:
                break
            if s.status().toString() == "SKIPPED":
                continue
            n_stages += 1
            run_ms += s.executorRunTime()
            shuffle_b += s.shuffleWriteBytes()
        py = self._python_metrics(snap.execution)
        task_s = run_ms / 1000.0
        out = {
            "wall_s": wall_s,
            "stages": n_stages,
            "task_s": task_s,
            "par_eff": task_s / (wall_s * self.cores) if wall_s > 0 else 0.0,
            "shuffle_mb": shuffle_b / 1e6,
            "jobs": n_jobs,
            # pinned during the call and still pinned when it returned
            "pinned_after": len(self.pinned() - snap.pinned),
            "py_s": py[PY_TOTAL],
            "py_boot_s": py[PY_BOOT],
            "py_rows": py[PY_ROWS],
        }
        self.read_s += time.perf_counter() - t
        return out

    def _python_metrics(self, after_execution: int) -> dict:
        """Sum the Python exec-node metrics over SQL executions newer
        than ``after_execution``. The raw accumulator is read first:
        a streaming micro-batch plan run through ``foreachBatch`` does
        its work in other executions, so its own aggregated metric
        strings stay empty while its accumulators count every row."""
        tot = {PY_TOTAL: 0.0, PY_BOOT: 0.0, PY_ROWS: 0.0}
        execs = self._sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= after_execution:
                break
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not _PY_NODE.search(node.name()):
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() not in tot:
                        continue
                    acc = self._accumulators.get(m.accumulatorId())
                    if acc.isDefined():
                        raw = float(acc.get().value())
                        tot[m.name()] += raw * _RAW_SCALE.get(m.metricType(), 1.0)
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        tot[m.name()] += _metric_value(v.get())
        return tot


# ------------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.scandir("/proc"):
        if not d.name.isdigit():
            continue
        try:
            with open(f"/proc/{d.name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, resident bytes) over the process tree."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as fh:
                out[pid] = (fh.read().strip(), rss)
        except (OSError, IndexError, ValueError):
            continue
    return out


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, over
    all cores: its growth during a pass shows a host too busy to give
    this one its cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class JvmMemory:
    """The JVM's own memory accounting, read through JMX: heap in use
    right after the latest garbage collection, heap left after a full
    collection, and non-heap memory in use (metaspace, code cache).
    Unlike the JVM's resident size, these do not depend on how far the
    collector chose to grow the heap."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._heap_pools = [p.getName() for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]
        self._collectors = list(mf.getGarbageCollectorMXBeans())
        self._memory = mf.getMemoryMXBean()
        self._last_gc = (-1, 0)  # (end time, heap after) of the latest collection read

    def read(self) -> tuple[int, int]:
        """(heap bytes after the latest collection, non-heap bytes);
        the heap figure is 0 until the first collection."""
        latest, end = None, -1
        for c in self._collectors:
            info = c.getLastGcInfo()
            if info is not None and info.getEndTime() > end:
                latest, end = info, info.getEndTime()
        if latest is not None and end != self._last_gc[0]:
            after = latest.getMemoryUsageAfterGc()
            self._last_gc = (end, sum(after.get(n).getUsed() for n in self._heap_pools if after.containsKey(n)))
        return self._last_gc[1], self._memory.getNonHeapMemoryUsage().getUsed()

    def live_heap(self) -> int:
        """Heap bytes still in use after a full collection: what the
        program keeps reachable."""
        self._memory.gc()
        return self._memory.getHeapMemoryUsage().getUsed()


class MemSampler:
    """Samples, at a fixed period while running, the resident memory
    of the driver Python, the JVM and the Python workers, and the JVM's
    heap after collection and non-heap use. The JVM's resident size
    (in ``tree_rss``) follows how far the collector chose to grow the
    heap, up to the driver's maximum, so it moves between runs of one
    input; the Python processes' resident size does not."""

    SERIES = ("tree_rss", "py_rss", "heap_after_gc", "nonheap")

    def __init__(self, spark, period_s: float = 0.2):
        self.period_s = period_s
        self.jvm = JvmMemory(spark)
        self.series: dict[str, list[int]] = {k: [] for k in self.SERIES}
        self.at_peak: dict[str, tuple[int, int]] = {}  # kind -> (processes, bytes) at the largest tree_rss
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def samples(self) -> int:
        return len(self.series["tree_rss"])

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            # the driver, the JVM and Python workers; a process the JVM
            # forks to run a program shares its pages until it execs
            procs = {
                pid: (name, rss)
                for pid, (name, rss) in tree_rss(root).items()
                if pid == root or name == "java" or name.startswith("python")
            }
            heap, nonheap = self.jvm.read()
            total = sum(rss for _, rss in procs.values())
            py = sum(rss for name, rss in procs.values() if name != "java")
            if total > max(self.series["tree_rss"], default=0):
                self.at_peak = {}
                for pid, (name, rss) in procs.items():
                    kind = "driver" if pid == root else name
                    n, b = self.at_peak.get(kind, (0, 0))
                    self.at_peak[kind] = (n + 1, b + rss)
            for k, v in zip(self.SERIES, (total, py, heap, nonheap)):
                self.series[k].append(v)
            self._stop.wait(self.period_s)

    def __enter__(self) -> MemSampler:
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)

    def sustained_peak_mb(self, name: str, window: int = 5) -> float:
        """Largest median of ``window`` consecutive samples of one
        series: the peak held for about ``window * period_s`` seconds,
        so a spike that one sample happens to catch and the next misses
        does not count."""
        s = self.series[name]
        if len(s) < window:
            return max(s, default=0) / 1e6
        return max(sorted(s[i : i + window])[window // 2] for i in range(len(s) - window + 1)) / 1e6


# ------------------------------------------------------------- streaming


def batch_listener(spark):
    """Attach a StreamingQueryListener that records the duration and
    input rows of every micro-batch as (query name, seconds, rows);
    returns (listener, batches)."""
    from pyspark.sql.streaming import StreamingQueryListener

    batches: list[tuple[str | None, float, int]] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            batches.append((p.name, p.batchDuration / 1000.0, p.numInputRows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener, batches
