"""Layer probes, read from outside the engine.

Everything here observes the engine through public or JVM-visible
surfaces only:

- ``Tracer``: in-memory spans around the benchmark's calls into each
  module (name, start, end, parent span, statement id);
- ``QueryListener``: a py4j ``QueryExecutionListener`` that hands every
  finished action's ``QueryExecution`` back to Python, for the Catalyst
  phase times (``tracker().phases()``), the action's execution time, and
  the Python-boundary SQL metrics of the executed plan;
- ``stage_totals``: task counts, run/CPU time, scan, shuffle, spill and
  peak execution memory of every stage that ran between two points, read
  from Spark's status store (works with the UI disabled);
- ``StreamProbe``: a ``StreamingQueryListener`` summing micro-batch
  progress (trigger, planning and WAL time, state-store commits, rows,
  memory);
- ``JvmProbe``: GC time and peak heap from the JVM's management beans;
- ``process_peaks``: peak RSS of this process and each live descendant
  (the benchmark sums the driver and the JVM, see run.py);
- ``tree_cpu_s``: CPU time of this process and its descendants;
- ``retained_mb``: JVM heap and driver memory left after a full collection.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")
PY_METRICS = {
    "pythonDataSent": "operators.py_bytes_sent",
    "pythonDataReceived": "operators.py_bytes_received",
    "pythonNumRowsReceived": "operators.py_rows_received",
}


class Tracer:
    """Spans kept in memory; ``enabled`` False makes ``span`` a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.statement: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "statement": self.statement,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with a span named ``name`` around every call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def total(self, name: str, since: int = 0) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans[since:]
            if s["name"] == name and s["end"] is not None
        )


def _bus(spark):
    return spark.sparkContext._jsc.sc().listenerBus()


def drain_listeners(spark) -> None:
    """Block until every listener has seen every posted event."""
    _bus(spark).waitUntilEmpty(30_000)


class QueryListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``.

    Callbacks run on the listener-bus thread, so they only queue the
    ``QueryExecution``; ``collect`` reads it on the caller's thread."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self._lock = threading.Lock()
        self._events: list[tuple] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._registered = False

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        with self._lock:
            self._events.append((qe, duration_ns))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        with self._lock:
            self._events.append((qe, 0))

    def register(self) -> None:
        if not self._registered:
            self.spark._jsparkSession.listenerManager().register(self)
            self._registered = True

    def unregister(self) -> None:
        if self._registered:
            self.spark._jsparkSession.listenerManager().unregister(self)
            self._registered = False

    def collect(self) -> dict[str, float]:
        """Sum the queued executions' phases, execution time and Python
        metrics, then forget them.  ``last_exec_s`` is the execution time
        of the latest action, i.e. of the statement's fetch or sink."""
        drain_listeners(self.spark)
        with self._lock:
            events, self._events = self._events, []
        out = {f"catalyst.{p}_s": 0.0 for p in PHASES}
        out.update({m: 0.0 for m in PY_METRICS.values()})
        out["exec.sql_s"] = 0.0
        out["exec.sql_executions"] = float(len(events))
        out["last_exec_s"] = events[-1][1] / 1e9 if events else 0.0
        for qe, duration_ns in events:
            out["exec.sql_s"] += duration_ns / 1e9
            phases = qe.tracker().phases()
            for p in PHASES:
                opt = phases.get(p)
                if opt.isDefined():
                    out[f"catalyst.{p}_s"] += opt.get().durationMs() / 1e3
            for key, value in _python_metrics(qe.executedPlan()).items():
                out[PY_METRICS[key]] += value
        return out


def _python_metrics(plan) -> dict[str, int]:
    """Sum the Python-worker SQL metrics over every node of a plan."""
    out: dict[str, int] = {}
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Python" in name or "Pandas" in name or "Arrow" in name:
            metrics = node.metrics()
            for key in PY_METRICS:
                opt = metrics.get(key)
                if opt.isDefined():
                    out[key] = out.get(key, 0) + opt.get().value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def scheduler_marks(spark) -> tuple[int, int]:
    """(next job id, next stage id) of the DAG scheduler."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    # py4j hands AtomicIntegers back as plain ints
    return int(dag.nextJobId()), int(dag.nextStageId())


def stage_totals(spark, start: tuple[int, int], end: tuple[int, int]) -> dict[str, float]:
    """Totals over the jobs and the stages that ran between two
    ``scheduler_marks`` (stages skipped by shuffle reuse never ran)."""
    from py4j.protocol import Py4JJavaError

    drain_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {
        "exec.jobs": float(end[0] - start[0]),
        "exec.stages": 0.0,
        "exec.tasks": 0.0,
        "exec.task_run_s": 0.0,
        "exec.task_cpu_s": 0.0,
        "exec.scan_rows": 0.0,
        "exec.scan_bytes": 0.0,
        "exec.shuffle_write_bytes": 0.0,
        "exec.shuffle_read_bytes": 0.0,
        "exec.shuffle_fetch_wait_s": 0.0,
        "exec.spill_bytes": 0.0,
        "exec.peak_exec_mem_mb": 0.0,
    }
    for sid in range(start[1], end[1]):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += st.numCompleteTasks()
        out["exec.task_run_s"] += st.executorRunTime() / 1e3
        out["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
        out["exec.scan_rows"] += st.inputRecords()
        out["exec.scan_bytes"] += st.inputBytes()
        out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
        out["exec.shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["exec.peak_exec_mem_mb"] = max(
            out["exec.peak_exec_mem_mb"], st.peakExecutionMemory() / 2**20
        )
    return out


STREAM_KEYS = (
    "streaming.batches",
    "streaming.trigger_s",
    "streaming.query_planning_s",
    "streaming.wal_commit_s",
    "streaming.state_commit_s",
    "streaming.state_rows",
    "streaming.state_mem_mb",
)


def make_stream_probe(spark):
    """A registered-on-demand ``StreamingQueryListener`` summing progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._last: dict[str, object] = {}
            self.reset()
            self._on = False

        def reset(self) -> None:
            with self._lock:
                self.totals = dict.fromkeys(STREAM_KEYS, 0.0)
                self._last = {}

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryIdle(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryTerminated(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802 (Spark API)
            p = event.progress
            d = p.durationMs
            ops = p.stateOperators
            with self._lock:
                t = self.totals
                t["streaming.batches"] += 1
                t["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                t["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
                t["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
                t["streaming.state_commit_s"] += sum(o.commitTimeMs for o in ops) / 1e3
                # rows and memory held by the state store at the query's
                # last batch: the latest progress of each query wins
                self._last[str(p.id)] = (
                    sum(o.numRowsTotal for o in ops),
                    sum(o.memoryUsedBytes for o in ops),
                )

        def take(self) -> dict[str, float]:
            drain_listeners(spark)
            with self._lock:
                out = dict(self.totals)
                out["streaming.state_rows"] = float(sum(r for r, _ in self._last.values()))
                out["streaming.state_mem_mb"] = sum(m for _, m in self._last.values()) / 2**20
            self.reset()
            return out

        def on(self) -> None:
            if not self._on:
                spark.streams.addListener(self)
                self._on = True

        def off(self) -> None:
            if self._on:
                spark.streams.removeListener(self)
                self._on = False

    return StreamProbe()


class JvmProbe:
    """GC time and peak heap occupancy of the driver JVM."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]
        self._mx = mf.getMemoryMXBean()
        self._gc0 = 0.0

    def gc_seconds(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1e3

    def start(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()
        self._gc0 = self.gc_seconds()

    def take(self) -> dict[str, float]:
        return {
            "jvm.gc_s": self.gc_seconds() - self._gc0,
            "jvm.heap_used_peak_mb": sum(
                p.getPeakUsage().getUsed() for p in self._heap_pools
            ) / 2**20,
        }


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [root], [root]
    while frontier:
        nxt = [pid for pid, ppid in parent.items() if ppid in frontier]
        out += nxt
        frontier = nxt
    return out


def retained_mb(spark) -> dict[str, float]:
    """Memory the session holds between statements: the driver JVM's heap
    in use after full collections, and this process's resident set.

    The listener bus is drained first, so that Spark's status listeners
    have folded finished executions into their summaries.  The first
    collection lets Spark's ContextCleaner see dead broadcasts and
    shuffles; it frees their blocks on its own thread, so the heap is read
    after each of several pauses and collections, and the lowest reading
    counts."""
    import gc

    drain_listeners(spark)
    gc.collect()
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm.System.gc()
    reads = []
    for _ in range(3):
        time.sleep(0.3)
        jvm.System.gc()
        reads.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
    with open("/proc/self/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return {"jvm_heap_mb": min(reads), "jvm_heap_reads_mb": reads,
            "driver_rss_mb": rss_kb / 1024}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants, including the descendants they have reaped.  The
    difference of two readings counts a worker that exits in between
    exactly once, through its parent's reaped-children time."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_kb(pid: int) -> int:
    """VmHWM (peak resident set) of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_peaks() -> dict[str, int]:
    """{"<pid> <command>": VmHWM kB} for this process and its live
    descendants."""
    out = {}
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[f"{pid} {comm}"] = peak_rss_kb(pid)
    return out
