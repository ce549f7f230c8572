"""Measurement plumbing shared by the workloads: the closed-loop op
runner, percentile math, the py4j call counter, the per-op Spark
statistics read from the JVM status store, and span bookkeeping.

Nothing here imports the engine; the workloads pass the calls in.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np

#: py4j's garbage-collection detach command (``MEMORY_COMMAND_NAME`` +
#: ``MEMORY_DEL_SUBCOMMAND_NAME``).  The Python GC sends one whenever a
#: JavaObject proxy dies, so its count depends on collector timing, not
#: on the work an operation asks the JVM to do.
GC_DETACH_PREFIX = "m\nd\n"

#: Most collect-and-wait rounds before ``retained_mb`` is read.
MEMORY_ROUNDS = 10


def percentile(values: list[float], q: float) -> float:
    """numpy's linear-interpolated percentile, ``q`` in [0, 100].  Raises
    on an empty sample instead of inventing a value."""
    if not values:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(values, q))


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: every order statistic
    weighted by the Beta((n+1)/2, (n+1)/2) mass over its slot
    [(i-1)/n, i/n] (midpoint rule, 100 points per slot).  With 4 or 11
    mixed operations per run the plain middle value is one operation's
    latency; this estimate leans on its neighbours too."""
    if not values:
        raise ValueError("median of an empty sample")
    xs = sorted(values)
    n, per = len(xs), 100
    a = (n + 1) / 2.0
    t = (np.arange(n * per) + 0.5) / (n * per)
    w = ((t * (1.0 - t)) ** (a - 1.0)).reshape(n, per).sum(axis=1)
    return float(np.dot(xs, w) / w.sum())


class Py4jCounter:
    """Counts py4j commands sent to the JVM, leaving out GC detaches.

    Installed by wrapping ``send_command`` on both py4j connection
    classes (pinned-thread ``ClientServerConnection`` and classic
    ``GatewayConnection``); the lock keeps counts exact when engine code
    calls into the JVM from helper threads."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.calls = 0
        self._originals: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        for cls in (ClientServerConnection, GatewayConnection):
            original = cls.send_command
            self._originals.append((cls, original))
            cls.send_command = self._wrap(original)

    def uninstall(self) -> None:
        for cls, original in self._originals:
            cls.send_command = original
        self._originals.clear()

    def _wrap(self, original):
        counter = self

        def send_command(conn, command):
            if not command.startswith(GC_DETACH_PREFIX):
                with counter._lock:
                    counter.calls += 1
            return original(conn, command)

        return send_command

    def read(self) -> int:
        with self._lock:
            return self.calls


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    id: int = 0


@dataclass
class Tracer:
    """In-memory spans, one per layer boundary the benchmark calls
    across; written out once, at the end of the run."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.op, len(self.spans))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        self.spans.append(Span(name, start, end, parent, self.op, len(self.spans)))

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval its children cover (children may overlap)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        rec = dict(
            extra,
            spans=[s.__dict__ for s in self.spans],
            self_time_s=self.self_times(),
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class OpStats:
    """Spark-side statistics of one operation, from the status store."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    driver_gap_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_disk_bytes: int = 0
    spill_memory_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


class SparkProbe:
    """Reads per-operation work from the driver JVM without the UI.

    Jobs are attributed to an operation by job id: the benchmark is a
    single closed-loop client, so every job started between two reads of
    the DAG scheduler's next job id belongs to the operation in between,
    including jobs engine code submits from helper threads (which a
    thread-local job group would miss).  The job group is still set, so
    the status tracker can name the operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc_sc = self.sc._jsc.sc()  # noqa: SLF001
        self.store = self._jsc_sc.statusStore()

    def next_job_id(self) -> int:
        # py4j hands the AtomicInteger back as a plain number
        return int(self._jsc_sc.dagScheduler().nextJobId())

    def persistent_rdds(self) -> set[int]:
        ids = self.sc._jsc.getPersistentRDDs().keySet()  # noqa: SLF001
        return {int(i) for i in ids}

    def collect(self, first_job: int, last_job: int, op_start: float, op_end: float) -> OpStats:
        """Statistics of jobs ``[first_job, last_job)``.  The status store
        is filled asynchronously from the listener bus, so the bus is
        drained first: otherwise a job whose start event, or a stage whose
        last task-end events, are still queued would be read short."""
        self._jsc_sc.listenerBus().waitUntilEmpty()
        st = OpStats(jobs=last_job - first_job)
        seen_stages: set[int] = set()
        for jid in range(first_job, last_job):
            try:
                job = self.store.job(jid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                lo = sub.get().getTime() / 1000.0
                hi = done.get().getTime() / 1000.0 if done.isDefined() else op_end
                st.job_intervals.append((lo, hi))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    stage = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage never attempted
                    continue
                if str(stage.status().toString()) == "SKIPPED":
                    continue
                st.stages += 1
                st.tasks += int(stage.numCompleteTasks())
                st.executor_run_s += stage.executorRunTime() / 1000.0
                st.executor_cpu_s += stage.executorCpuTime() / 1e9
                st.shuffle_read_bytes += int(stage.shuffleReadBytes())
                st.shuffle_write_bytes += int(stage.shuffleWriteBytes())
                st.spill_disk_bytes += int(stage.diskBytesSpilled())
                st.spill_memory_bytes += int(stage.memoryBytesSpilled())
        covered = _union_length(
            [(max(lo, op_start), min(hi, op_end)) for lo, hi in st.job_intervals]
        )
        st.driver_gap_s = max(0.0, (op_end - op_start) - covered)
        return st


def _proc_kb(pid, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory(spark, jvm_pid: int) -> dict[str, float]:
    """``peak_rss_mb``: peak resident set (VmHWM) of this process plus
    the driver JVM; it depends on when the JVM's collector ran.
    ``retained_mb``: what the run leaves allocated - this process's
    resident set plus the JVM's heap in use after a full collection and
    its non-heap (classes, JIT code) in use - the figure cached blocks
    and leaked state move."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    rt = jvm.java.lang.Runtime.getRuntime()
    # drop dead py4j proxies, let the JVM collect, give Spark's context
    # cleaner a moment to release what those proxies pinned; repeat until
    # the heap in use settles (after a fixed two rounds it still read
    # about 210 MB instead of about 115 MB in two runs of five)
    heaps: list[int] = []
    for _ in range(MEMORY_ROUNDS):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        heaps.append(rt.totalMemory() - rt.freeMemory())
        if len(heaps) >= 3 and abs(heaps[-1] - heaps[-2]) <= 0.01 * heaps[-2]:
            break
    heap = heaps[-1]
    non_heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
    py = _proc_kb("self", "VmRSS") / 1024.0
    return {
        "peak_rss_mb": (_proc_kb("self", "VmHWM") + _proc_kb(jvm_pid, "VmHWM")) / 1024.0,
        "retained_mb": py + (heap + non_heap) / 2**20,
        "gc_rounds": len(heaps),
        "parts": {"python_rss": py, "jvm_heap": heap / 2**20, "jvm_non_heap": non_heap / 2**20},
    }


@dataclass
class OpRecord:
    kind: str
    name: str
    seconds: float
    ok: bool
    detail: dict = field(default_factory=dict)


class Runner:
    """Closed-loop client: each operation starts only after the previous
    one returned.  An operation that raises is recorded as failed and the
    run goes on; its traceback goes to stderr."""

    def __init__(self, spark, tracer: Tracer | None, counter: Py4jCounter | None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.counter = counter
        self.probe = SparkProbe(spark) if tracer is not None else None
        self.ops: list[OpRecord] = []

    @property
    def traced(self) -> bool:
        return self.tracer is not None

    def run(self, kind: str, name: str, fn, *, check=None) -> OpRecord:
        """Time ``fn()`` (one operation).  ``check(result)`` runs after the
        clock stops and returns a detail dict.  In traced mode the op also
        runs under its own job group and its Spark work is collected."""
        op_id = len(self.ops)
        before_jobs = before_calls = 0
        before_rdds: set[int] = set()
        if self.traced:
            self.tracer.op = op_id
            self.spark.sparkContext.setJobGroup(f"bench-{op_id}", f"{kind}:{name}")
            before_jobs = self.probe.next_job_id()
            before_rdds = self.probe.persistent_rdds()
            before_calls = self.counter.read()
        ok, result = True, None
        t0 = time.time()
        try:
            with maybe_span(self.tracer, f"op.{kind}"):
                result = fn()
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            ok = False
            traceback.print_exc(file=sys.stderr)
        t1 = time.time()
        rec = OpRecord(kind, name, t1 - t0, ok)
        if self.traced:
            rec.detail["py4j_calls"] = self.counter.read() - before_calls
            stats = self.probe.collect(before_jobs, self.probe.next_job_id(), t0, t1)
            rec.detail["spark"] = stats
            rec.detail["leaked_rdds"] = len(self.probe.persistent_rdds() - before_rdds)
            for lo, hi in stats.job_intervals:
                self.tracer.add("spark.job", lo, hi, parent=_enclosing_span(self.tracer, op_id, lo))
            self.spark.sparkContext.setJobGroup("bench-idle", "between operations")
            rec.detail["trace_s"] = time.time() - t1
        if ok and check is not None:
            try:
                rec.detail.update(check(result) or {})
            except Exception:  # noqa: BLE001 - a failed check fails the op
                rec.ok = False
                traceback.print_exc(file=sys.stderr)
        # released outside the timed region, after the leak was counted
        self.spark.catalog.clearCache()
        self.ops.append(rec)
        return rec


def maybe_span(tracer: Tracer | None, name: str):
    """A span when tracing, otherwise nothing."""
    return tracer.span(name) if tracer is not None else nullcontext()


def _enclosing_span(tracer: Tracer, op_id: int, t: float) -> int | None:
    """Innermost span of operation ``op_id`` open at time ``t``."""
    best = None
    for s in tracer.spans:
        if s.op == op_id and s.name != "spark.job" and s.start <= t <= s.end:
            if best is None or s.start >= best.start:
                best = s
    return best.id if best is not None else None
