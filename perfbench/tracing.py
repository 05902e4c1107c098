"""Tracing for the benchmark, all from outside the package under test.

- ``Collector`` wraps each public call in a Spark job group (a span) and,
  after the span ends, reads the JVM status store through py4j: the jobs of
  the group, their stages' executor run time, shuffle read and write bytes,
  spill, input records and failed tasks.  The status store is filled with
  ``spark.ui.enabled=false`` too.
- ``ProcSampler`` is one thread that polls ``/proc`` for the benchmark's
  process tree (driver Python, JVM, Python workers).  It records each
  process's ``VmHWM`` and the summed resident size of the Python workers
  over time, so a span can report its worker peak.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class SpanStats:
    name: str
    wall_s: float
    jobs: int = 0
    stages: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    failed_tasks: int = 0
    # task executor run times (s) of the span's last stage
    last_stage_task_s: list[float] = field(default_factory=list)
    t0: float = 0.0
    t1: float = 0.0

    def idle_share(self, cores: int) -> float:
        """1 - busy core-seconds / available core-seconds over the span."""
        return 1.0 - self.executor_run_s / (self.wall_s * cores)

    def task_skew(self) -> float:
        """max / median task time of the span's last stage."""
        ts = self.last_stage_task_s
        med = statistics.median(ts) if ts else 0.0
        return max(ts) / med if med > 0 else 1.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Collector:
    """Job-group spans plus a status-store reader for one SparkSession."""

    def __init__(self, spark, prefix: str = "pb"):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway
        self._prefix = prefix
        self._n = 0
        self.spans: dict[str, SpanStats] = {}

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the span's finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        self._n += 1
        group = f"{self._prefix}-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc._jsc.clearJobGroup()
        self._drain()
        st = self._collect(group, name, t1 - t0)
        st.t0, st.t1 = t0, t1
        self.spans[name] = st

    def _collect(self, group: str, name: str, wall: float) -> SpanStats:
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        jobs = 0
        for job in _seq(store.jobsList(None)):
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                jobs += 1
                stage_ids.update(int(s) for s in _seq(job.stageIds()))
        st = SpanStats(name=name, wall_s=wall, jobs=jobs)
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        last = None
        for stage in _seq(store.stageList(None, False, False, empty, None)):
            sid = int(stage.stageId())
            if sid not in stage_ids or str(stage.status()) == "SKIPPED":
                continue
            st.stages += 1
            st.executor_run_s += stage.executorRunTime() / 1000.0
            st.shuffle_bytes += int(stage.shuffleReadBytes()) + int(stage.shuffleWriteBytes())
            st.spill_bytes += int(stage.memoryBytesSpilled()) + int(stage.diskBytesSpilled())
            st.input_records += int(stage.inputRecords())
            st.failed_tasks += int(stage.numFailedTasks())
            if last is None or sid > last[0]:
                last = (sid, int(stage.attemptId()))
        if last is not None:
            tasks = store.taskList(last[0], last[1], 100_000)
            for t in _seq(tasks):
                m = t.taskMetrics()
                if m.isDefined():
                    st.last_stage_task_s.append(m.get().executorRunTime() / 1000.0)
        return st


def _status(pid: int) -> dict[str, int]:
    """VmRSS / VmHWM (kB) of one process; empty if it has gone."""
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(("VmRSS:", "VmHWM:")):
                    k, v = line.split(":", 1)
                    out[k] = int(v.split()[0])
    except OSError:
        pass
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _is_worker(cmdline: str) -> bool:
    """A PySpark Python worker or the daemon that forks them (the JVM's own
    command line names ``pyspark-shell``, which this does not match)."""
    return "pyspark.daemon" in cmdline or "pyspark.worker" in cmdline


class ProcSampler:
    """Polls the process tree rooted at this process every ``interval`` s."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.hwm_kb: dict[int, int] = {}
        self.worker_rss: list[tuple[float, int]] = []  # (t, summed kB)
        self._workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        kids = _children()
        tree, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            tree.append(p)
            todo.extend(kids.get(p, []))
        worker_kb = 0
        for p in tree:
            s = _status(p)
            if not s:
                continue
            self.hwm_kb[p] = max(self.hwm_kb.get(p, 0), s.get("VmHWM", 0))
            if p not in self._workers and p != os.getpid() and _is_worker(_cmdline(p)):
                self._workers.add(p)
            if p in self._workers:
                worker_kb += s.get("VmRSS", 0)
        self.worker_rss.append((time.perf_counter(), worker_kb))

    def peak_tree_mb(self) -> float:
        """Sum of every process's peak resident size seen so far."""
        return sum(self.hwm_kb.values()) / 1024.0

    def worker_peak_mb(self, t0: float, t1: float) -> float:
        """Peak summed Python-worker resident size within [t0, t1]."""
        vals = [kb for t, kb in self.worker_rss if t0 <= t <= t1]
        return max(vals, default=0) / 1024.0
