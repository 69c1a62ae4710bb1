"""Per-call layer metrics read from outside the engine.

Each call into a package function runs under its own Spark job group. After
the calls, the jobs Spark recorded in its status store are charged to them:
a job whose group is a call's group belongs to that call. Streaming queries
run their micro-batches under their own run-id group, so a job with any
other group is charged to the call whose wall window contains its
submission time (calls run one after another, from one client thread).

Per call this yields the job count, task run time, GC time, shuffle-write
and spill bytes and failed tasks (from each stage's last attempt), and the
Python operator metrics of every SQL execution the call's jobs belong to
(worker start/initialise/run time, Arrow bytes each way). Spark keeps those
operator metrics only in the SQL status store, as formatted strings, so
they are parsed from there. Nothing here touches the package under test.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: Spark's Python operator metric names (PythonSQLMetrics).
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_PY_METRICS = (PY_START, PY_INIT, PY_RUN, PY_SENT, PY_RECV)

_MB = 1024.0 * 1024.0
#: multipliers of the units Spark formats timing (to seconds) and size
#: (to MB) metrics with
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1 / _MB, "KiB": 1 / 1024.0, "MiB": 1.0, "GiB": 1024.0,
    "TiB": 1024.0 * 1024.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric as a number: seconds for timings, MB for
    sizes. Spark prints either ``"<value>"`` or a header line followed by
    ``"<total> (<min>, <med>, <max> ...)"``; the total is what is kept."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class CallStats:
    """What one traced call cost: its wall time plus Spark's metrics for
    every job it submitted."""

    name: str
    group: str
    t0: float
    t1: float = 0.0
    jobs: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    py: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(_PY_METRICS, 0.0)
    )

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def py_boot_s(self) -> float:
        return self.py[PY_START] + self.py[PY_INIT]

    @property
    def py_run_s(self) -> float:
        return self.py[PY_RUN]

    @property
    def arrow_to_py_mb(self) -> float:
        return self.py[PY_SENT]

    @property
    def arrow_from_py_mb(self) -> float:
        return self.py[PY_RECV]


class Tracer:
    """Runs calls under job groups and charges Spark's metrics to them.

    ``with tracer.call("ml.fit"): ...`` records one call; ``collect()``
    (outside any timed region) reads the status stores and fills in the
    Spark-side numbers of every call recorded since the last collect."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.calls: list[CallStats] = []
        #: failed task attempts over every traced call so far
        self.failed_tasks = 0
        #: stages the status store dropped before they were collected
        self.evicted = 0
        self._prefix = f"perfbench-{os.getpid()}-{id(self)}-"
        self._n = 0
        # jobs and executions that ran before the tracer belong to no call
        self._seen_jobs = {j.jobId() for j in self._jobs()}
        self._seen_execs = {e.executionId() for e in self._executions()}

    def _jobs(self):
        jobs = self.store.jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    def _executions(self):
        execs = self.sql_store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    @contextmanager
    def call(self, name: str):
        stats = CallStats(name, f"{self._prefix}{self._n}", time.time())
        self._n += 1
        self.sc.setJobGroup(stats.group, name)
        try:
            yield stats
        finally:
            self.sc._jsc.clearJobGroup()
            stats.t1 = time.time()
            self.calls.append(stats)

    def collect(self) -> list[CallStats]:
        """Charge every job and SQL execution not yet seen to its call;
        return the calls recorded since the previous collect."""
        calls, self.calls = self.calls, []
        by_group = {c.group: c for c in calls}
        job_owner: dict[int, CallStats] = {}
        stage_owner: dict[int, CallStats] = {}
        for job in self._jobs():
            if job.jobId() in self._seen_jobs:
                continue
            self._seen_jobs.add(job.jobId())
            group = job.jobGroup()
            owner = by_group.get(group.get()) if group.isDefined() else None
            if owner is None and job.submissionTime().isDefined():
                t = job.submissionTime().get().getTime() / 1000.0
                owner = next((c for c in calls if c.t0 <= t <= c.t1), None)
            if owner is None:
                continue
            owner.jobs += 1
            job_owner[job.jobId()] = owner
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_owner[ids.apply(k)] = owner
        for stage_id, owner in stage_owner.items():
            try:
                st = self.store.lastStageAttempt(stage_id)
            except Py4JJavaError:
                # evicted: the store keeps only the latest stages and jobs
                # (spark.ui.retainedStages), so collect at least that often
                self.evicted += 1
                continue
            owner.task_run_s += st.executorRunTime() / 1000.0
            owner.gc_s += st.jvmGcTime() / 1000.0
            owner.shuffle_write_mb += st.shuffleWriteBytes() / _MB
            owner.spill_mb += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / _MB
            owner.failed_tasks += st.numFailedTasks()
            self.failed_tasks += st.numFailedTasks()
        for ex in self._executions():
            eid = ex.executionId()
            if eid in self._seen_execs:
                continue
            it = ex.jobs().keys().iterator()
            owner = None
            while owner is None and it.hasNext():
                owner = job_owner.get(it.next())
            if owner is None:
                # still running, or not started by a traced call
                if ex.completionTime().isDefined():
                    self._seen_execs.add(eid)
                continue
            self._seen_execs.add(eid)
            names: dict[int, str] = {}
            plan = ex.metrics()
            for k in range(plan.size()):
                m = plan.apply(k)
                if m.name() in owner.py:
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            values = self.sql_store.executionMetrics(eid).iterator()
            while values.hasNext():
                kv = values.next()
                name = names.get(kv._1())
                if name is not None:
                    owner.py[name] += parse_metric(kv._2())
        return calls


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Child processes of ``pid``, forked by any of its threads."""
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class MemorySampler:
    """Peak resident memory of the three kinds of process a run has.

    - ``jvm_mb``: the Spark JVM's own high-water mark (VmHWM);
    - ``driver_mb``: this Python process's VmHWM;
    - ``worker_mb``: the largest VmHWM of any one Python worker (Spark's
      daemon and its forks), sampled every ``interval`` seconds while the
      sampler runs, so workers that exit between samples are missed only
      if they live shorter than the interval.

    Peaks of different processes are never added: they happen at
    different moments."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.worker_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        stack = _children(self.jvm_pid)
        while stack:
            pid = stack.pop()
            stack.extend(_children(pid))
            if _is_python(pid):
                kb = _status_kb(pid, "VmHWM")
                self.worker_mb = max(self.worker_mb, kb / 1024.0)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def jvm_mb(self) -> float:
        return _status_kb(self.jvm_pid, "VmHWM") / 1024.0

    @property
    def driver_mb(self) -> float:
        return _status_kb(os.getpid(), "VmHWM") / 1024.0
