"""Read Spark's own bookkeeping and /proc from outside the engine.

Nothing here changes what the engine does. ``SparkProbe`` reads

* the live application status store (``sc.statusStore()``; it works
  with the UI disabled) for jobs and stages,
* the SQL status store for the plan graph and SQL metrics of each
  execution (Python exec nodes and their row counts),
* ``queryExecution().tracker()`` phases of every executed query, pushed
  to Python by a ``QueryExecutionListener`` through the py4j callback
  server.

Work is attributed to an operation by ID range: everything with an ID
at or above the mark taken before the operation belongs to it. Job
groups would not work: the connected-components planner submits jobs
from a second thread. The live store keeps only about 1000 jobs and
stages, so each operation is read right after it returns.

``/proc`` readers give CPU time, RSS, peak RSS and thread counts for
the driver, the JVM and the pyspark Python workers (psutil is not
available), and the host's CPU counters.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

#: Python exec nodes of the physical plan, matched by exact node name
#: (a substring match would also count e.g. ``ObjectHashAggregate`` for
#: ``HashAggregate``)
PYTHON_NODES = frozenset((
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF", "FlatMapGroupsInPandasWithState"))

MB = 1024 * 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------
# /proc


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def _kb(v: str | None) -> int:
    return int(v.split()[0]) if v else 0


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(path: str, children: bool = True) -> int:
    """User and system ticks from a ``stat`` file, with those of the
    process's reaped children if ``children``; 0 once it is gone."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15 if children else 13])


def jit_threads(jvm: int) -> list[int]:
    """Thread IDs of the JVM's JIT compiler threads."""
    out = []
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                if f.read().startswith(("C1 CompilerThre",
                                        "C2 CompilerThre")):
                    out.append(int(tid))
        except OSError:
            pass
    return out


@dataclass
class ProcSet:
    """The engine's processes: this Python driver, the JVM it launched
    and the JVM's Python worker processes."""
    driver: int
    jvm: int
    #: the JVM's JIT compiler threads (a fixed set: see ``cpu_s``)
    jit: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.jit = jit_threads(self.jvm)

    def workers(self) -> list[int]:
        return [p for p in descendants(self.jvm)
                if _status(p).get("Name", "").startswith("python")]

    def all(self) -> list[int]:
        return [self.driver, self.jvm] + self.workers()

    def rss_mb(self) -> float:
        return sum(_kb(_status(p).get("VmRSS")) for p in self.all()) / 1024

    def hwm_mb(self) -> float:
        return sum(_kb(_status(p).get("VmHWM")) for p in self.all()) / 1024

    def reset_hwm(self) -> None:
        """Reset the peak-RSS mark of every process (clear_refs 5)."""
        for p in self.all():
            try:
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def jvm_threads(self) -> int:
        return int(_status(self.jvm).get("Threads", "0") or 0)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver, the JVM and everything
        the JVM started, without the JVM's JIT compiler threads: user
        and system time of every thread, plus that of exited children
        their parent has reaped (the Python daemon reaps its workers).
        Time the hypervisor stole from the guest is not in it. The JVM
        must run with ``-XX:-UseDynamicNumberOfCompilerThreads``: a
        compiler thread that exits leaves its time in the JVM's total
        and out of ``jit``."""
        ticks = sum(_cpu_ticks(f"/proc/{p}/stat") for p in
                    [self.driver, self.jvm] + descendants(self.jvm))
        ticks -= sum(_cpu_ticks(f"/proc/{self.jvm}/task/{t}/stat", False)
                     for t in self.jit)
        return ticks / CLK_TCK


class RssSampler:
    """Samples the summed RSS of a ``ProcSet`` every ``interval`` s, so
    the peak also covers worker processes that exit before the end."""

    def __init__(self, procs: ProcSet, interval: float = 0.25):
        self.procs = procs
        self.interval = interval
        self.peak = 0.0
        #: every Python worker PID seen while sampling
        self.workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.workers.update(self.procs.workers())
            self.peak = max(self.peak, self.procs.rss_mb())

    def __enter__(self) -> "RssSampler":
        self.procs.reset_hwm()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.procs.hwm_mb())


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_cpu() -> list[int]:
    """The guest's summed CPU counters (``/proc/stat``): user, nice,
    system, idle, iowait, irq, softirq, steal, ... in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of the guest's CPU time between two ``host_cpu`` readings
    that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def jvm_pid(spark) -> int:
    """PID of the JVM behind ``spark`` (the gateway launches it through
    the spark-submit script, which execs java)."""
    proc = spark.sparkContext._gateway.proc
    pid = proc.pid
    for c in [pid] + descendants(pid):
        if _status(c).get("Name", "") == "java":
            return c
    return pid


# --------------------------------------------------------------------
# Spark status stores


@dataclass
class Job:
    job_id: int
    start: float           # epoch seconds
    end: float
    stage_ids: list[int]


#: Catalyst phases of ``QueryPlanningTracker``
PHASES = ("analysis", "optimization", "planning")


@dataclass
class Phase:
    name: str
    start: float           # epoch seconds
    end: float


@dataclass
class OpWork:
    """The Spark work attributed to one operation."""
    jobs: list[Job] = field(default_factory=list)
    phases: list[Phase] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_rows: int = 0
    output_mb: float = 0.0
    analysis_s: float = 0.0
    optimization_s: float = 0.0
    planning_s: float = 0.0
    python_rows: int = 0

    def add(self, other: "OpWork") -> None:
        for k, v in vars(other).items():
            if isinstance(v, list):
                getattr(self, k).extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


class _PhaseListener:
    """``QueryExecutionListener`` implemented in Python: records the
    tracker phases of every executed query."""

    def __init__(self):
        self.lock = threading.Lock()
        self.phases: list[Phase] = []

    def _record(self, qe) -> None:
        ph = qe.tracker().phases()
        out = []
        for name in PHASES:
            opt = ph.get(name)
            if opt.isDefined():
                s = opt.get()
                out.append(Phase(name, s.startTimeMs() / 1000.0,
                                 s.endTimeMs() / 1000.0))
        with self.lock:
            self.phases.extend(out)

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def take(self) -> list[Phase]:
        with self.lock:
            out, self.phases = self.phases, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Reads the status stores for the work of one operation at a time."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._next_job = self._first_missing_job(0)
        self._next_exec = self._first_missing_exec(0)

    def close(self) -> None:
        self._drain()
        self.spark._jsparkSession.listenerManager().unregister(
            self._listener)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def _first_missing_job(self, start: int) -> int:
        i = start
        while self._job(i) is not None:
            i += 1
        return i

    def _first_missing_exec(self, start: int) -> int:
        i = start
        while self._sql.execution(i).isDefined():
            i += 1
        return i

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Exception:   # py4j: NoSuchElementException
            return None

    def mark(self) -> None:
        """Start a new operation: drop anything not yet attributed."""
        self._drain()
        self._next_job = self._first_missing_job(self._next_job)
        self._next_exec = self._first_missing_exec(self._next_exec)
        self._listener.take()

    def collect(self) -> OpWork:
        """Everything since the last ``mark``/``collect``."""
        self._drain()
        w = OpWork()
        seen_stages: set[int] = set()
        while True:
            jd = self._job(self._next_job)
            if jd is None:
                break
            self._next_job += 1
            start = _opt_ms(jd.submissionTime())
            end = _opt_ms(jd.completionTime())
            seq = jd.stageIds()     # a Scala Seq: not iterable in py4j
            sids = [seq.apply(i) for i in range(seq.size())]
            if start is not None:
                w.jobs.append(Job(jd.jobId(), start, end or time.time(),
                                  sids))
            for sid in sids:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                self._add_stage(w, sid)
        while True:
            ex = self._sql.execution(self._next_exec)
            if not ex.isDefined():
                break
            self._add_execution(w, self._next_exec)
            self._next_exec += 1
        for ph in self._listener.take():
            w.phases.append(ph)
            setattr(w, f"{ph.name}_s",
                    getattr(w, f"{ph.name}_s") + ph.end - ph.start)
        return w

    def _add_stage(self, w: OpWork, sid: int) -> None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:   # evicted from the live store
            return
        if sd.status().toString() not in ("COMPLETE", "FAILED"):
            return          # skipped: its shuffle output was reused
        w.stages += 1
        w.tasks += sd.numTasks()
        w.task_run_s += sd.executorRunTime() / 1000.0
        w.task_cpu_s += sd.executorCpuTime() / 1e9
        w.gc_s += sd.jvmGcTime() / 1000.0
        w.shuffle_write_mb += sd.shuffleWriteBytes() / MB
        w.shuffle_read_mb += sd.shuffleReadBytes() / MB
        w.spill_mb += sd.diskBytesSpilled() / MB
        w.input_rows += sd.inputRecords()
        w.output_mb += sd.outputBytes() / MB

    def _add_execution(self, w: OpWork, exec_id: int) -> None:
        """Python exec nodes of one SQL execution and the rows they
        returned, from the plan graph and its final SQL metrics."""
        graph = self._sql.planGraph(exec_id)
        nodes = graph.allNodes()
        metric_ids = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() not in PYTHON_NODES:
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() == "number of output rows":
                    metric_ids.append(m.accumulatorId())
        if not metric_ids:
            return
        # the map is keyed by Scala Long; py4j would look up an int
        # key as Integer and miss, so walk the entries instead
        it = self._sql.executionMetrics(exec_id).iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in metric_ids:
                w.python_rows += int(str(kv._2()).replace(",", "")
                                     .split()[0] or 0)
