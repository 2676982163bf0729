#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload relay --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --regen-hashes

Run from the repository root. One client drives the engine in a closed
loop on ``local[<cores>]``: the next pass starts when the previous
pass's output is complete. Set-up (session start, input build, the
first, cold pass) and one more untimed warm-up pass are followed by
timed passes for ``--seconds`` (at least one); the outputs of every
pass are checked after its clock stops (see ``workloads.py``).

The bounded per-pass figures are CPU time: the user and system seconds
of the driver, the JVM and the Python workers, less the JVM's JIT
compiler threads. On a shared virtual host the hypervisor takes the
guest's CPUs away for a varying share of the time (the steal counter
of ``/proc/stat``), and a Spark pass waits for its slowest task, so a
few percent of steal stretches a pass's wall time by tens of percent.
Stolen time is not charged to the guest's processes, so CPU time moves
less between runs; the pass figure is the timed pass that used the
least CPU, since a slow window only ever adds time. JIT compilation is left out because it is still
winding down for many passes after the warm-up, and how far it has got
depends on how many passes the window let the run make. Wall-clock
figures of the same passes, and the steal share, are per-layer metrics
of the traced run.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics of the traced
passes and
writes their spans (with self times) to ``.perfbench_out/``. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

Not measured: the ``streaming/`` Structured Streaming paths (imtcp and
the other bridges). Figures are those of the host that ran them.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probe  # noqa: E402
from workloads import EXPECTED_HASHES, QUERY_MIX, WORKLOADS  # noqa: E402

#: input builds per run; setup_s counts their median
BUILDS = 3
#: untimed passes before the timed ones; setup_s counts the first
WARMUP_PASSES = 2
#: fixed CPU-bound job of the window canary, and its repeats (the
#: median hides the first job's JIT warm-up)
CALIB_ROWS = 20_000_000
CALIB_REPEATS = 3


# --------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    kind: str
    start: float                        # epoch seconds
    end: float = 0.0
    pass_id: int = -1
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def covered(self, kinds=None) -> float:
        """Time inside this span covered by children (of ``kinds``)."""
        iv = sorted((max(c.start, self.start), min(c.end, self.end))
                    for c in self.children
                    if kinds is None or c.kind in kinds)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def to_json(self) -> dict:
        return {"name": self.name, "kind": self.kind, "pass": self.pass_id,
                "start": self.start, "dur_s": self.dur,
                "self_s": self.dur - self.covered(),
                "children": [c.to_json() for c in self.children]}


class Tracer:
    """Spans kept in memory and written out at exit; a disabled tracer
    records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.roots: list[Span] = []
        self.stack: list[Span] = []
        self.pass_id = -1

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, kind, time.time(), pass_id=self.pass_id)
        (self.stack[-1].children if self.stack else self.roots).append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()

    def attach(self, parent: Span, work: probe.OpWork) -> None:
        """Spark jobs and Catalyst phases of ``work`` become children."""
        for j in work.jobs:
            parent.children.append(Span(f"job {j.job_id}", "job", j.start,
                                        j.end, self.pass_id))
        for ph in work.phases:
            parent.children.append(Span(ph.name, "catalyst", ph.start,
                                        ph.end, self.pass_id))


# --------------------------------------------------------------------
# passes


@dataclass
class OpResult:
    name: str
    wall: float
    cpu: float = 0.0
    result: object = None
    error: str | None = None
    construct_s: float = 0.0
    construct_jobs: int = 0
    span: Span | None = None
    work: probe.OpWork = field(default_factory=probe.OpWork)


@dataclass
class Pass:
    wall: float
    cpu: float
    ops: list[OpResult]
    span: Span | None = None


def run_pass(wl, spark, procs: probe.ProcSet, tracer: Tracer,
             sp: probe.SparkProbe | None) -> Pass:
    wl.before_pass()
    ops = wl.ops(spark)
    out = []
    traced = sp is not None
    with tracer.span(wl.name, "pass") as pspan:
        t_pass = time.time()
        cpu_pass = cpu0 = procs.cpu_s()
        for op in ops:
            r = OpResult(op.name, 0.0)
            if traced:
                sp.mark()
            t0 = time.time()
            try:
                with tracer.span(op.name, "op") as ospan:
                    arg = None
                    if op.construct is not None:
                        with tracer.span("construct", "construct") as cs:
                            arg = op.construct()
                        r.construct_s = time.time() - t0
                        if traced:
                            w = sp.collect()
                            r.construct_jobs = len(w.jobs)
                            tracer.attach(cs, w)
                            r.work.add(w)
                    kind = "execute" if op.construct else "run_config_batch"
                    with tracer.span(kind, kind) as es:
                        r.result = op.execute(arg)
                    if traced:
                        w = sp.collect()
                        tracer.attach(es, w)
                        r.work.add(w)
                r.span = ospan
            except Exception:
                r.error = traceback.format_exc(limit=3)
            r.wall = time.time() - t0
            cpu1 = procs.cpu_s()
            r.cpu, cpu0 = cpu1 - cpu0, cpu1
            out.append(r)
        wall = time.time() - t_pass
    return Pass(wall, cpu0 - cpu_pass, out, pspan)


def check_pass(wl, p: Pass) -> int:
    """Check every op of ``p``; returns the number that failed."""
    failed = 0
    for r in p.ops:
        problems = [r.error] if r.error else []
        if not problems:
            try:
                problems = wl.check(r.name, r.result)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
        if problems:
            failed += 1
            print(f"# FAILED {wl.name}/{r.name}: " + "; ".join(problems),
                  file=sys.stderr)
    return failed


def calibrate(spark, cores: int) -> float:
    """Median wall of a fixed CPU-bound job (the window canary)."""
    walls = []
    for _ in range(CALIB_REPEATS):
        t0 = time.time()
        spark.range(0, CALIB_ROWS, 1, cores) \
            .selectExpr("sum(hash(id, id * 7))").collect()
        walls.append(time.time() - t0)
    return statistics.median(walls)


def proc_start_time() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------
# metrics


def end_to_end(setup_s: float, passes: list[Pass], records: int) -> dict:
    # the least: a window that slows the host only ever adds time, and
    # the first timed passes still carry some warm-up
    cpu = min(p.cpu for p in passes)
    return {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (cpu, "s"),
        "msgs_per_cpu_s": (records / cpu, "1/s"),
    }


def per_layer(wl, passes: list[Pass], cores: int, fixed: dict) -> dict:
    """Per-pass means of the traced passes' layer figures."""
    n = len(passes)
    acc: dict[str, float] = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v / n

    for q in QUERY_MIX:
        acc[f"q.{q}.wall_s"] = acc[f"q.{q}.cpu_s"] = 0.0
        acc[f"q.{q}.jobs"] = 0.0
    for p in passes:
        task_run = 0.0
        for r in p.ops:
            w = r.work
            add("queries.construct_s", r.construct_s)
            add("queries.construct_jobs", r.construct_jobs)
            for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                      "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                      "input_rows", "output_mb"):
                add(f"exec.{k}", getattr(w, k))
            add("exec.jobs", len(w.jobs))
            for k in ("analysis_s", "optimization_s", "planning_s"):
                add(f"catalyst.{k}", getattr(w, k))
            add("python.rows", w.python_rows)
            task_run += w.task_run_s
            if r.name in QUERY_MIX:
                add(f"q.{r.name}.wall_s", r.wall)
                add(f"q.{r.name}.cpu_s", r.cpu)
                add(f"q.{r.name}.jobs", len(w.jobs))
            for s in (r.span.children if r.span else ()):
                if s.kind != "run_config_batch":
                    continue
                add("config.jobs", sum(c.kind == "job" for c in s.children))
                add("config.driver_s", s.dur - s.covered({"job"}))
                add("config.load_s", sum(c.dur for c in s.children
                                         if c.kind == "load_config"))
        add("exec.busy_ratio", task_run / (p.wall * cores))
    for k in ("config.jobs", "config.driver_s", "config.load_s"):
        acc.setdefault(k, 0.0)
    units = {"_s": "s", "_mb": "MB", "ratio": "ratio", "loadavg_1m": "load"}
    out = {}
    for k, v in {**acc, **fixed}.items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)),
                    "count")
        out[k] = (v, unit)
    return out


# --------------------------------------------------------------------
# the run


def start_session(name: str, work: str, cores: int):
    from rsyslog_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(f"perfbench-{name}", master=f"local[{cores}]",
                     extra_conf={
                         "spark.sql.warehouse.dir":
                             os.path.join(work, "warehouse"),
                         # a fixed set of JIT compiler threads, started
                         # with the JVM, so that ProcSet can leave their
                         # CPU time out (dynamic ones exit, and their
                         # time could no longer be told apart)
                         "spark.driver.extraJavaOptions":
                             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
                         "spark.ui.showConsoleProgress": "false",
                     })


def stop_session(spark, procs: probe.ProcSet) -> None:
    """Stop the context, then the JVM and its Python workers, and wait
    until each has exited."""
    gateway = spark.sparkContext._gateway
    jvm_proc = gateway.proc
    kids = probe.descendants(jvm_proc.pid)
    spark.stop()
    gateway.shutdown()
    jvm_proc.stdin.close()          # the gateway JVM exits on stdin EOF
    try:
        jvm_proc.wait(timeout=30)
    except Exception:
        jvm_proc.kill()
        jvm_proc.wait()
    deadline = time.time() + 10
    for pid in kids + [procs.jvm]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


def run(args, work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    t_proc = proc_start_time()
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    # The registry must be imported before the first engine call: its
    # tail-manifest check hashes module state that session calls change.
    from rsyslog_spark.queries import collect_all
    collect_all()
    # result_hash needs this module, and importing it reaches
    # collect_all() again through __spark_entry__
    import tools.check_correctness  # noqa: F401

    wl = WORKLOADS[args.workload](work, args.seed, args.smoke, args.corrupt)
    tracer = Tracer(bool(args.trace))
    t0 = time.time()
    spark = start_session(wl.name, work, cores)
    session_start_s = time.time() - t0
    session_ready = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    procs = probe.ProcSet(os.getpid(), probe.jvm_pid(spark))
    try:
        loadavg = probe.loadavg_1m()
        calib_first = calibrate(spark, cores)

        builds = []
        for _ in range(BUILDS):
            t0 = time.time()
            wl.build(spark)
            builds.append(time.time() - t0)

        attempted = failed = 0
        warm = []
        for _ in range(WARMUP_PASSES):
            warm.append(run_pass(wl, spark, procs, Tracer(False), None))
            attempted += len(warm[-1].ops)
            failed += check_pass(wl, warm[-1])
        setup_s = (session_ready - t_proc + statistics.median(builds)
                   + warm[0].wall)

        # a traced run alternates untraced and traced passes, so that
        # trace.overhead_s compares passes equally far from the warm-up
        by_kind: dict[str, list[Pass]] = {"plain": [], "traced": []}
        sp = probe.SparkProbe(spark) if args.trace else None
        # the RSS sampler reads /proc four times a second, so it runs
        # only when the per-layer figures are wanted
        rss = probe.RssSampler(procs) if args.trace else \
            contextlib.nullcontext()
        host0 = probe.host_cpu()
        deadline = time.time() + args.seconds
        with rss:
            i = 0
            while i < 1 + args.trace or time.time() < deadline:
                traced = bool(args.trace) and i % 2 == 1
                i += 1
                if traced:
                    tracer.pass_id += 1
                    unpatch = patch_load_config(tracer)
                p = run_pass(wl, spark, procs,
                             tracer if traced else Tracer(False),
                             sp if traced else None)
                if traced:
                    unpatch()
                by_kind["traced" if traced else "plain"].append(p)
                attempted += len(p.ops)
                failed += check_pass(wl, p)
        steal = probe.steal_ratio(host0, probe.host_cpu())
        calib_last = calibrate(spark, cores)
        if sp is not None:
            sp.close()

        plain = by_kind["plain"]
        lat = [r.wall for p in plain for r in p.ops]
        if not args.trace:
            metrics = end_to_end(setup_s, plain, wl.records)
        else:
            traced = by_kind["traced"]
            fixed = {
                "session.start_s": session_start_s,
                "queries.scan_cache_s": statistics.median(builds)
                if wl.name not in ("relay", "fanout") else 0.0,
                "python.workers": float(len(rss.workers)),
                "proc.jvm_threads": float(procs.jvm_threads()),
                "proc.persisted_rdds": float(
                    len(spark.sparkContext._jsc.getPersistentRDDs())),
                "proc.python_workers": float(len(procs.workers())),
                "proc.rss_mb": procs.rss_mb(),
                # per layer, not end to end: the JVM's heap sizing
                # spreads it by ~0.2 of its median between runs
                "proc.peak_rss_mb": rss.peak,
                # wall clock of the untraced passes: steal moves it by
                # more than any bound could allow
                "wall.pass_s": statistics.median(p.wall for p in plain),
                "wall.query_p50_s": statistics.median(lat),
                "window.calib_first_s": calib_first,
                "window.calib_last_s": calib_last,
                "window.loadavg_1m": loadavg,
                "window.steal_ratio": steal,
                "trace.overhead_s":
                    statistics.median(p.wall for p in traced)
                    - statistics.median(p.wall for p in plain),
            }
            metrics = per_layer(wl, traced, cores, fixed)
            write_spans(tracer, wl.name, args.seed)
        # p90 needs at least ten samples beyond it
        p90 = (f"p90 {statistics.quantiles(lat, n=10)[-1]:.3f}s"
               if len(lat) >= 100 else "too few for p90")
        print(f"# {wl.name}: setup {setup_s:.2f}s (session ready "
              f"{session_ready - t_proc:.2f}s, build "
              f"{statistics.median(builds):.2f}s, cold pass "
              f"{warm[0].wall:.2f}s), warm-up "
              f"{sum(p.wall for p in warm[1:]):.2f}s; untraced passes "
              f"(wall/CPU s) " + " ".join(f"{p.wall:.2f}/{p.cpu:.2f}"
                                          for p in plain)
              + f"; {len(lat)} op latencies ({p90}); steal {steal:.3f}, "
              f"canary {calib_first:.3f}s -> {calib_last:.3f}s, "
              f"loadavg {loadavg}", file=sys.stderr)
    finally:
        stop_session(spark, procs)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def patch_load_config(tracer: Tracer):
    """Time ``config.rainerscript.load_config`` as ``run_config_batch``
    calls it, without changing what it does; returns the undo."""
    from rsyslog_spark.config import runtime

    orig = runtime.load_config

    def traced(*a, **kw):
        with tracer.span("load_config", "load_config"):
            return orig(*a, **kw)

    runtime.load_config = traced
    return lambda: setattr(runtime, "load_config", orig)


def write_spans(tracer: Tracer, name: str, seed: int) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump([s.to_json() for s in tracer.roots], f)
    print(f"# spans: {path}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, 2000 lines)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage every output before it is checked")
    ap.add_argument("--regen-hashes", action="store_true",
                    help=f"rewrite {os.path.basename(EXPECTED_HASHES)} "
                         "from the DuckDB oracles")
    args = ap.parse_args()
    if args.regen_hashes:
        from workloads import regen_hashes

        with open(EXPECTED_HASHES, "w") as f:
            json.dump(regen_hashes(), f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    if not args.workload:
        ap.error("--workload is required")
    work = os.path.join(ROOT, ".perfbench_run",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
