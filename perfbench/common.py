"""Shared pieces of the benchmark: run context, timing statistics,
span tracer, process-tree RSS sampler and the Spark session bootstrap.

Everything here belongs to the benchmark, not to the program under
test. The program is reached only through its public modules
(``shredder_spark.*``) from the workload files.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
CPUS = 4                      # local[4]: the four cores of the reference box
AVRO_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"   # Spark's JVM reader, for output checks
DRIVER_MEM = "1g"            # fixed and pre-touched, so the JVM heap adds a constant to RSS


# ---------------------------------------------------------------- stats


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def latency_metrics(run: "Run", samples: list[float]) -> None:
    """Wall-clock operation latency from samples in ms, as the per-layer
    metrics ``trace.latency_p50_ms`` and ``trace.latency_tail_ms``. A run
    holds a handful of operations, so p50 is the highest percentile its
    sample supports with ten samples beyond it, and the tail is p50 too;
    the detail line records the count and the maximum."""
    s = sorted(samples)
    run.layer("trace.latency_p50_ms", median(s), "ms")
    run.layer("trace.latency_tail_ms", median(s), "ms")
    run.detail["latency"] = {"n": len(s), "p50_ms": median(s), "max_ms": s[-1]}


def throughput_metrics(run: "Run", ops: "Ops", mb: float) -> None:
    """End-to-end ``cpu_vs_ref``; per-layer ``trace.cpu_vs_ref``,
    ``trace.time_vs_ref`` and the absolute ``trace.mb_per_s`` and
    ``trace.cpu_s_per_gb`` (medians over the run's operations), where
    each operation processed ``mb`` MB of input."""
    run.metric("cpu_vs_ref", ops.cpu_ratio(), "x")
    run.layer("trace.cpu_vs_ref", ops.cpu_ratio(), "x")
    run.layer("trace.time_vs_ref", ops.wall_ratio(), "x")
    run.layer("trace.mb_per_s", median([mb / w for w in ops.wall]), "MB/s")
    run.layer("trace.cpu_s_per_gb", median([c / (mb / 1e3) for c in ops.cpu]), "s/GB")
    run.detail["ops"] = {"n": len(ops.wall), "mb": mb, **ops.__dict__}


# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: int
    sid: int


class Tracer:
    """In-memory spans around the benchmark's calls into the program.

    Disabled tracers cost one attribute test per span. Spans nest via a
    per-thread stack; ``trace`` groups the spans of one operation.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self, name: str) -> list[float]:
        """Duration minus the part of the interval child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append(s.end - s.start - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        with t._lock:
            self.sid = t._next
            t._next += 1
        self.parent = stack[-1] if stack else None
        self.trace = stack[0] if stack else self.sid
        stack.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        end = time.perf_counter()
        t._local.stack.pop()
        with t._lock:
            t.spans.append(Span(self.name, self.start, end, self.parent,
                                self.trace, self.sid))
        return False


# ---------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it, so the Python workers forked from
    one daemon are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of this process and its
    descendants (driver Python, the JVM, Python workers), sampled from
    /proc every 100 ms. ``exclude`` holds pids whose subtrees are load
    generators, not the program."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval = interval_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.own_cpu_s = 0.0          # CPU time of the sampling thread itself
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        """Sum over the tree, skipping a child that still runs its
        parent's image (between fork and exec, or the JDK's
        ``jspawnhelper`` launching a worker): it shares the parent's
        memory and would count it twice."""
        total, todo = 0, [(os.getpid(), b"")]
        while todo:
            pid, parent_cmd = todo.pop()
            if pid in self.exclude:
                continue
            cmd = _cmdline(pid)
            if cmd != parent_cmd and b"jspawnhelper" not in cmd:
                total += _pss_kb(pid)
            todo.extend((c, cmd) for c in _children(pid))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
            self.own_cpu_s = time.thread_time()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process, plus that of its exited, reaped
    children (``cutime`` + ``cstime``)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(exclude: set[int] = frozenset()) -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, the Python workers it forks, and the ones that already exited).
    The kernel leaves time the hypervisor gave to other guests (steal)
    and time spent waiting for a core out of these counters."""
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        total += _cpu_ticks(pid)
        todo.extend(_children(pid))
    return total / _TICK


def steal_share() -> tuple[float, float]:
    """(steal ticks, all ticks) summed over the guest's CPUs so far."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return float(vals[7]), float(sum(vals[:8]))


# ---------------------------------------------------------------- run context


@dataclass
class Run:
    """One benchmark invocation: its arguments, work directory, tracer,
    counters and the metrics it reports."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    t_start: float = field(default_factory=time.perf_counter)
    load_pids: set = field(default_factory=set)
    rss: "RssSampler | None" = None

    def cpu_s(self) -> float:
        """CPU seconds the program's processes have used so far: the
        process tree without the load process and without the memory
        sampler's thread."""
        own = self.rss.own_cpu_s if self.rss is not None else 0.0
        return tree_cpu_s(self.load_pids) - own

    def check(self, name: str, ok: bool, info=None) -> bool:
        """Record one output check; a failed check counts as a failed
        operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks[name] = {"ok": bool(ok), **({"info": info} if info is not None else {})}
        return ok

    def op(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (seconds since the run began)."""
        self.detail.setdefault("phases", {})[name] = round(time.perf_counter() - self.t_start, 2)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.e2e[name] = {"value": float(value), "unit": unit}

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = {"value": float(value), "unit": unit}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def make_work_dir(workload: str, seed: int) -> str:
    work = os.path.join(OUT_DIR, f"work-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def prepare_env(work: str) -> None:
    """Keep every file the program, Spark and the JVM write inside the
    work directory (also the cwd), and make the checkout importable by
    Python workers. BLAS/OpenMP pools default to one thread: Spark
    already runs one task per core."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    # every JVM, the spark-submit launcher too: no perf-data files, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    os.chdir(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(cpus: int = CPUS):
    """The library's own session factory at ``local[cpus]``; returns
    (spark, seconds it took)."""
    from shredder_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def control_s(spark) -> float:
    """Seconds for one run of the frozen VM-speed control."""
    from shredder_spark.benchcontrol import control_once

    t0 = time.perf_counter()
    control_once(spark)
    return time.perf_counter() - t0


def timed_loop(seconds: float, body, min_reps: int = 3) -> list[float]:
    """Call ``body(i)`` until ``seconds`` have passed (at least
    ``min_reps`` times); → wall seconds per call."""
    out: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(out) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        body(len(out))
        out.append(time.perf_counter() - t0)
    return out


# ---------------------------------------------------------------- reference job

REF_ROWS = 1_000_000


def ref_job(spark) -> None:
    """The benchmark's fixed reference job: hash, format and parse
    strings over generated rows in ``CPUS`` tasks, drained to ``noop``.
    It uses only Spark's built-in functions, no shuffle and no file, so
    a change to the program's code does not move it; the speed the host
    gives the JVM does, and so would a change to the session's JVM
    settings."""
    (spark.range(0, REF_ROWS, 1, CPUS)
     .selectExpr("sha2(cast(id AS string), 256) AS h", "cast(id * 0.37 AS string) AS d")
     .selectExpr("substring(h, 1, 16) AS a", "cast(d AS double) AS b",
                 "length(h) + length(d) AS n")
     .write.format("noop").mode("overwrite").save())


@dataclass
class Ops:
    """Wall and CPU seconds of each operation, and of the reference job
    run before the first operation and after each one."""

    wall: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    ref_wall: list[float] = field(default_factory=list)
    ref_cpu: list[float] = field(default_factory=list)

    def wall_ratio(self) -> float:
        """Mean wall time of an operation over that of a reference job.
        The reference jobs are spread over the run like the operations,
        so a stretch of the run where the host is slow weighs on both."""
        return statistics.fmean(self.wall) / statistics.fmean(self.ref_wall)

    def cpu_ratio(self) -> float:
        """As ``wall_ratio``, for CPU time. Means, not medians: a run
        holds two to seven operations, and their spread comes from the
        host and the JIT, not from outliers."""
        return statistics.fmean(self.cpu) / statistics.fmean(self.ref_cpu)


REF_WARM = 4                  # reference jobs that JIT-warm it before the first timed one


def warm_up(spark, body, reps: int) -> list[float]:
    """Call ``body(i)`` ``reps`` times, then warm the reference job;
    → wall seconds of each call of ``body`` (the set-up share)."""
    walls = timed_loop(0, body, min_reps=reps)
    for _ in range(REF_WARM):
        ref_job(spark)
    return walls


def paired_loop(run: "Run", spark, seconds: float, body, min_reps: int = 3) -> Ops:
    """Alternate the reference job and ``body(i)`` until ``seconds``
    have passed (at least ``min_reps`` calls of ``body``), starting and
    ending with the reference job.

    Each timed reference job follows an untimed one: run right after a
    ``query_mix`` pass, the job took up to twice its usual CPU time, by
    an amount that varied from run to run (the pass's garbage and the
    JIT state it leaves are the likely causes)."""
    ops = Ops()

    def timed(fn, walls, cpus) -> None:
        t0, c0 = time.perf_counter(), run.cpu_s()
        fn()
        cpus.append(run.cpu_s() - c0)
        walls.append(time.perf_counter() - t0)

    def ref() -> None:
        ref_job(spark)
        timed(lambda: ref_job(spark), ops.ref_wall, ops.ref_cpu)

    ref()
    t_end = time.perf_counter() + seconds
    while len(ops.wall) < min_reps or time.perf_counter() < t_end:
        i = len(ops.wall)
        timed(lambda: body(i), ops.wall, ops.cpu)
        ref()
    return ops
