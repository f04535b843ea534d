"""Shared pieces of the benchmark: host sizing, the Spark session, span
tracing, timing statistics, process-tree RSS sampling and the readers
of Spark's own status store."""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from contextlib import contextmanager

# Layers of the engine the benchmark times from outside, plus the
# benchmark's own code ("harness").
LAYERS = ("session", "streaming", "operators", "sources", "caching", "api", "api_http")


# ---------------------------------------------------------------------------
# host sizing
# ---------------------------------------------------------------------------


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mib() -> int:
    """A quarter of physical RAM, between 1 and 8 GiB.  MemTotal (not
    MemAvailable) keeps the heap the same from run to run."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kib = int(line.split()[1])
                break
        else:  # pragma: no cover - every Linux has MemTotal
            raise RuntimeError("MemTotal missing from /proc/meminfo")
    return max(1024, min(8192, kib // 1024 // 4))


def spark_env(root: str, work: str) -> dict:
    """Environment for a process that starts Spark: engine on the
    Python path of the driver and of every Python worker, and every
    temporary directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH", "")) if p
    )
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(host_cores())
    env["SPARK_DRIVER_MEM"] = f"{driver_memory_mib()}m"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "--conf spark.sql.ui.retainedExecutions=100000 pyspark-shell"
    )
    return env


def start_session(master: str | None = None):
    """The engine's own session builder (``session.get_spark``), sized
    from the host through SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM."""
    from ureplicator_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    return spark


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, layer, start, end (CLOCK_MONOTONIC ns,
    comparable across processes of one host), parent span and request
    id.  Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str, req: str | None = None,
             parent: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = f"m{next(self._ids)}"
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        par = parent if parent is not None else (stack[-1] if stack else None)
        stack.append(sid)
        t0 = time.monotonic_ns()
        try:
            yield sid
        finally:
            t1 = time.monotonic_ns()
            stack.pop()
            self.add(name, layer, t0, t1, par, req, sid)

    def add(self, name: str, layer: str, start: int, end: int, parent: str | None,
            req: str | None = None, sid: str | None = None) -> str:
        if sid is None:
            sid = f"m{next(self._ids)}"
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "layer": layer, "start": start,
                 "end": end, "parent": parent, "req": req}
            )
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times_ms(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval its children cover, summed by layer."""
    children: dict[str, list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = 0
        cur_s = cur_e = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        own = (s["end"] - s["start"] - covered) / 1e6
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]; 0.0 when empty."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """The highest of p50/p90/p99/p99.9 with at least ten samples
    beyond it (p50 when there are fewer than 100 samples)."""
    best = 50.0
    for q in (90.0, 99.0, 99.9):
        if n * (1 - q / 100.0) >= 10:
            best = q
    return best


def median(values) -> float:
    return percentile(values, 50.0)


# ---------------------------------------------------------------------------
# process tree: RSS and CPU time
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2 :].split()


def _tree(root_pid: int, exclude: set[int]) -> list[int]:
    """``root_pid`` and its descendants, minus excluded subtrees."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            out.append(pid)
            todo.extend(kids.get(pid, []))
    return out


def tree_rss_mib(root_pid: int, exclude: set[int]) -> float:
    total = 0
    for pid in _tree(root_pid, exclude):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


def tree_cpu_s(root_pid: int, exclude: set[int]) -> float:
    """CPU seconds of the tree: the root's own user + system time, and
    for descendants (JVM, Python workers) also their reaped children."""
    total = 0
    for pid in _tree(root_pid, exclude):
        f = _stat(pid)
        if f is not None:
            total += int(f[11]) + int(f[12])
            if pid != root_pid:
                total += int(f[13]) + int(f[14])
    return total / _TICK


def _jvm_aux_kind(comm: str) -> str | None:
    """JVM service threads whose CPU is reported apart: JIT compiler
    threads and garbage-collector threads."""
    if "CompilerThre" in comm:
        return "jit"
    if comm.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return None


class TreeMonitor:
    """Samples, every ``INTERVAL_S`` while active, this process tree
    (driver Python, its JVM, the JVM's Python workers): the peak RSS,
    and the CPU time of the JVM's JIT-compiler and GC threads.

    ``cpu_s`` is the tree's application CPU time: all of it minus the
    JIT and GC threads (kept in ``aux_s``) and minus the sampler's own.
    On entry the monitor measures the idle tree's application CPU rate
    for ``IDLE_S`` (JVM and Spark background threads, server polling);
    ``busy_cpu_s`` subtracts that rate over a window, leaving the CPU
    the window's operations cost.  Helper processes the benchmark
    starts (feeder, REST client) go in ``exclude``."""

    INTERVAL_S = 0.25
    IDLE_S = 2.0

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak = 0.0
        self.idle_cpu_rate = 0.0
        self.aux_s = {"jit": 0.0, "gc": 0.0}
        self._last: dict[tuple[int, int], int] = {}
        self._own_cpu = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _scan_aux(self, pids: list[int], first: bool = False) -> None:
        for pid in pids:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() != "java":
                        continue
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        kind = _jvm_aux_kind(fh.read().strip())
                    if kind is None:
                        continue
                    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                        st = fh.read()
                except OSError:
                    continue
                f = st[st.rfind(")") + 2 :].split()
                ticks = int(f[11]) + int(f[12])
                key = (pid, int(tid))
                # threads seen at the start are a baseline; later ones are new
                prev = self._last.get(key, ticks if first else 0)
                self._last[key] = ticks
                self.aux_s[kind] += (ticks - prev) / _TICK

    def cpu_s(self) -> float:
        me = os.getpid()
        with self._lock:
            self._scan_aux(_tree(me, self.exclude))
            aux = sum(self.aux_s.values())
        return tree_cpu_s(me, self.exclude) - aux - self._own_cpu

    def mark(self) -> tuple[float, float]:
        return self.cpu_s(), time.monotonic()

    def busy_cpu_s(self, mark: tuple[float, float]) -> float:
        """Application CPU since ``mark`` minus the idle rate over the
        same wall time."""
        cpu0, t0 = mark
        return self.cpu_s() - cpu0 - self.idle_cpu_rate * (time.monotonic() - t0)

    def __enter__(self) -> "TreeMonitor":
        with self._lock:
            self._scan_aux(_tree(os.getpid(), self.exclude), first=True)
        self._thread = threading.Thread(target=self._run, name="tree-monitor", daemon=True)
        self._thread.start()
        start = self.mark()
        time.sleep(self.IDLE_S)
        cpu1, t1 = self.mark()
        self.idle_cpu_rate = max(0.0, (cpu1 - start[0]) / (t1 - start[1]))
        return self

    def _run(self) -> None:
        me = os.getpid()
        while True:
            pids = _tree(me, self.exclude)
            self.peak = max(self.peak, tree_rss_mib(me, self.exclude))
            with self._lock:
                self._scan_aux(pids)
            self._own_cpu = time.thread_time()
            if self._stop.wait(self.INTERVAL_S):
                return

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# calibrate_s() on the 4-vCPU host the benchmark was written on
CALIBRATE_REF_S = 0.150


def calibrate_s() -> float:
    """Thread CPU seconds for a fixed piece of work that no engine code
    runs, done on every core at once (SHA-256 over a cache-resident
    buffer and a sort over a 16 MiB array, both outside the GIL); the
    mean over the threads.  Taken in the same run as a measurement, it
    shows how fast the host ran all cores of this run then."""
    import hashlib

    import numpy as np

    buf = bytes(range(256)) * 4096
    arr = np.random.default_rng(0).random(2_000_000)
    took: list[float] = []

    def work() -> None:
        t0 = time.thread_time()
        for _ in range(128):
            hashlib.sha256(buf).digest()
        np.sort(arr)
        took.append(time.thread_time() - t0)

    threads = [threading.Thread(target=work) for _ in range(host_cores())]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sum(took) / len(took)


# ---------------------------------------------------------------------------
# Spark's own metrics, read from outside the engine
# ---------------------------------------------------------------------------


def codegen_compile_ns(spark) -> int:
    """Cumulative whole-stage/expression codegen compile time of the JVM."""
    cg = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return int(cg.compileTime())


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def plan_phase_ms(df) -> float:
    """Analysis + optimization + planning wall time of one executed
    DataFrame, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            p = phases.apply(name)
            total += p.endTimeMs() - p.startTimeMs()
    return float(total)


class StageStats:
    """Stage- and job-level counters from the application status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self._as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def max_stage_id(self) -> int:
        ids = [s.stageId() for s in self._stages()]
        return max(ids) if ids else -1

    def _stages(self):
        return self._as_java(self.store.stageList(None, False, False, self._no_quantiles, None))

    def totals(self, after_stage: int) -> dict:
        """Executor run/CPU/GC time, tasks, shuffle write and spill of
        every stage newer than ``after_stage``."""
        t = {"run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0, "tasks": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "stages": 0}
        for s in self._stages():
            if s.stageId() <= after_stage:
                continue
            t["stages"] += 1
            t["run_ms"] += s.executorRunTime()
            t["cpu_ms"] += s.executorCpuTime() / 1e6
            t["gc_ms"] += s.jvmGcTime()
            t["tasks"] += s.numTasks()
            t["shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return t

    def jobs_by_group(self) -> dict[str, list[tuple[int, int]]]:
        """job group -> [(job id, task count)]."""
        out: dict[str, list[tuple[int, int]]] = {}
        for j in self._as_java(self.store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined():
                out.setdefault(g.get(), []).append((j.jobId(), j.numTasks()))
        return out


def write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)
