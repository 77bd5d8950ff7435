"""Shared benchmark plumbing: deployment settings, the per-run temp
directory, the Spark session, peak-RSS sampling, the host-speed probe,
spans and percentiles.

Everything the benchmark writes goes under ``<checkout>/.perfbench_tmp/``
(one directory per run, deleted at exit), including Spark's local dirs,
the JVM temp dir and the Spark warehouse.
"""

from __future__ import annotations

import gc
import itertools
import json
import math
import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A sixteenth of host memory, between 1 and 2 GiB: the inputs are
    small, the host is shared, and on a 4-core host a 2 GiB heap gave
    higher streaming latency than 1 GiB in interleaved runs."""
    gib = max(1, min(2, round(host_mem_mb() / 16384)))
    return f"{gib}g"


class RunDir:
    """Per-run scratch directory inside the checkout, and the pinned
    deployment environment that points Spark and the JVM at it."""

    def __init__(self, workload: str, seed: int):
        os.makedirs(TMP_ROOT, exist_ok=True)
        self.path = os.path.join(TMP_ROOT, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.settings = {
            "SPARK_GRAFT_CPUS": str(host_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
            "SPARK_LOCAL_DIRS": self.sub("spark-local"),
            "TMPDIR": self.sub("tmp"),
            # spark-submit's launcher JVM would write perf data under /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
        # the heap is fixed and pre-touched: a heap that grows on demand
        # made both timings and peak RSS depend on when G1 chose to grow
        # it; the heap the program uses is reported by heap_live_mb
        self.java_options = (
            f"-Djava.io.tmpdir={self.settings['TMPDIR']} -XX:-UsePerfData "
            f"-Xms{self.settings['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        )
        os.environ.update(self.settings)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def record(self) -> dict:
        return {
            **self.settings,
            "master": f"local[{self.settings['SPARK_GRAFT_CPUS']}]",
            "driver_java_options": self.java_options.replace(self.path, "<run_dir>"),
            "host_cpus": host_cpus(),
            "host_mem_mb": host_mem_mb(),
            "run_dir": os.path.relpath(self.path, ROOT),
        }

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(TMP_ROOT)  # only when no other run is using it
        except OSError:
            pass


def spark_session(run: RunDir, app: str, cpus: int | None = None):
    """The program's own session factory, with only deployment settings
    added (temp and warehouse locations, the fixed heap, no console
    progress bars)."""
    if cpus is not None:
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from flink_ecommerce_spark.session import get_spark

    return get_spark(
        app,
        extra_conf={
            "spark.sql.warehouse.dir": run.sub("warehouse"),
            "spark.driver.extraJavaOptions": run.java_options,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway's stdin so the JVM exits,
    and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: the driver's live
    data (streaming state stores, cached plans and blocks), which peak
    RSS cannot show because the heap is committed and touched up front."""
    sc = spark.sparkContext
    # tasks of stages an action no longer needs can still be running;
    # collecting their plans' accumulators first makes them fail to report
    deadline = time.time() + 10
    while sc.statusTracker().getActiveStageIds() and time.time() < deadline:
        time.sleep(0.05)
    # Spark's context cleaner frees the blocks and state of a plan only
    # after a collection shows the plan unreachable, and what those held
    # only after the next one: collect until the live heap stops shrinking.
    # The heap is read as the full collection left it: the streaming
    # queries keep allocating while the benchmark reads it.
    gc.collect()  # py4j references the Python side no longer holds
    jvm = sc._jvm
    mf = jvm.java.lang.management.ManagementFactory
    full_gc = next(b for b in mf.getGarbageCollectorMXBeans() if b.getName() == "G1 Old Generation")
    heap_pools = [p.getName() for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]
    used = float("inf")
    for _ in range(8):
        jvm.java.lang.System.gc()
        after = full_gc.getLastGcInfo().getMemoryUsageAfterGc()
        before, used = used, sum(after[pool].getUsed() for pool in heap_pools) / (1024.0 * 1024.0)
        if before - used < 1.0:
            break
        time.sleep(0.5)
    return used


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus its JVM child and the
    JVM's Python workers, sampled from /proc every ``interval`` seconds.

    Other descendants are skipped: the JVM runs shell commands (chmod,
    readlink) through short-lived forks that share its memory and would
    count the whole JVM twice."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = [me] + [
                p for p in _descendants(me)[1:]
                if _comm(p) == "java" or _comm(p).startswith("python")
            ]
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


PROBE_INTS = 2_000_000
PROBE_REF_S = 0.075


class HostSpeed:
    """How fast the shared host is running right now, from a fixed
    workload inside the program's JVM that no Spark or program setting
    touches: ``Arrays.parallelSort`` of PROBE_INTS seeded random ints on
    the JVM's common fork-join pool (one thread per CPU, like the
    program's tasks), timed while the program is idle.  On a shared host
    the program's times rose and fell by 20-30% with the neighbours'
    load; a time divided by its factor (probe time / PROBE_REF_S) reads
    as on a host where the probe takes PROBE_REF_S seconds.  Each unit of
    work is scaled by the probe taken just before it: the load changes
    within a run too.  (A single-threaded ``BigInteger.pow`` probe was
    rejected: 30 back-to-back calls spread 27% of their median, the sort
    7%.)"""

    def __init__(self):
        self.samples: dict[str, list[float]] = {"setup": [], "measure": []}
        self.spent_s = 0.0  # wall time the probes took
        self._ints = None  # the unsorted input, kept in the JVM

    def probe(self, spark, phase: str | None, times: int = 1) -> float:
        """Time the workload ``times`` times and return the median's
        factor; ``phase=None`` only warms it up (the JVM compiles the
        sort on first use)."""
        jvm = spark.sparkContext._jvm
        if self._ints is None:
            self._ints = jvm.java.util.Random(42).ints(PROBE_INTS).toArray()
        taken = []
        for _ in range(times):
            t_gen = time.perf_counter()
            ints = jvm.java.util.Arrays.copyOf(self._ints, PROBE_INTS)
            t0 = time.perf_counter()
            jvm.java.util.Arrays.parallelSort(ints)
            t1 = time.perf_counter()
            taken.append(t1 - t0)
            self.spent_s += t1 - t_gen
        if phase is not None:
            self.samples[phase] += taken
        return percentile(taken, 50) / PROBE_REF_S

    def factor(self, phase: str) -> float:
        """Median probe time over PROBE_REF_S: above 1 on a slow host."""
        return percentile(self.samples[phase], 50) / PROBE_REF_S


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written as
    JSON at exit.  Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        # next() on a count is atomic: spans open on several foreachBatch
        # threads at once
        self._ids = itertools.count()

    def span(self, name: str, trace: str | None, **attrs):
        """Context manager recording one span; ``trace=None`` takes the
        enclosing span's trace id."""
        return _Span(self, name, trace, attrs)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, excluding time spent in child spans."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def overhead_s(self, samples: int = 20000) -> float:
        """Estimated tracing cost of this run: the measured cost of one
        span times the number of spans recorded."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(samples):
            with probe.span("probe", "probe"):
                pass
        per_span = (time.perf_counter() - t0) / samples
        return per_span * len(self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace: str, attrs: dict):
        self.tracer, self.name, self.trace, self.attrs = tracer, name, trace, attrs

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        parent = stack[-1] if stack else None
        self.rec = {
            "id": next(t._ids),
            "name": self.name,
            "trace": self.trace if self.trace is not None or parent is None else parent["trace"],
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            **self.attrs,
        }
        t.spans.append(self.rec)
        stack.append(self.rec)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            self.rec["end"] = time.time()
            t._local.stack.pop()
        return False


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile in TAIL_CANDIDATES that has at least ten
    samples beyond it, with its value; the maximum when no candidate
    qualifies (fewer than 40 samples)."""
    n = len(values)
    for q in TAIL_CANDIDATES:
        if n * (100.0 - q) / 100.0 >= 10:
            return q, percentile(values, q)
    return 100.0, max(values)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
