"""Run-level plumbing for the CDC-ingest benchmark.

One `Run` owns everything a single benchmark invocation touches: the work
directory inside the checkout (warehouses, Spark local dir, generated feed),
the Spark session and its JVM, the host/JVM drift probes, the optional span
tracer and the Spark job counter.  Nothing here starts a thread or a process
at import time.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

# a fixed pure-Python CPU loop: timed at the start and the end of a run so a
# slow run can be attributed to a slow host rather than to the code
_CALIB_LOOPS = 1_000_000


def calib_loop() -> float:
    t = time.perf_counter()
    acc = 0
    for i in range(_CALIB_LOOPS):
        acc ^= i * 2654435761
    return time.perf_counter() - t


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def proc_cpu_s(pid: int) -> float:
    """utime + stime of one process (all its threads), in seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile; 0.0 for an empty sample."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))])


class Tracer:
    """In-memory span recorder.  A span is (id, parent, trace id, name,
    thread, start, end); parents come from a per-thread stack, so spans
    recorded on the applier's background writer threads are roots of their
    own.  The tracer also times its own bookkeeping, which is the tracing
    overhead a traced run reports."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.trace_id = "setup"
        self.own_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self._blocked: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, blocking: bool = False):
        """Record one span.  A span opened on a thread with no open span of
        its own is a child of the span currently blocked on other threads'
        work (`blocking=True`, e.g. a stream drain waiting on foreachBatch
        callbacks), else a root."""
        if getattr(self._local, "paused", False):
            yield
            return
        c0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self._blocked
        stack.append(sid)
        if blocking:
            outer, self._blocked = self._blocked, sid
        trace_id = self.trace_id
        c1 = time.perf_counter()
        try:
            yield
        finally:
            c2 = time.perf_counter()
            stack.pop()
            if blocking:
                self._blocked = outer
            with self._lock:
                self.spans.append(
                    (sid, parent, trace_id, name, threading.get_ident(), c1, c2)
                )
                self.own_s += (c1 - c0) + (time.perf_counter() - c2)

    @contextlib.contextmanager
    def paused(self):
        """Record no spans on this thread inside the block: the benchmark's
        own probes and gates call the engine too."""
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False

    def wrap(self, fn, name: str, blocking: bool = False):
        def traced(*a, **kw):
            with self.span(name, blocking):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str, blocking: bool = False) -> None:
        """Replace owner.attr (a class or module attribute) with a traced
        wrapper; restore() puts the original back."""
        orig = owner.__dict__[attr]
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, blocking))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of it
        that its child spans cover (children on other threads may overlap
        each other, so covered time is the union of their intervals),
        summed by the layer prefix of the span name."""
        children: dict[int, list[tuple[float, float]]] = {}
        for _sid, parent, _t, _n, _th, a, b in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((a, b))
        out: dict[str, float] = {}
        for sid, _p, _t, name, _th, a, b in self.spans:
            covered, end = 0.0, a
            for ca, cb in sorted(children.get(sid, ())):
                ca, cb = max(ca, end), min(cb, b)
                if cb > ca:
                    covered += cb - ca
                    end = cb
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (b - a) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, tid, name, th, a, b in self.spans:
                fh.write(json.dumps({
                    "id": sid, "parent": parent, "trace": tid, "name": name,
                    "thread": th, "start": a, "end": b,
                }) + "\n")


class JobCounter:
    """Spark jobs and tasks per timed call, read from the status tracker
    under one job group per call.  Only used in traced runs."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = itertools.count()
        self.own_s = 0.0
        self.samples: dict[str, list[tuple[int, int]]] = {}

    def begin(self) -> str:
        c = time.perf_counter()
        gid = f"cdcbench-{next(self._n)}"
        self.sc.setJobGroup(gid, gid)
        self.own_s += time.perf_counter() - c
        return gid

    def end(self, kind: str, gid: str) -> None:
        c = time.perf_counter()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        self.samples.setdefault(kind, []).append((len(jobs), tasks))
        self.sc._jsc.clearJobGroup()
        self.own_s += time.perf_counter() - c

    @contextlib.contextmanager
    def group(self, kind: str):
        gid = self.begin()
        try:
            yield
        finally:
            self.end(kind, gid)

    def median(self, kind: str, idx: int) -> float:
        return median(s[idx] for s in self.samples.get(kind, []))


class Run:
    """One benchmark invocation: work dir, Spark session, probes, result."""

    def __init__(self, root: str, seed: int, seconds: int, trace: bool,
                 scale: float = 1.0) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.work = os.path.join(root, ".cdcbench_work")
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer() if trace else None
        self.jobs: JobCounter | None = None
        self.spark = None
        self.jvm_pid: int | None = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.corrupt = False  # fault injection for the harness's own test
        self._t0 = time.perf_counter()
        self._steal0 = steal_jiffies()
        self.calib0 = calib_loop()

    # ---------------------------------------------------------------- dirs
    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare_dirs(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("local", "tmp", "feed", "wh"):
            os.makedirs(self.path(d))

    # --------------------------------------------------------------- spark
    def start_spark(self) -> float:
        """Start the session the way the engine does (stratum_spark.session)
        with the Spark local dir and every temp file inside the work dir.
        Returns the session start wall time."""
        os.environ["STRATUM_SPARK_LOCAL_DIR"] = self.path("local")
        # a 1 GB driver heap, not the engine's 8 GB default: at 8 GB the
        # JVM's peak RSS follows GC ergonomics (1.9-2.5 GB, spread 0.24
        # between runs of one version) and runs take ~10% longer, with no
        # gain in events_per_s (METRICS.md, "Noise history")
        os.environ["STRATUM_DRIVER_MEM"] = "1g"
        os.environ["TMPDIR"] = self.path("tmp")
        from stratum_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            "cdcbench", cores=self.cores,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            },
        )
        start_s = time.perf_counter() - t
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        if self.trace:
            self.jobs = JobCounter(self.spark.sparkContext)
            self.tracer.spans.append((0, None, "setup", "session.get_spark",
                                      threading.get_ident(), t, t + start_s))
        return start_s

    def stop_spark(self) -> None:
        """Stop the session, shut the py4j gateway and wait for the JVM."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = gw.proc if gw is not None else None
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
                raise

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def log(self, msg: str) -> None:
        print(f"# cdcbench {time.perf_counter() - self._t0:7.2f}s {msg}", file=sys.stderr, flush=True)

    # ---------------------------------------------------------- accounting
    def check(self, ok: bool, what: str) -> bool:
        """One checked operation: counts as attempted, and as failed when
        its output did not match the expected output."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def jvm_gc_s(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def cpu_s(self) -> float:
        """Driver CPU seconds so far: this Python process + the Spark JVM
        (executor threads run inside the JVM in local mode)."""
        t = os.times()
        return t.user + t.system + proc_cpu_s(self.jvm_pid)

    def rss_mb(self) -> float:
        return peak_rss_mb(os.getpid()) + peak_rss_mb(self.jvm_pid)

    def diagnostics(self) -> dict[str, float]:
        s1, t1 = steal_jiffies()
        s0, t0 = self._steal0
        return {
            "host.steal_pct": 100.0 * (s1 - s0) / max(1, t1 - t0),
            "host.calib_s": self.calib0,
            "host.calib_end_s": calib_loop(),
            "jvm.gc_s": self.jvm_gc_s(),
        }

    # --------------------------------------------------------------- trace
    @contextlib.contextmanager
    def span(self, name: str):
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(name):
                yield

    @contextlib.contextmanager
    def untraced(self):
        if self.tracer is None:
            yield
        else:
            with self.tracer.paused():
                yield

    @contextlib.contextmanager
    def unit(self, trace_id: str, kind: str | None = None):
        """One traced unit of work (an epoch, a lookup, a round): sets the
        trace id and, when `kind` is given, counts its Spark jobs."""
        if self.tracer is None:
            yield
            return
        self.tracer.trace_id = trace_id
        if kind is None:
            yield
        else:
            with self.jobs.group(kind):
                yield
