"""Shared pieces of the benchmark: statistics, spans and counters, the
canonical graph digest, host metadata and the result line."""

from __future__ import annotations

import hashlib
import json
import os
import re
import signal
import statistics
import subprocess
import threading
import time
from collections import defaultdict

#: checkout root (the directory holding ``perfbench/``)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.001")
EXPECTED_DIR = os.path.join(BENCH_DIR, "expected")
OUT_DIR = os.path.join(BENCH_DIR, "out")

#: operator families (registry tags) the per-layer operator metrics split by
FAMILIES = (
    "text", "dedup", "similarity", "graph", "curation",
    "tpcds", "tpch", "window", "streaming",
)


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) of ``values``.

    Refuses a percentile that has fewer than ten samples beyond it: a p90
    needs at least 100 samples, a p50 at least 20."""
    n = len(values)
    beyond = n * (100 - q) / 100
    if beyond < 10:
        raise ValueError(
            f"p{q} of {n} samples has {beyond:g} beyond it; need at least 10"
        )
    if q == 50:
        return statistics.median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def family_of(tags) -> str:
    for t in tags:
        if t in FAMILIES:
            return t
    return "other"


class Tracer:
    """Spans and counters recorded by the benchmark around calls into the
    program's layers. Kept in memory; written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self.request = 0

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.request])
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> float:
        span = self.spans[sid]
        span[2] = time.perf_counter()
        if self._stack and self._stack[-1] == sid:
            self._stack.pop()
        return span[2] - span[1]

    def add(self, name: str, value: float = 1.0) -> None:
        self.counters[name] += value

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": n, "start": s, "end": e, "parent": p, "request": r}
                        for n, s, e, p, r in self.spans
                    ],
                    "counters": dict(self.counters),
                },
                f,
            )


# -- canonical lineage digest ------------------------------------------------

_SHIM_APP = re.compile(r"\.tpcds_shim/[^/]+/")


def normalize_ident(ident: str) -> str:
    """Strip what differs between checkouts and processes from a node
    identity: the checkout path and the per-application shim directory."""
    return _SHIM_APP.sub(".tpcds_shim/APP/", ident.replace(ROOT, "ROOT"))


def graph_digest(nodes, edges) -> str:
    """Digest of a lineage graph that ignores random node ids.

    A node is named by its type, normalized identity and columns plus the
    names of the nodes feeding it, edge by edge, so the name covers its
    whole upstream graph. Left out, because they differ between processes:
    ``semanticHash``, which hashes the node's subtree JSON and so the
    per-application shim directory, and the query node's hash suffix,
    which for plans with subqueries hashes expression ids."""
    by_id = {n.unique_id: n for n in nodes}
    inputs: dict[str, list] = {uid: [] for uid in by_id}
    for e in edges:
        inputs.setdefault(e.to_id, []).append(e)
    names: dict[str, str] = {}
    visiting: set[str] = set()

    def name(uid: str) -> str:
        if uid in names:
            return names[uid]
        n = by_id.get(uid)
        base = (
            "|".join((
                n.tpe.value,
                "query" if n.tpe.value == "QueryNode" else normalize_ident(n.ident),
                ",".join(n.attribute_names),
            ))
            if n else "?"
        )
        if uid in visiting:  # a cycle: stop at the node itself
            return base
        visiting.add(uid)
        ins = sorted(
            f"{name(e.from_id)}:{e.from_idx}->{e.to_idx}" for e in inputs.get(uid, ())
        )
        visiting.discard(uid)
        names[uid] = hashlib.sha256("\n".join([base, *ins]).encode()).hexdigest()
        return names[uid]

    lines = sorted(name(uid) for uid in by_id)
    lines += sorted(f"{name(e.from_id)}:{e.from_idx}->{name(e.to_id)}:{e.to_idx}" for e in edges)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# -- host and process ----------------------------------------------------------


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def cpu_s(pid: int) -> float:
    """User plus system CPU time a process has used, in seconds."""
    fields = _stat(pid)
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU time of a process and its live descendants (the JVM's Python
    workers), including their reaped children, in seconds."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _stat(int(name))
        except OSError:  # exited while we looked
            continue
        parent[int(name)] = int(fields[1])
        cpu[int(name)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


#: name prefixes (``/proc/<pid>/task/<tid>/comm``) of the JVM's own
#: background threads: JIT compilers, garbage collectors, the VM thread
_JVM_BACKGROUND = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread")


def jvm_background_cpu_s(pid: int) -> float:
    """CPU seconds of the JIT-compiler, garbage-collector and VM threads of
    a JVM."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(_JVM_BACKGROUND):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the thread ended while we looked
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds used by the benchmark's Python process and the driver
    JVM, which in local mode also runs every task. A shared host's
    contention stretches wall time far more than it adds CPU time.

    With ``workers`` the JVM's Python workers count too, and the JVM's
    JIT-compiler and garbage-collector threads do not: in a pipeline pass
    they took a fifth of the CPU and varied most from pass to pass."""

    def __init__(self, spark, workers: bool = False) -> None:
        self.jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.workers = workers

    def __call__(self) -> float:
        if self.workers:
            jvm = tree_cpu_s(self.jvm) - jvm_background_cpu_s(self.jvm)
        else:
            jvm = cpu_s(self.jvm)
        return cpu_s(os.getpid()) + jvm


def _speed_probe() -> int:
    """A fixed piece of pure-Python work, about 10 ms on a quiet 4-core
    host: branchy interpreter code, slowed by a busy host as the program's
    own Python and JVM code is (a compute-bound C loop such as md5 over a
    buffer barely is)."""
    s = 0
    for i in range(120_000):
        s += i * i % 7
    return s


class HostSpeed:
    """How slow the shared host runs, sampled while the benchmark runs.

    On the 4-core host this benchmark was built on, the same pure-Python
    work took from 1.0 to 1.6 times its quiet-host time within seconds,
    with no CPU steal reported, and CPU seconds of the program swelled with
    it. A background thread times ``_speed_probe`` by its own CPU clock
    every ``interval`` seconds (holding the GIL about 4% of the time);
    ``slowdown(t0, t1)`` is the mean probe time of the samples taken in and
    around that window over ``REF_S``, the probe's time on a quiet host.
    Dividing a time by it gives the time at quiet-host speed."""

    #: probe CPU seconds on a quiet host (the fastest tenth of samples
    #: over a few minutes on the 4-core host, Python 3.11)
    REF_S = 0.0104

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        #: (perf_counter at the probe's start, probe CPU seconds)
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="host-speed", daemon=True)

    def start(self) -> "HostSpeed":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            t, c0 = time.perf_counter(), time.thread_time()
            _speed_probe()
            self.samples.append((t, time.thread_time() - c0))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def cpu_s(self, t0: float, t1: float) -> float:
        """CPU seconds the sampler itself used in the window."""
        return sum(c for t, c in self.samples if t0 <= t <= t1)

    def slowdown(self, t0: float, t1: float, margin: float = 0.5) -> float:
        window = [c for t, c in self.samples if t0 - margin <= t <= t1 + margin]
        if len(window) < 2:
            raise RuntimeError(f"{len(window)} host speed samples in [{t0:.2f}, {t1:.2f}]")
        return statistics.fmean(window) / self.REF_S


class ThreadCpuClock:
    """CPU seconds of the calling Python thread plus those of the driver JVM
    thread that serves its py4j calls (py4j pins one JVM thread to each
    Python thread, and a listener callback runs on the Python side of the
    listener-bus thread). Leaves out the JVM's garbage-collector and JIT
    threads, whose share of a call is the noisiest part of its process CPU.
    Read it outside any block whose py4j commands are being counted."""

    def __init__(self, spark) -> None:
        self._bean = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        )

    def __call__(self) -> float:
        return time.thread_time() + self._bean.getCurrentThreadCpuTime() / 1e9


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so that the
    Python workers the JVM forks stay its descendants, to be waited for, even
    after the JVM has ended."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            if int(_stat(int(name))[1]) == me:
                out.append(int(name))
        except OSError:  # exited while we looked
            continue
    return out


def _reap_children(grace_s: float) -> None:
    """Wait for every child process to end; kill those still running after
    ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        kids = _children()
        if not kids:
            return
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0 if late else os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait until it and every
    process it started have exited. ``spark.stop()`` alone leaves the JVM
    running until the Python process exits, and it ends some time after."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()  # also the callback server, if one was started
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap_children(grace_s=30.0)


def jvm_retained_mb(spark) -> float:
    """Heap and non-heap memory the driver JVM holds after a full GC, in MB.
    Unlike the JVM's resident set, which follows the collector's lazy heap
    growth, this repeats from run to run."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def host_context(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cores": os.cpu_count(),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
    }


def host_anchors(spark) -> dict:
    """Host context plus small versions of bench.py's md5, shuffle and
    fsync anchors, so host drift can be told apart from a code change.
    Metadata, not metrics."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 200_000, 1, 4).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).agg(F.max("h")).collect()
    t1 = time.perf_counter()
    spark.range(0, 200_000, 1, 4).groupBy(
        (F.col("id") % 100_000).alias("k")
    ).agg(F.sum("id").alias("s")).agg(F.max("s")).collect()
    t2 = time.perf_counter()
    d = os.path.join(OUT_DIR, f"fsync-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    payload = b"\0" * 4096
    t3 = time.perf_counter()
    for i in range(64):
        with open(os.path.join(d, f"f{i}"), "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
    t4 = time.perf_counter()
    for i in range(64):
        os.remove(os.path.join(d, f"f{i}"))
    os.rmdir(d)
    return {
        **host_context(spark),
        "anchor_md5_200k_s": round(t1 - t0, 4),
        "anchor_shuffle_200k_s": round(t2 - t1, 4),
        "anchor_fsync_64_s": round(t4 - t3, 4),
    }


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    """Print the result object as the last line of standard output."""
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        ),
        flush=True,
    )
