"""Benchmark-side instrumentation.

Nothing inside the package is changed: the traced run wraps the public
functions of each layer from here, counts py4j commands on the gateway
client, and reads per-query Spark statistics from the status store. The
listener subclass and the recording sink are used by untraced runs too,
since they only keep what the program hands them.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager

from spark_sql_flow_plugin_spark.functions.listener import SQLFlowListener
from spark_sql_flow_plugin_spark.sinks import GraphVizSink


class RecordingGraphViz(GraphVizSink):
    """GraphViz format that keeps the last graph it rendered, so the
    benchmark can digest the very output it timed."""

    last: tuple | None = None

    def to_graph_string(self, nodes, edges):
        self.last = (nodes, edges)
        return super().to_graph_string(nodes, edges)


class TimedListener(SQLFlowListener):
    """SQLFlowListener that times each ``onSuccess`` and classifies it by
    the class of the optimized plan, read after the timed call: a Command
    plan is ``skipped_command``; any other plan is ``captured`` if the
    listener's capture count went up, else ``failed``."""

    def __init__(self, sink, output_dir: str, clock) -> None:
        super().__init__(sink, output_dir)
        #: (wall seconds, outcome) of each call
        self.calls: list[tuple[float, str]] = []
        #: CPU seconds of each call: the Python callback thread plus the
        #: listener-bus thread it answers (``common.ThreadCpuClock``)
        self.cpu: list[float] = []
        self._clock = clock

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java name)
        captured = self.captured
        with uncounted():
            c0 = self._clock()
        t0 = time.perf_counter()
        super().onSuccess(funcName, qe, durationNs)
        dt = time.perf_counter() - t0
        with uncounted():
            self.cpu.append(self._clock() - c0)
            plan_class = qe.optimizedPlan().getClass().getName()
        if "Command" in plan_class:
            outcome = "skipped_command"
        elif self.captured > captured:
            outcome = "captured"
        else:
            outcome = "failed"
        self.calls.append((dt, outcome))


def register_listener(spark, listener) -> None:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    spark._jsparkSession.listenerManager().register(listener)


# -- py4j -----------------------------------------------------------------------

_TIMED_METHODS = {"toJSON": "catalyst.to_json_ms", "optimizedPlan": "catalyst.optimize_ms"}
_UNCOUNTED = threading.local()


@contextmanager
def uncounted():
    """py4j commands the benchmark itself sends inside the block are left
    out of ``Py4jCounter``'s counts."""
    _UNCOUNTED.on = True
    try:
        yield
    finally:
        _UNCOUNTED.on = False


class Py4jCounter:
    """Counting wrapper on the gateway client's ``send_command``. Memory
    commands (object detach on Python garbage collection) are skipped, so
    the count repeats exactly; ``toJSON`` and ``optimizedPlan`` calls are
    also timed."""

    def __init__(self, client, tracer) -> None:
        self.tracer = tracer
        #: commands sent from the main thread / from callback threads (the
        #: listener runs on the latter)
        self.main_calls = 0
        self.callback_calls = 0
        self._lock = threading.Lock()
        self._client = client
        self._orig = self._client.send_command
        self._client.send_command = self._send

    def _send(self, command, *args, **kwargs):
        if command.startswith("m\n") or getattr(_UNCOUNTED, "on", False):
            return self._orig(command, *args, **kwargs)
        parts = command.split("\n", 3)
        key = _TIMED_METHODS.get(parts[2]) if parts[0] == "c" and len(parts) > 2 else None
        t0 = time.perf_counter()
        try:
            return self._orig(command, *args, **kwargs)
        finally:
            with self._lock:
                if threading.current_thread() is threading.main_thread():
                    self.main_calls += 1
                else:
                    self.callback_calls += 1
                if key:
                    self.tracer.add(key, (time.perf_counter() - t0) * 1000)

    def close(self) -> None:
        self._client.send_command = self._orig


# -- layer wrappers -----------------------------------------------------------


class LayerTracer:
    """Wraps each layer's public functions with a span and a timer counter.
    Installed only for the traced run; ``close`` restores the originals."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []
        self._lock = threading.RLock()

    def _patch(self, owner, attr: str, make) -> None:
        orig = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
        if orig is None:
            return
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _timed(self, counter: str, after=None, reentrant: bool = True):
        tracer, lock = self.tracer, self._lock
        depth = threading.local()

        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                level = getattr(depth, "n", 0)
                if level and not reentrant:
                    return fn(*args, **kwargs)
                depth.n = level + 1
                with lock:
                    sid = tracer.begin(counter)
                try:
                    out = fn(*args, **kwargs)
                finally:
                    depth.n = level
                    with lock:
                        tracer.add(counter, tracer.end(sid) * 1000)
                if after is not None:
                    with lock:
                        after(args, out)
                return out

            return wrapper

        return make

    def install(self) -> "LayerTracer":
        from spark_sql_flow_plugin_spark import api
        from spark_sql_flow_plugin_spark.functions import listener, tracking
        from spark_sql_flow_plugin_spark.plans import catalog, catalyst, contracted, lineage
        from spark_sql_flow_plugin_spark.sinks import base, graphviz

        add = self.tracer.add

        def parsed(args, plan) -> None:
            add("catalyst.json_kb", len(args[0]) / 1024.0)
            add("catalyst.plan_nodes", sum(1 for _ in plan.walk()))

        self._patch(catalyst, "parse_plan_json", self._timed("catalyst.parse_ms", parsed))
        annotate = self._timed("lineage.annotate_ms", reentrant=False)
        self._patch(lineage, "annotate_plan", annotate)
        for mod in (lineage, contracted):
            self._patch(mod, "annotate_leaves", annotate)
        self._patch(lineage, "plan_semantic_hash", self._timed("lineage.node_hash_ms"))
        query_hash = self._timed("lineage.query_hash_ms")
        for mod in (lineage, contracted):
            self._patch(mod, "semantic_hash", query_hash)
        self._patch(
            lineage.LineageExtractor, "traverse",
            self._timed("lineage.traverse_ms", reentrant=False),
        )

        def expanded(args, out) -> None:
            add("lineage.nodes", len(out[0]))
            add("lineage.edges", len(out[1]))

        self._patch(lineage, "_extract_from_tree", self._timed("lineage.extract_ms", expanded))

        def contracted_out(args, out) -> None:
            add("contracted.edges", len(out[1]))

        self._patch(
            contracted, "contracted_from_tree",
            self._timed("contracted.contract_ms", contracted_out),
        )

        def catalog_timed(fn):
            by_mode = {
                mode: self._timed(f"catalog.lineage_ms.{mode}", catalog_out)(fn)
                for mode in ("expanded", "contracted")
            }

            @functools.wraps(fn)
            def wrapper(spark, contracted=False):
                mode = "contracted" if contracted else "expanded"
                return by_mode[mode](spark, contracted=contracted)

            return wrapper

        def catalog_out(args, out) -> None:
            add("catalog.views", sum(1 for n in out[0] if n.tpe.value == "ViewNode"))

        for mod in (catalog, api):
            self._patch(mod, "catalog_lineage", catalog_timed)
        self._patch(graphviz.GraphVizSink, "to_graph_string", self._timed("sinks.render_ms"))

        def written(args, path) -> None:
            add("sinks.files_written", 1)
            add("sinks.bytes_written", os.path.getsize(path))

        self._patch(base.GraphFileSink, "write", self._timed("sinks.write_ms", written))
        self._patch(
            listener, "wait_for_listener_bus", self._timed("listener.bus_drain_ms")
        )

        def views(args, name) -> None:
            add("tracking.views", 1)

        self._patch(tracking, "_unique_view_name", self._timed("tracking.name_ms", views))
        self._patch(tracking, "auto_tracking_with", self._tracking_deco)
        return self

    def _tracking_deco(self, orig):
        """Time the registration part of ``@auto_tracking_with``: the
        wrapper's time minus the wrapped stage function's own time."""
        tracer = self.tracer

        def auto_tracking_with(name=None):
            def deco(fn):
                inner = [0.0]

                @functools.wraps(fn)
                def timed_fn(*args, **kwargs):
                    t0 = time.perf_counter()
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        inner[0] = time.perf_counter() - t0

                wrapped = orig(name)(timed_fn)

                @functools.wraps(fn)
                def outer(*args, **kwargs):
                    t0 = time.perf_counter()
                    out = wrapped(*args, **kwargs)
                    tracer.add(
                        "tracking.register_ms",
                        (time.perf_counter() - t0 - inner[0]) * 1000,
                    )
                    return out

                return outer

            return deco

        return auto_tracking_with

    def close(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# -- Spark status store ---------------------------------------------------------


class SparkStats:
    """Per-query Spark statistics read in-process from the status store,
    scoped by job group. Needs no UI and launches no job."""

    FIELDS = (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
        "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
        "spark.shuffle_write_mb", "spark.spill_mb",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: list[str] = []
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Run the block's jobs under a fresh job group named after ``label``."""
        self._n += 1
        gid = f"{label}#{self._n}"
        with uncounted():
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobGroup(gid, label)
        self.groups.append(gid)
        try:
            yield gid
        finally:
            with uncounted():
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, prev_desc or prev)

    def collect(self, prefix: str = "") -> dict[str, float]:
        """Totals over the groups whose label starts with ``prefix``. Call
        after the listener bus has drained."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(self.FIELDS, 0.0)
        for gid in self.groups:
            if not gid.startswith(prefix):
                continue
            for jid in tracker.getJobIdsForGroup(gid):
                out["spark.jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # skipped stage: it never ran
                        continue
                    if sd.numCompleteTasks() == 0:
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += sd.numCompleteTasks()
                    out["spark.task_run_s"] += sd.executorRunTime() / 1e3
                    out["spark.task_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["spark.gc_s"] += sd.jvmGcTime() / 1e3
                    out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                    out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    out["spark.spill_mb"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    ) / 2**20
        return out


# -- cost of the instrumentation ----------------------------------------------


class _NullClient:
    def send_command(self, command, *args, **kwargs):
        return ""


def _per_call_s(fn, plain, n: int) -> float:
    t0 = time.perf_counter()
    for _ in range(n):
        plain()
    t1 = time.perf_counter()
    for _ in range(n):
        fn()
    return max(0.0, (time.perf_counter() - t1) - (t1 - t0)) / n


def overhead_ms(spark, spans: int, commands: int, groups: int) -> float:
    """Estimated time the instrumentation added to a traced run: the number
    of spans, counted py4j commands and job groups, each times its cost as
    measured here (a wrapped no-op, the counter's bookkeeping around a null
    client, and the job-group property calls on the live context)."""
    from common import Tracer

    def noop():
        return None

    span_s = _per_call_s(LayerTracer(Tracer())._timed("calibration")(noop), noop, 20_000)
    counter = Py4jCounter(_NullClient(), Tracer())
    command = "c\no0\ntoJSON\ne\n"
    command_s = _per_call_s(
        lambda: counter._send(command), lambda: counter._orig(command), 20_000
    )
    stats = SparkStats(spark)

    def group():
        with stats.group("calibration"):
            pass

    group_s = _per_call_s(group, noop, 50)
    return (spans * span_s + commands * command_s + groups * group_s) * 1000
