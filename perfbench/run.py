"""Benchmark of spark_sql_flow_plugin_spark: lineage extraction and the
audited LLM curation pipeline.

Run one workload from the root of a checkout:

    python3 perfbench/run.py --workload lineage_tpcds --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
The line before it carries host metadata. The exit code is 1 when a
correctness check fails. ``--list`` prints every metric with its unit.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    FAMILIES, OUT_DIR, ROOT, CpuClock, HostSpeed, Tracer, become_subreaper, emit, host_anchors, host_context,
    jvm_retained_mb, rss_peak_mb, stop_spark,
)

WORKLOADS = {"lineage_tpcds": "wl_lineage", "audited_pipeline": "wl_pipeline"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class _NoStats:
    groups: list = []

    def group(self, label):
        return nullcontext()


class Ctx:
    """Per-run state the workloads share with the harness."""

    def __init__(self, args, tracer, stats, py4j, speed) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.record = args.record
        self.tracer = tracer
        self.stats = stats
        self.py4j = py4j
        self.speed = speed
        self.measuring = False
        self.build_s = dict.fromkeys(FAMILIES, 0.0)
        self.action_s = dict.fromkeys(FAMILIES, 0.0)
        self.lineage_calls = 0
        self.listener_calls: list = []
        self.streaming_batches = 0
        self.streaming_machinery_s = 0.0
        self._nested = 0.0

    def add_build(self, family: str, dt: float, nested: bool = False) -> None:
        """Builder time by operator family. A nested builder's time is taken
        out of the enclosing build it ran in."""
        if not self.measuring:
            return
        if nested:
            self._nested += dt
        else:
            dt, self._nested = dt - self._nested, 0.0
        if family in self.build_s:
            self.build_s[family] += dt

    def add_action(self, family: str, dt: float) -> None:
        if self.measuring and family in self.action_s:
            self.action_s[family] += dt

    @contextmanager
    def lineage_op(self):
        """Counts the main thread's py4j commands inside one lineage call."""
        before = self.py4j.main_calls if self.py4j else 0
        try:
            yield
        finally:
            if self.py4j and self.measuring:
                self.lineage_calls += self.py4j.main_calls - before


def _per_layer(ctx, stats_totals: dict, pass_s: float, wall_s: float, cores: int) -> dict:
    c = ctx.tracer.counters
    calls = ctx.listener_calls
    m = {
        "catalyst.optimize_ms": c["catalyst.optimize_ms"],
        "catalyst.to_json_ms": c["catalyst.to_json_ms"],
        "catalyst.json_kb": c["catalyst.json_kb"],
        "catalyst.parse_ms": c["catalyst.parse_ms"],
        "catalyst.plan_nodes": c["catalyst.plan_nodes"],
        "lineage.annotate_ms": c["lineage.annotate_ms"],
        "lineage.py4j_calls": ctx.lineage_calls + ctx.py4j.callback_calls,
        "lineage.node_hash_ms": c["lineage.node_hash_ms"],
        "lineage.query_hash_ms": c["lineage.query_hash_ms"],
        "lineage.traverse_ms": c["lineage.traverse_ms"],
        "lineage.nodes": c["lineage.nodes"],
        "lineage.edges": c["lineage.edges"],
        "contracted.contract_ms": c["contracted.contract_ms"],
        "contracted.edges": c["contracted.edges"],
        "catalog.views": c["catalog.views"],
        "catalog.lineage_ms.expanded": c["catalog.lineage_ms.expanded"],
        "catalog.lineage_ms.contracted": c["catalog.lineage_ms.contracted"],
        "sinks.render_ms": c["sinks.render_ms"],
        "sinks.write_ms": c["sinks.write_ms"],
        "sinks.bytes_written": c["sinks.bytes_written"],
        "sinks.files_written": c["sinks.files_written"],
        "listener.attempted": len(calls),
        "listener.captured": sum(1 for _, o in calls if o == "captured"),
        "listener.skipped_command": sum(1 for _, o in calls if o == "skipped_command"),
        "listener.failed": sum(1 for _, o in calls if o == "failed"),
        "listener.bus_drain_ms": c["listener.bus_drain_ms"],
        "tracking.register_ms": c["tracking.register_ms"],
        "tracking.views": c["tracking.views"],
    }
    for fam in FAMILIES:
        m[f"operators.build_s.{fam}"] = ctx.build_s[fam]
        m[f"operators.action_s.{fam}"] = ctx.action_s[fam]
    m["streaming.batches"] = ctx.streaming_batches
    m["streaming.machinery_s"] = ctx.streaming_machinery_s
    m["operators.build_jobs"] = stats_totals.pop("build_jobs")
    m.update(stats_totals)
    run_s = stats_totals["spark.task_run_s"]
    m["spark.driver_latency_frac"] = 1.0 - run_s / (wall_s * cores) if wall_s else 1.0
    m["trace.pass_s"] = pass_s
    m["trace.spans"] = len(ctx.tracer.spans)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list", action="store_true", help="print every metric and its unit")
    ap.add_argument(
        "--record", action="store_true",
        help="write the expected outputs under perfbench/expected instead of checking them",
    )
    args = ap.parse_args()
    spec = _spec()
    if args.list:
        for group in ("end_to_end", "per_layer"):
            for metric in spec[group]:
                print(f"{group:10s} {metric['name']:34s} {metric['unit']}")
        return 0
    if not args.workload:
        ap.error("--workload is required")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    speed = HostSpeed().start()
    t_setup = time.perf_counter()
    from spark_sql_flow_plugin_spark.session import get_session

    # keep every file the run writes inside the checkout
    scratch = os.path.join(OUT_DIR, f"tmp-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = scratch
    # every JVM, the launcher spark-submit runs first included, would
    # otherwise keep its performance counters in /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={scratch} "
        f"--conf spark.local.dir={scratch} pyspark-shell"
    )
    cores = os.cpu_count() or 4
    become_subreaper()
    spark = workload = ctx = None
    try:
        spark = get_session(f"perfbench-{args.workload}", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        workload = __import__(WORKLOADS[args.workload])
        tracer = Tracer()
        py4j = layers = None
        stats = _NoStats()
        if args.trace:
            from tracing import LayerTracer, Py4jCounter, SparkStats, overhead_ms

            layers = LayerTracer(tracer).install()
            py4j = Py4jCounter(spark.sparkContext._gateway._gateway_client, tracer)
            stats = SparkStats(spark)
        ctx = Ctx(args, tracer, stats, py4j, speed)
        workload.setup(spark, ctx)
        # the objects set-up made are not scanned again by the measured
        # phase's garbage collections
        gc.collect()
        gc.freeze()
        t_ready = time.perf_counter()
        setup_s = t_ready - t_setup

        stats.groups.clear()
        tracer.counters.clear()
        tracer.spans.clear()
        if py4j:
            py4j.main_calls = py4j.callback_calls = 0
        ctx.measuring = True
        clock = CpuClock(spark)
        t0, cpu0 = time.perf_counter(), clock()
        out = workload.measure(spark, ctx)
        wall_s = time.perf_counter() - t0
        used_cpu_s = clock() - cpu0
        ctx.measuring = False

        if args.trace:
            from spark_sql_flow_plugin_spark.functions.listener import wait_for_listener_bus

            wait_for_listener_bus(spark)
            layers.close()
            py4j.close()
            spans, groups = len(tracer.spans), len(stats.groups)
            commands = py4j.main_calls + py4j.callback_calls
            totals = stats.collect()
            totals["build_jobs"] = stats.collect("build")["spark.jobs"]
            metrics = _per_layer(ctx, totals, out["pass_s"], wall_s, cores)
            metrics["memory.python_peak_mb"] = rss_peak_mb(os.getpid())
            metrics["memory.jvm_retained_mb"] = jvm_retained_mb(spark)
            metrics["trace.overhead_ms"] = overhead_ms(spark, spans, commands, groups)
            tracer.dump(os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = dict(out["metrics"])
            metrics["setup_s"] = setup_s / speed.slowdown(t_setup, t_ready, margin=0)
        meta = host_anchors(spark) if args.trace else host_context(spark)
        meta.update(out.get("meta", {}))
        meta.update(
            setup_wall_s=round(setup_s, 3),
            setup_slowdown=round(speed.slowdown(t_setup, t_ready, margin=0), 3),
            measure_slowdown=round(speed.slowdown(t0, t0 + wall_s, margin=0), 3),
            measure_wall_s=round(wall_s, 3),
            measure_cpu_s=round(used_cpu_s, 3),
        )
    finally:
        try:
            if hasattr(workload, "teardown") and ctx is not None:
                workload.teardown(spark, ctx)
        finally:
            speed.stop()
            stop_spark(spark)
            shutil.rmtree(scratch, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    failures = out["failures"]
    for line in failures[:20]:
        print("FAILED", line, file=sys.stderr)
    meta.update(workload=args.workload, seed=args.seed, trace=args.trace)
    print(json.dumps({"meta": meta}))
    units = {m["name"]: m["unit"] for m in wanted}
    emit(
        not failures,
        out["attempted"],
        len(failures),
        {m["name"]: metrics[m["name"]] for m in wanted},
        units,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
