"""Workload ``audited_pipeline``: the paper's audit mode on the six-stage
LLM curation pipeline of ``examples/llm_curation_pipeline.py`` at sf0.001.

One pass, in a fresh session with a file-sink ``SQLFlowListener`` that
appends every captured graph: build the auto-tracked stages (the builders
run their eager driver jobs), count the final stage, then write catalog
lineage, expanded and contracted, with ``save_data_lineage``; the pass ends
when the listener bus has drained. Set-up runs one pass without the
listener and one with it. A run measures ``--seconds / 10`` passes (at
least two), then repeats the catalog calls on the views of the last pass.
The seed orders the catalog calls.

The traced run then also builds and counts one small registry query of
each operator family the pipeline does not use (``SAMPLE``), streaming
included, so that every operator layer has per-layer figures. No
end-to-end metric covers the sample, so untraced runs skip it.
"""

from __future__ import annotations

import gc
import json
import os
import random
import re
import shutil
import statistics
import sys
import time

from common import DATA_DIR, EXPECTED_DIR, OUT_DIR, ROOT

EXPECTED = os.path.join(EXPECTED_DIR, "audited_pipeline.json")
GOLDENS = os.path.join(ROOT, "tests", "goldens")
#: nominal seconds of one listener pass on 4 cores
PASS_S = 10.0
#: catalog lineage calls per mode after the passes, on the views of the
#: last one, beyond the one per mode inside every pass
CATALOG_REPEATS = 5
#: one query per operator family outside the pipeline, each about a second
#: at sf0.001; ``stream_user_totals`` runs an availableNow streaming query
SAMPLE = (
    "text_token_count", "dedup_exact", "embedding_centroids",
    "graph_pagerank_centrality", "q6_forecast_revenue", "win_ranking",
    "stream_user_totals",
)


def _import_pipeline(ctx):
    """Import the example after any tracing patches, so its stage
    decorators are the traced ones; wrap the registry builders it calls."""
    for sub in ("examples", "tests"):
        path = os.path.join(ROOT, sub)
        if path not in sys.path:
            sys.path.insert(0, path)
    import llm_curation_pipeline as pipeline
    from common import family_of
    from spark_sql_flow_plugin_spark.registry import all_specs

    if ctx.trace:
        families = {s.name: family_of(s.tags) for s in all_specs()}
        orig = pipeline.queries

        def queries():
            def wrap(name, builder):
                def timed(spark, sf_dir):
                    fam = families.get(name, "other")
                    t0 = time.perf_counter()
                    with ctx.stats.group(f"build:{fam}"):
                        out = builder(spark, sf_dir)
                    ctx.add_build(fam, time.perf_counter() - t0, nested=True)
                    return out

                return timed

            return {n: wrap(n, b) for n, b in orig().items()}

        pipeline.queries = queries
    return pipeline


def _edge_set(dot_path: str) -> set[str]:
    """Edge lines of a written DOT file, normalized by the rule of
    ``tests/golden_scenario.scenario_edge_set`` (random id suffixes masked)
    with the data directory masked as in the pipeline golden test."""
    with open(dot_path) as f:
        lines = f.read().splitlines()
    return {
        re.sub(r"_[0-9a-f]{7}", "_x", line.strip()).replace(DATA_DIR, "SFDIR")
        for line in lines
        if " -> " in line
    }


def _golden(name: str) -> set[str]:
    with open(os.path.join(GOLDENS, name)) as f:
        return {line.strip() for line in f if line.strip()}


def setup(spark, ctx) -> None:
    from common import CpuClock, ThreadCpuClock

    ctx.pipeline = _import_pipeline(ctx)
    ctx.work = os.path.join(OUT_DIR, f"pipeline-{os.getpid()}")
    ctx.goldens = {
        False: _golden("llm_pipeline_catalog_expanded.edges"),
        True: _golden("llm_pipeline_catalog_contracted.edges"),
    }
    ctx.pass_no = 0
    ctx.cpu = CpuClock(spark, workers=True)
    ctx.thread_cpu = ThreadCpuClock(spark)
    # warm-up: after a single pass the next ones still ran a fifth to a
    # third faster each
    for listener in (False, True):
        _pass(spark, ctx, listener=listener, warmup=True)


def teardown(spark, ctx) -> None:
    shutil.rmtree(ctx.work, ignore_errors=True)


def _catalog_call(s, ctx, out: str, mode: str, catalog: dict) -> None:
    """One ``save_data_lineage`` call; appends its wall time, its thread CPU
    at quiet-host speed and its written edge set to ``catalog``. A full
    garbage collection first leaves every call the same heap to start from,
    whichever order the seed gave the calls."""
    from spark_sql_flow_plugin_spark.api import save_data_lineage

    gc.collect()
    k0, w0 = ctx.thread_cpu(), time.perf_counter()
    with ctx.lineage_op(), ctx.stats.group("catalog"):
        written = save_data_lineage(
            s, os.path.join(out, mode), contracted=mode == "contracted", overwrite=True
        )
    w1 = time.perf_counter()
    cpu = ctx.thread_cpu() - k0
    catalog.setdefault(mode + "_cpu", []).append(cpu / ctx.speed.slowdown(w0, w1))
    catalog.setdefault(mode, []).append(w1 - w0)
    catalog.setdefault(mode + "_edges", []).append(_edge_set(written))


def _pass(spark, ctx, listener: bool, modes=("expanded", "contracted"), warmup=False) -> dict:
    from spark_sql_flow_plugin_spark.functions import listener as listener_mod
    from tracing import RecordingGraphViz, TimedListener, register_listener

    ctx.pass_no += 1
    out = os.path.join(ctx.work, f"pass{ctx.pass_no}")
    spark.catalog.clearCache()
    gc.collect()
    s = spark.newSession()
    lis = None
    c0, t0 = ctx.cpu(), time.perf_counter()
    if listener:
        lis = TimedListener(RecordingGraphViz(), os.path.join(out, "captured"), ctx.thread_cpu)
        register_listener(s, lis)
    with ctx.stats.group("build:curation"):
        stages = ctx.pipeline.build_stages(s, DATA_DIR)
    t1 = time.perf_counter()
    with ctx.stats.group("action:curation"):
        rows = stages["packed_chunks"].count()
    t2 = time.perf_counter()
    catalog: dict[str, list] = {}
    for mode in modes:
        _catalog_call(s, ctx, out, mode, catalog)
    if lis is not None:
        listener_mod.wait_for_listener_bus(s)
    t3, c3 = time.perf_counter(), ctx.cpu()
    if lis is not None:
        s._jsparkSession.listenerManager().unregister(lis)
    if not warmup:
        ctx.add_build("curation", t1 - t0)
        ctx.add_action("curation", t2 - t1)
    slowdown = ctx.speed.slowdown(t0, t3, margin=0)
    return {
        "session": s,
        "out": out,
        "wall_s": t3 - t0,
        # process CPU less the host-speed sampler's, at quiet-host speed
        "cpu_s": (c3 - c0 - ctx.speed.cpu_s(t0, t3)) / slowdown,
        "rows": rows,
        "catalog": catalog,
        "calls": list(lis.calls) if lis else [],
        "capture_cpu": sum(lis.cpu) / slowdown if lis else 0.0,
    }


def _operator_sample(spark, ctx, rng) -> dict[str, int]:
    """Build and count each ``SAMPLE`` query once, timed by family; returns
    the row counts. Streaming queries report their micro-batches in the
    package's ``streaming.events.LAST_RUN``; the build time outside the
    batches' ``addBatch`` is the streaming machinery."""
    from common import family_of
    from spark_sql_flow_plugin_spark.registry import all_specs
    from spark_sql_flow_plugin_spark.streaming import events

    specs = {s.name: s for s in all_specs()}
    order = list(SAMPLE)
    rng.shuffle(order)
    rows = {}
    for name in order:
        spec = specs[name]
        fam = family_of(spec.tags)
        spark.catalog.clearCache()
        events.LAST_RUN.clear()
        t0 = time.perf_counter()
        with ctx.stats.group(f"build:{fam}"):
            df = spec.builder(spark, DATA_DIR)
        t1 = time.perf_counter()
        with ctx.stats.group(f"action:{fam}"):
            rows[name] = df.count()
        t2 = time.perf_counter()
        ctx.add_build(fam, t1 - t0)
        ctx.add_action(fam, t2 - t1)
        if "num_batches" in events.LAST_RUN:
            add_batch_s = sum(ms or 0 for ms in events.LAST_RUN["add_batch_ms"]) / 1000
            ctx.streaming_batches += events.LAST_RUN["num_batches"]
            ctx.streaming_machinery_s += max(0.0, t1 - t0 - add_batch_s)
    return rows


def measure(spark, ctx) -> dict:
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    rng = random.Random(ctx.seed)
    passes = []
    # a fixed number of passes for the ~10 s a pass takes on 4 cores; a
    # count from the clock would change the work from run to run
    for _ in range(max(2, round(ctx.seconds / PASS_S))):
        modes = ["expanded", "contracted"]
        rng.shuffle(modes)
        passes.append(_pass(spark, ctx, True, modes))
    last = passes[-1]
    modes = ["expanded", "contracted"] * CATALOG_REPEATS
    rng.shuffle(modes)
    for mode in modes:
        _catalog_call(last["session"], ctx, last["out"], mode, last["catalog"])
    sample = _operator_sample(spark, ctx, rng) if ctx.trace else {}
    if ctx.record:
        calls = passes[0]["calls"]
        expected.update(
            packed_chunks_rows=passes[0]["rows"],
            listener_calls=len(calls),
            listener_captured=sum(1 for _, o in calls if o == "captured"),
        )
        if sample:
            expected["sample_rows"] = dict(sorted(sample.items()))
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1)
            f.write("\n")
    failures: list[str] = []
    attempted = 0
    for p in passes:
        attempted += 1 + len(p["calls"])
        if p["rows"] != expected["packed_chunks_rows"]:
            failures.append(f"packed_chunks rows {p['rows']} != {expected['packed_chunks_rows']}")
        for contracted in (False, True):
            mode = "contracted" if contracted else "expanded"
            for edges in p["catalog"][mode + "_edges"]:
                attempted += 1
                if edges != ctx.goldens[contracted]:
                    failures.append(f"catalog {mode} edges differ from the golden")
        for _dt, outcome in p["calls"]:
            if outcome == "failed":
                failures.append("a non-Command onSuccess produced no capture")
        captured = sum(1 for _, o in p["calls"] if o == "captured")
        if (len(p["calls"]), captured) != (expected["listener_calls"], expected["listener_captured"]):
            failures.append(
                f"listener pass: {len(p['calls'])} onSuccess calls, {captured} captured;"
                f" expected {expected['listener_calls']}, {expected['listener_captured']}"
            )
    for name, n in sample.items():
        attempted += 2
        if n != expected["sample_rows"][name]:
            failures.append(f"{name} rows {n} != {expected['sample_rows'][name]}")
    ctx.listener_calls = [c for p in passes for c in p["calls"]]

    def median(key):
        return statistics.median(
            v for p in passes for v in ([p[key]] if key in p else p["catalog"][key])
        )

    return {
        "attempted": attempted,
        "failures": failures,
        "pass_s": median("wall_s"),
        "meta": {
            "pass_s": round(median("wall_s"), 3),
            "expanded_s": round(median("expanded"), 3),
            "contracted_s": round(median("contracted"), 3),
            "capture_s": round(
                statistics.median(sum(dt for dt, _ in p["calls"]) for p in passes), 3
            ),
        },
        "metrics": {
            "pass_cpu_s": median("cpu_s"),
            # thread CPU of one catalog call, median over the calls
            "expanded_cpu_s": median("expanded_cpu"),
            "contracted_cpu_s": median("contracted_cpu"),
            # thread CPU of every onSuccess of a pass, summed
            "lineage_cpu_s": median("capture_cpu"),
        },
    }
