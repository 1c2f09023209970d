"""Workload ``lineage_tpcds``: column-level lineage of registry TPC-DS
plans at sf0.001, in expanded and contracted mode. No query runs.

The corpus is 21 of the 103 ``tpcds_*`` plans, chosen by plan size as
measured at sf0.001 (optimized plan JSON from ``toJSON``, and plan nodes):
the ten largest by JSON size and the ten largest by node count, 13 plans in
all, up to 345 nodes and 987 KiB of JSON (``tpcds_q14a``), plus every
twelfth of the other 90 in order of JSON size, 8 plans of 18 to 89 nodes.
One pass over all 103 plans takes 54-70 s on 4 cores, which with set-up
does not fit the run budget of the benchmark; the 21 take about two fifths
of that, more than four fifths of it in the 13 large plans.

Each request builds a fresh DataFrame (untimed), times
``to_sql_flow_string(df)`` with GraphViz output, then builds a second fresh
DataFrame and times ``to_sql_flow_string(df, contracted=True)``. Every
(plan, mode) pair runs once per process, so a lineage cache keyed by plan
cannot hit. The seed only orders the plans.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from common import DATA_DIR, EXPECTED_DIR, ROOT, percentile

DIGESTS = os.path.join(EXPECTED_DIR, "lineage_tpcds_digests.json")
#: a non-corpus plan whose extraction warms the JVM and Python paths
WARMUP_PLAN = "q1_pricing_summary"
#: the 13 largest plans, then the spread of the rest (see the module doc)
CORPUS = (
    "tpcds_q14a", "tpcds_q14b", "tpcds_q9", "tpcds_q64", "tpcds_q88",
    "tpcds_q66", "tpcds_q75", "tpcds_q23b", "tpcds_q41", "tpcds_q4",
    "tpcds_q80", "tpcds_q31", "tpcds_q56",
    "tpcds_q47", "tpcds_q60", "tpcds_q39a", "tpcds_q95", "tpcds_q19",
    "tpcds_q16", "tpcds_q43", "tpcds_q96",
)


def setup(spark, ctx) -> None:
    from spark_sql_flow_plugin_spark import to_sql_flow_string
    from spark_sql_flow_plugin_spark.registry import all_specs

    specs = {s.name: s for s in all_specs()}
    ctx.corpus = [specs[name] for name in CORPUS]
    # Building each plan once runs the program's TPC-DS shim ETL for the
    # tables the corpus reads (the builders materialize them on first use),
    # so no measured build pays it.
    for spec in ctx.corpus:
        spec.builder(spark, DATA_DIR)
    warm = specs[WARMUP_PLAN]
    for contracted in (False, True):
        to_sql_flow_string(warm.builder(spark, DATA_DIR), contracted=contracted)


def teardown(spark, ctx) -> None:
    """Remove this application's shim tables (the package keeps them under
    ``.tpcds_shim/<applicationId>-<pid>``)."""
    app = f"{spark.sparkContext.applicationId}-{os.getpid()}"
    shutil.rmtree(os.path.join(ROOT, ".tpcds_shim", app), ignore_errors=True)


def measure(spark, ctx) -> dict:
    from spark_sql_flow_plugin_spark import to_sql_flow_string
    from common import CpuClock, graph_digest, family_of
    from tracing import RecordingGraphViz

    cpu, speed = CpuClock(spark), ctx.speed

    def own_cpu(c0: float, t0: float) -> float:
        """Process CPU since (c0, t0), less the host-speed sampler's, at
        quiet-host speed."""
        t1 = time.perf_counter()
        used = cpu() - c0 - speed.cpu_s(t0, t1)
        return used / speed.slowdown(t0, t1)

    expected = {}
    if not ctx.record and os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            expected = json.load(f)
    order = list(ctx.corpus)
    random.Random(ctx.seed).shuffle(order)
    fmt = RecordingGraphViz()
    times = {"expanded": [], "contracted": []}
    cpu_used = {"expanded": 0.0, "contracted": 0.0}
    build_s = 0.0
    graphs: dict[str, tuple] = {}
    failures: list[str] = []
    c_pass, t_pass = cpu(), time.perf_counter()
    for i, spec in enumerate(order):
        ctx.tracer.request = i
        for mode in ("expanded", "contracted"):
            t0 = time.perf_counter()
            with ctx.stats.group(f"build:{family_of(spec.tags)}"):
                df = spec.builder(spark, DATA_DIR)
            t1 = time.perf_counter()
            build_s += t1 - t0
            ctx.add_build(family_of(spec.tags), t1 - t0)
            fmt.last = None
            c2, t2 = cpu(), time.perf_counter()
            with ctx.lineage_op():
                dot = to_sql_flow_string(
                    df, contracted=mode == "contracted", graph_format=fmt
                )
            times[mode].append(time.perf_counter() - t2)
            cpu_used[mode] += own_cpu(c2, t2)
            key = f"{spec.name}/{mode}"
            if not dot or fmt.last is None:
                failures.append(f"{key}: empty graph")
                continue
            graphs[key] = fmt.last
    t_end = time.perf_counter()
    pass_cpu_s = (cpu() - c_pass - speed.cpu_s(t_pass, t_end)) / speed.slowdown(
        t_pass, t_end, margin=0
    )
    digests = {key: graph_digest(*graph) for key, graph in graphs.items()}
    for key, digest in digests.items():
        if not ctx.record and expected.get(key) != digest:
            failures.append(f"{key}: digest {digest} != {expected.get(key)}")
    if ctx.record:
        with open(DIGESTS, "w") as f:
            json.dump(dict(sorted(digests.items())), f, indent=1)
            f.write("\n")
    return {
        "attempted": 2 * len(order),
        "failures": failures,
        "pass_s": t_end - t_pass,
        "meta": {
            "pass_s": round(t_end - t_pass, 3),
            "build_s": round(build_s, 3),
            "expanded_s": round(sum(times["expanded"]), 3),
            "contracted_s": round(sum(times["contracted"]), 3),
            **{f"{m}_p50_ms": round(percentile(v, 50) * 1000, 3) for m, v in times.items()},
            "pass_slowdown": round(speed.slowdown(t_pass, t_end, margin=0), 3),
        },
        "metrics": {
            "pass_cpu_s": pass_cpu_s,
            "expanded_cpu_s": cpu_used["expanded"],
            "contracted_cpu_s": cpu_used["contracted"],
            "lineage_cpu_s": cpu_used["expanded"] + cpu_used["contracted"],
        },
    }
