"""Per-stage profiler for a single registry query (r13 verdict item #1).

Runs ONE registry query in bench.py's session (``session.get_session``,
UI off) and reads the completed stages from Spark's in-process status
store, sorted by executorRunTime — the "name the stage that moved"
evidence the round-13 verdict asked for on `graph_triangle_count`.

Usage: python tools/profile_query.py <query_name> [sf_dir] [n_runs]

Prints one line per stage:
    run_ms  cpu_ms  gc_ms  in_MB  sh_read_MB  sh_write_MB  tasks  name
plus the wall-clock per run. Each run prints only the stages it added.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


_FIELDS = (
    "stageId", "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "numCompleteTasks", "name",
)


def completed_stages(spark) -> list[dict]:
    """Every COMPLETE stage in the status store, once the listener bus has
    delivered all pending events to it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    it = jsc.statusStore().stageList(None, False, False, no_quantiles, None).iterator()
    stages = []
    while it.hasNext():
        st = it.next()
        if str(st.status()) == "COMPLETE":
            stages.append({f: getattr(st, f)() for f in _FIELDS})
    return stages


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from spark_sql_flow_plugin_spark.registry import queries
    from spark_sql_flow_plugin_spark.session import get_session

    spark = get_session(f"profile-{name}")
    spark.sparkContext.setLogLevel("ERROR")

    qs = queries()
    spark.range(1000).count()
    from spark_sql_flow_plugin_spark.sources import load

    for t in ("lineitem", "orders", "documents", "events", "embeddings"):
        load(spark, sf_dir, t)[t].count()

    # skip warm-up stages
    seen = {st["stageId"] for st in completed_stages(spark)}

    for run in range(1, n_runs + 1):
        spark.catalog.clearCache()
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        wall = time.time() - t0
        stages = [
            st for st in completed_stages(spark) if st["stageId"] not in seen
        ]
        seen.update(st["stageId"] for st in stages)
        stages.sort(key=lambda s: -s["executorRunTime"])
        print(f"\n=== run {run}: wall {wall:.2f}s, {len(stages)} stages ===")
        print(
            f"{'stage':>5} {'run_ms':>8} {'cpu_ms':>8} {'gc_ms':>6} "
            f"{'in_MB':>7} {'shR_MB':>7} {'shW_MB':>7} {'tasks':>5}  name"
        )
        for st in stages:
            print(
                f"{st['stageId']:>5} "
                f"{st['executorRunTime']:>8} "
                f"{st['executorCpuTime'] // 1_000_000:>8} "
                f"{st['jvmGcTime']:>6} "
                f"{st['inputBytes'] / 1e6:>7.1f} "
                f"{st['shuffleReadBytes'] / 1e6:>7.1f} "
                f"{st['shuffleWriteBytes'] / 1e6:>7.1f} "
                f"{st['numCompleteTasks']:>5}  "
                f"{st['name'][:70]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
