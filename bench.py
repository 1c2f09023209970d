"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query executes to completion (count() forces the full plan — scans,
shuffles, UDF stages) but never collects wide results to the driver.

Timing is STEADY-STATE: each query runs twice and the minimum is reported.
A single cold run is dominated by whole-stage-codegen compilation + JVM JIT
(measured ±25% total variance run-to-run, and 4-10x per-query inflation on
the HOF-heavy dedup queries); the min-of-2 is the throughput a pipeline
executing the operator repeatedly actually gets, and it is stable enough to
compare across rounds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def headline_names() -> list[str]:
    """Queries tagged "bench" in the registry, in registration order."""
    from spark_sql_flow_plugin_spark.registry import all_specs

    return [s.name for s in all_specs() if "bench" in s.tags]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)

    from spark_sql_flow_plugin_spark.registry import queries
    from spark_sql_flow_plugin_spark.session import get_session

    spark = get_session("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # JVM/codegen + file-footer warm-up so the first timed query doesn't pay
    # session initialization or first-read metadata costs
    spark.range(1000).count()
    from spark_sql_flow_plugin_spark.sources import load

    for t in ("lineitem", "orders", "documents", "events", "embeddings"):
        load(spark, sf_dir, t)[t].count()

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    # TPC-DS shim ETL warm-up: derive + write the materialized shim facts
    # BEFORE any timing, so (a) the first TPC-DS query's first run is not
    # a one-time ETL measurement (min-of-n already hid it in the reported
    # number) and (b) the multi-hundred-MB parquet write doesn't happen
    # mid-bench, evicting other queries' inputs from the page cache (a
    # suspected contributor to the round-7/8 uniform drift). The shim
    # derivation is an ETL step by design (operators/tpcds.py
    # _MATERIALIZED note); the bench times query execution.
    if any(n.startswith("tpcds_") for n in headline_names()) or any(
        n.startswith("tpcds_")
        for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
    ):
        from spark_sql_flow_plugin_spark.operators import tpcds as _tpcds_mod

        s, done = _tpcds_mod._shim_session(spark, sf_dir)
        _tpcds_mod._ensure_materialized(
            s, done, sf_dir, sorted(_tpcds_mod._MATERIALIZED)
        )
    # optional comma-separated subset (re-time specific queries without
    # paying for the whole headline set); empty/unset = all
    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q.strip()
    }
    timings: dict[str, float] = {}
    # the subset may name ANY registry query (e.g. pack_sequences_running for
    # the sf1 scale-proof run), not just bench-tagged ones; unset = headline set
    run_names = [n for n in headline_names() if n in only] if only else headline_names()
    run_names += sorted(only - set(run_names))
    for name in run_names:
        if name not in qs:
            raise SystemExit(f"unknown query in SPARK_GRAFT_BENCH_ONLY: {name}")
        best = min(timed_run(spark, qs[name], sf_dir) for _ in range(n_runs))
        timings[name] = round(best, 3)

    anchors = calibration_anchors(spark, n_runs)

    from pyspark.sql import functions as F

    # Streaming entries pay one-time availableNow micro-batch machinery
    # (checkpoint dir, state-store init across shuffle partitions,
    # offset/commit logs) that a continuous pipeline pays once at startup,
    # not per run. Estimate it PER QUERY SHAPE by running the same pipeline
    # with the source filtered to zero rows: identical plan, watermarks,
    # and state-store topology, no data — so total − empty ≈ the data
    # path. "stream-exec" marks entries that actually start a streaming
    # query (sessionize_gaps is tagged "streaming" but is the batch twin).
    from spark_sql_flow_plugin_spark.streaming.events import (
        _click_purchase_pipeline,
        _read_events_stream,
        _run_to_memory,
    )

    # The `user_id < 0` predicate pushes down to the parquet file-source
    # scan (row-group min/max stats exclude every group), so the empty
    # twin pays planning + state-store topology but almost no scan — the
    # point of the machinery/data split. dsum (not a plain F.sum) keeps
    # the aggregate plan identical to stream_user_totals.
    from spark_sql_flow_plugin_spark.functions.exprs import dsum

    def _empty_user_totals():
        src = _read_events_stream(spark, sf_dir).where("user_id < 0")
        agg = src.groupBy("user_id").agg(
            F.count("*").alias("n_events"), dsum("value", "sum_value")
        )
        return _run_to_memory(agg, "update")

    machinery_shapes = {
        "stream_user_totals": _empty_user_totals,
        "stream_click_purchase_join": lambda: _click_purchase_pipeline(
            spark, sf_dir, empty=True
        ),
    }
    # Per-batch machinery dominates these queries, so the split is only
    # meaningful per micro-batch: the round-9 drift root cause was the
    # real pipeline running TWO micro-batches (data + no-data watermark
    # flush) while the empty twin ran ONE (no rows -> watermark never
    # advances -> no flush batch), so a full batch of machinery was
    # reported as "data path". Batch counts are now recorded for both
    # sides and the machinery estimate is scaled to the real batch count.
    import spark_sql_flow_plugin_spark.streaming.events as _ev_mod

    streaming_split: dict[str, dict[str, float]] = {}
    for name, shape in machinery_shapes.items():
        if name not in timings:
            continue
        # re-run the real query once to capture its micro-batch count.
        # LAST_RUN is a module global only populated by builders routed
        # through _run_to_memory — clear it before each run so a shape
        # using a different sink (foreachBatch, rocksdb) is detected as
        # "not populated" instead of silently inheriting the previous
        # query's stale batch count and mis-scaling the split.
        spark.catalog.clearCache()
        _ev_mod.LAST_RUN.clear()
        qs[name](spark, sf_dir).count()
        real_batches = _ev_mod.LAST_RUN.get("num_batches")
        if real_batches is None:
            # the real query didn't route through _run_to_memory: no
            # reliable batch count, so skip the split (and the empty-twin
            # timing loop it would feed) rather than fabricate one
            continue
        machinery = float("inf")
        _ev_mod.LAST_RUN.clear()
        for _ in range(n_runs):
            t0 = time.time()
            shape().count()
            machinery = min(machinery, time.time() - t0)
        empty_batches = _ev_mod.LAST_RUN.get("num_batches")
        if empty_batches is None:
            # the empty twin didn't route through _run_to_memory either
            continue
        per_batch = machinery / max(1, empty_batches)
        scaled = per_batch * real_batches
        total = timings[name]
        streaming_split[name] = {
            "total_sec": total,
            "batches_real": real_batches,
            "batches_empty_twin": empty_batches,
            "machinery_est_sec": round(min(total, scaled), 3),
            # NOTE (r15 verdict #4): on sub-2s queries the empty-twin
            # machinery estimate can meet or exceed the measured total
            # (twin and real share per-batch fixed costs but not cache
            # state), clamping this to 0.0 — that is an estimator
            # saturation artifact, not "zero data-path work". The
            # clamped flag makes saturation explicit in the artifact.
            "data_path_est_sec": round(max(0.0, total - scaled), 3),
            "data_path_clamped": bool(scaled >= total),
        }

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_value(sf_dir),
                "runs_per_query": n_runs,
                "timing": "min over runs (steady-state)",
                **anchors,
                "spark_version": spark.version,
                "java_version": spark.sparkContext._jvm.java.lang.System.getProperty(  # noqa: E501
                    "java.version"
                ),
                **(
                    {"streaming_split": streaming_split}
                    if streaming_split
                    else {}
                ),
            }
        )
    )
    spark.stop()


def timed_run(spark, build, sf_dir: str) -> float:
    """Seconds to build one query and count it, from an empty cache."""
    # every run recomputes from parquet: queries that persist()
    # intermediates would otherwise serve the next run from cache
    # (CacheManager matches re-built plans by canonical form) and
    # the "steady state" would measure cache hits, not the engine
    spark.catalog.clearCache()
    t0 = time.time()
    build(spark, sf_dir).count()
    return time.time() - t0


def calibration_anchors(spark, n_runs: int) -> dict[str, float]:
    """The three data-independent calibration anchors, each the minimum
    over ``n_runs``, keyed as in the bench JSON line. ``bench.main`` runs
    them after the queries; ``tools/ab.py`` runs them once per round."""
    # Data-independent CPU calibration anchor: hash 20M longs through md5 and
    # aggregate. Round-over-round query deltas can only be interpreted
    # relative to this number — round 3→4 showed a lockstep ~2x slowdown of
    # the three cheapest text queries with identical data shapes and
    # identical physical plans, i.e. host-throughput drift, not a plan
    # regression. Dividing query time by calibration time normalizes it out.
    from pyspark.sql import functions as F

    cal = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        spark.range(0, 20_000_000, 1, 32).select(
            F.md5(F.col("id").cast("string")).alias("h")
        ).agg(F.max("h")).collect()
        cal = min(cal, time.time() - t0)

    # Second anchor, shuffle-bound: the md5 anchor is pure CPU and
    # over-represents host speedup for mixed JVM/shuffle work (round-5
    # verdict watch item). 20M longs aggregated over 10M keys defeat
    # map-side combine (~2 rows/key/partition), so ~20M rows cross the
    # exchange — serialization, spill files, and fetch dominate.
    # Interpret shuffle-heavy query deltas against THIS anchor and
    # CPU-bound ones against the md5 anchor.
    cal_shuffle = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        spark.range(0, 20_000_000, 1, 32).groupBy(
            (F.col("id") % 10_000_000).alias("k")
        ).agg(F.sum("id").alias("s")).agg(F.max("s")).collect()
        cal_shuffle = min(cal_shuffle, time.time() - t0)

    # Third anchor, filesystem-metadata-bound: streaming micro-batch
    # machinery (state-store commits, checkpoint offset/commit logs) is
    # dominated by many small file creates + fsyncs — a dimension neither
    # CPU anchor captures (round-9: stream join drifted 1.5x vs r6 while
    # BOTH CPU anchors improved; the drift lived here). 512 files x 4 KiB,
    # each fsync'd, in a fresh temp dir on the same filesystem as the
    # streaming checkpoints (tempfile honors TMPDIR, like Spark's
    # temporary checkpoint location).
    import shutil
    import tempfile

    cal_fsync = float("inf")
    payload = b"\0" * 4096
    for _ in range(n_runs):
        d = tempfile.mkdtemp(prefix="bench_fsync_")
        t0 = time.time()
        for i in range(512):
            p = os.path.join(d, f"f{i}")
            with open(p, "wb") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
        cal_fsync = min(cal_fsync, time.time() - t0)
        shutil.rmtree(d, ignore_errors=True)

    return {
        "calibration_md5_20m_sec": round(cal, 3),
        "calibration_shuffle_20m_sec": round(cal_shuffle, 3),
        "calibration_fsync_512_sec": round(cal_fsync, 3),
    }


def sf_value(sf_dir: str):
    """The scale factor a ``.../sf<N>`` directory names, as a number when
    it parses as one."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


if __name__ == "__main__":
    main()
