"""Standing registry-wide Spark-side timing sweep (r14 verdict item #3).

Runs EVERY registry query (min over --runs N runs, default 1) at the
given sf_dir in a bench-shaped session, and writes
artifacts/registry_times_r{N}_sf{sf}.json:

    {"sf": 0.1, "runs": 1, "anchor_md5_20m_sec": ..., "times": {...}}

Also prints the round-over-round diff against the previous round's file
for every query above the bench-tracking line (5 s), so the close notes
can quote it. snapshot_check.py enforces that the file exists for the
round being closed and that every >5 s query in it is bench-tagged.

Usage: python tools/registry_times.py <round> [sf_dir] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SLOW_LINE_SEC = 5.0


def parse_args(argv: list[str]) -> tuple[int, str, int]:
    """``(round, sf_dir, runs)`` from ``<round> [sf_dir] [--runs N]``."""
    p = argparse.ArgumentParser(usage="%(prog)s <round> [sf_dir] [--runs N]")
    p.add_argument("args", nargs="+", help=argparse.SUPPRESS)
    p.add_argument("--runs", type=int, default=1)
    ns = p.parse_intermixed_args(argv)
    args = ns.args
    if len(args) > 2:
        p.error(f"unexpected arguments {args[2:]}")
    rnd = int(args[0])
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    return rnd, sf_dir, ns.runs


def main(argv: list[str] | None = None) -> int:
    rnd, sf_dir, runs = parse_args(sys.argv[1:] if argv is None else argv)

    from spark_sql_flow_plugin_spark import registry as _reg
    from spark_sql_flow_plugin_spark.session import get_session

    spark = get_session("registry-times", cpus=32)
    # JVM warmup + CPU anchor (min of 2 post-warmup). Not bench's
    # calibration_anchors: this expression is kept so every round's
    # anchor_md5_20m_sec stays comparable with the earlier files.
    anchor = 1e9
    for i in range(3):
        t0 = time.time()
        spark.range(0, 20_000_000, 1, 32).selectExpr(
            "sum(crc32(md5(cast(id as string)))) s"
        ).collect()
        if i:
            anchor = min(anchor, time.time() - t0)

    times: dict[str, float] = {}
    failed: list[str] = []
    for name, fn in sorted(_reg.queries().items()):
        best = 1e9
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # gated queries (protobuf etc.)
                failed.append(f"{name}: {type(exc).__name__}")
                best = None
                break
            best = min(best, time.time() - t0)
        if best is not None:
            times[name] = round(best, 2)

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "artifacts",
    )
    out_path = os.path.join(root, f"registry_times_r{rnd:02d}_sf{sf_tag}.json")
    payload = {
        "sf": float(sf_tag),
        "runs": runs,
        "anchor_md5_20m_sec": round(anchor, 3),
        "times": times,
    }
    if failed:
        payload["skipped"] = failed
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"wrote {os.path.relpath(out_path)} ({len(times)} queries)")

    prev_path = os.path.join(
        root, f"registry_times_r{rnd - 1:02d}_sf{sf_tag}.json"
    )
    prev = {}
    prev_anchor = None
    if os.path.isfile(prev_path):
        with open(prev_path) as f:
            pj = json.load(f)
        prev = pj.get("times", {})
        prev_anchor = pj.get("anchor_md5_20m_sec")
    slow = {n: t for n, t in times.items() if t > SLOW_LINE_SEC}
    print(
        f"anchor {payload['anchor_md5_20m_sec']}"
        + (f" (prev {prev_anchor})" if prev_anchor else "")
    )
    print(f">{SLOW_LINE_SEC:g}s queries this round ({len(slow)}):")
    for n, t in sorted(slow.items(), key=lambda kv: -kv[1]):
        was = prev.get(n)
        print(f"  {n}: {t}s" + (f"  (r{rnd-1}: {was}s)" if was else "  (new)"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
