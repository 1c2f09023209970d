"""Interleaved same-JVM A/B of query builders, old ones read from git.

Usage: python tools/ab.py [--sf DIR] [--rounds N] [--cpus N] VARIANT VARIANT [...]

A VARIANT is one of:
  query            a registry builder in the working tree
  REV:query        the same registry builder at git revision REV
  module:function  any importable ``(spark, sf_dir) -> DataFrame`` callable
                   (conf sweeps, rejected shapes that never landed)
A left side that ``git rev-parse`` accepts as a commit is a revision; any
other left side is a module.

A revision's package is extracted with ``git archive`` into a temporary
directory, imported under the alias ``sqlflow_<sha7>`` (the package uses
only relative imports) and registered with cloudpickle by value, so its
Python and pandas UDF closures reach the workers. The directory is removed
when the run ends; nothing is written to ``.git/``. Only builders come from
a revision: the session, its confs, the anchors and the timing loop always
come from the working tree.

Protocol: one session; one untimed warm-up build + count per variant, then
its rows are collected once (untimed) and canonicalized with the oracle
gate's ``rows.norm_rows``/``rows.digest``. Then ``--rounds`` rounds: each
runs the bench calibration anchors first, then every variant in an order
rotated by one per round. A timed run is bench.py's timed region
(clearCache, build, count).

Variants of one registry query (``q``, ``REV:q``) are compared with each
other, so one run can A/B several queries; a ``module:function`` variant is
compared with the first variant. Prints one JSON line: sf, cpus, rounds,
the per-round anchors and, per variant, the query it is compared under,
its times, median, quartiles, row digest and rounds won against the first
variant of that query, plus ``rows_equal``. Exits 1 when the rows of any
variant differ from its first variant's.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import bench  # noqa: E402
from spark_sql_flow_plugin_spark.rows import digest, norm_rows  # noqa: E402

PACKAGE = "spark_sql_flow_plugin_spark"


def revision_sha(rev: str) -> str | None:
    """Full sha of ``rev`` if git resolves it to a commit, else None."""
    r = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--verify", "--quiet", f"{rev}^{{commit}}"],
        capture_output=True, text=True,
    )
    return r.stdout.strip() if r.returncode == 0 else None


def load_revision(sha: str, dest: str):
    """Extract the package at commit ``sha`` under ``dest`` and import it as
    ``sqlflow_<sha7>``."""
    from pyspark import cloudpickle

    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", sha, PACKAGE],
        capture_output=True, check=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    name = f"sqlflow_{sha[:7]}"
    pkg_dir = os.path.join(dest, PACKAGE)
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(pkg_dir, "__init__.py"),
        submodule_search_locations=[pkg_dir],
    )
    pkg = importlib.util.module_from_spec(spec)
    sys.modules[name] = pkg
    spec.loader.exec_module(pkg)
    cloudpickle.register_pickle_by_value(pkg)
    return pkg


def resolve(variant: str, tmp: str, loaded: dict):
    """``(builder, registry query name or None)`` for a VARIANT; revisions
    are extracted under ``tmp`` once each and recorded in ``loaded``
    (sha -> package)."""
    left, sep, right = variant.rpartition(":")
    if not sep:
        from spark_sql_flow_plugin_spark.registry import queries

        return queries()[variant], variant
    sha = revision_sha(left)
    if sha is None:
        return getattr(importlib.import_module(left), right), None
    if sha not in loaded:
        loaded[sha] = load_revision(sha, tempfile.mkdtemp(dir=tmp))
    registry = importlib.import_module(f"{loaded[sha].__name__}.registry")
    return registry.queries()[right], right


def _unload(loaded: dict) -> None:
    from pyspark import cloudpickle

    for pkg in loaded.values():
        cloudpickle.unregister_pickle_by_value(pkg)
        for m in [m for m in sys.modules if m.split(".")[0] == pkg.__name__]:
            del sys.modules[m]


def run(spark, sf_dir: str, variants: list[str], rounds: int,
        anchors=bench.calibration_anchors) -> dict:
    """Warm up, digest and time ``variants`` in rotated interleaved rounds.

    ``anchors(spark, n_runs)`` is bench's anchor set; tests pass a stub so
    the harness fits their budget."""
    tmp = tempfile.mkdtemp(prefix="ab_")
    loaded: dict = {}
    try:
        resolved = {v: resolve(v, tmp, loaded) for v in variants}
        builders = {v: build for v, (build, _) in resolved.items()}
        digests: dict[str, str] = {}
        n_rows: dict[str, int] = {}
        for v, build in builders.items():
            build(spark, sf_dir).count()
            df = build(spark, sf_dir)
            rows = norm_rows(df.columns, [tuple(r) for r in df.collect()])
            digests[v], n_rows[v] = digest(rows), len(rows)
        times: dict[str, list[float]] = {v: [] for v in variants}
        per_round = []
        for r in range(rounds):
            per_round.append(anchors(spark, 1))
            k = r % len(variants)
            for v in variants[k:] + variants[:k]:
                times[v].append(
                    round(bench.timed_run(spark, builders[v], sf_dir), 3)
                )
    finally:
        _unload(loaded)
        shutil.rmtree(tmp, ignore_errors=True)

    # variants of one registry query are compared with each other; a
    # module:function variant is compared with the first variant
    default = resolved[variants[0]][1] or variants[0]
    query = {v: q or default for v, (_, q) in resolved.items()}
    first: dict[str, str] = {}
    for v in variants:
        first.setdefault(query[v], v)
    out = {}
    for v in variants:
        ts, base = times[v], times[first[query[v]]]
        q1, _, q3 = (
            statistics.quantiles(ts, n=4, method="inclusive")
            if len(ts) > 1 else ts * 3
        )
        out[v] = {
            "query": query[v],
            "times": ts,
            "median": round(statistics.median(ts), 3),
            "q1": round(q1, 3),
            "q3": round(q3, 3),
            "rows": n_rows[v],
            "digest": digests[v],
            "wins_vs_first": sum(t < b for t, b in zip(ts, base)),
        }
    return {
        "sf": bench.sf_value(sf_dir),
        "cpus": spark.sparkContext.defaultParallelism,
        "rounds": rounds,
        "anchors": per_round,
        "variants": out,
        "rows_equal": all(digests[v] == digests[first[query[v]]] for v in variants),
    }


def main(argv: list[str] | None = None,
         anchors=bench.calibration_anchors) -> int:
    p = argparse.ArgumentParser(
        description="Interleaved same-JVM A/B of query builders."
    )
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                   required="SPARK_GRAFT_SF_DIR" not in os.environ,
                   help="scale-factor directory (default $SPARK_GRAFT_SF_DIR)")
    p.add_argument("--rounds", type=int, default=10)
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("variants", nargs="+", metavar="VARIANT")
    args = p.parse_args(argv)
    if len(args.variants) < 2 or len(set(args.variants)) < len(args.variants):
        p.error("give two or more distinct variants")
    if args.rounds < 1:
        p.error("--rounds must be at least 1")

    from spark_sql_flow_plugin_spark.session import get_session

    spark = get_session("ab", args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    res = run(spark, args.sf, args.variants, args.rounds, anchors)
    print(json.dumps(res))
    if not res["rows_equal"]:
        print("rows differ: " + ", ".join(
            f"{v}={r['digest']} ({r['query']})"
            for v, r in res["variants"].items()
        ), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    rc = main()
    SparkSession.getActiveSession().stop()
    raise SystemExit(rc)
