"""Dev harness mimicking the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB at
the same scale factor, then compare row count, column names, and an
order-insensitive value multiset.

Bit-exact since round 5: no float rounding — a cell's canonical form is its
full shortest-roundtrip repr, so builder-green implies driver-green for any
value-level canonicalization. Each query line also carries md5 digests of
the normalized Spark and DuckDB row multisets, so a future driver-side
mismatch can be diffed against the committed matrix log instead of guessed
at. A type audit rejects DuckDB result types pandas does not round-trip
faithfully (HUGEINT etc. — the round-4 `hash_match: false` root cause).

Usage: python tools/check_oracle.py [--strict-vacuous] [sf_dir] [query_name ...]

--strict-vacuous (r12 verdict item #2): exit 2 if any pass was an
empty-vs-empty agreement. Use at SFs where every query should populate
(sf0.01+); at sf0.001 the ~22 sparse TPC-DS entries make it advisory only.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from spark_sql_flow_plugin_spark.registry import all_specs  # noqa: E402
from spark_sql_flow_plugin_spark.rows import digest, norm_rows  # noqa: E402
from spark_sql_flow_plugin_spark.session import get_session  # noqa: E402
from spark_sql_flow_plugin_spark.sources import TABLES  # noqa: E402

# DuckDB result types whose python representation is bit-faithful and
# matches the corresponding Spark collect() type (see
# tests/test_oracle_dtypes.py). Anything else (HUGEINT, DECIMAL, FLOAT,
# ...) must be cast in the oracle SQL.
PANDAS_FAITHFUL = {
    "BIGINT",
    "INTEGER",
    "DOUBLE",
    "VARCHAR",
    "TIMESTAMP",
    "DATE",
    "BOOLEAN",
}


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--strict-vacuous"]
    strict_vacuous = len(argv) != len(sys.argv) - 1
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_session("check-oracle")
    specs = [s for s in all_specs() if not only or s.name in only]
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_weak = n_empty = 0
    vacuous_names: list[str] = []
    for spec in specs:
        t0 = time.time()
        try:
            sdf = spec.builder(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception:
            print(f"FAIL  {spec.name}: SPARK ERROR")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if spec.name not in oracles:
            print(f"weak  {spec.name}: rows={len(srows)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            rel = con.sql(oracles[spec.name])
            dtypes = [str(t) for t in rel.types]
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL  {spec.name}: DUCKDB ERROR: {str(exc)[:300]}")
            n_fail += 1
            continue
        problems = []
        bad_types = [
            (c, t) for c, t in zip(dcols, dtypes) if t not in PANDAS_FAITHFUL
        ]
        if bad_types:
            problems.append(f"driver-unsafe oracle types {bad_types}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        s_dig = d_dig = "-"
        if not problems:
            s_n = norm_rows(scols, [tuple(r) for r in srows])
            d_n = norm_rows(dcols, drows)
            s_dig, d_dig = digest(s_n), digest(d_n)
            if s_n != d_n:
                diff = [(a, b) for a, b in zip(s_n, d_n) if a != b][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            print(
                f"FAIL  {spec.name}: {'; '.join(problems)} "
                f"spark={s_dig} duck={d_dig} [{time.time()-t0:.1f}s]"
            )
            n_fail += 1
        else:
            # an empty-vs-empty agreement is VACUOUS (r12: a kcore
            # threshold cascade zeroed the result at sf0.001 and the
            # gate still said pass) — flag it loudly, don't fail it
            empty = " (VACUOUS: 0 rows)" if not srows else ""
            print(
                f"pass  {spec.name}: rows={len(srows)} "
                f"digest={s_dig}{empty} [{time.time()-t0:.1f}s]"
            )
            n_pass += 1
            if not srows:
                n_empty += 1
                vacuous_names.append(spec.name)

    vac = f"; WARNING {n_empty} vacuous empty-result passes" if n_empty else ""
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail / {len(specs)}{vac}")
    spark.stop()
    if n_fail:
        return 1
    if strict_vacuous and vacuous_names:
        print(
            "STRICT-VACUOUS: empty-result passes check nothing: "
            + ", ".join(vacuous_names),
            file=sys.stderr,
        )
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
