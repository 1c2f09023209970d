"""CLI: run registry queries, dump lineage, list the inventory.

    python -m spark_sql_flow_plugin_spark list
    python -m spark_sql_flow_plugin_spark run q1_pricing_summary [--sf DIR] [-n 20]
    python -m spark_sql_flow_plugin_spark lineage q3_shipping_priority \
        [--contracted] [--format graphviz|mermaid|adjacency_list|adjacency]
    python -m spark_sql_flow_plugin_spark catalog-lineage [--contracted]
    python -m spark_sql_flow_plugin_spark provenance q3_shipping_priority revenue
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    from .sinks import SINKS

    ap = argparse.ArgumentParser(prog="spark_sql_flow_plugin_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registry queries (oracle-checked marked *)")

    p_run = sub.add_parser("run", help="run a query and show rows")
    p_run.add_argument("query")
    p_run.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    p_run.add_argument("-n", type=int, default=20)

    p_lin = sub.add_parser("lineage", help="print a query's lineage graph")
    p_lin.add_argument("query")
    p_lin.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    p_lin.add_argument("--contracted", action="store_true")
    p_lin.add_argument("--format", default="graphviz", choices=sorted(SINKS))

    p_cat = sub.add_parser("catalog-lineage", help="lineage over the session catalog")
    p_cat.add_argument("--contracted", action="store_true")

    p_prov = sub.add_parser(
        "provenance", help="source (table, column) pairs feeding one output column"
    )
    p_prov.add_argument("query")
    p_prov.add_argument("column")
    p_prov.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))

    args = ap.parse_args(argv)

    from .registry import all_specs, queries

    if args.cmd == "list":
        for s in all_specs():
            mark = "*" if s.oracle else " "
            print(f"{mark} {s.name:32s} [{', '.join(s.tags)}]")
        return 0

    from .session import get_session

    spark = get_session("cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "run":
            queries()[args.query](spark, args.sf).show(args.n, truncate=False)
        elif args.cmd == "lineage":
            from .api import to_sql_flow_string

            df = queries()[args.query](spark, args.sf)
            print(to_sql_flow_string(df, contracted=args.contracted,
                                     graph_format=args.format, flow_name=args.query))
        elif args.cmd == "catalog-lineage":
            from .api import print_as_sql_flow

            print_as_sql_flow(spark, contracted=args.contracted)
        elif args.cmd == "provenance":
            from .api import column_provenance

            df = queries()[args.query](spark, args.sf)
            for table, column in column_provenance(df, args.column):
                print(f"{table}.{column}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
