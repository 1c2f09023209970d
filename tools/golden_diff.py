"""Diagnostic: per-golden-file backbone coverage + the exact ref-only edges.

Runs the same normalization as tests/test_reference_corpus.py and prints,
for each corpus file with a contracted golden, the coverage ratio and the
reference edges we fail to recover. Used to drive the decorrelation-floor
work; not part of the test suite.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

import test_reference_corpus as trc

from spark_sql_flow_plugin_spark.session import get_session


def main():
    spark = get_session("golden-diff", cpus=4)
    only = set(sys.argv[1:])
    for path in trc._FILES:
        name = os.path.basename(path)[:-4]
        golden = os.path.join(trc.RESULTS_DIR, name + "-contracted.sql.dot")
        if not os.path.exists(golden):
            continue
        if only and name not in only:
            continue
        s = spark.newSession()
        s.sql("DROP TABLE IF EXISTS testdata")
        import shutil

        warehouse = s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        shutil.rmtree(
            os.path.join(warehouse.removeprefix("file:"), "testdata"),
            ignore_errors=True,
        )
        s.range(1, 101).selectExpr(
            "cast(id as int) AS key", "cast(id as string) AS value"
        ).write.mode("overwrite").saveAsTable("testdata")
        for stmt in trc._statements(path):
            s.sql(stmt)
        mapping = trc._semantic_group_mapping(s)
        ours = trc._canonicalize(trc._our_backbone(s), mapping)
        ref = trc._canonicalize(trc._ref_backbone(golden), mapping)
        cov = len(ours & ref) / len(ref) if ref else 1.0
        print(f"== {name}: coverage {cov:.3f} ({len(ours & ref)}/{len(ref)})")
        for e in sorted(ref - ours):
            print(f"   ref-only: {e}")
        s.sql("DROP TABLE IF EXISTS testdata")
        for t in s.catalog.listTables():
            if t.isTemporary:
                s.catalog.dropTempView(t.name)


if __name__ == "__main__":
    main()
