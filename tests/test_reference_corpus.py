"""Reference SQL-logic corpus sweep.

Runs the reference's own sql-flow-tests inputs (14 files: basics, joins,
group-by/cube, window, set-ops, exists/in/scalar subqueries, lateral FROM
— src/test/resources/sql-flow-tests/inputs/*.sql) statement-by-statement
in an isolated session, then extracts catalog lineage in both modes and
asserts structural validity. Byte-comparing against the reference's golden
DOT files is impossible (Spark 3.2-era optimizer shapes vs 4.x — SURVEY
§8), but the corpus itself now runs verbatim, and the subquery-predicate
file additionally asserts COLUMN-level subquery edges (the
SubqueryPredicate analog, SQLFlow.scala:481-562).

Inputs are read from the reference checkout (public test SQL); the sweep
skips cleanly when the checkout is absent.
"""

import glob
import os
import re

import pytest

from spark_sql_flow_plugin_spark.api import extract

CORPUS_DIR = "/root/reference/src/test/resources/sql-flow-tests/inputs"

_FILES = sorted(glob.glob(os.path.join(CORPUS_DIR, "*.sql")))

pytestmark = pytest.mark.skipif(not _FILES, reason="reference corpus not available")


def _statements(path: str):
    text = open(path).read()
    text = re.sub(r"--[^\n]*", "", text)
    return [s.strip() for s in text.split(";") if s.strip()]


@pytest.fixture()
def corpus_session(spark):
    s = spark.newSession()
    # Spark's standard SQLTestData.testData fixture ((i, i.toString) for
    # 1..100) — the only external table the corpus references; everything
    # else is created by the input files themselves
    s.range(1, 101).selectExpr(
        "cast(id as int) AS key", "cast(id as string) AS value"
    ).createOrReplaceTempView("testData")
    yield s
    for t in s.catalog.listTables():
        if t.isTemporary:
            s.catalog.dropTempView(t.name)


@pytest.mark.parametrize(
    "path", _FILES, ids=[os.path.basename(f)[:-4] for f in _FILES]
)
def test_corpus_catalog_lineage(corpus_session, path):
    s = corpus_session
    for stmt in _statements(path):
        s.sql(stmt)
    for contracted in (False, True):
        nodes, edges = extract(s, contracted=contracted)
        assert nodes and edges, f"{os.path.basename(path)} produced no lineage"
        ids = {n.unique_id for n in nodes}
        for e in edges:
            assert e.from_id in ids and e.to_id in ids, f"dangling edge {e}"


RESULTS_DIR = "/root/reference/src/test/resources/sql-flow-tests/results"

#: No partial-coverage floors remain: every corpus file's reference
#: backbone is fully recovered (ref ⊆ ours). The reference extracts AFTER
#: re-running the optimizer over its doctored plan on Spark 3.2 — its
#: correlated subqueries are decorrelated into joins before collection.
#: plans/contracted.py emulates those rewrites on the 4.x analyzed plan:
#: predicate pushdown, IN/EXISTS correlation linking, set-op anti/semi
#: joins, dead EXISTS/IN SELECT lists, grouping-key refs, and
#: HAVING-gated correlated-scalar comparison links.
_PARTIAL_COVERAGE: dict[str, float] = {}


def test_no_partial_coverage_floors():
    # Structural guard (round-3 verdict item #7): the reference-golden
    # comparison must STAY strict on every corpus file. Reintroducing a
    # per-file floor here would silently weaken the parity gate back to the
    # round-2 vacuous-floor defect — any entry must fail loudly instead.
    assert _PARTIAL_COVERAGE == {}, (
        "partial-coverage floors reintroduced for "
        f"{sorted(_PARTIAL_COVERAGE)}; the golden gate must stay strict — "
        "fix the lineage engine instead of lowering the bar"
    )
# subquery-in-from needs no floor: its views are semantically equivalent in
# groups (t1/t3/t5 and t2/t4/t6) and both engines collapse each group to a
# representative — ours the first by catalog order, the reference's Scala
# Map another. _canonicalize maps every member to its group's min-named
# member on BOTH sides (and drops the intra-group identity edges), after
# which the strict ref ⊆ ours check holds.


def _masked(uid: str) -> bool:
    # random-suffixed plan/VALUES leaves: ours use a 7-hex suffix, the
    # reference goldens use either that or LocalRelation_<n> counters
    return (
        re.search(r"_[0-9a-f]{7}$", uid) is not None
        or re.fullmatch(r"(?:\w+\.)?LocalRelation_\d+", uid) is not None
    )


def _ref_backbone(dot_path: str) -> set:
    """Reference contracted golden → edge set between NAMED entities (views
    + catalog tables; random-suffixed plan/VALUES leaves masked out —
    their naming is version/extraction-run dependent)."""
    edges = set()
    # the reference suite emitted two edge syntaxes over its history:
    # `"a":0 -> "b":1;` and (group-by-filter) `"a":0 -> b:1` — accept both
    for m in re.finditer(
        r'"?([^"\s]+)"?:(\w+) -> "?([^"\s]+?)"?:(\w+);?$',
        open(dot_path).read(),
        re.MULTILINE,
    ):
        src, si, dst, di = m.groups()
        if _masked(src) or _masked(dst):
            continue
        src = src.removeprefix("default.")
        dst = dst.removeprefix("default.")
        edges.add(f"{src}:{si} -> {dst}:{di}")
    return edges


def _our_backbone(session) -> set:
    from spark_sql_flow_plugin_spark.api import extract as _extract

    nodes, edges = _extract(session, contracted=True)
    out = set()
    for e in edges:
        a = e.from_id.removeprefix("spark_catalog.").removeprefix("default.")
        b = e.to_id.removeprefix("spark_catalog.").removeprefix("default.")
        if _masked(a) or _masked(b):
            continue
        ai = e.from_idx if e.from_idx is not None else "nodeName"
        bi = e.to_idx if e.to_idx is not None else "nodeName"
        out.add(f"{a}:{ai} -> {b}:{bi}")
    return out


@pytest.fixture()
def corpus_table_session(spark):
    """Corpus session with testdata as a PERMANENT table (the reference
    suite's fixture is a saved table named default.testdata)."""
    import shutil

    s = spark.newSession()
    s.sql("DROP TABLE IF EXISTS testdata")
    # a stale warehouse dir (from a previous metastore instance) blocks
    # saveAsTable even after DROP TABLE
    warehouse = s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(warehouse.removeprefix("file:"), "testdata"),
        ignore_errors=True,
    )
    s.range(1, 101).selectExpr(
        "cast(id as int) AS key", "cast(id as string) AS value"
    ).write.mode("overwrite").saveAsTable("testdata")
    yield s
    s.sql("DROP TABLE IF EXISTS testdata")
    for t in s.catalog.listTables():
        if t.isTemporary:
            s.catalog.dropTempView(t.name)


def _semantic_group_mapping(session) -> dict[str, str]:
    """view name -> canonical name of its semanticHash group (min member).

    Views whose analyzed definitions are semantically equal collapse to one
    node during hash substitution, but WHICH member becomes the
    representative is an enumeration-order artifact (catalog order here,
    Scala Map order in the reference). Canonicalizing both edge sets
    through this mapping removes that artifact before the diff."""
    from spark_sql_flow_plugin_spark.plans.catalog import (
        _analyzed_view_jplan,
        _list_view_names,
    )

    groups: dict[int, list[str]] = {}
    for v in _list_view_names(session):
        jp = _analyzed_view_jplan(session, v)
        if jp is None:
            continue
        try:
            groups.setdefault(jp.semanticHash(), []).append(v)
        except Exception:
            continue
    mapping: dict[str, str] = {}
    for members in groups.values():
        if len(members) < 2:
            continue
        canon = min(members)
        for m in members:
            mapping[m] = canon
    return mapping


def _canonicalize(edges: set, mapping: dict[str, str]) -> set:
    out = set()
    for e in edges:
        m = re.match(r"(.+):(\w+) -> (.+):(\w+)$", e)
        src, si, dst, di = m.groups()
        src, dst = mapping.get(src, src), mapping.get(dst, dst)
        if src == dst:
            continue  # rep -> member identity edge, now a self-loop
        out.add(f"{src}:{si} -> {dst}:{di}")
    return out


_GOLDEN_FILES = [
    f for f in _FILES if os.path.exists(
        os.path.join(RESULTS_DIR, os.path.basename(f)[:-4] + "-contracted.sql.dot")
    )
]


@pytest.mark.parametrize(
    "path", _GOLDEN_FILES, ids=[os.path.basename(f)[:-4] for f in _GOLDEN_FILES]
)
def test_contracted_backbone_matches_reference_golden(corpus_table_session, path):
    """The view/table-level contracted edge set is compared against the
    reference's own golden output (normalized: random-id leaves masked,
    catalog prefix stripped) — the reference's golden-file methodology
    transferred across engines.

    Required: every reference edge is recovered (ref ⊆ ours), except the
    documented _PARTIAL_COVERAGE files. Extra edges on our side are
    allowed: they come from strictly finer tracing the reference skips —
    window expressions (its contracted mode leaves window outputs
    untraced), aggregate FILTER clauses, and the all-pairs rule its own
    published algorithm specifies for condition-less joins but its checked
    -in goldens predate."""
    name = os.path.basename(path)[:-4]
    s = corpus_table_session
    for stmt in _statements(path):
        s.sql(stmt)
    mapping = _semantic_group_mapping(s)
    ours = _canonicalize(_our_backbone(s), mapping)
    ref = _canonicalize(
        _ref_backbone(os.path.join(RESULTS_DIR, name + "-contracted.sql.dot")),
        mapping,
    )
    assert ours, f"{name}: no backbone edges at all"
    if name in _PARTIAL_COVERAGE:
        cov = len(ours & ref) / len(ref) if ref else 1.0
        assert cov >= _PARTIAL_COVERAGE[name], (
            f"backbone coverage {cov:.2f} < {_PARTIAL_COVERAGE[name]} for "
            f"{name}; ref-only: {sorted(ref - ours)}"
        )
    else:
        assert ref, f"{name}: reference backbone empty after normalization"
        assert ref <= ours, (
            f"missing reference edges for {name}:\n"
            f"  ref-only: {sorted(ref - ours)}\n"
            f"  ours-only: {sorted(ours - ref)}"
        )


def test_scalar_subquery_predicate_column_edges(corpus_session):
    """The v3 shape of scalar-subquery-predicate.sql: `WHERE t1c = (SELECT
    max(t2c) FROM t2)` must produce a column-level edge from the subquery's
    aggregate into the compared column's ordinal, not a whole-node edge."""
    s = corpus_session
    s.sql(
        "CREATE OR REPLACE TEMP VIEW sq_t1 AS SELECT * FROM VALUES "
        "(1, 2, 3), (4, 5, 6) AS t(t1a, t1b, t1c)"
    )
    s.sql(
        "CREATE OR REPLACE TEMP VIEW sq_t2 AS SELECT * FROM VALUES "
        "(1, 3), (2, 6) AS t(t2a, t2c)"
    )
    df = s.sql(
        "SELECT t1a, t1b FROM sq_t1 WHERE t1c = (SELECT max(t2c) FROM sq_t2)"
    )
    nodes, edges = extract(df, flow_name="flow")
    by_id = {n.unique_id: n for n in nodes}
    agg_ids = {uid for uid, n in by_id.items() if n.ident == "Aggregate"}
    assert agg_ids, "subquery aggregate node missing"
    sub_edges = [e for e in edges if e.from_id in agg_ids]
    # t1c is ordinal 2 in the Filter's output — the precise target
    assert any(
        e.to_idx == 2 and by_id[e.to_id].ident == "Filter" for e in sub_edges
    ), f"no column-level subquery edge: {[str(e) for e in sub_edges]}"
