"""Lineage-extraction tests using the reference's comparison methodology:
node-id random suffixes are normalized (``_<7hex>`` → ``_x``) and the *set*
of edge strings is compared — node declarations and ordering are not
(reference SQLFlowTestUtils.scala:43-56)."""

import hashlib
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from spark_sql_flow_plugin_spark import extract, to_sql_flow_string
from spark_sql_flow_plugin_spark.functions.tracking import auto_tracking
from spark_sql_flow_plugin_spark.plans import catalyst, lineage

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def norm_id(s: str) -> str:
    s = re.sub(r"_[0-9a-f]{7}", "_x", s)
    s = re.sub(r"file:[^\s:]*?/(\w+)\.parquet", r"\1", s)
    return s


def edge_set(edges):
    return {norm_id(str(e)) for e in edges}


def test_project_filter_aggregate(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (
        li.where("l_quantity > 10")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"))
    )
    nodes, edges = extract(q, flow_name="flow")
    es = edge_set(edges)
    # scan columns flow into Filter; the aggregate key + count into the query
    assert "lineitem:4 -> Filter_x:4" in es  # l_quantity feeds the filter node
    assert "Aggregate_x:0 -> flow:0" in es
    assert "Aggregate_x:1 -> flow:1" in es
    idents = {n.ident for n in nodes}
    assert any("lineitem" in i for i in idents)


def test_join_semi_condition_edges(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    q = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_name")
    nodes, edges = extract(q, flow_name="flow")
    names = {n.ident for n in nodes}
    assert "Join_LeftSemi" in names
    es = edge_set(edges)
    # the right-side condition column points at the compared left column
    assert any(e.startswith("Project_x:0 -> Join_LeftSemi_x:0") for e in es)


def test_union_positional(spark):
    n = spark.read.parquet(f"{SF}/nation.parquet").select(
        F.col("n_nationkey").alias("k")
    )
    r = spark.read.parquet(f"{SF}/region.parquet").select(
        F.col("r_regionkey").alias("k")
    )
    nodes, edges = extract(n.union(r), flow_name="flow")
    union_uid = next(n_.unique_id for n_ in nodes if n_.ident == "Union")
    union_in = [e for e in edges if e.to_id == union_uid and e.to_idx == 0]
    # both children feed output ordinal 0, from two distinct source nodes
    assert len(union_in) == 2 and len({e.from_id for e in union_in}) == 2


def test_expand_cube(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.cube("l_returnflag", "l_linestatus").count()
    nodes, edges = extract(q, flow_name="flow")
    assert "Expand" in {n.ident for n in nodes}
    es = edge_set(edges)
    assert any("-> Expand_x:0" in e for e in es)


def test_generate_explode(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    q = (
        c.groupBy("c_nationkey")
        .agg(F.collect_set("c_mktsegment").alias("segs"))
        .select("c_nationkey", F.explode("segs").alias("seg"))
    )
    nodes, edges = extract(q, flow_name="flow")
    assert "Generate" in {n.ident for n in nodes}
    es = edge_set(edges)
    # generator output (ordinal 1) gets an edge from the exploded array col
    assert any(e.endswith("-> Generate_x:1") for e in es)


def test_scalar_subquery_traversed(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    li.createOrReplaceTempView("li_subq")
    q = spark.sql(
        "SELECT l_orderkey FROM li_subq "
        "WHERE l_quantity > (SELECT avg(l_quantity) FROM li_subq)"
    )
    nodes, edges = extract(q, flow_name="flow")
    # the subquery's Aggregate appears as a node and feeds the outer Filter
    aggs = [n for n in nodes if n.ident == "Aggregate"]
    assert aggs
    es = edge_set(edges)
    # COLUMN-level edge (SubqueryPredicate analog, SQLFlow.scala:481-562):
    # the subquery result is compared against l_quantity (ordinal 4 in the
    # Filter's output), so the edge targets that ordinal, not the whole node
    q_idx = li.columns.index("l_quantity")
    assert any(e == f"Aggregate_x:0 -> Filter_x:{q_idx}" for e in es)


def test_semantic_hash_stable_across_extractions(spark):
    # re-analyzing the same SQL mints fresh expression ids; a plan node's
    # semanticHash must not see them (AggregateExpression's resultId, the
    # cached subquery trees), or the Neo4j sink never merges its node
    spark.read.parquet(f"{SF}/lineitem.parquet").createOrReplaceTempView("li_hash")
    for sql in (
        "SELECT l_returnflag, sum(l_quantity) AS q FROM li_hash GROUP BY l_returnflag",
        "SELECT l_orderkey FROM li_hash "
        "WHERE l_quantity > (SELECT avg(l_quantity) FROM li_hash)",
    ):
        runs = [
            [(n.ident, n.props.get("semanticHash")) for n in extract(spark.sql(sql))[0]]
            for _ in range(2)
        ]
        assert any(h for _, h in runs[0]), sql
        assert runs[0] == runs[1], sql


def _reference_node_hash(node) -> str:
    # the per-node formula plan_semantic_hash must keep byte for byte: the
    # hashes persist across runs as the Neo4j sink's merge keys
    payload = json.dumps(
        [lineage._strip_expr_ids(p.raw) for p in node.walk()], sort_keys=True, default=str
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:7]


def test_plan_semantic_hash_matches_subtree_formula(spark):
    spark.read.parquet(f"{SF}/lineitem.parquet").createOrReplaceTempView("li_formula")
    q = spark.sql(
        "SELECT l_returnflag, seg, count(*) AS n FROM ("
        "  SELECT l_returnflag, explode(array(l_linestatus, l_returnflag)) AS seg"
        "  FROM li_formula"
        "  WHERE l_quantity > (SELECT avg(l_quantity) FROM li_formula)"
        ") GROUP BY l_returnflag, seg"
    )
    jplan = lineage.dataframe_plan(q)
    plan = catalyst.parse_plan_json(jplan.toJSON())
    lineage.annotate_plan(plan, jplan)
    # the outer plan, then the scalar subquery's annotated tree
    trees, n_trees, checked = [plan], 0, set()
    while trees:
        tree = trees.pop()
        n_trees += 1
        hashes = lineage.plan_semantic_hash(tree)
        for node in tree.walk():
            assert hashes[id(node)] == _reference_node_hash(node), node.cls
            checked.add(node.cls)
            trees.extend(sq.plan for sq in node.subqueries())
    assert n_trees == 2
    assert {"Aggregate", "Generate", "Filter"} <= checked


def test_unnamed_query_named_by_root_hash(spark):
    spark.read.parquet(f"{SF}/lineitem.parquet").createOrReplaceTempView("li_qname")
    q = spark.sql(
        "SELECT l_returnflag, sum(l_quantity) AS q FROM li_qname GROUP BY l_returnflag"
    )
    nodes, edges = extract(q)
    by_uid = {n.unique_id: n for n in nodes}
    (qnode,) = [n for n in nodes if n.tpe.value == "QueryNode"]
    (root_uid,) = {e.from_id for e in edges if e.to_id == qnode.unique_id}
    root_hash = by_uid[root_uid].props["semanticHash"]
    assert qnode.ident == f"query_{root_hash}"
    assert re.fullmatch(rf"query_{root_hash}_[0-9a-f]{{7}}", qnode.unique_id)
    c_nodes, _ = extract(q, contracted=True)
    (c_qnode,) = [n for n in c_nodes if n.tpe.value == "QueryNode"]
    assert c_qnode.ident == qnode.ident


class _Seq:
    """Python stand-in for a py4j Scala Seq."""

    def __init__(self, items):
        self.items = items

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


def _multi_join(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select("c_name", "n_name", "o_orderdate", "l_extendedprice")
    )


def test_annotate_plan_rejects_leaf_count_mismatch(spark):
    jplan = lineage.dataframe_plan(_multi_join(spark))
    plan = catalyst.parse_plan_json(jplan.toJSON())
    jleaves = jplan.collectLeaves()
    n = jleaves.size()

    class OneShort:
        def collectLeaves(self):
            return _Seq([jleaves.apply(i) for i in range(n - 1)])

    with pytest.raises(ValueError, match=rf"has {n - 1}, JSON has {n}\b"):
        lineage.annotate_plan(plan, OneShort())
    # nothing was paired off by one
    assert not any("_ident" in p.raw or "_stats" in p.raw for p in plan.walk())


def test_annotate_plan_py4j_budget(spark, monkeypatch):
    # leaves come from one collectLeaves(); a plan with no Generate and no
    # subquery never walks children over py4j
    jplan = lineage.dataframe_plan(_multi_join(spark))
    plan = catalyst.parse_plan_json(jplan.toJSON())
    n_leaves = sum(1 for p in plan.walk() if p.is_leaf)
    assert n_leaves == 4
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):  # object detach on Python GC
            sent.append(command.split("\n", 3)[:3])
        return orig(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    lineage.annotate_plan(plan, jplan)
    monkeypatch.undo()
    methods = [parts[2] for parts in sent if parts[0] == "c" and len(parts) > 2]
    assert "children" not in methods
    assert len(sent) <= 10 * n_leaves + 2, methods
    assert all(p.raw.get("_ident", "").endswith(".parquet") for p in plan.walk() if p.is_leaf)


def test_plan_parses_once(spark, monkeypatch):
    spark.read.parquet(f"{SF}/lineitem.parquet").createOrReplaceTempView("li_once")
    spark.read.parquet(f"{SF}/orders.parquet").createOrReplaceTempView("ord_once")
    q = spark.sql(
        "SELECT l_orderkey, l_quantity * (SELECT max(o_totalprice) FROM ord_once) AS v "
        "FROM li_once WHERE l_quantity > (SELECT avg(l_quantity) FROM li_once)"
    )
    plan = catalyst.parse_plan_json(lineage.dataframe_plan(q).toJSON())
    project = next(p for p in plan.walk() if p.cls == "Project")
    assert project.exprs("projectList") is project.exprs("projectList")

    parsed: dict[int, int] = {}
    orig = catalyst.parse_plan_list

    def counting(flat):
        parsed[id(flat)] = parsed.get(id(flat), 0) + 1
        return orig(flat)

    monkeypatch.setattr(catalyst, "parse_plan_list", counting)
    graphs = [extract(q), extract(q, contracted=True)]
    monkeypatch.undo()
    # per extraction: the plan and its two subquery plans, each parsed once
    assert sorted(parsed.values()) == [1] * 6
    # the subquery's scan keeps its table identity in both modes
    for nodes, _ in graphs:
        idents = {n.ident for n in nodes if n.tpe.value == "TableNode"}
        assert any(i.endswith("orders.parquet") for i in idents), idents


def test_contracted_single_source(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (
        li.where("l_quantity > 10")
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("s"))
    )
    nodes, edges = extract(q, contracted=True, flow_name="flow")
    # only table + query nodes survive
    assert {n.tpe.value for n in nodes} == {"TableNode", "QueryNode"}
    es = edge_set(edges)
    assert "lineitem:8 -> flow:0" in es  # l_returnflag (ordinal 8)
    assert "lineitem:5 -> flow:1" in es  # l_extendedprice (ordinal 5)


def test_catalog_mode_view_substitution(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    li.createOrReplaceTempView("cat_lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW cat_v1 AS "
        "SELECT l_returnflag, count(*) AS cnt FROM cat_lineitem GROUP BY l_returnflag"
    )
    spark.sql("CREATE OR REPLACE TEMP VIEW cat_v2 AS SELECT * FROM cat_v1 WHERE cnt > 100")
    nodes, edges = extract(spark, contracted=False)
    idents = {n.ident for n in nodes}
    assert {"cat_v1", "cat_v2"} <= idents
    # v2's plan collapses its v1-reference to the cat_v1 view node, which
    # must reach cat_v2 through v2's operators (Filter [+ Project])
    outgoing_v1 = [e for e in edges if e.from_id == "cat_v1"]
    assert outgoing_v1
    adj: dict[str, set[str]] = {}
    for e in edges:
        adj.setdefault(e.from_id, set()).add(e.to_id)
    frontier, seen = {"cat_v1"}, set()
    while frontier:
        cur = frontier.pop()
        if cur in seen:
            continue
        seen.add(cur)
        frontier |= adj.get(cur, set())
    assert "cat_v2" in seen, "cat_v1 must flow into cat_v2"


def test_catalog_contracted_correlated_subquery_over_view(spark):
    # the subquery's reference to hv_agg is substituted by the view node
    # before contraction, as the reference does before re-optimizing, so
    # the view's Aggregate is no HAVING and the correlated comparison links
    # hv_agg.s to o_totalprice, as DataFrame-mode contraction of the same
    # plan links lineitem.l_quantity to it
    s = spark.newSession()
    s.read.parquet(f"{SF}/lineitem.parquet").createOrReplaceTempView("hv_li")
    s.read.parquet(f"{SF}/orders.parquet").createOrReplaceTempView("hv_o")
    s.sql(
        "CREATE OR REPLACE TEMP VIEW hv_agg AS "
        "SELECT l_orderkey AS k, sum(l_quantity) AS s FROM hv_li GROUP BY l_orderkey"
    )
    s.sql(
        "CREATE OR REPLACE TEMP VIEW hv_q AS SELECT o_orderkey, o_totalprice FROM hv_o "
        "WHERE o_totalprice > (SELECT max(s) FROM hv_agg WHERE hv_agg.k = hv_o.o_orderkey)"
    )
    _, edges = extract(s, contracted=True)
    assert "hv_agg:1 -> hv_q:1" in edge_set(edges)
    _, df_edges = extract(s.table("hv_q"), contracted=True, flow_name="flow")
    assert "lineitem:4 -> flow:1" in edge_set(df_edges)


def test_catalog_mode_permanent_view(spark):
    """Permanent (metastore) views are enumerated alongside temp views
    (reference SQLFlow.scala:61-92), and leaf catalog tables carry a
    createTime prop (setPlanPropsIn, :288-314)."""
    s = spark.newSession()
    s.sql("DROP VIEW IF EXISTS perm_v")
    s.sql("DROP TABLE IF EXISTS perm_base")
    s.sql("CREATE TABLE perm_base (k INT, s STRING) USING parquet")
    try:
        s.sql("CREATE VIEW perm_v AS SELECT k, count(*) AS cnt FROM perm_base GROUP BY k")
        s.sql("CREATE OR REPLACE TEMP VIEW perm_tmp AS SELECT k FROM perm_base WHERE k > 0")
        nodes, edges = extract(s, contracted=False)
        by_ident = {n.ident: n for n in nodes}
        views = {n.ident for n in nodes if n.tpe.value == "ViewNode"}
        assert "perm_tmp" in views
        assert any("perm_v" in v for v in views), f"permanent view missing: {views}"
        # the metastore table leaf resolves to its qualified name and is
        # stamped with its catalog createTime
        base = next(
            (n for ident, n in by_ident.items() if "perm_base" in ident), None
        )
        assert base is not None
        assert "createTime" in base.props
        assert base.props["createTime"].endswith("Z")
        # the permanent view's lineage reaches the base table
        perm_v_id = next(n.unique_id for n in nodes if "perm_v" in n.ident)
        assert any(e.to_id == perm_v_id for e in edges)
    finally:
        s.sql("DROP VIEW IF EXISTS perm_v")
        s.sql("DROP TABLE IF EXISTS perm_base")


def test_view_text_reanalysis(spark):
    """Permanent views resolve through their stored viewText (re-parse +
    re-analyze — reference SQLFlow.scala:66-74)."""
    from spark_sql_flow_plugin_spark.plans.catalog import _analyzed_view_jplan

    s = spark.newSession()
    s.sql("DROP VIEW IF EXISTS vt_v")
    s.sql("DROP TABLE IF EXISTS vt_base")
    s.sql("CREATE TABLE vt_base (k INT) USING parquet")
    try:
        s.sql("CREATE VIEW vt_v AS SELECT k * 2 AS k2 FROM vt_base")
        jss = s._jsparkSession.sessionState()
        ident = jss.sqlParser().parseTableIdentifier("vt_v")
        meta = jss.catalog().getTableMetadata(ident)
        assert meta.viewText().isDefined()
        jplan = _analyzed_view_jplan(s, "vt_v")
        assert jplan is not None
        out = jplan.output()
        assert out.apply(0).name() == "k2"
    finally:
        s.sql("DROP VIEW IF EXISTS vt_v")
        s.sql("DROP TABLE IF EXISTS vt_base")


def test_dot_output_shape(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    s = to_sql_flow_string(li.groupBy("l_returnflag").count())
    assert "digraph {" in s
    assert '":0' in s or '":1' in s  # column-port edges present


def test_custom_formatter(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    s = to_sql_flow_string(
        li.select("l_orderkey"),
        graph_format=lambda nodes, edges: f"{len(nodes)}/{len(edges)}",
    )
    n_nodes, n_edges = map(int, s.split("/"))
    assert n_nodes >= 2 and n_edges >= 1


def test_auto_tracking_registers_views(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")

    @auto_tracking
    def stage_filter(df):
        return df.where("l_quantity > 5")

    out = stage_filter(li)
    assert out.count() > 0
    assert spark.catalog.tableExists("stage_filter")
    nodes, _ = extract(spark)
    assert "stage_filter" in {n.ident for n in nodes}


def test_streaming_dataframe_lineage(spark, sf_dir):
    """Streaming DataFrames extract from the ANALYZED plan (Spark refuses
    to optimize an unstarted stream) — the isStreaming branch of
    api.extract. Assert both modes produce a connected graph whose source
    is the streaming file relation, without ever starting the query."""
    from pyspark.sql import functions as F

    from spark_sql_flow_plugin_spark.api import extract
    from spark_sql_flow_plugin_spark.streaming.events import _read_events_stream

    stream = _read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select("event_type", "n_events")
    )
    assert agg.isStreaming
    nodes, edges = extract(agg, flow_name="stream_flow")
    assert nodes and edges
    ids = {n.unique_id for n in nodes}
    for e in edges:
        assert e.from_id in ids and e.to_id in ids
    qnode = next(n for n in nodes if n.tpe.value == "QueryNode")
    assert qnode.attribute_names == ["event_type", "n_events"]
    cnodes, cedges = extract(agg, contracted=True, flow_name="stream_cflow")
    assert cnodes and cedges
    assert {n.tpe.value for n in cnodes} <= {
        "TableNode", "LeafPlanNode", "QueryNode",
    }


def test_collect_metrics_observe_identity(spark):
    # Spark 4 df.observe() inserts a CollectMetrics node (a plan shape
    # the reference era never saw); it must flow through the default
    # identity rule — node present, per-ordinal passthrough edges, and
    # the metric expressions never become dangling columns
    c = spark.read.parquet(f"{SF}/customer.parquet")
    q = (
        c.select("c_custkey", "c_acctbal")
        .observe("m", F.count(F.lit(1)).alias("cnt"), F.sum("c_acctbal").alias("sab"))
        .where(F.col("c_acctbal") > 0)
    )
    nodes, edges = extract(q, flow_name="flow")
    assert "CollectMetrics" in {n.ident for n in nodes}
    es = edge_set(edges)
    assert any("-> CollectMetrics_x:0" in e for e in es)
    assert any("CollectMetrics_x:0 ->" in e for e in es)
    # no node exposes the metric aliases as columns
    for n in nodes:
        assert "cnt" not in n.attribute_names
        assert "sab" not in n.attribute_names
