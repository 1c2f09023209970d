"""Catalog-mode lineage: one graph over every registered view
(reference ``catalogToSQLFlow``, SQLFlow.scala:61-189).

For each temp/permanent view in the session catalog:
- emit a ViewNode with the view's output columns;
- extract the view plan's lineage (expanded or contracted);
- **temp-view substitution**: any subplan semantically equal to *another*
  registered view collapses to that view's node (shared pipeline segments
  become view references — reference SQLFlow.scala:94-171). Detection uses
  Catalyst's own ``plan.semanticHash()`` via a lockstep walk of the JVM and
  JSON trees (both are the same analyzed plan, so pre-order aligns).
- cached subtrees are flagged (lightblue in DOT) via the session
  cacheManager (reference SQLFlow.scala:191-196).

Each view's analyzed plan is parsed with ``catalyst.parse_plan_json``;
the substitution walk annotates every node it keeps with the same
``lineage.annotate_node`` the DataFrame/listener path uses, then the tree
goes to the expanded extractor or ``contracted.contract`` with the view
node as the sink.

Deviation from the reference: substitution works on *analyzed* plans and
then splices out the alias/view wrappers, where the reference re-optimizes
the doctored plan. Self-consistent, and avoids re-running the optimizer per
view.
"""

from __future__ import annotations

from . import catalyst
from . import contracted as contracted_mod
from .catalyst import PlanNode
from .graph import GraphEdge, GraphNode, NodeType
from .lineage import LineageExtractor, _rand_id, annotate_node


def _is_cached(spark, jplan) -> bool:
    """Reference isCached (SQLFlow.scala:191-196). Spark 4.x moved
    CacheManager.lookupCachedData to a two-arg (session, plan)
    signature; the legacy single-arg py4j call raised and the old
    blanket except returned False — so LIVE cached views were never
    flagged (r15 catalog-DAG cache-stage fuzz find; the unit tests
    exercised only the downstream flag plumbing). Try 4.x first, keep
    the legacy form for older runtimes."""
    try:
        jss = spark._jsparkSession
        cm = jss.sharedState().cacheManager()
    except Exception:
        return False
    for call in (
        lambda: cm.lookupCachedData(jss, jplan),
        lambda: cm.lookupCachedData(jplan),
    ):
        try:
            return call().isDefined()
        except Exception:
            continue
    return False


def _alias_name(p: PlanNode) -> str | None:
    ident = p.raw.get("identifier")
    if isinstance(ident, dict):
        return ident.get("name")
    return None


def _view_desc_name(p: PlanNode) -> str | None:
    desc = p.raw.get("desc")
    if isinstance(desc, dict):
        ident = desc.get("identifier")
        if isinstance(ident, dict):
            parts = [ident.get("database"), ident.get("table")]
            return ".".join(x for x in parts if x)
    return None


def _temp_view_leaf(name: str, p: PlanNode) -> PlanNode:
    return PlanNode(
        "TempViewNode",
        {"viewName": name, "_output": p.output(), "num-children": 0},
        [],
    )


def _blacklisted_for_hash_sub(p: PlanNode) -> bool:
    """Reference blacklistToReplaceSubplan (SQLFlow.scala:103-107), widened
    for 4.x analyzed-tree shapes: wrapper chains (Project/View) ending in a
    VALUES-style SubqueryAlias are never hash-substituted — two
    textually-identical VALUES clauses are coincidence, not reuse (semantic
    hashing canonicalizes alias names away, so t1 and t2 defined by the
    same VALUES would otherwise merge). Chains ending in an explicit view
    reference (SubqueryAlias over View) are also skipped — the dedicated
    reference rule must see them, not the hash heuristic."""
    while p.cls in ("Project", "View") and p.children:
        p = p.children[0]
    return (
        p.cls == "SubqueryAlias"
        and bool(p.children)
        and p.children[0].cls in ("LocalRelation", "OneRowRelation", "View")
    )


def _substitute_views(
    spark, view_name: str, plan: PlanNode, jplan, hash_to_view: dict[int, str]
) -> PlanNode:
    """Lockstep JSON/JVM walk over the ANALYZED view plan mirroring the
    reference's replaceWithTempViewNode (SQLFlow.scala:110-171):

    - ``SubqueryAlias(name, View(...))`` — an explicit reference to another
      view — becomes a TempViewNode/ViewNode leaf;
    - ``SubqueryAlias(name, [Project(...)] LocalRelation)`` — a VALUES
      clause — becomes a named ``name_<id>`` leaf (reference :137-143);
    - any other subtree whose semanticHash equals another view's plan
      collapses to that view (structural reuse), unless blacklisted;
    - cached subtrees are flagged (``_cached``), every other node gets
      ``lineage.annotate_node`` (leaf identity + stats, Generate's
      ``_unrequired``), and subquery expression plans are substituted
      recursively (reference :111-132); ``annotate_node`` writes each
      substituted subquery root back to its expression's memo.

    The reference re-runs the optimizer over the doctored plan; we instead
    splice out the remaining SubqueryAlias/View wrappers afterwards
    (_splice_wrappers) and extract from the analyzed shape directly."""

    def rec(p: PlanNode, jp) -> PlanNode:
        if _is_cached(spark, jp):
            p.raw["_cached"] = True
        if p.cls == "SubqueryAlias" and p.children:
            child = p.children[0]
            if child.cls == "View":
                if child.raw.get("isTempView"):
                    name = _alias_name(p) or _view_desc_name(child) or "view"
                else:
                    name = _view_desc_name(child) or _alias_name(p) or "view"
                    # permanent views keep their qualified identity
                node = _temp_view_leaf(name, p)
                if p.raw.get("_cached") or child.raw.get("_cached"):
                    node.raw["_cached"] = True
                return node
            c = child
            while c.cls == "Project" and c.children:
                c = c.children[0]
            if c.cls in ("LocalRelation", "OneRowRelation"):
                name = _alias_name(p) or c.cls
                return _temp_view_leaf(f"{name}_{_rand_id()}", p)
        try:
            h = jp.semanticHash()
        except Exception:
            h = None
        other = hash_to_view.get(h)
        if other and other != view_name and not _blacklisted_for_hash_sub(p):
            return _temp_view_leaf(other, p)
        # subquery expression plans go through rec too: substituted and
        # annotated (reference replaceWithTempViewNodeInSubqueries)
        annotate_node(p, jp, rec)
        jkids = jp.children()
        p.children = [rec(c, jkids.apply(i)) for i, c in enumerate(p.children)]
        return p

    return rec(plan, jplan)


def _splice_wrappers(p: PlanNode) -> PlanNode:
    """Drop SubqueryAlias/View wrapper nodes (pure pass-throughs — their
    output IS the child's output) so the expanded graph shows operators,
    not naming scaffolding. The reference achieves the same by re-running
    the optimizer, which erases aliases."""
    p.children = [_splice_wrappers(c) for c in p.children]
    if p.cls in ("SubqueryAlias", "View") and len(p.children) == 1:
        child = p.children[0]
        if p.raw.get("_cached"):
            child.raw["_cached"] = True
        return child
    return p


def _list_view_names(spark) -> list[str]:
    """Every temp view + every database's permanent views (reference
    SQLFlow.scala:61-84 enumerates catalog.listDatabases × listTables and
    keeps entries with a viewText, plus getTempViewNames)."""
    names: list[str] = []
    seen: set[str] = set()

    def add(t) -> None:
        name = (
            t.name
            if t.isTemporary or not t.namespace
            else ".".join([*t.namespace, t.name])
        )
        if name not in seen:
            seen.add(name)
            names.append(name)

    try:
        dbs = [d.name for d in spark.catalog.listDatabases()]
    except Exception:
        dbs = []
    for db in dbs:
        try:
            tables = spark.catalog.listTables(db)
        except Exception:
            continue
        for t in tables:
            if t.tableType in ("TEMPORARY", "VIEW") or t.isTemporary:
                add(t)
    for t in spark.catalog.listTables():  # current-db + temp views safety net
        if t.tableType in ("TEMPORARY", "VIEW") or t.isTemporary:
            add(t)
    return names


def _analyzed_view_jplan(spark, name: str):
    """Analyzed JVM plan of a view's DEFINITION — temp views via
    ``catalog.getTempView`` (reference SQLFlow.scala:80-83), permanent views
    by re-parsing + analyzing the stored ``viewText`` (:66-74). Both give
    the bare definition (no self SubqueryAlias/View wrap, no view-output
    remapping Project), which is what structural-reuse hashing needs.
    Falls back to ``spark.table(name)``'s analyzed plan."""
    jss = spark._jsparkSession.sessionState()
    if "." not in name:
        try:
            jopt = jss.catalog().getTempView(name)
            if jopt.isDefined():
                return jss.analyzer().execute(jopt.get())
        except Exception:
            pass
    try:
        ident = jss.sqlParser().parseTableIdentifier(name)
        meta = jss.catalog().getTableMetadata(ident)
        view_text = meta.viewText()
        if view_text.isDefined():
            parsed = jss.sqlParser().parsePlan(view_text.get())
            return jss.analyzer().execute(parsed)
    except Exception:
        pass
    try:
        return spark.table(name)._jdf.queryExecution().analyzed()
    except Exception:
        return None


def catalog_lineage(
    spark, contracted: bool = False
) -> tuple[list[GraphNode], list[GraphEdge]]:
    """One lineage graph over every registered view. Works on ANALYZED view
    plans (reference catalogToSQLFlow analyzes viewText / getTempView —
    SQLFlow.scala:61-92): references to other views are still explicit
    ``SubqueryAlias(name, View)`` nodes there, so substitution is
    structural, and caching (InMemoryRelation) hasn't replaced the
    underlying plan yet, so lineage THROUGH a cached view survives."""
    views = _list_view_names(spark)
    plans = {}
    hash_to_view: dict[int, str] = {}
    for v in views:
        jplan = _analyzed_view_jplan(spark, v)
        if jplan is None:
            continue
        try:
            plan = catalyst.parse_plan_json(jplan.toJSON())
        except Exception:
            continue
        plans[v] = (plan, jplan)
        hash_to_view.setdefault(jplan.semanticHash(), v)

    nodes: dict[str, GraphNode] = {}
    edges: list[GraphEdge] = []
    for v, (plan, jplan) in plans.items():
        plan = _substitute_views(spark, v, plan, jplan, hash_to_view)
        plan = _splice_wrappers(plan)

        out_names = [name for name, _ in plan.output()]
        view_node = GraphNode(
            v,
            v,
            out_names,
            ", ".join(out_names),
            NodeType.VIEW,
            is_cached=_is_cached(spark, jplan),
        )

        if contracted:
            sub_nodes, sub_edges, col_sources = _contracted_view(plan, v)
        else:
            sub_nodes, sub_edges, col_sources = _expanded_view(plan)

        for n in sub_nodes:
            nodes.setdefault(n.unique_id, n)
        edges.extend(sub_edges)
        nodes[view_node.unique_id] = view_node
        for i, sources in enumerate(col_sources):
            for src_uid, src_idx in sources:
                edges.append(GraphEdge(src_uid, src_idx, v, i))
    return list(nodes.values()), edges


class _CatalogExtractor(LineageExtractor):
    """Adds TempViewNode identity + cached flag to the expanded extractor."""

    def _node_type(self, plan: PlanNode) -> NodeType:
        if plan.cls == "TempViewNode":
            return NodeType.VIEW
        return super()._node_type(plan)

    def _identify(self, plan: PlanNode):
        if plan.cls == "TempViewNode":
            name = plan.raw["viewName"]
            return name, name
        return super()._identify(plan)

    def _make_node(self, plan: PlanNode) -> GraphNode:
        node = super()._make_node(plan)
        if plan.raw.get("_cached"):
            node.is_cached = True
        return node


def _expanded_view(plan: PlanNode):
    """(nodes, edges, per-output-ordinal source list) — each view output
    column has exactly one source: the plan root's same ordinal."""
    ex = _CatalogExtractor()
    root = ex.traverse(plan)
    col_sources = [[(root.unique_id, i)] for i in range(len(root.attribute_names))]
    return list(ex.nodes.values()), ex.edges, col_sources


def _contracted_view(plan: PlanNode, view_name: str):
    """Leaf nodes only; view output columns trace to source table columns
    through the forward exprId closure, with the same whole-node fallback
    and subquery traversal as query-level contraction."""
    nodes, edges = contracted_mod.contract(plan, _CatalogExtractor(), view_name)
    return nodes, edges, []
