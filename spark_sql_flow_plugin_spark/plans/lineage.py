"""Plan-level column-level lineage: the one JVM-plan path, plus the
expanded-mode edge rules.

Every plan-level lineage request — a DataFrame (``api.extract``) or a
listener capture (``SQLFlowListener``), expanded or contracted — goes
through ``lineage_from_jplan``: the JVM plan handle's ``toJSON`` is parsed
into a ``PlanNode`` tree, ``annotate_plan`` attaches what the JSON lacks
(leaf identity and stats, Generate's dropped columns) in a number of py4j
calls that grows with the leaves — one ``collectLeaves()`` for every scan,
child paths only down to Generate and subquery-carrying nodes — and
annotates each subquery plan in place on the expression that holds it. One
query node is built, and the tree goes to ``_extract_from_tree``
(expanded, below) or ``contracted.contracted_from_tree``. Catalog mode
(catalog.py) runs its own view-substitution walk but annotates each node
with the same ``annotate_node``.

Expanded mode re-expresses the reference's per-operator edge rules
(SQLFlow.scala:357-479 ``collectEdgesInPlan`` + :574-603
``traversePlanRecursively`` + :49-59 ``planToSQLFlow``):

| operator | rule |
|---|---|
| Aggregate/Project        | output ordinal i ← refs of i-th named expr |
| Generate                 | child passthrough by position; generator outputs ← generator refs |
| Expand                   | output ordinal i ← refs of every projection's i-th expr |
| Union                    | positional from every child |
| Join (semi/anti/exist)   | left passthrough; right cond attrs → compared left cols |
| Join (other)             | left++right positional |
| FlatMapGroupsInPandas…   | positional passthrough |
| default (Filter/Sort/…)  | identity: output attr that IS an input attr |
| no edges derived         | whole-node fallback from every input column |
| subquery expressions     | subquery plan traversed; its root columns → outer node |

Node identity follows SQLFlow.scala:202-220: catalog tables keep their
qualified name, joins become ``Join_<type>_<7hex>``, every other operator
``<nodeName>_<7hex>``. One plan hash, ``plan_semantic_hash`` (the
reference's ``semanticHash``, SQLFlow.scala:938-944), gives every plan
node its ``semanticHash`` prop and an unnamed query its
``query_<root hash>`` name; it runs once per tree (catalog-mode view reuse
alone compares Catalyst's own ``semanticHash()``).
"""

from __future__ import annotations

import hashlib
import json
import uuid

from . import catalyst
from .catalyst import SUBQUERY_FIELDS, PlanNode, parse_expr_list
from .graph import GraphEdge, GraphNode, NodeType

#: Catalyst BinaryComparison subclasses (SubqueryPredicate matches any,
#: SQLFlow.scala:481-493; shared with the contracted-mode join rule)
_BINARY_COMPARISONS = {
    "EqualTo",
    "EqualNullSafe",
    "LessThan",
    "LessThanOrEqual",
    "GreaterThan",
    "GreaterThanOrEqual",
}

_PASSTHROUGH_PANDAS = {
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
}

_TABLE_CLASSES = {
    "LogicalRelation",
    "LocalRelation",
    "InMemoryRelation",
    "HiveTableRelation",
    # createDataFrame over local rows serializes as an RDD-backed leaf
    "LogicalRDD",
    "ExternalRDD",
    # unstarted streaming sources are leaf scans too (reference has no
    # streaming support — NEW surface, classified like their batch twins)
    "StreamingRelation",
    "StreamingRelationV2",
    "StreamingExecutionRelation",
    # a memory-sink streaming result read back via spark.table(name) —
    # the downstream half of a streaming pipeline is a table scan too
    "MemoryPlan",
    # DSv2 scans, incl. Spark 4 custom Python DataSources (sources.synthetic)
    "DataSourceV2Relation",
    "DataSourceV2ScanRelation",
}
_VIEW_CLASSES = {"View", "TempViewNode"}


def _rand_id() -> str:
    return uuid.uuid4().hex[:7]


def jvm_leaf_meta(leaf, raw: dict) -> tuple[str, dict[str, str]]:
    """(ident, stats props) of one JVM scan leaf, its CatalogTable
    (LogicalRelation ``catalogTable(): Option``, HiveTableRelation
    ``tableMeta()``) looked up once. Ident: catalog table → qualified name;
    path-based relation → first root path; else empty. Props: sizeInBytes /
    rowCount / createTime from ``LeafNode.computeStats()`` + the
    catalog-table metadata (reference SQLFlow.scala:288-314, setPlanPropsIn).
    ``raw``, the leaf's JSON node, saves the catalog lookup of a
    LogicalRelation whose JSON has no ``catalogTable`` field: toJSON drops
    the field exactly when the Option is empty."""
    ct = ident = None
    if "catalogTable" in raw or not raw.get("class", "").endswith(".LogicalRelation"):
        try:
            opt = leaf.catalogTable()
            ct = opt.get() if opt.isDefined() else None
        except Exception:
            try:
                ct = leaf.tableMeta()
            except Exception:
                pass
    if ct is not None:
        try:
            ident = ct.qualifiedName()
        except Exception:
            pass
    if ident is None:
        try:
            ident = leaf.relation().location().rootPaths().mkString("\n").split("\n")[0]
        except Exception:
            pass
    props: dict[str, str] = {}
    try:
        stats = leaf.stats()
        props["sizeInBytes"] = str(stats.sizeInBytes())  # py4j converts BigInt → int
        rc = stats.rowCount().toString()  # "Some(<n>)" or "None"
        if rc.startswith("Some("):
            props["rowCount"] = rc[5:-1]
    except Exception:
        pass
    if ct is not None:
        try:
            from datetime import datetime, timezone

            millis = ct.createTime()
            props["createTime"] = (
                datetime.fromtimestamp(millis / 1000.0, tz=timezone.utc)
                .isoformat(timespec="milliseconds")
                .replace("+00:00", "Z")
            )
        except Exception:
            pass
    return ident or "", props


#: per-run fields of a raw JSON plan: expression ids (AggregateExpression
#: keeps its own in ``resultId``; a catalog TempViewNode's ``_output``
#: pairs names with them), JVM object ids, qualifiers, metadata
_UNSTABLE_KEYS = ("exprId", "resultId", "jvmId", "qualifier", "metadata", "_output")


def _strip_expr_ids(obj):
    """Canonicalize a raw JSON plan dict for semantic hashing: drop the
    ``_UNSTABLE_KEYS`` so two runs of the same query hash alike
    (approximates Catalyst's plan canonicalization, SQLFlow.scala:938-944)."""
    if isinstance(obj, dict):
        return {k: _strip_expr_ids(v) for k, v in obj.items() if k not in _UNSTABLE_KEYS}
    if isinstance(obj, list):
        return [_strip_expr_ids(v) for v in obj]
    return obj


def plan_semantic_hash(plan: PlanNode) -> dict[int, str]:
    """The one plan hash (reference ``semanticHash``, SQLFlow.scala:938-944)
    of every node in ``plan``'s tree, keyed by ``id(node)``: 7 hex chars of
    the SHA-256 of ``json.dumps([_strip_expr_ids(p.raw) for p in
    node.walk()], sort_keys=True, default=str)``. Each node is serialized
    once; a subtree is a contiguous slice of the pre-order list, joined
    the way ``json.dumps`` joins a list."""
    parts: list[bytes] = []
    hashes: dict[int, str] = {}

    def rec(p: PlanNode) -> None:
        start = len(parts)
        parts.append(json.dumps(_strip_expr_ids(p.raw), sort_keys=True, default=str).encode())
        for c in p.children:
            rec(c)
        payload = b"[" + b", ".join(parts[start:]) + b"]"
        hashes[id(p)] = hashlib.sha256(payload).hexdigest()[:7]

    rec(plan)
    return hashes


class LineageExtractor:
    """Bottom-up walk of one optimized plan → (nodes, edges)."""

    def __init__(self):
        self.nodes: dict[str, GraphNode] = {}
        self.edges: list[GraphEdge] = []
        #: semanticHash by ``id(plan node)``; the hashed trees are kept so
        #: no id in the table is reused by a later-parsed node
        self._hashes: dict[int, str] = {}
        self._hashed: list[PlanNode] = []

    def plan_hash(self, plan: PlanNode) -> str:
        """``plan``'s semanticHash. A node not yet in the table has its
        whole subtree hashed in one ``plan_semantic_hash`` pass (for a leaf,
        just the leaf)."""
        if id(plan) not in self._hashes:
            self._hashed.append(plan)
            self._hashes.update(plan_semantic_hash(plan))
        return self._hashes[id(plan)]

    # -- node identity (SQLFlow.scala:202-220, 323-333) ----------------------

    def _node_type(self, plan: PlanNode) -> NodeType:
        if plan.cls in _TABLE_CLASSES:
            return NodeType.TABLE
        if plan.cls in _VIEW_CLASSES:
            return NodeType.VIEW
        if plan.cls in ("Range", "OneRowRelation"):
            # OneRowRelation backs VALUES-less scalar sources and SQL
            # table-function bodies (SELECT explode(...) with no FROM) —
            # a leaf by construction, classified like Range so contraction
            # keeps it instead of leaking a PlanNode into the backbone.
            return NodeType.LEAF_PLAN
        if plan.cls == "UnionLoopRef":
            # recursive CTE (Spark 4): the loop's self-reference is a leaf
            # by construction (it scans the previous iteration, not a
            # table) — classified like Range so contraction keeps it.
            # Reference parity n/a: Spark 3.2 had no recursive CTE.
            return NodeType.LEAF_PLAN
        return NodeType.PLAN

    def _identify(self, plan: PlanNode) -> tuple[str, str]:
        """(unique_id, ident) for a plan node."""
        if plan.is_leaf:
            ident = plan.raw.get("_ident", "")
            if ident:
                return ident, ident
            return f"{plan.node_name()}_{_rand_id()}", plan.node_name()
        if plan.cls == "Join":
            name = f"Join_{plan.join_type}"
            return f"{name}_{_rand_id()}", name
        name = plan.node_name()
        return f"{name}_{_rand_id()}", name

    def _make_node(self, plan: PlanNode) -> GraphNode:
        uid, ident = self._identify(plan)
        attrs = [name for name, _ in plan.output()]
        schema = ", ".join(attrs)
        node = GraphNode(uid, ident, attrs, schema, self._node_type(plan))
        if node.tpe in (NodeType.PLAN, NodeType.LEAF_PLAN):
            node.props["semanticHash"] = self.plan_hash(plan)
        if plan.raw.get("_stats"):
            node.props.update(plan.raw["_stats"])
        self.nodes[uid] = node
        return node

    # -- edge rules -----------------------------------------------------------

    def _collect_edges(
        self, plan: PlanNode, node: GraphNode, child_nodes: list[GraphNode]
    ) -> None:
        # exprId → (child uid, ordinal) over all children
        ref_map: dict[int, tuple[str, int]] = {}
        child_outputs = [c.output() for c in plan.children]
        for child_node, out in zip(child_nodes, child_outputs):
            for idx, (_, eid) in enumerate(out):
                ref_map.setdefault(eid, (child_node.unique_id, idx))

        edges: list[GraphEdge] = []

        def add(eid: int, to_idx: int | None):
            src = ref_map.get(eid)
            if src:
                edges.append(GraphEdge(src[0], src[1], node.unique_id, to_idx))

        cls = plan.cls
        if cls in ("Aggregate", "Project"):
            fieldname = "aggregateExpressions" if cls == "Aggregate" else "projectList"
            for i, e in enumerate(plan.exprs(fieldname)):
                for _, eid in e.references():
                    add(eid, i)
        elif cls == "Generate":
            out = plan.output()
            gen_exprs = plan.exprs("generator")
            gen_out_n = len(plan.exprs("generatorOutput"))
            n_pass = len(out) - gen_out_n
            # pass-through child columns by position
            for i, (_, eid) in enumerate(out[:n_pass]):
                add(eid, i)
            # every generator output column ← the generator's referenced attrs
            gen_refs = [eid for g in gen_exprs for _, eid in g.references()]
            for i in range(n_pass, len(out)):
                for eid in gen_refs:
                    add(eid, i)
        elif cls == "Expand":
            # projections is Seq[Seq[Expression]]: JSON list (rows) of lists
            # (exprs) of flat expr-node lists — parse each inner tree directly
            seen: set[tuple[int, int]] = set()
            for proj_row in plan.raw.get("projections") or []:
                for i, flat in enumerate(proj_row):
                    if not isinstance(flat, list) or not flat:
                        continue
                    for _, eid in parse_expr_list(flat).references():
                        if (eid, i) not in seen:
                            seen.add((eid, i))
                            add(eid, i)
        elif cls == "Union":
            out_n = len(plan.output())
            for child_node, child_out in zip(child_nodes, child_outputs):
                for i in range(min(out_n, len(child_out))):
                    edges.append(
                        GraphEdge(child_node.unique_id, i, node.unique_id, i)
                    )
        elif cls == "Join" and plan.join_type in ("LeftSemi", "LeftAnti", "ExistenceJoin"):
            left_out = child_outputs[0]
            left_ids = {eid for _, eid in left_out}
            for i, (_, eid) in enumerate(plan.output()):
                add(eid, i)
            # right-side condition attrs feed the left columns they compare to
            for cond in plan.exprs("condition"):
                refs = cond.references()
                right_refs = [eid for _, eid in refs if eid not in left_ids]
                left_refs = [
                    i
                    for i, (_, eid) in enumerate(left_out)
                    if eid in {e for _, e in refs}
                ]
                for eid in right_refs:
                    for li in left_refs:
                        add(eid, li)
        elif cls == "Join":
            for i, (_, eid) in enumerate(plan.output()):
                add(eid, i)
        elif cls in ("BatchEvalPythonUDTF", "ArrowEvalPythonUDTF"):
            # LATERAL Python UDTF: requiredChildOutput columns pass through
            # by identity; every UDTF result column derives from the UDTF
            # call's argument references
            req = plan.exprs("requiredChildOutput")
            res = plan.exprs("resultAttrs")
            for i, a in enumerate(req):
                if a.expr_id is not None:
                    add(a.expr_id, i)
            refs = [
                eid
                for e in plan.exprs("udtf")
                for _, eid in e.references()
            ]
            for j in range(len(res)):
                for eid in refs:
                    add(eid, len(req) + j)
        elif cls in _PASSTHROUGH_PANDAS or cls in ("MapInPandas", "MapInArrow", "PythonMapInArrow"):
            child_out = child_outputs[0] if child_outputs else []
            for i in range(min(len(plan.output()), len(child_out))):
                edges.append(GraphEdge(child_nodes[0].unique_id, i, node.unique_id, i))
        else:  # default identity rule (Filter, Sort, Limit, Window, ...)
            for i, (_, eid) in enumerate(plan.output()):
                add(eid, i)

        if not edges:  # whole-node fallback (SQLFlow.scala:466-478)
            for child_node, child_out in zip(child_nodes, child_outputs):
                for i in range(len(child_out)):
                    edges.append(GraphEdge(child_node.unique_id, i, node.unique_id, None))

        self.edges.extend(edges)

    def _collect_subquery_edges(self, plan: PlanNode, node: GraphNode) -> None:
        """Traverse subquery expression plans; wire their root columns into
        the outer node (SQLFlow.scala:481-562, SubqueryPredicate +
        collectEdgesInExprs analogs):

        - Filter whose condition compares a subquery against outer
          attributes: edges target the compared attributes' ordinals in the
          Filter's output (column-level, not whole-node);
        - Project/Aggregate with a subquery inside a named expression: edges
          target that expression's output ordinal;
        - anything else: whole-node edges (``to_idx=None``).

        Each subquery expression's plan is the tree memoized on it, which
        annotation filled in place (leaf identities inside subqueries)."""
        out_map = {eid: i for i, (_, eid) in enumerate(plan.output())}

        def walk(n, targets: list[int] | None) -> None:
            if n.cls in _BINARY_COMPARISONS and len(n.children) == 2:
                # comparison against a subquery: the subquery's columns feed
                # the outer attributes on the other side of the comparison
                flags = [c.has_subquery() for c in n.children]
                for i, c in enumerate(n.children):
                    if flags[i] and not flags[1 - i]:
                        other_refs = [
                            out_map[eid]
                            for _, eid in n.children[1 - i].references()
                            if eid in out_map
                        ]
                        walk(c, other_refs or None)
                    else:
                        walk(c, targets)
                return
            sp = n.subquery_plan()
            if sp is not None:
                sub_root = self.traverse(sp)
                for i in range(len(sub_root.attribute_names)):
                    for t in targets or [None]:
                        self.edges.append(GraphEdge(sub_root.unique_id, i, node.unique_id, t))
            for c in n.children:
                walk(c, targets)

        for fieldname in SUBQUERY_FIELDS:
            exprs = plan.exprs(fieldname)
            if fieldname == "condition":
                for e in exprs:
                    walk(e, None)
            else:
                # named expressions: every subquery inside expression j
                # feeds output column j (collectEdgesInExprs, :504-517)
                for j, e in enumerate(exprs):
                    target = [j] if j < len(plan.output()) else None
                    walk(e, target if e.has_subquery() else None)

    # -- traversal -------------------------------------------------------------

    def traverse(self, plan: PlanNode) -> GraphNode:
        self.plan_hash(plan)  # a new tree (plan or subquery) is hashed whole
        child_nodes = [self.traverse(c) for c in plan.children]
        node = self._make_node(plan)
        if plan.children:
            self._collect_edges(plan, node, child_nodes)
        self._collect_subquery_edges(plan, node)
        return node


def _extract_from_tree(
    plan: PlanNode, qnode: GraphNode, ex: LineageExtractor
) -> tuple[list[GraphNode], list[GraphEdge]]:
    """Expanded mode: every operator is a node; the root's columns wire 1:1
    into the query node."""
    root = ex.traverse(plan)
    ex.nodes[qnode.unique_id] = qnode
    for i in range(len(root.attribute_names)):
        ex.edges.append(GraphEdge(root.unique_id, i, qnode.unique_id, i))
    return list(ex.nodes.values()), ex.edges


def annotate_node(p: PlanNode, jp, rec) -> None:
    """Attach to one JSON plan node what ``toJSON`` can't express, read
    from its JVM twin ``jp``:

    - leaves: ``_ident`` (catalog/table/path identity) + ``_stats``;
    - Generate: ``_unrequired`` (``unrequiredChildIndex`` serializes as
      JSON null, but it decides which child columns survive the operator);
    - subquery expressions: each one's memoized plan is paired with its JVM
      plan from ``jp.subqueries()`` and handed to ``rec(sub, jsub)``; what
      ``rec`` returns goes back into the memo, so the edge collectors read
      the annotated (in catalog mode, substituted) tree.

    ``annotate_plan`` calls it on Generate and subquery-carrying nodes (it
    annotates leaves itself); catalog-mode view substitution on every node
    it keeps. Neither visits children here."""
    if p.is_leaf:
        _annotate_leaf(p, jp)
    if p.cls == "Generate":
        try:
            seq = jp.unrequiredChildIndex()
            p.raw["_unrequired"] = [seq.apply(i) for i in range(seq.size())]
        except Exception:
            pass
    subs = p.subqueries()
    if subs:
        try:
            jsubs = jp.subqueries()
            n = jsubs.size()
        except Exception:
            return
        for i, sq in enumerate(subs[:n]):
            sq.plan = rec(sq.plan, jsubs.apply(i))


def _annotate_leaf(p: PlanNode, jleaf) -> None:
    ident, stats = jvm_leaf_meta(jleaf, p.raw)
    if ident:
        p.raw["_ident"] = ident
    if stats:
        p.raw["_stats"] = stats


def annotate_plan(plan: PlanNode, jplan) -> PlanNode:
    """Annotate ``plan`` from its JVM twin ``jplan`` in O(leaves) py4j
    calls, and return it:

    - leaves: ``jplan.collectLeaves()`` lists the JVM leaves in pre-order,
      the order ``plan.walk()`` meets the JSON leaves in; the counts must
      match (``ValueError`` naming both otherwise), so no leaf is ever
      paired with its neighbour's identity;
    - Generate and subquery-carrying nodes: reached from the root by child
      path, descending only into subtrees that hold one, and given
      ``annotate_node``; each subquery plan is annotated the same way, in
      place.
    """
    leaves = [p for p in plan.walk() if p.is_leaf]
    jleaves = jplan.collectLeaves()
    n = jleaves.size()
    if n != len(leaves):
        raise ValueError(
            f"plan leaves out of step: JVM collectLeaves() has {n}, JSON has {len(leaves)}"
        )
    for i, p in enumerate(leaves):
        _annotate_leaf(p, jleaves.apply(i))

    # ids of the nodes that need their JVM twin, and of their ancestors
    wanted: set[int] = set()

    def mark(p: PlanNode) -> bool:
        if any([mark(c) for c in p.children]) or p.cls == "Generate" or p.subqueries():
            wanted.add(id(p))
            return True
        return False

    def rec(p: PlanNode, jp) -> None:
        if p.cls == "Generate" or p.subqueries():
            annotate_node(p, jp, annotate_plan)
        kids = [(i, c) for i, c in enumerate(p.children) if id(c) in wanted]
        if kids:
            jkids = jp.children()
            for i, c in kids:
                rec(c, jkids.apply(i))

    if mark(plan):
        rec(plan, jplan)
    return plan


def dataframe_plan(df):
    """The JVM plan a DataFrame's lineage is read from: the optimized plan,
    or for a streaming DataFrame the *analyzed* one (Spark refuses to
    optimize an un-started streaming query), so streaming lineage is
    available before ``writeStream.start()``."""
    qe = df._jdf.queryExecution()
    return qe.analyzed() if df.isStreaming else qe.optimizedPlan()


def lineage_from_jplan(
    jplan,
    flow_name: str | None = None,
    contracted: bool = False,
    props: dict[str, str] | None = None,
) -> tuple[list[GraphNode], list[GraphEdge]]:
    """The one plan-level lineage path (planToSQLFlow / SQLContractedFlow),
    shared by DataFrame mode and the listener in both modes: JVM plan
    handle → parsed, annotated ``PlanNode`` tree → (nodes, edges) ending in
    a query node that carries ``props``. The query node is ``flow_name``,
    or ``query_<root semanticHash>_<7hex>`` when no name is given."""
    plan = catalyst.parse_plan_json(jplan.toJSON())
    annotate_plan(plan, jplan)
    ex = LineageExtractor()
    qname = flow_name or f"query_{ex.plan_hash(plan)}"
    attrs = [name for name, _ in plan.output()]
    qnode = GraphNode(
        qname if flow_name is not None else f"{qname}_{_rand_id()}",
        qname,
        attrs,
        ", ".join(attrs),
        NodeType.QUERY,
        props=dict(props or {}),
    )
    if contracted:
        from . import contracted as contracted_mod

        return contracted_mod.contracted_from_tree(plan, qnode, ex)
    return _extract_from_tree(plan, qnode, ex)
