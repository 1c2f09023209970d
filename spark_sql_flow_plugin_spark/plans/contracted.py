"""Contracted-mode lineage: only table/view/query nodes survive; every
intermediate operator is collapsed by transitively closing a forward
``input exprId → {output exprIds it flows into}`` reference map (reference
SQLContractedFlow, SQLFlow.scala:606-837; closure at :801-830 with depth
cap 128).

The edge rules mirror the reference's collectEdges (:608-631):

- a leaf column whose closure terminates at a query output column gets a
  column→column edge;
- a leaf table NONE of whose columns trace to the output still feeds the
  query (join keys, filter subjects) — emit whole-node edges from each of
  its *referenced* columns (the ``refMap.contains`` fallback at :624-627);
- subquery plans (ScalarSubquery & friends) are traversed recursively
  (:752-784); their leaf columns reaching the subquery's own output wire
  into the query node as whole-node edges.

The plan tree arrives parsed and annotated, with its query node built, from
``lineage.lineage_from_jplan`` (DataFrame and listener capture); catalog
mode calls ``contract`` per view with the view as the sink node.
"""

from __future__ import annotations

from .catalyst import SUBQUERY_EXPR_CLASSES, PlanNode, parse_expr_list
from .graph import GraphEdge, GraphNode
from .lineage import _BINARY_COMPARISONS, LineageExtractor

_MAX_DEPTH = 128


def _collect_fwd_refs(
    plan: PlanNode, fwd: dict[int, set[int]], pending: tuple = ()
) -> None:
    """Forward reference map: for operators that *create* attributes, each
    referenced input exprId → the output exprId(s) it flows into (reference
    collectRefsRecursively, SQLFlow.scala:634-712). Identity operators
    (Filter/Sort/Limit/...) need no entries — their outputs ARE their input
    exprIds, so the closure passes straight through them.

    ``pending`` carries comparison predicates collected from enclosing
    Filters down to Join nodes: on ANALYZED plans (catalog mode) the
    predicate of ``FROM a, b WHERE a.k = b.k`` lives in a Filter ABOVE a
    condition-less Join — the reference re-runs the optimizer (which pushes
    it into the join) before collecting refs; we emulate exactly that
    pushdown here so the join links its keys instead of all-pairs.
    Subquery predicates (IN / EXISTS / correlated scalar) are likewise
    linked the way RewritePredicateSubquery would rewrite them to
    semi/anti joins — see _link_filter_condition."""

    def add(src_eid: int, dst_eids) -> None:
        fwd.setdefault(src_eid, set()).update(dst_eids)

    cls = plan.cls

    child_pending = pending
    if cls == "Filter":
        child_pending = pending + _filter_comparisons(plan)
        _link_filter_subqueries(plan, add)
        # correlation predicates (OuterReference vs inner attr) in THIS
        # filter — inside a subquery plan — link immediately: they are the
        # semi-join condition the optimizer would pull up
        _link_correlation(plan, add)

    for c in plan.children:
        _collect_fwd_refs(c, fwd, child_pending)
    if plan.is_leaf:
        return
    out = plan.output()
    if not out:
        return
    if cls in ("Project", "Aggregate"):
        fieldname = "projectList" if cls == "Project" else "aggregateExpressions"
        for e, (_, out_eid) in zip(plan.exprs(fieldname), out):
            for r in _refs_no_subquery(e):
                add(r, {out_eid})
            # a scalar subquery inside the expression: its output column
            # flows into this projected column (collectEdgesInExprs analog)
            # while remaining a terminal itself (self-loop) so the plain
            # subquery-output → query whole-node edges survive alongside
            for n in e.subqueries():
                if n.cls == "ScalarSubquery":
                    for _, seid in n.plan.output():
                        add(seid, {seid, out_eid})
        if cls == "Aggregate":
            # GROUP BY keys that aren't selected still count as referenced
            # (the reference collects grouping refs, so a leaf whose only
            # use is a grouping key gets a whole-node edge); self-loop makes
            # them closure terminals like join keys
            for g in plan.exprs("groupingExpressions"):
                for _, r in g.references():
                    add(r, {r})
    elif cls == "Window":
        # the reference leaves Window to the identity default (its window
        # outputs are producedAttributes, exempted from the sanity check at
        # :727-737); tracing them to their frame inputs is strictly more
        # precise, so keep it. Window passes its child columns through
        # unchanged, so a referenced input keeps itself as a terminal
        # (self-loop) IN ADDITION to flowing into the window output.
        n_child = len(plan.children[0].output())
        for e, (_, out_eid) in zip(plan.exprs("windowExpressions"), out[n_child:]):
            for _, r in e.references():
                add(r, {r, out_eid})
    elif cls == "Generate":
        gen_refs = {r for g in plan.exprs("generator") for _, r in g.references()}
        gen_out = {eid for a in plan.exprs("generatorOutput") if (eid := a.expr_id) is not None}
        for r in gen_refs:
            add(r, gen_out)
    elif cls == "Expand":
        for proj_row in plan.raw.get("projections") or []:
            for i, flat in enumerate(proj_row):
                if i >= len(out) or not isinstance(flat, list) or not flat:
                    continue
                for _, r in parse_expr_list(flat).references():
                    add(r, {out[i][1]})
    elif cls == "Union":
        for child in plan.children:
            for i, (_, ceid) in enumerate(child.output()):
                if i < len(out):
                    add(ceid, {out[i][1]})
    elif cls in ("Except", "Intersect"):
        # the optimizer rewrites these to anti/semi joins keyed on every
        # column pair — link positionally, mutual with self-loops, so the
        # right side's columns trace to the (left-derived) output
        left_out = plan.children[0].output()
        for child in plan.children[1:]:
            for i, (_, ceid) in enumerate(child.output()):
                if i < len(left_out):
                    leid = left_out[i][1]
                    add(ceid, {ceid, leid})
                    add(leid, {leid, ceid})
    elif cls == "Join":
        left_eids = {eid for _, eid in plan.children[0].output()}
        right_eids = {eid for _, eid in plan.children[1].output()}
        comps: list[tuple[list[int], list[int]]] = []
        for cond in plan.exprs("condition"):
            for node in cond.walk():
                if node.cls in _BINARY_COMPARISONS and len(node.children) == 2:
                    refs = (
                        node.children[0].references() + node.children[1].references()
                    )
                    l_refs = [e for _, e in refs if e in left_eids]
                    r_refs = [e for _, e in refs if e not in left_eids]
                    if l_refs and r_refs:
                        comps.append((l_refs, r_refs))
        if not comps:
            # predicates an optimizer would push into this join: enclosing
            # Filter comparisons whose references span both children
            for refs_a, refs_b in pending:
                l_refs = [e for e in refs_a + refs_b if e in left_eids]
                r_refs = [e for e in refs_a + refs_b if e in right_eids]
                if l_refs and r_refs:
                    comps.append((l_refs, r_refs))
        if comps:
            # compared attrs link mutually WITH self-loops: a join key is
            # both a terminal in its own right and upstream of its peer
            for l_refs, r_refs in comps:
                for a1 in l_refs:
                    for a2 in r_refs:
                        add(a1, {a1, a2})
                        add(a2, {a1, a2})
        else:
            # no comparable condition (cross/complex-predicate join): every
            # left column relates to every right column (reference :703-707)
            for _, a1 in plan.children[0].output():
                for _, a2 in plan.children[1].output():
                    add(a1, {a1, a2})
                    add(a2, {a1, a2})


def _filter_comparisons(plan: PlanNode) -> tuple:
    """(refs_of_side_a, refs_of_side_b) for each subquery-free binary
    comparison in a Filter's condition — candidate join predicates for
    pushdown emulation."""
    comps = []
    for cond in plan.exprs("condition"):
        for node in cond.walk():
            if node.cls in _BINARY_COMPARISONS and len(node.children) == 2:
                a, b = node.children
                if a.has_subquery() or b.has_subquery():
                    continue
                a_refs = [e for _, e in a.references()]
                b_refs = [e for _, e in b.references()]
                if a_refs and b_refs:
                    comps.append((a_refs, b_refs))
    return tuple(comps)


def _refs_no_subquery(e) -> list[int]:
    """References of an expression EXCLUDING anything under a subquery
    expression node. A SubqueryExpression's serialized children are its
    outerAttrs/joinCond — correlation join keys, not value sources — so
    `SELECT (SELECT min(x) FROM t WHERE t.k = o.k) FROM o` must not wire
    o.k into the projected column (the reference's optimizer turns this
    into a left-outer join whose key traces nowhere; the value comes from
    the subquery output alone)."""
    out: list[int] = []

    def walk(n) -> None:
        if n.cls in SUBQUERY_EXPR_CLASSES:
            return
        if n.cls == "AttributeReference" and n.expr_id is not None:
            out.append(n.expr_id)
        for c in n.children:
            walk(c)

    walk(e)
    return out


def _link_filter_subqueries(plan: PlanNode, add) -> None:
    """Link a Filter's subquery predicates the way the optimizer's
    RewritePredicateSubquery would after turning them into semi/anti/outer
    joins (the reference collects refs AFTER re-optimization, so its
    contracted closure sees these as join conditions):

    - ``(v1, v2) IN (SELECT x, y ...)`` — each value's refs link mutually
      with the subquery's matching output column;
    - correlated subqueries — every comparison inside the subquery plan
      that references an OuterReference links the outer attribute(s) with
      the inner ones.

    All links carry self-loops, so the attributes become closure terminals
    (join-key semantics) and fallback-eligible."""
    for cond in plan.exprs("condition"):
        for node in cond.walk():
            if node.cls in _BINARY_COMPARISONS and len(node.children) == 2:
                # `attr <op> (correlated scalar subquery)`: Spark 3.2's
                # RewriteCorrelatedScalarSubquery turns this into a join,
                # EliminateOuterJoin + PushPredicateThroughJoin then fold
                # the null-intolerant comparison INTO the join condition —
                # so the compared attr and the subquery output link like
                # join keys. HAVING-shaped subqueries (Filter above the
                # Aggregate) block that rewrite and survive as expressions:
                # no link, whole-node edges only. Uncorrelated subqueries
                # are never rewritten: no link either.
                for i, side in enumerate(node.children):
                    other_refs = [e for _, e in node.children[1 - i].references()]
                    for sq in side.subqueries():
                        # no outerAttrs (sq.children): uncorrelated
                        if sq.cls != "ScalarSubquery" or not sq.children:
                            continue
                        if _having_shape(sq.plan):
                            continue
                        sub_out = [eid for _, eid in sq.plan.output()]
                        for a in other_refs:
                            add(a, {a})
                            for b in sub_out:
                                add(a, {a, b})
                                add(b, {a, b})
            if node.cls == "InSubquery":
                lq = next((c for c in node.children if c.cls == "ListQuery"), None)
                values = [c for c in node.children if c.cls != "ListQuery"]
                sub_out: list[int] = []
                if lq is not None and lq.subquery_plan() is not None:
                    sub_out = [eid for _, eid in lq.plan.output()]
                for i, v in enumerate(values):
                    v_refs = [e for _, e in v.references()]
                    partners = [sub_out[i]] if i < len(sub_out) else []
                    for a in v_refs:
                        add(a, {a})
                        for b in partners:
                            add(a, {a, b})
                            add(b, {a, b})
            elif node.cls in ("Exists", "ScalarSubquery", "ListQuery") and node.subquery_plan():
                for p in node.plan.walk():
                    _link_correlation(p, add)


def _having_shape(p: PlanNode) -> bool:
    """True when the subquery plan has a Filter ABOVE an Aggregate (the
    HAVING pattern) — Spark 3.2 cannot decorrelate it, so the subquery
    expression survives optimization. Correlation Filters sit BELOW the
    Aggregate and don't match."""
    return any(
        n.cls == "Filter"
        and any(d.cls == "Aggregate" for d in n.walk() if d is not n)
        for n in p.walk()
    )


def _split_outer_inner(expr) -> tuple[list[int], list[int]]:
    """(outer_eids, inner_eids) of an expression: attributes under an
    OuterReference wrapper are outer, the rest inner."""
    outer: list[int] = []
    inner: list[int] = []

    def walk(n, in_outer: bool) -> None:
        if n.cls == "OuterReference":
            in_outer = True
        if n.cls in ("AttributeReference", "OuterReference") and n.expr_id is not None:
            (outer if in_outer else inner).append(n.expr_id)
        for c in n.children:
            walk(c, in_outer)

    walk(expr, False)
    return outer, [e for e in inner if e not in outer]


def _link_correlation(p: PlanNode, add) -> None:
    """Outer↔inner links for every correlation comparison in one plan
    node's condition (comparisons referencing an OuterReference)."""
    for cond in p.exprs("condition"):
        for node in cond.walk():
            if node.cls in _BINARY_COMPARISONS and len(node.children) == 2:
                o1, i1 = _split_outer_inner(node.children[0])
                o2, i2 = _split_outer_inner(node.children[1])
                for o in o1 + o2:
                    add(o, {o})
                    for i in i1 + i2:
                        add(o, {o, i})
                        add(i, {o, i})


def _terminals(eid: int, fwd: dict[int, set[int]]) -> set[int]:
    """Closure endpoints reachable from ``eid``: exprIds with no forward
    entry (final attributes) plus self-loop attrs (join keys). Reachability
    is path-independent, so a global visited set gives the same answer as
    the reference's per-path recursion (:801-830) without the blowup."""
    out: set[int] = set()
    seen: set[int] = set()
    stack = [(eid, 0)]
    while stack:
        cur, depth = stack.pop()
        if cur in seen or depth > _MAX_DEPTH:
            continue
        seen.add(cur)
        entries = fwd.get(cur)
        if entries is None:
            out.add(cur)
            continue
        for nxt in entries:
            if nxt == cur:
                out.add(cur)
            else:
                stack.append((nxt, depth + 1))
    return out


def _iter_subplans(plan: PlanNode):
    """Subquery expression plans hanging off any operator of ``plan``: the
    trees memoized on their expressions, annotated in place."""
    for p in plan.walk():
        for sq in p.subqueries():
            yield sq.plan


def _collect_fwd_all(
    plan: PlanNode, fwd: dict[int, set[int]], depth: int = 0
) -> None:
    """One SHARED forward map across a plan and every nested subquery plan:
    Catalyst exprIds are globally unique, so merging the maps is safe, and
    it is what makes cross-boundary chains resolve — an inner aggregate
    output linked (by _link_filter_subqueries) to the outer attribute it's
    compared with lets the subquery's LEAF columns trace all the way into
    the OUTER query's output columns, exactly like the decorrelated single
    plan the reference extracts from."""
    if depth > _MAX_DEPTH:
        return
    _collect_fwd_refs(plan, fwd)
    for sp in _iter_subplans(plan):
        _collect_fwd_all(sp, fwd, depth + 1)


def _contract_plan(
    plan: PlanNode,
    out_map: dict[int, int | None],
    ex: LineageExtractor,
    nodes: dict[str, GraphNode],
    edges: list[GraphEdge],
    quid: str,
    seen_edges: set,
    depth: int = 0,
    fwd: dict[int, set[int]] | None = None,
) -> None:
    """Contract one (sub)plan: leaf columns → query node edges."""
    if depth > _MAX_DEPTH:
        return
    if fwd is None:
        fwd = {}
        _collect_fwd_all(plan, fwd)

    # leaves, deduped by unique id (a self-joined table is ONE node)
    leaves: list[tuple[GraphNode, list[tuple[str, int]]]] = []
    leaf_uids: set[str] = set()
    for p in plan.walk():
        if p.is_leaf:
            node = ex._make_node(p)
            if node.unique_id in nodes:
                node = nodes[node.unique_id]
            else:
                nodes[node.unique_id] = node
            if node.unique_id not in leaf_uids:
                leaf_uids.add(node.unique_id)
                leaves.append((node, p.output()))

    for node, lout in leaves:
        if node.unique_id == quid:
            continue
        col_edges: list[GraphEdge] = []
        for i, (_, eid) in enumerate(lout):
            for t in _terminals(eid, fwd):
                if t in out_map:
                    col_edges.append(GraphEdge(node.unique_id, i, quid, out_map[t]))
        if not any(e.to_idx is not None for e in col_edges):
            # no column reaches a real output column, but the table still
            # feeds the query (join/grouping/correlation keys): whole-node
            # edges from each referenced column — the reference's
            # refMap.contains fallback (SQLFlow.scala:624-627). This
            # subsumes any whole-node edges traced via None-mapped subquery
            # outputs (their source columns are referenced by definition).
            col_edges = [
                GraphEdge(node.unique_id, i, quid, None)
                for i, (_, eid) in enumerate(lout)
                if eid in fwd
            ]
        for e in col_edges:
            key = (e.from_id, e.from_idx, e.to_idx)
            if key not in seen_edges:
                seen_edges.add(key)
                edges.append(e)

    # subquery plans: their outputs feed the query as whole-node edges,
    # and — through the shared fwd map + inherited out_map — correlated
    # inner attributes resolve to the OUTER query's output columns.
    # Exists/IN subquery SELECT lists are dead after the optimizer's
    # semi/anti-join rewrite (only correlation/IN keys survive), so their
    # outputs do NOT feed the query; IN-value links go through
    # _link_filter_subqueries instead.
    for sp in _iter_subplans(plan):
        if sp.raw.get("_sq_kind") in ("Exists", "ListQuery"):
            sub_out = dict(out_map)
        else:
            sub_out = {**out_map, **{eid: None for _, eid in sp.output()}}
        _contract_plan(
            sp, sub_out, ex, nodes, edges, quid, seen_edges, depth + 1, fwd
        )


def contract(
    plan: PlanNode, ex: LineageExtractor, sink_uid: str
) -> tuple[list[GraphNode], list[GraphEdge]]:
    """Leaf nodes of ``plan`` (made by ``ex``) and their column edges into
    the node ``sink_uid``, whose columns are ``plan``'s output columns."""
    out_map: dict[int, int | None] = {eid: i for i, (_, eid) in enumerate(plan.output())}
    nodes: dict[str, GraphNode] = {}
    edges: list[GraphEdge] = []
    _contract_plan(plan, out_map, ex, nodes, edges, sink_uid, set())
    return list(nodes.values()), edges


def contracted_from_tree(
    plan: PlanNode, qnode: GraphNode, ex: LineageExtractor
) -> tuple[list[GraphNode], list[GraphEdge]]:
    """Contract an annotated plan tree onto its query node."""
    nodes, edges = contract(plan, ex, qnode.unique_id)
    return nodes + [qnode], edges
