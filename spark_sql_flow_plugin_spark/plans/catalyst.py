"""Catalyst optimized-plan introspection without a jar.

``df._jdf.queryExecution().optimizedPlan().toJSON()`` returns the whole
logical plan — operator classes, expression trees, attribute exprIds — in a
single py4j round-trip (SURVEY.md §7 "plan-access paths"). This module
rebuilds the tree in Python and derives, per node:

- ``output``: the ordered list of (attribute name, exprId) the node emits.
  Catalyst only serializes ``output`` for nodes that store it (leaves,
  Expand, Generate, pandas-map nodes); for the rest we re-derive it exactly
  as Catalyst defines it (Project → projectList, Aggregate →
  aggregateExpressions, Join → by join type, …).
- per-output-expression *references*: the input exprIds each output column
  reads (drives the lineage edge rules in lineage.py).

Fields are parsed lazily and once: ``exprs(field)``, ``output()`` and a
subquery expression's nested plan (``ExprNode.subquery_plan``) are memoized
on the node objects, outside ``raw`` (so plan hashing never sees them), and
annotation, edge rules and contraction all read the same trees.

TreeNode JSON layout: a plan (or expression) tree is a flat JSON array in
pre-order; each element's ``num-children`` reconstructs the shape. A field
holding one expression is a flat array of expression dicts; a field holding
Seq[Expression] is an array of such arrays.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: subquery expression classes: each carries its nested plan in field "plan"
SUBQUERY_EXPR_CLASSES = ("ScalarSubquery", "Exists", "ListQuery", "LateralSubquery")

#: plan-node fields whose expressions can hold subquery expressions
SUBQUERY_FIELDS = ("condition", "projectList", "aggregateExpressions")

# ---------------------------------------------------------------------------
# Expression trees
# ---------------------------------------------------------------------------


@dataclass
class ExprNode:
    cls: str  # short class name, e.g. "AttributeReference", "Alias"
    raw: dict
    children: list["ExprNode"] = field(default_factory=list)
    #: a subquery expression's nested plan, once parsed (``subquery_plan``)
    plan: "PlanNode | None" = field(default=None, repr=False, compare=False)

    @property
    def name(self) -> str | None:
        return self.raw.get("name")

    @property
    def expr_id(self) -> int | None:
        eid = self.raw.get("exprId")
        return eid.get("id") if isinstance(eid, dict) else None

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def references(self) -> list[tuple[str, int]]:
        """All (name, exprId) of AttributeReference descendants (incl. self),
        the Python analog of Catalyst ``expr.references`` — top-level
        attributes only, matching the reference's column granularity
        (SQLFlow.scala:372,380)."""
        out = []
        for n in self.walk():
            if n.cls in ("AttributeReference", "OuterReference") and n.expr_id is not None:
                out.append((n.name or "", n.expr_id))
        return out

    def has_subquery(self) -> bool:
        return any(n.cls in SUBQUERY_EXPR_CLASSES for n in self.walk())

    def subquery_plan(self) -> "PlanNode | None":
        """This subquery expression's (ScalarSubquery / Exists / ListQuery /
        LateralSubquery) nested plan, parsed on first use and memoized in
        ``plan``; None for any other expression. Annotation fills the tree
        in place, and catalog substitution may replace it there."""
        if self.plan is None and self.cls in SUBQUERY_EXPR_CLASSES:
            raw_plan = self.raw.get("plan")
            if isinstance(raw_plan, list) and raw_plan:
                self.plan = parse_plan_list(raw_plan)
                # contracted mode treats Exists/ListQuery outputs as dead
                # (the optimizer's semi/anti-join rewrite discards the
                # subquery SELECT list) — tag the flavor
                self.plan.raw.setdefault("_sq_kind", self.cls)
        return self.plan

    def subqueries(self) -> list["ExprNode"]:
        """Subquery expressions with a nested plan anywhere under this
        expression, in pre-order."""
        return [n for n in self.walk() if n.subquery_plan() is not None]


def _short(cls: str) -> str:
    return cls.rsplit(".", 1)[-1]


def _parse_flat(nodes: list[dict], make) -> object:
    """Rebuild a pre-order flat list (plan or expression) into a tree."""
    pos = 0

    def build():
        nonlocal pos
        raw = nodes[pos]
        pos += 1
        n_children = raw.get("num-children", 0)
        children = [build() for _ in range(n_children)]
        return make(raw, children)

    return build()


def _make_expr(raw: dict, children: list[ExprNode]) -> ExprNode:
    cls = _short(raw.get("class", "?"))
    # OuterReference serializes with num-children 0, embedding its wrapped
    # attribute in field "e" — recover it as a child so correlation walks
    # (references(), _split_outer_inner) see the outer exprId
    if not children and cls == "OuterReference":
        e = raw.get("e")
        if isinstance(e, list) and e:
            children = [parse_expr_list(e)]
    return ExprNode(cls, raw, children)


def parse_expr_list(flat: list[dict]) -> ExprNode:
    return _parse_flat(flat, _make_expr)


def _expr_field(value) -> list[ExprNode]:
    """Parse a JSON field that holds expressions.

    ``[{...}, {...}]``  (list of dicts)  → ONE expression tree
    ``[[{...}], ...]`` (list of lists)  → a Seq of expression trees
    """
    if not isinstance(value, list) or not value:
        return []
    if isinstance(value[0], dict):
        return [parse_expr_list(value)]
    return [parse_expr_list(v) for v in value if isinstance(v, list) and v]


# ---------------------------------------------------------------------------
# Plan trees
# ---------------------------------------------------------------------------

#: classes whose JSON carries an explicit ``output`` field we should prefer
_HAS_OUTPUT_FIELD = {
    "LogicalRelation",
    "LocalRelation",
    "InMemoryRelation",
    "HiveTableRelation",
    "Range",
    "OneRowRelation",
    "Expand",
    "ExternalRDD",
    "LogicalRDD",
    "CTERelationRef",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "PythonMapInArrow",
    "MapInArrow",
    "View",
}

@dataclass
class PlanNode:
    cls: str
    raw: dict
    children: list["PlanNode"] = field(default_factory=list)
    _exprs: dict = field(default_factory=dict, repr=False, compare=False)
    _out: list | None = field(default=None, repr=False, compare=False)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    # -- expression accessors ------------------------------------------------

    def exprs(self, field_name: str) -> list[ExprNode]:
        """The expression trees of one JSON field, parsed on first use and
        memoized (callers share the list and must not mutate it)."""
        got = self._exprs.get(field_name)
        if got is None:
            got = self._exprs[field_name] = _expr_field(self.raw.get(field_name))
        return got

    def subqueries(self) -> list[ExprNode]:
        """Every subquery expression in this node's ``SUBQUERY_FIELDS``,
        field by field and each in pre-order, which is the order the JVM's
        ``plan.subqueries()`` lists their plans in."""
        return [sq for f in SUBQUERY_FIELDS for e in self.exprs(f) for sq in e.subqueries()]

    @property
    def join_type(self) -> str:
        jt = self.raw.get("joinType")
        if isinstance(jt, dict):
            if "object" in jt:  # e.g. {"object": "...plans.LeftSemi$"}
                return _short(jt["object"]).rstrip("$")
            pc = jt.get("product-class")
            if pc:  # ExistenceJoin carries its exists attr
                return _short(pc)
        return "Inner"

    # -- output derivation ----------------------------------------------------

    def output(self) -> list[tuple[str, int]]:
        """Ordered (name, exprId) this operator emits — Catalyst's
        ``plan.output`` re-derived from the serialized fields.

        Memoized, so it is computed only once the tree is final: after
        annotation (Generate's ``_unrequired``) and catalog substitution
        (rewired ``children``); catalog's ``_temp_view_leaf`` reads it
        earlier only on a subtree it discards. Callers must not mutate it."""
        if self._out is None:
            self._out = self._derive_output()
        return self._out

    def _derive_output(self) -> list[tuple[str, int]]:
        if "_output" in self.raw:  # synthetic nodes (TempViewNode substitution)
            return list(self.raw["_output"])
        if self.cls in _HAS_OUTPUT_FIELD or "output" in self.raw:
            attrs = self.exprs("output")
            if attrs:
                return [_attr(a) for a in attrs]
        if self.cls == "Project":
            return [_attr(e, e.cls) for e in self.exprs("projectList")]
        if self.cls == "Aggregate":
            return [_attr(e, e.cls) for e in self.exprs("aggregateExpressions")]
        if self.cls == "Window":
            return self.children[0].output() + [
                _attr(e, e.cls) for e in self.exprs("windowExpressions")
            ]
        if self.cls in ("BatchEvalPythonUDTF", "ArrowEvalPythonUDTF"):
            # Spark: output = requiredChildOutput ++ resultAttrs (the UDTF
            # eval nodes carry no plain "output" field in toJSON)
            return [
                _attr(a) for f in ("requiredChildOutput", "resultAttrs") for a in self.exprs(f)
            ]
        if self.cls == "Generate":
            # unrequiredChildIndex serializes as JSON null; annotate_plan
            # recovers it into _unrequired
            unrequired = set(
                self.raw.get("_unrequired")
                or self.raw.get("unrequiredChildIndex")
                or []
            )
            child_out = [
                a for i, a in enumerate(self.children[0].output()) if i not in unrequired
            ]
            return child_out + [_attr(a) for a in self.exprs("generatorOutput")]
        if self.cls == "Join":
            jt = self.join_type
            left = self.children[0].output()
            if jt in ("LeftSemi", "LeftAnti"):
                return left
            if jt == "ExistenceJoin":
                exists = self.raw.get("joinType", {}).get("exists")
                extra = []
                if isinstance(exists, list) and exists:
                    a = parse_expr_list(exists)
                    extra = [_attr(a, "exists")]
                return left + extra
            return left + self.children[1].output()
        if self.cls in ("Union",):
            return self.children[0].output()
        if self.cls == "WithCTE":
            # WithCTE children are cteDefs :+ plan — the main plan is LAST
            return self.children[-1].output()
        if self.children:  # Filter, Sort, Limits, Repartition, Sample, ...
            return self.children[0].output()
        return []

    @property
    def is_leaf(self) -> bool:
        return not self.children

    def node_name(self) -> str:
        return self.cls


def _attr(e: ExprNode, unnamed: str = "") -> tuple[str, int]:
    """(name, exprId) of an attribute or a named expression (top-level
    project/aggregate entries: Alias or AttributeReference); a missing
    exprId reads -1."""
    return (e.name or unnamed, e.expr_id if e.expr_id is not None else -1)


def parse_plan_list(flat: list[dict]) -> PlanNode:
    return _parse_flat(
        flat, lambda raw, ch: PlanNode(_short(raw.get("class", "?")), raw, ch)
    )


def parse_plan_json(plan_json: str) -> PlanNode:
    return parse_plan_list(json.loads(plan_json))
