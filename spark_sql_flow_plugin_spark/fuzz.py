"""Differential random-query fuzzer (mini-sqlsmith) against DuckDB.

The 345 hand-written registry oracles all share one author's blind
spots; this module removes that bias by GENERATING queries from a seeded
grammar over the TPC-H views and asserting Spark == DuckDB bit-exact on
every seed (the same comparison conventions as tools/check_oracle.py:
column names, row count, order-insensitive multiset of
shortest-roundtrip cell reprs).

Every query is built as a pair of dialect strings from one expression
tree; the node constructors bake in the repo's established cross-engine
exactness conventions, each of which defends against a divergence that
was actually observed (see .claude/skills/verify/SKILL.md "Gotchas"):

- money/double columns enter the int domain ONLY floor-quantized
  (``CAST(FLOOR(x * 100 + 0.5) AS BIGINT)`` — a bare CAST truncates in
  Spark but rounds in DuckDB);
- integer SUMs carry an outer CAST(... AS BIGINT) in BOTH dialects
  (DuckDB widens to pandas-unfaithful HUGEINT);
- ``%`` and integer division apply to ``abs()``-wrapped dividends with
  positive literal divisors, so truncation-vs-floor conventions can
  never disagree (probed: both engines truncate toward zero, but the
  grammar does not rely on it); ``DIV`` (Spark) pairs with ``//``
  (DuckDB);
- string concatenation uses ``||`` (NULL-propagating in both) — never
  ``concat()``, which IGNORES NULLs in DuckDB but yields NULL in Spark;
- ROLLUP shapes always carry ``HAVING COUNT(*) > 0`` (DuckDB emits the
  () super-aggregate row over empty input, Spark emits nothing);
- window specs ORDER BY a key set that is unique within the partition
  (the grouped frame's remaining group keys), so ranking/offset
  functions are total-order deterministic; running aggregates use an
  explicit ROWS frame;
- every integer expression tracks a magnitude bound; SUM arguments are
  rejected above 1e9 so no group sum can approach int64 even at sf1
  row counts (Spark 4 ANSI mode turns silent wraps into errors — the
  bound keeps both engines in-range instead);
- AVG is never emitted; ratios are ``CAST(SUM AS DOUBLE) / COUNT``
  (identical single IEEE division on identical exact ints).

Each generated top-level SELECT aliases its outputs c0..cN identically
in both dialects, matching the driver's sort-columns-by-name compare.

Shapes drawn per seed: join-chain aggregates (optional HAVING), sampled
projections (DISTINCT sometimes), window batteries over grouped frames,
bounded window FRAMES (sliding ROWS n PRECEDING..m FOLLOWING,
value-based RANGE frames over exact integer keys with ties kept,
explicit-frame FIRST_VALUE/LAST_VALUE, empty-frame NULL/0 conventions),
set operations (UNION/UNION ALL over aggregate branches;
INTERSECT/EXCEPT over DISTINCT key projections — aggregate tuples from
differently-filtered branches are near-always disjoint, which checks
nothing), ROLLUP, subquery forms (IN / correlated EXISTS / scalar
comparison), and the Generate surface (explode/unnest of split() and
collect_set/list(DISTINCT) arrays, posexplode-with-ordinality zipped to
DuckDB's parallel unnest()s, stack() unpivot vs its UNION ALL
desugaring) — the consumed-query families of SURVEY.md §2.D. Predicates
in emptiness-prone positions (subquery filters, set-op branches) draw
from a satisfiability-biased family most of the time, so each shape's
seeds mostly compare POPULATED results (per-shape floors are asserted
in tests/test_differential_fuzz.py).

Reference corpus analogue: the reference's own test inputs are likewise
hand-picked SQL files (src/test/resources/sql-flow-tests/inputs/*.sql);
this fuzzer is the adversarial complement the reference never had.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from .rows import norm_rows

# TPC-H views the generator draws from (registered by sources.register_views)
FUZZ_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)

# ---------------------------------------------------------------------------
# typed expression pairs
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Ex:
    spark: str
    duck: str
    typ: str  # int | str | date | bool | double
    mag: float = 0.0  # |value| bound for int exprs (overflow discipline)


def _same(sql: str, typ: str, mag: float = 0.0) -> Ex:
    return Ex(sql, sql, typ, mag)


# column kinds: int (with mag), str (with literal pool), date, money
# (2-decimal double quantized to cents on use). mags are sized for sf1
# (~100x the sf0.01 key ranges) with an order of magnitude of headroom.
_COLS = {
    "region": {"r_regionkey": ("int", 10)},
    "nation": {
        "n_nationkey": ("int", 50),
        "n_regionkey": ("int", 10),
        "n_name": ("str", ["NATION_3", "NATION_12", "NATION_21"]),
    },
    "customer": {
        "c_custkey": ("int", 1e7),
        "c_nationkey": ("int", 50),
        "c_acctbal": ("money", 1e6),
        "c_mktsegment": (
            "str",
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
        ),
        "c_name": ("str", ["Customer#000000007", "Customer#000000042"]),
    },
    "supplier": {
        "s_suppkey": ("int", 1e6),
        "s_nationkey": ("int", 50),
        "s_acctbal": ("money", 1e6),
        "s_name": ("str", ["Supplier#000000003"]),
    },
    "part": {
        "p_partkey": ("int", 1e7),
        "p_size": ("int", 60),
        "p_retailprice": ("money", 1e5),
        "p_brand": ("str", ["Brand#14", "Brand#25", "Brand#3", "Brand#8"]),
        "p_type": (
            "str",
            ["ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO"],
        ),
        "p_name": ("str", ["small ring", "red widget", "blue bolt"]),
    },
    "orders": {
        "o_orderkey": ("int", 1e8),
        "o_custkey": ("int", 1e7),
        "o_totalprice": ("money", 6e5),
        "o_orderdate": ("date", None),
        "o_orderstatus": ("str", ["O", "F", "P"]),
        "o_orderpriority": (
            "str",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        ),
    },
    "lineitem": {
        "l_orderkey": ("int", 1e8),
        "l_partkey": ("int", 1e7),
        "l_suppkey": ("int", 1e6),
        "l_linenumber": ("int", 10),
        "l_quantity": ("money", 60),  # integral-valued double: quantize anyway
        "l_extendedprice": ("money", 2e5),
        "l_discount": ("money", 1),
        "l_tax": ("money", 1),
        "l_returnflag": ("str", ["A", "N", "R"]),
        "l_linestatus": ("str", ["O", "F"]),
        "l_shipdate": ("date", None),
    },
}

# FK join edges: (left table, right table, join condition)
_EDGES = [
    ("lineitem", "orders", "l_orderkey = o_orderkey"),
    ("lineitem", "part", "l_partkey = p_partkey"),
    ("lineitem", "supplier", "l_suppkey = s_suppkey"),
    ("orders", "customer", "o_custkey = c_custkey"),
    ("customer", "nation", "c_nationkey = n_nationkey"),
    ("supplier", "nation", "s_nationkey = n_nationkey"),
    ("nation", "region", "n_regionkey = r_regionkey"),
]

_DATE_POOL = [
    "1995-06-17",
    "1996-01-01",
    "1997-03-30",
    "1998-08-09",
    "1999-11-25",
    "2000-05-02",
]


def _cents(col: str, mag: float) -> Ex:
    return _same(f"CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)", "int", mag * 100)


def _cols_of(tables: list[str]):
    """(name, kind, extra) for every column visible from the join chain.
    TPC-H column names are globally unique, so no qualification needed."""
    out = []
    for t in tables:
        for c, (kind, extra) in _COLS[t].items():
            out.append((c, kind, extra))
    return out


# ---------------------------------------------------------------------------
# expression generators
# ---------------------------------------------------------------------------


def _int_col(rng: random.Random, cols) -> Ex:
    ints = [(c, e) for c, k, e in cols if k == "int"]
    moneys = [(c, e) for c, k, e in cols if k == "money"]
    if moneys and (not ints or rng.random() < 0.4):
        c, m = rng.choice(moneys)
        return _cents(c, m)
    c, m = rng.choice(ints)
    return _same(c, "int", m)


def _str_col(rng: random.Random, cols):
    pool = [(c, e) for c, k, e in cols if k == "str"]
    return rng.choice(pool) if pool else None


def _date_col(rng: random.Random, cols):
    pool = [c for c, k, _ in cols if k == "date"]
    return rng.choice(pool) if pool else None


def _int_expr(rng: random.Random, cols, depth: int = 2) -> Ex:
    if depth <= 0:
        return _int_col(rng, cols) if rng.random() < 0.7 else _same(
            str(rng.randint(0, 500)), "int", 500
        )
    r = rng.random()
    if r < 0.30:
        return _int_col(rng, cols)
    if r < 0.38:
        return _same(str(rng.randint(1, 1000)), "int", 1000)
    if r < 0.50:
        a = _int_expr(rng, cols, depth - 1)
        b = _int_expr(rng, cols, depth - 1)
        op = rng.choice(["+", "-"])
        return Ex(
            f"({a.spark} {op} {b.spark})",
            f"({a.duck} {op} {b.duck})",
            "int",
            a.mag + b.mag,
        )
    if r < 0.58:
        a = _int_expr(rng, cols, depth - 1)
        k = rng.randint(2, 9)
        return Ex(f"({a.spark} * {k})", f"({a.duck} * {k})", "int", a.mag * k)
    if r < 0.68:
        a = _int_expr(rng, cols, depth - 1)
        k = rng.choice([7, 13, 31, 97, 1009])
        return Ex(
            f"(abs({a.spark}) % {k})", f"(abs({a.duck}) % {k})", "int", k
        )
    if r < 0.76:
        a = _int_expr(rng, cols, depth - 1)
        k = rng.choice([2, 3, 5, 10, 100])
        return Ex(
            f"(abs({a.spark}) DIV {k})",
            f"(abs({a.duck}) // {k})",
            "int",
            a.mag / k + 1,
        )
    if r < 0.84:
        b = _bool_expr(rng, cols, depth - 1)
        a1 = _int_expr(rng, cols, depth - 1)
        a2 = _int_expr(rng, cols, depth - 1)
        return Ex(
            f"(CASE WHEN {b.spark} THEN {a1.spark} ELSE {a2.spark} END)",
            f"(CASE WHEN {b.duck} THEN {a1.duck} ELSE {a2.duck} END)",
            "int",
            max(a1.mag, a2.mag),
        )
    if r < 0.92:
        s = _str_expr(rng, cols, depth - 1)
        if s is not None:
            return Ex(
                f"CAST(length({s.spark}) AS INT)",
                f"CAST(length({s.duck}) AS INT)",
                "int",
                100,
            )
        return _int_col(rng, cols)
    d = _date_col(rng, cols)
    if d is not None:
        f = rng.choice(["year", "month", "day"])
        return _same(f"{f}(CAST({d} AS DATE))", "int", 2100)
    return _int_col(rng, cols)


def _str_expr(rng: random.Random, cols, depth: int = 1):
    base = _str_col(rng, cols)
    if base is None:
        return None
    col = base[0]
    if depth <= 0 or rng.random() < 0.4:
        return _same(col, "str")
    r = rng.random()
    if r < 0.3:
        return _same(f"upper({col})", "str")
    if r < 0.5:
        return _same(f"lower({col})", "str")
    if r < 0.75:
        start = rng.randint(1, 3)
        n = rng.randint(2, 6)
        return _same(f"substr({col}, {start}, {n})", "str")
    other = _str_col(rng, cols)
    lit = "'_'" if other is None else other[0]
    return _same(f"({col} || {lit})", "str")


def _bool_expr(rng: random.Random, cols, depth: int = 2) -> Ex:
    r = rng.random()
    if depth <= 0 or r < 0.35:
        a = _int_expr(rng, cols, 1)
        op = rng.choice(["<", "<=", "=", "<>", ">", ">="])
        if rng.random() < 0.5:
            b = _int_expr(rng, cols, 1)
            return Ex(
                f"({a.spark} {op} {b.spark})", f"({a.duck} {op} {b.duck})", "bool"
            )
        lit = rng.randint(0, int(min(a.mag, 1e6)) + 10)
        return Ex(f"({a.spark} {op} {lit})", f"({a.duck} {op} {lit})", "bool")
    if r < 0.50:
        sc = _str_col(rng, cols)
        if sc is not None:
            col, pool = sc
            if rng.random() < 0.4 and pool:
                vals = rng.sample(pool, min(len(pool), rng.randint(1, 3)))
                inlist = ", ".join(f"'{v}'" for v in vals)
                return _same(f"({col} IN ({inlist}))", "bool")
            if rng.random() < 0.5 and pool:
                v = rng.choice(pool)
                return _same(f"({col} = '{v}')", "bool")
            if pool:
                frag = rng.choice(pool)
                frag = frag[: rng.randint(2, max(2, len(frag) // 2))]
                return _same(f"({col} LIKE '%{frag}%')", "bool")
        # fall through to int comparison
        return _bool_expr(rng, cols, 0)
    if r < 0.62:
        d = _date_col(rng, cols)
        if d is not None:
            if rng.random() < 0.5:
                lit = rng.choice(_DATE_POOL)
                op = rng.choice(["<", "<=", ">", ">="])
                return _same(f"(CAST({d} AS DATE) {op} DATE '{lit}')", "bool")
            lo, hi = sorted(rng.sample(_DATE_POOL, 2))
            return _same(
                f"(CAST({d} AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}')",
                "bool",
            )
        return _bool_expr(rng, cols, 0)
    if r < 0.72:
        a = _int_expr(rng, cols, 1)
        lo = rng.randint(0, 400)
        hi = lo + rng.randint(1, 2000)
        return Ex(
            f"({a.spark} BETWEEN {lo} AND {hi})",
            f"({a.duck} BETWEEN {lo} AND {hi})",
            "bool",
        )
    if r < 0.88:
        a = _bool_expr(rng, cols, depth - 1)
        b = _bool_expr(rng, cols, depth - 1)
        op = rng.choice(["AND", "OR"])
        return Ex(
            f"({a.spark} {op} {b.spark})", f"({a.duck} {op} {b.duck})", "bool"
        )
    a = _bool_expr(rng, cols, depth - 1)
    return Ex(f"(NOT {a.spark})", f"(NOT {a.duck})", "bool")


def _sat_bool(rng: random.Random, cols) -> Ex:
    """A predicate biased toward SATISFIABILITY (>= ~1/3 of rows in
    expectation): subquery/set-op shapes that draw fully-random
    predicates skew toward empty results at small scale factors, and an
    empty-vs-empty agreement checks less than a populated one (round-11
    verdict #1). Comparison structure still varies; only the selectivity
    is pinned high."""
    r = rng.random()
    if r < 0.45:
        a = _int_col(rng, cols)
        k = rng.choice([3, 4, 5])
        j = rng.randint(k // 2, k - 1)  # keeps >= half the residues
        return Ex(
            f"((abs({a.spark}) % {k}) <= {j})",
            f"((abs({a.duck}) % {k}) <= {j})",
            "bool",
        )
    if r < 0.70:
        sc = _str_col(rng, cols)
        if sc is not None and sc[1]:
            col, pool = sc
            n = max(1, len(pool) - 1)  # most of the pool
            vals = rng.sample(pool, rng.randint(max(1, n - 1), n))
            inlist = ", ".join(f"'{v}'" for v in vals)
            return _same(f"({col} IN ({inlist}))", "bool")
    d = _date_col(rng, cols)
    if d is not None and rng.random() < 0.6:
        # one wide half-open range (the pool spans the data's range)
        if rng.random() < 0.5:
            return _same(
                f"(CAST({d} AS DATE) >= DATE '{_DATE_POOL[0]}')", "bool"
            )
        return _same(
            f"(CAST({d} AS DATE) <= DATE '{_DATE_POOL[-1]}')", "bool"
        )
    a = _int_col(rng, cols)
    return Ex(f"({a.spark} >= 0)", f"({a.duck} >= 0)", "bool")


def _sum_arg(rng: random.Random, cols) -> Ex:
    """An int expr whose magnitude bound keeps any SUM far from int64:
    <= 1e9 per row x <= 1e7 rows (sf1 lineitem) = 1e16 << 9.2e18."""
    for _ in range(20):
        e = _int_expr(rng, cols, 2)
        if e.mag <= 1e9:
            return e
    return _same("1", "int", 1)


# ---------------------------------------------------------------------------
# clause generators
# ---------------------------------------------------------------------------


def _chain(rng: random.Random):
    """Random FK join chain; returns (FROM text, visible columns)."""
    start = rng.choice(list(_COLS))
    tables = [start]
    frm = start
    for _ in range(rng.randint(0, 3)):
        opts = [
            (l, r, c)
            for (l, r, c) in _EDGES
            if (l in tables) != (r in tables)  # extend, never revisit
        ]
        if not opts:
            break
        l, r, cond = rng.choice(opts)
        new = r if l in tables else l
        jt = rng.choice(["JOIN", "JOIN", "JOIN", "LEFT JOIN"])
        frm += f" {jt} {new} ON {cond}"
        tables.append(new)
    return frm, _cols_of(tables)


def _group_keys(rng: random.Random, cols, n: int):
    """n grouping key exprs (typed pairs)."""
    keys = []
    for _ in range(n):
        r = rng.random()
        if r < 0.4:
            sc = _str_col(rng, cols)
            if sc is not None:
                if rng.random() < 0.3:
                    k = rng.randint(1, 3)
                    keys.append(_same(f"substr({sc[0]}, 1, {k})", "str"))
                else:
                    keys.append(_same(sc[0], "str"))
                continue
        if r < 0.55:
            d = _date_col(rng, cols)
            if d is not None:
                keys.append(
                    _same(f"{rng.choice(['year', 'month'])}(CAST({d} AS DATE))", "int", 2100)
                )
                continue
        if r < 0.7:
            a = _int_col(rng, cols)
            k = rng.choice([3, 5, 7, 10])
            keys.append(
                Ex(f"(abs({a.spark}) % {k})", f"(abs({a.duck}) % {k})", "int", k)
            )
            continue
        if r < 0.8:
            # CASE bucket key
            b = _bool_expr(rng, cols, 1)
            keys.append(
                Ex(
                    f"(CASE WHEN {b.spark} THEN 1 ELSE 0 END)",
                    f"(CASE WHEN {b.duck} THEN 1 ELSE 0 END)",
                    "int",
                    1,
                )
            )
            continue
        ints = [(c, e) for c, k_, e in cols if k_ == "int" and e <= 100]
        if ints:
            c, m = rng.choice(ints)
            keys.append(_same(c, "int", m))
        else:
            a = _int_col(rng, cols)
            keys.append(
                Ex(f"(abs({a.spark}) % 10)", f"(abs({a.duck}) % 10)", "int", 10)
            )
    return keys


def _aggs(rng: random.Random, cols, n: int):
    """n aggregate exprs (typed pairs, oracle-safe output types)."""
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.25:
            out.append(_same("CAST(COUNT(*) AS BIGINT)", "int", 1e8))
        elif r < 0.40:
            a = _int_col(rng, cols)
            out.append(
                Ex(
                    f"CAST(COUNT(DISTINCT {a.spark}) AS BIGINT)",
                    f"CAST(COUNT(DISTINCT {a.duck}) AS BIGINT)",
                    "int",
                    1e8,
                )
            )
        elif r < 0.65:
            a = _sum_arg(rng, cols)
            out.append(
                Ex(
                    f"CAST(SUM({a.spark}) AS BIGINT)",
                    f"CAST(SUM({a.duck}) AS BIGINT)",
                    "int",
                    1e16,
                )
            )
        elif r < 0.80:
            a = _int_expr(rng, cols, 1)
            f = rng.choice(["MIN", "MAX"])
            out.append(
                Ex(f"{f}({a.spark})", f"{f}({a.duck})", "int", a.mag)
            )
        elif r < 0.90:
            sc = _str_col(rng, cols)
            if sc is not None:
                f = rng.choice(["MIN", "MAX"])
                out.append(_same(f"{f}({sc[0]})", "str"))
            else:
                out.append(_same("CAST(COUNT(*) AS BIGINT)", "int", 1e8))
        else:
            a = _sum_arg(rng, cols)
            out.append(
                Ex(
                    f"(CAST(SUM({a.spark}) AS DOUBLE) / COUNT(*))",
                    f"(CAST(SUM({a.duck}) AS DOUBLE) / COUNT(*))",
                    "double",
                )
            )
    return out


def _render(select_items, frm, where=None, group=None, having=None,
            distinct=False, dialect="spark"):
    side = (lambda e: e.spark) if dialect == "spark" else (lambda e: e.duck)
    cols = ", ".join(
        f"{side(e)} AS c{i}" for i, e in enumerate(select_items)
    )
    q = f"SELECT {'DISTINCT ' if distinct else ''}{cols} FROM {frm}"
    if where is not None:
        q += f" WHERE {side(where)}"
    if group:
        q += f" GROUP BY {group}"
    if having is not None:
        q += f" HAVING {side(having)}"
    return q


# ---------------------------------------------------------------------------
# top-level shapes
# ---------------------------------------------------------------------------


def _shape_agg(rng: random.Random):
    frm, cols = _chain(rng)
    nk = rng.randint(1, 2)
    keys = _group_keys(rng, cols, nk)
    aggs = _aggs(rng, cols, rng.randint(1, 3))
    where = _bool_expr(rng, cols) if rng.random() < 0.8 else None
    having = None
    hr = rng.random()
    if hr < 0.25:
        having = _same(f"COUNT(*) > {rng.randint(1, 5)}", "bool")
    elif hr < 0.4:
        # HAVING on an aggregate expression (full repetition, not alias —
        # portable to both engines regardless of alias-resolution rules)
        a = _sum_arg(rng, cols)
        lit = rng.randint(0, 10000)
        having = Ex(
            f"SUM({a.spark}) > {lit}", f"SUM({a.duck}) > {lit}", "bool"
        )
    group = ", ".join(f"c{i}" for i in range(nk))
    # GROUP BY by output ordinal alias works in both engines
    items = keys + aggs
    return (
        _render(items, frm, where, group, having, dialect="spark"),
        _render(items, frm, where, group, having, dialect="duck"),
    )


# join-key equivalence classes of the FK chain (_EDGES, transitively
# closed on nationkey). Two grouping keys touching DISTINCT members of
# one class are provably equal on every joined row — and DuckDB's
# equivalence-class rewrite then substitutes one for the other BEFORE
# grouping-sets expansion, defeating the SQL-standard NULL-fill of
# non-grouped columns (seed 10128: GROUPING SETS ((n_nationkey),
# (s_nationkey), ...) under ON s_nationkey = n_nationkey — Spark emits
# the standard NULL-filled rows, DuckDB emits the join value in both
# columns). Spark is standard-correct; the NULL-filling shapes simply
# never draw such a pair (negative-control witness in
# tests/test_fuzz_negative_controls.py).
_JOIN_EQ_CLASSES = [
    {"l_orderkey", "o_orderkey"},
    {"l_partkey", "p_partkey"},
    {"l_suppkey", "s_suppkey"},
    {"o_custkey", "c_custkey"},
    {"c_nationkey", "n_nationkey", "s_nationkey"},
    {"n_regionkey", "r_regionkey"},
]


def _join_equated(a: "Ex", b: "Ex") -> bool:
    for cls in _JOIN_EQ_CLASSES:
        ca = {c for c in cls if c in a.spark}
        cb = {c for c in cls if c in b.spark}
        if ca and cb and ca != cb:
            return True
    return False


def _shape_rollup(rng: random.Random):
    frm, cols = _chain(rng)
    keys = _group_keys(rng, cols, 2)
    if _join_equated(keys[0], keys[1]):
        # r14 (verdict item #6): KEEP generating the join-equated shape
        # instead of redrawing (the r13 guard excluded it). DuckDB
        # rewrites join-equated columns to one representative BEFORE
        # grouping-sets expansion, collapsing the half-NULL rows the
        # SQL standard requires (seed-10128 witness,
        # tests/test_fuzz_negative_controls.py — still diverging
        # unwrapped). Wrapping the second key's ORACLE text in
        # COALESCE(e, e) defeats that rewrite without changing values
        # (probed: plain and `e + 0` still collapse — constant-folded —
        # while COALESCE(e, e) and CAST survive, restoring standard
        # NULL-fill even for derived expressions over equated columns),
        # so the standard-semantics surface stays fuzzed.
        keys = [
            keys[0],
            Ex(
                keys[1].spark,
                f"COALESCE({keys[1].duck}, {keys[1].duck})",
                keys[1].typ,
                keys[1].mag,
            ),
        ]
    aggs = _aggs(rng, cols, rng.randint(1, 2))
    where = _bool_expr(rng, cols) if rng.random() < 0.7 else None
    # the empty-input () super-aggregate divergence guard (q80 gotcha)
    having = _same("COUNT(*) > 0", "bool")
    gform = rng.choice(["ROLLUP({a}, {b})", "CUBE({a}, {b})",
                        "GROUPING SETS (({a}), ({b}), ({a}, {b}), ())"])
    items = keys + aggs
    out = []
    for dialect in ("spark", "duck"):
        side = (lambda e: e.spark) if dialect == "spark" else (lambda e: e.duck)
        group = gform.format(a=side(keys[0]), b=side(keys[1]))
        out.append(_render(items, frm, where, group, having, dialect=dialect))
    return tuple(out)


def _shape_proj(rng: random.Random):
    frm, cols = _chain(rng)
    # mandatory sampling conjunct keeps projections output-bounded
    key = _int_col(rng, cols)
    k = rng.choice([13, 31, 53, 97])
    res = rng.randint(0, k - 1)
    samp = Ex(
        f"((abs({key.spark}) % {k}) = {res})",
        f"((abs({key.duck}) % {k}) = {res})",
        "bool",
    )
    where = samp
    if rng.random() < 0.6:
        extra = _bool_expr(rng, cols)
        where = Ex(
            f"({samp.spark} AND {extra.spark})",
            f"({samp.duck} AND {extra.duck})",
            "bool",
        )
    items = []
    for _ in range(rng.randint(2, 4)):
        r = rng.random()
        if r < 0.45:
            items.append(_int_expr(rng, cols, 2))
        elif r < 0.72:
            s = _str_expr(rng, cols)
            items.append(s if s is not None else _int_expr(rng, cols, 1))
        elif r < 0.88:
            d = _date_col(rng, cols)
            if d is not None:
                items.append(_same(f"CAST({d} AS DATE)", "date"))
            else:
                items.append(_int_expr(rng, cols, 1))
        else:
            # uncorrelated scalar subquery as a SELECT item
            sub_t = rng.choice(["region", "nation", "part", "orders"])
            scols = _cols_of([sub_t])
            sa = _sum_arg(rng, scols)
            spred = _bool_expr(rng, scols, 1)
            items.append(
                Ex(
                    f"(SELECT MAX({sa.spark}) FROM {sub_t} WHERE {spred.spark})",
                    f"(SELECT MAX({sa.duck}) FROM {sub_t} WHERE {spred.duck})",
                    "int",
                    sa.mag,
                )
            )
    distinct = rng.random() < 0.3
    return (
        _render(items, frm, where, distinct=distinct, dialect="spark"),
        _render(items, frm, where, distinct=distinct, dialect="duck"),
    )


def _shape_window(rng: random.Random):
    """Window battery over a grouped frame: group keys are unique in the
    base, so PARTITION BY k0 ORDER BY (agg, k1) is a total order."""
    frm, cols = _chain(rng)
    keys = _group_keys(rng, cols, 2)
    aggs = _aggs(rng, cols, 1)
    where = _bool_expr(rng, cols) if rng.random() < 0.7 else None
    items = keys + aggs
    base = {
        d: _render(items, frm, where, "c0, c1", dialect=d)
        for d in ("spark", "duck")
    }
    a_ord = "c2 DESC, c1" if aggs[0].typ != "double" else "c1"
    spec = f"PARTITION BY c0 ORDER BY {a_ord}"
    wfs = []
    nwf = rng.randint(1, 2)
    for _ in range(nwf):
        r = rng.random()
        if r < 0.25:
            wfs.append(f"CAST(ROW_NUMBER() OVER ({spec}) AS INT)")
        elif r < 0.40:
            wfs.append(f"CAST(RANK() OVER ({spec}) AS INT)")
        elif r < 0.55:
            wfs.append(f"CAST(NTILE({rng.randint(2, 4)}) OVER ({spec}) AS INT)")
        elif r < 0.75 and aggs[0].typ == "int":
            wfs.append(
                f"CAST(SUM(c2) OVER ({spec} ROWS BETWEEN UNBOUNDED"
                f" PRECEDING AND CURRENT ROW) AS BIGINT)"
            )
        elif r < 0.82:
            off = rng.randint(1, 2)
            f = rng.choice(["LAG", "LEAD"])
            wfs.append(f"{f}(c1, {off}) OVER ({spec})")
        elif r < 0.92:
            # exact rationals under a total order: identical divisions
            f = rng.choice(["PERCENT_RANK", "CUME_DIST"])
            wfs.append(f"{f}() OVER ({spec})")
        else:
            f = rng.choice(["MIN", "MAX"])
            wfs.append(
                f"{f}(c1) OVER ({spec} ROWS BETWEEN UNBOUNDED"
                f" PRECEDING AND CURRENT ROW)"
            )
    n0 = len(items)
    sel = ", ".join(
        [f"c{i}" for i in range(n0)]
        + [f"{w} AS c{n0 + j}" for j, w in enumerate(wfs)]
    )
    return tuple(
        f"SELECT {sel} FROM ({base[d]}) b" for d in ("spark", "duck")
    )


def _shape_setop(rng: random.Random):
    frm, cols = _chain(rng)
    op = rng.choice(["UNION ALL", "UNION", "INTERSECT", "EXCEPT"])
    nb = 3 if rng.random() < 0.3 else 2
    if op in ("INTERSECT", "EXCEPT"):
        # key-set semantics, not aggregate rows: INTERSECT/EXCEPT over
        # (key, SUM) tuples from differently-filtered branches is
        # near-always empty (the agg values differ even when keys
        # match) — checking nothing. DISTINCT key projections under
        # satisfiable filters actually intersect (round-11 verdict #1).
        items = _group_keys(rng, cols, rng.randint(1, 2))
        wheres = [
            _sat_bool(rng, cols) if rng.random() < 0.8
            else _bool_expr(rng, cols)
            for _ in range(nb)
        ]
        out = []
        for d in ("spark", "duck"):
            branches = [
                "SELECT * FROM ("
                + _render(items, frm, w, distinct=True, dialect=d)
                + f") b{i}"
                for i, w in enumerate(wheres)
            ]
            out.append(f" {op} ".join(branches))
        return tuple(out)
    keys = _group_keys(rng, cols, 1)
    aggs = _aggs(rng, cols, rng.randint(1, 2))
    items = keys + aggs
    wheres = [
        _sat_bool(rng, cols) if rng.random() < 0.5 else _bool_expr(rng, cols)
        for _ in range(nb)
    ]
    out = []
    for d in ("spark", "duck"):
        branches = [
            f"SELECT * FROM ({_render(items, frm, w, 'c0', dialect=d)}) b{i}"
            for i, w in enumerate(wheres)
        ]
        out.append(f" {op} ".join(branches))
    return tuple(out)


def _shape_subq(rng: random.Random):
    kind = rng.choice(["in", "exists", "scalar"])
    if kind == "in":
        fact, dim, cond = rng.choice(_EDGES)
        fk, pk = [s.strip() for s in cond.split("=")]
        cols = _cols_of([fact])
        dcols = _cols_of([dim])
        # satisfiability bias (round-11 verdict #1): an unsatisfiable dim
        # predicate empties the whole IN result; keep 30% adversarial
        pred = (
            _sat_bool(rng, dcols) if rng.random() < 0.7
            else _bool_expr(rng, dcols)
        )
        keys = _group_keys(rng, cols, 1)
        aggs = _aggs(rng, cols, rng.randint(1, 2))
        items = keys + aggs
        out = []
        for d in ("spark", "duck"):
            side = (lambda e: e.spark) if d == "spark" else (lambda e: e.duck)
            sub = f"SELECT {pk} FROM {dim} WHERE {side(pred)}"
            q = _render(items, fact, None, "c0", dialect=d)
            q = q.replace(
                f"FROM {fact} GROUP BY",
                f"FROM {fact} WHERE {fk} IN ({sub}) GROUP BY",
            )
            out.append(q)
        return tuple(out)
    if kind == "exists":
        parent, child, cond = rng.choice(
            [(r, l, c) for (l, r, c) in _EDGES]  # dim EXISTS fact
        )
        fk, pk = [s.strip() for s in cond.split("=")]
        pcols = _cols_of([parent])
        ccols = _cols_of([child])
        pred = (
            _sat_bool(rng, ccols) if rng.random() < 0.7
            else _bool_expr(rng, ccols)
        )
        keys = _group_keys(rng, pcols, 1)
        aggs = _aggs(rng, pcols, 1)
        items = keys + aggs
        neg = "NOT " if rng.random() < 0.3 else ""
        out = []
        for d in ("spark", "duck"):
            side = (lambda e: e.spark) if d == "spark" else (lambda e: e.duck)
            sub = (
                f"SELECT 1 FROM {child} WHERE {fk} = {pk}"
                f" AND {side(pred)}"
            )
            q = _render(items, parent, None, "c0", dialect=d)
            q = q.replace(
                f"FROM {parent} GROUP BY",
                f"FROM {parent} WHERE {neg}EXISTS ({sub}) GROUP BY",
            )
            out.append(q)
        return tuple(out)
    # scalar: compare a quantized column against a subquery aggregate
    frm, cols = _chain(rng)
    a = _sum_arg(rng, cols)
    sub_t = rng.choice(["orders", "lineitem", "part"])
    scols = _cols_of([sub_t])
    sa = _sum_arg(rng, scols)
    spred = (
        _sat_bool(rng, scols) if rng.random() < 0.7
        else _bool_expr(rng, scols, 1)
    )
    keys = _group_keys(rng, cols, 1)
    aggs = _aggs(rng, cols, 1)
    items = keys + aggs
    op = rng.choice([">", "<"])
    out = []
    for d in ("spark", "duck"):
        side = (lambda e: e.spark) if d == "spark" else (lambda e: e.duck)
        # MAX keeps the scalar int64-safe and engine-exact
        sub = f"SELECT MAX({side(sa)}) FROM {sub_t} WHERE {side(spred)}"
        w = f"{side(a)} {op} (({sub}))"
        out.append(
            _render(items, frm, _same("1=1", "bool"), "c0", dialect=d).replace(
                "WHERE 1=1", f"WHERE {w}"
            )
        )
    return tuple(out)


# parent <- child FK edges with the child-rows-per-parent fanout the
# _rare_bool selectivity is tuned against. The ratios are SF-invariant in
# TPC-H-ish generators (lineitem/orders ~4, lineitem/part ~30,
# lineitem/supplier ~600, orders/customer ~10, customer/nation ~6), so a
# ~1/fanout child predicate splits the parents on both sides of an anti
# test at EVERY scale factor.
_ANTI_EDGES = [
    # (parent, child, child_fk, parent_pk, fanout)
    ("orders", "lineitem", "l_orderkey", "o_orderkey", 4),
    ("part", "lineitem", "l_partkey", "p_partkey", 30),
    ("supplier", "lineitem", "l_suppkey", "s_suppkey", 600),
    ("customer", "orders", "o_custkey", "c_custkey", 10),
    ("nation", "customer", "c_nationkey", "n_nationkey", 6),
]


def _rare_bool(rng: random.Random, cols, fanout: int) -> Ex:
    """A child-side predicate with selectivity ~1/fanout — the anti-join
    analogue of _sat_bool (r12 verdict item #4: the registry's
    NOT EXISTS / NOT IN entries were vacuous for 12 rounds because their
    predicates matched ~every parent's children; drawing the residue
    modulus from the edge's fanout leaves each parent childless with
    probability ~(1-1/f)^f ≈ 0.4-0.8, so BOTH the kept and the dropped
    parent sets are non-trivial)."""
    k = max(2, int(fanout * rng.choice([0.75, 1.0, 1.5])))
    j = rng.randrange(k)
    ints = [(c, e) for c, kind, e in cols if kind == "int" and e >= 20 * k]
    if ints and rng.random() < 0.7:
        c, _ = rng.choice(ints)
        return _same(f"((abs({c}) % {k}) = {j})", "bool")
    moneys = [c for c, kind, e in cols if kind == "money" and e >= k]
    if moneys:
        cents = f"CAST(FLOOR({rng.choice(moneys)} * 100 + 0.5) AS BIGINT)"
        return _same(f"((abs({cents}) % {k}) = {j})", "bool")
    c, _ = rng.choice([(c, e) for c, kind, e in cols if kind == "int"])
    return _same(f"((abs({c}) % {k}) = {j})", "bool")


def _shape_anti(rng: random.Random):
    """Dedicated anti-semantics surface (r12 verdict item #4): NOT EXISTS,
    NOT IN, null-aware NOT IN, and EXCEPT ALL with duplicates. The subq
    shape only ever negates EXISTS 30% of the time and draws sat-biased
    predicates that make anti results empty; these four forms get
    anti-tuned predicates instead.

    The null-aware variant wraps the subquery column in a CASE that is
    provably never NULL on this data (keys are non-negative) but NULLABLE
    to the optimizer — Spark must plan its null-aware anti join (a plain
    anti join would be wrong if a NULL appeared) while the compared
    values stay populated. The actually-NULL convention (one NULL in the
    list empties the result on BOTH engines) is pinned by the
    negative-control witness in tests/test_fuzz_negative_controls.py —
    as a fuzz shape it would be empty-vs-empty by design.
    """
    kind = rng.choice(
        ["not_exists", "not_in", "not_in_nullaware", "except_all"]
    )
    if kind == "except_all":
        # A \ (A AND extra) keeps per-value max(count_A - count_AB, 0):
        # duplicates survive, and the result is exactly the A-rows
        # failing `extra` — populated whenever `extra` excludes anything.
        frm, cols = _chain(rng)
        key = _group_keys(rng, cols, 1)[0]
        a = _sat_bool(rng, cols)
        extra = _bool_expr(rng, cols, 1)
        out = []
        for d in ("spark", "duck"):
            side = (lambda e: e.spark) if d == "spark" else (lambda e: e.duck)
            br_a = f"SELECT {side(key)} AS c0 FROM {frm} WHERE {side(a)}"
            br_b = (
                f"SELECT {side(key)} AS c0 FROM {frm}"
                f" WHERE ({side(a)} AND {side(extra)})"
            )
            out.append(f"{br_a} EXCEPT ALL {br_b}")
        return tuple(out)
    parent, child, fk, pk, fanout = rng.choice(_ANTI_EDGES)
    pcols = _cols_of([parent])
    ccols = _cols_of([child])
    pred = _rare_bool(rng, ccols, fanout)
    keys = _group_keys(rng, pcols, 1)
    aggs = _aggs(rng, pcols, 1)
    items = keys + aggs
    out = []
    for d in ("spark", "duck"):
        side = (lambda e: e.spark) if d == "spark" else (lambda e: e.duck)
        if kind == "not_exists":
            w = (
                f"NOT EXISTS (SELECT 1 FROM {child}"
                f" WHERE {fk} = {pk} AND {side(pred)})"
            )
        else:
            sel = (
                fk
                if kind == "not_in"
                else f"CASE WHEN {fk} < 0 THEN NULL ELSE {fk} END"
            )
            w = f"{pk} NOT IN (SELECT {sel} FROM {child} WHERE {side(pred)})"
        q = _render(items, parent, None, "c0", dialect=d)
        q = q.replace(
            f"FROM {parent} GROUP BY", f"FROM {parent} WHERE {w} GROUP BY"
        )
        out.append(q)
    return tuple(out)


def _frame_temporal(rng: random.Random, frm, cols, dcol):
    """DATE/TIMESTAMP RANGE frames with interval bounds (r14): the
    registry's `win_range_interval` covers the reference's `RANGE
    BETWEEN interval '23 days 4 hours'` battery (window.sql:14-46) with
    hand-written queries; this variant draws the shapes randomly.
    Interval arithmetic + RANGE boundaries over temporal keys is classic
    cross-engine divergence territory (calendar vs fixed-duration
    intervals), so every form below was probed on literal fixtures
    FIRST (the r13 method), all MATCH: single-unit DAY/HOUR bounds both
    directions, calendar MONTH bounds, DESC ordering, frames entirely
    past the partition end (SUM→NULL / COUNT→0), NULL keys as their own
    peer group, and the multi-unit day+hour bound — the one spot the
    DIALECTS split: Spark `INTERVAL 2 DAYS 12 HOURS` vs DuckDB
    `INTERVAL '2 days 12 hours'` (DuckDB cannot parse the unquoted
    multi-unit form).

    The window's date key is a per-group MIN (exact, deterministic);
    RANGE frames are value-defined so cross-group date ties are safe."""
    keys = _group_keys(rng, cols, 2)
    where = _bool_expr(rng, cols) if rng.random() < 0.7 else None
    items = keys + [
        _same(f"MIN(CAST({dcol} AS DATE))", "date"),
        _same("CAST(COUNT(*) AS BIGINT)", "int", 1e8),
    ]
    base = {
        d: _render(items, frm, where, "c0, c1", dialect=d)
        for d in ("spark", "duck")
    }
    wfs = []  # list of (spark_text, duck_text)
    for _ in range(rng.randint(1, 2)):
        part = "PARTITION BY c0 " if rng.random() < 0.5 else ""
        r = rng.random()
        if r < 0.25:  # fixed-duration days, trailing
            n = rng.randint(1, 40)
            f = (
                f"CAST(SUM(c3) OVER ({part}ORDER BY c2 NULLS LAST RANGE"
                f" BETWEEN INTERVAL {n} DAYS PRECEDING AND CURRENT ROW)"
                f" AS BIGINT)"
            )
            wfs.append((f, f))
        elif r < 0.40:  # leading window
            m = rng.randint(1, 30)
            f = (
                f"CAST(SUM(c3) OVER ({part}ORDER BY c2 NULLS LAST RANGE"
                f" BETWEEN CURRENT ROW AND INTERVAL {m} DAYS FOLLOWING)"
                f" AS BIGINT)"
            )
            wfs.append((f, f))
        elif r < 0.55:  # CALENDAR month bound (not a fixed duration)
            k = rng.randint(1, 2)
            f = (
                f"CAST(SUM(c3) OVER ({part}ORDER BY c2 NULLS LAST RANGE"
                f" BETWEEN INTERVAL {k} MONTH PRECEDING AND CURRENT ROW)"
                f" AS BIGINT)"
            )
            wfs.append((f, f))
        elif r < 0.65:  # DESC ordering flips the frame direction
            n = rng.randint(1, 20)
            f = (
                f"CAST(SUM(c3) OVER ({part}ORDER BY c2 DESC NULLS LAST"
                f" RANGE BETWEEN INTERVAL {n} DAYS PRECEDING AND"
                f" CURRENT ROW) AS BIGINT)"
            )
            wfs.append((f, f))
        elif r < 0.78:  # timestamp key, hour-grain bounds
            h = rng.choice([12, 24, 48, 96])
            f = (
                f"CAST(COUNT(c3) OVER ({part}ORDER BY CAST(c2 AS TIMESTAMP)"
                f" NULLS LAST RANGE BETWEEN INTERVAL {h} HOURS PRECEDING"
                f" AND CURRENT ROW) AS BIGINT)"
            )
            wfs.append((f, f))
        elif r < 0.90:  # multi-unit bound — the dialect split
            dd, hh = rng.randint(1, 3), rng.choice([6, 12, 18])
            pre = f"{part}ORDER BY CAST(c2 AS TIMESTAMP) NULLS LAST RANGE BETWEEN"
            wfs.append(
                (
                    f"CAST(SUM(c3) OVER ({pre} INTERVAL {dd} DAYS {hh} HOURS"
                    f" PRECEDING AND CURRENT ROW) AS BIGINT)",
                    f"CAST(SUM(c3) OVER ({pre} INTERVAL '{dd} days {hh} hours'"
                    f" PRECEDING AND CURRENT ROW) AS BIGINT)",
                )
            )
        else:  # frame can sit entirely past the partition end
            a = rng.randint(2, 5)
            fn = rng.choice(["SUM", "COUNT"])  # NULL vs 0 conventions
            f = (
                f"CAST({fn}(c3) OVER ({part}ORDER BY c2 NULLS LAST RANGE"
                f" BETWEEN INTERVAL {a} DAYS FOLLOWING AND"
                f" INTERVAL {a + 2} DAYS FOLLOWING) AS BIGINT)"
            )
            wfs.append((f, f))
    n0 = len(items)
    out = []
    for di, d in enumerate(("spark", "duck")):
        sel = ", ".join(
            [f"c{i}" for i in range(n0)]
            + [f"{w[di]} AS c{n0 + j}" for j, w in enumerate(wfs)]
        )
        out.append(f"SELECT {sel} FROM ({base[d]}) b")
    return tuple(out)


def _shape_frame(rng: random.Random):
    """Bounded window FRAMES (r13): sliding ROWS n PRECEDING .. m
    FOLLOWING aggregates under a tie-broken total order; value-based
    RANGE frames over an exact integer key (ties DELIBERATELY kept —
    a RANGE frame is value-defined, so its aggregate is well-defined
    even where row order isn't); FIRST_VALUE / LAST_VALUE with explicit
    frames (LAST_VALUE's DEFAULT frame ends at CURRENT ROW — the classic
    silently-wrong result — so the explicit UNBOUNDED FOLLOWING form is
    the convention this shape pins); and the empty-frame convention
    (a frame entirely FOLLOWING past the partition end: SUM → NULL,
    COUNT → 0, verified identical in both engines before this shape
    landed). All sort keys carry explicit NULLS LAST: Spark's ASC
    default is NULLS FIRST, DuckDB's is NULLS LAST."""
    frm, cols = _chain(rng)
    dcol = _date_col(rng, cols)
    if dcol is not None and rng.random() < 0.45:
        return _frame_temporal(rng, frm, cols, dcol)
    keys = _group_keys(rng, cols, 2)
    aggs = _aggs(rng, cols, 1)
    if aggs[0].typ != "int":
        aggs = [_same("CAST(COUNT(*) AS BIGINT)", "int", 1e8)]
    where = _bool_expr(rng, cols) if rng.random() < 0.7 else None
    items = keys + aggs
    base = {
        d: _render(items, frm, where, "c0, c1", dialect=d)
        for d in ("spark", "duck")
    }
    # (c0, c1) is unique, so within PARTITION BY c0 the key c1 alone is
    # a total order; c2 is the int aggregate every frame sums
    tot = "c1 NULLS LAST"
    wfs = []
    for _ in range(rng.randint(1, 2)):
        r = rng.random()
        if r < 0.30:
            a, b = rng.randint(0, 2), rng.randint(0, 2)
            wfs.append(
                f"CAST(SUM(c2) OVER (PARTITION BY c0 ORDER BY {tot}"
                f" ROWS BETWEEN {a} PRECEDING AND {b} FOLLOWING) AS BIGINT)"
            )
        elif r < 0.50:
            k = rng.choice([3, 5, 7])
            n = rng.randint(1, 3)
            hi = rng.choice(["CURRENT ROW", f"{n} FOLLOWING"])
            wfs.append(
                f"CAST(SUM(c2) OVER (ORDER BY COALESCE(abs(c2) % {k}, -1)"
                f" RANGE BETWEEN {n} PRECEDING AND {hi}) AS BIGINT)"
            )
        elif r < 0.65:
            wfs.append(
                f"LAST_VALUE(c1) OVER (PARTITION BY c0 ORDER BY {tot}"
                f" ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
            )
        elif r < 0.80:
            n = rng.randint(1, 2)
            wfs.append(
                f"FIRST_VALUE(c1) OVER (PARTITION BY c0 ORDER BY {tot}"
                f" ROWS BETWEEN {n} PRECEDING AND {n} FOLLOWING)"
            )
        elif r < 0.90:
            # frame can be entirely past the partition end: SUM → NULL
            a = rng.randint(2, 3)
            wfs.append(
                f"CAST(SUM(c2) OVER (PARTITION BY c0 ORDER BY {tot}"
                f" ROWS BETWEEN {a} FOLLOWING AND {a + 2} FOLLOWING)"
                f" AS BIGINT)"
            )
        else:
            a = rng.randint(2, 3)
            wfs.append(
                f"CAST(COUNT(c2) OVER (PARTITION BY c0 ORDER BY {tot}"
                f" ROWS BETWEEN {a} FOLLOWING AND {a + 2} FOLLOWING)"
                f" AS BIGINT)"
            )
    n0 = len(items)
    sel = ", ".join(
        [f"c{i}" for i in range(n0)]
        + [f"{w} AS c{n0 + j}" for j, w in enumerate(wfs)]
    )
    return tuple(
        f"SELECT {sel} FROM ({base[d]}) b" for d in ("spark", "duck")
    )


def _shape_lateral(rng: random.Random):
    """Correlated LATERAL aggregate subqueries (r14): ``FROM outer,
    LATERAL (SELECT aggs FROM inner WHERE fk = outer.key AND extra) v``
    — the decorrelation surface the subquery shape does not reach
    (multi-column correlated aggregates in FROM position).

    Convention baked in: the aggregate list ALWAYS includes
    CAST(COUNT(*) AS BIGINT). DuckDB 1.0's decorrelation exhibits the
    textbook COUNT bug in reverse for lateral aggregates WITHOUT a
    count: a correlated SUM/MAX-only lateral whose per-key group is
    empty DROPS the outer row entirely (standard semantics — and
    Spark — emit the NULL-aggregate row). Adding any COUNT(*) to the
    select list flips DuckDB to the correct left-join plan. Minimal
    witness pinned in tests/test_fuzz_negative_controls.py
    (test_lateral_sum_only_empty_group_diverges)."""
    outer, inner, cond = rng.choice(_EDGES)
    if rng.random() < 0.5:
        outer, inner = inner, outer  # dim-side outer: empty groups likely
    ocols = _cols_of([outer])
    icols = _cols_of([inner])
    # bounded output: sampling conjunct on the outer key space
    key = _int_col(rng, ocols)
    k = rng.choice([7, 13, 31])
    res = rng.randint(0, k - 1)
    aggs = [_same("CAST(COUNT(*) AS BIGINT)", "int", 1e9)]
    for _ in range(rng.randint(0, 2)):
        arg = _sum_arg(rng, icols)
        fn = rng.choice(["SUM", "MAX", "MIN"])
        aggs.append(
            Ex(
                f"CAST({fn}({arg.spark}) AS BIGINT)",
                f"CAST({fn}({arg.duck}) AS BIGINT)",
                "int",
                arg.mag * 1e7,
            )
        )
    extra = _bool_expr(rng, icols) if rng.random() < 0.6 else None
    out = []
    for d in ("spark", "duck"):
        side = (lambda e: e.spark) if d == "spark" else (lambda e: e.duck)
        agg_sel = ", ".join(
            f"{side(e)} AS lx{i}" for i, e in enumerate(aggs)
        )
        where_in = cond if extra is None else f"{cond} AND ({side(extra)})"
        lat_cols = ", ".join(f"v.lx{i} AS c{i + 1}" for i in range(len(aggs)))
        out.append(
            f"SELECT {side(key)} AS c0, {lat_cols}"
            f" FROM {outer}, LATERAL (SELECT {agg_sel} FROM {inner}"
            f" WHERE {where_in}) v"
            f" WHERE (abs({side(key)}) % {k}) = {res}"
        )
    return tuple(out)


def _shape_scalar_sel(rng: random.Random):
    """Correlated scalar subqueries in the SELECT list (r15): the
    decorrelation surface between _shape_subq (WHERE-position,
    uncorrelated scalar) and _shape_lateral (FROM-position aggregates)
    — each item is ``(SELECT CAST(fn(..) AS BIGINT) FROM child WHERE
    fk = pk AND pred)``. Empty per-parent groups are the interesting
    case: MAX/MIN/SUM yield the NULL row, COUNT yields 0 — probed
    identical cross-engine before wiring (unlike the FROM-position
    lateral, where DuckDB 1.0 drops SUM-only empty groups).
    _rare_bool sizes the child predicate to the edge fanout so both
    populated and empty groups appear at every SF."""
    parent, child, fk, pk, fanout = rng.choice(_ANTI_EDGES)
    pcols = _cols_of([parent])
    ccols = _cols_of([child])
    key = _int_col(rng, pcols)
    k = rng.choice([7, 13, 31])
    res = rng.randint(0, k - 1)
    where = Ex(
        f"((abs({key.spark}) % {k}) = {res})",
        f"((abs({key.duck}) % {k}) = {res})",
        "bool",
    )
    items = [_same(pk, "int", 1e9)]
    for _ in range(rng.randint(1, 3)):
        fn = rng.choice(["MAX", "MIN", "SUM", "COUNT"])
        pred = (
            _rare_bool(rng, ccols, fanout)
            if rng.random() < 0.6
            else _sat_bool(rng, ccols)
        )
        if fn == "COUNT":
            inner_s = inner_d = "COUNT(*)"
            mag = 1e9
        else:
            arg = _sum_arg(rng, ccols)
            inner_s, inner_d = f"{fn}({arg.spark})", f"{fn}({arg.duck})"
            mag = arg.mag * 1e7
        items.append(
            Ex(
                f"(SELECT CAST({inner_s} AS BIGINT) FROM {child}"
                f" WHERE {fk} = {pk} AND {pred.spark})",
                f"(SELECT CAST({inner_d} AS BIGINT) FROM {child}"
                f" WHERE {fk} = {pk} AND {pred.duck})",
                "int",
                mag,
            )
        )
    return (
        _render(items, parent, where, dialect="spark"),
        _render(items, parent, where, dialect="duck"),
    )


def _shape_toplimit(rng: random.Random):
    """ORDER BY <every output column> LIMIT k over an aggregate frame:
    a total order over the full row makes the limited prefix unique AS A
    MULTISET (duplicate full rows are interchangeable), so LIMIT — which
    is otherwise nondeterministic — becomes oracle-safe."""
    frm, cols = _chain(rng)
    keys = _group_keys(rng, cols, rng.randint(1, 2))
    aggs = _aggs(rng, cols, rng.randint(1, 2))
    items = keys + aggs
    where = _bool_expr(rng, cols) if rng.random() < 0.7 else None
    group = ", ".join(f"c{i}" for i in range(len(keys)))
    k = rng.randint(3, 25)
    # explicit NULLS placement: Spark defaults NULLS FIRST on ASC /
    # NULLS LAST on DESC, DuckDB defaults NULLS LAST on both — LEFT-join
    # keys can be NULL, so the order must be spelled out in both texts
    order = ", ".join(
        f"c{i} DESC NULLS LAST" if rng.random() < 0.4 else f"c{i} ASC NULLS FIRST"
        for i in range(len(items))
    )
    out = []
    for d in ("spark", "duck"):
        q = _render(items, frm, where, group, dialect=d)
        out.append(f"SELECT * FROM ({q}) t ORDER BY {order} LIMIT {k}")
    return tuple(out)


def _shape_agg2(rng: random.Random):
    """Two-level aggregation: inner groupBy (k1, k2), outer re-aggregates
    the inner aggregates per k1 (MAX of SUMs, COUNT of groups, SUM of
    COUNTs) — the partial/merge shape every rollup hierarchy exercises."""
    frm, cols = _chain(rng)
    keys = _group_keys(rng, cols, 2)
    aggs = _aggs(rng, cols, 1)
    inner_items = keys + aggs
    where = _bool_expr(rng, cols) if rng.random() < 0.7 else None
    outer = rng.choice(
        [
            ("CAST(COUNT(*) AS BIGINT)", "n_groups"),
            ("MAX(c2)", "max_inner"),
            ("MIN(c2)", "min_inner"),
        ]
    )
    if aggs[0].typ == "double":
        outer = ("CAST(COUNT(*) AS BIGINT)", "n_groups")
    extra = (
        ", CAST(SUM(c2) AS BIGINT) AS sum_inner"
        if aggs[0].typ == "int" and aggs[0].mag <= 1e16
        else ""
    )
    out = []
    for d in ("spark", "duck"):
        inner = _render(inner_items, frm, where, "c0, c1", dialect=d)
        out.append(
            f"SELECT c0, {outer[0]} AS {outer[1]}{extra}"
            f" FROM ({inner}) i GROUP BY c0"
        )
    return tuple(out)


# (table, string column, separator) pools for the Generate shapes —
# every listed column is non-null in TPC-H, so explode/unnest row counts
# agree without null-handling conventions
_SPLIT_POOL = [
    ("part", "p_name", " "),
    ("orders", "o_orderpriority", "-"),
    ("customer", "c_name", "#"),
    ("nation", "n_name", "_"),
]


def _samp_conjunct(rng: random.Random, cols) -> Ex:
    """Mandatory sampling conjunct (the proj shape's device) bounding raw
    row-stream outputs."""
    key = _int_col(rng, cols)
    k = rng.choice([13, 31, 53, 97])
    res = rng.randint(0, k - 1)
    return Ex(
        f"((abs({key.spark}) % {k}) = {res})",
        f"((abs({key.duck}) % {k}) = {res})",
        "bool",
    )


def _shape_aggfilter(rng: random.Random):
    """FILTER (WHERE ...) aggregate clauses (SQL:2003 filtered
    aggregation; identical syntax in Spark 3+/DuckDB, r16): grouped
    COUNT/SUM/MIN/MAX where each aggregate carries its own independent
    predicate — the planner must keep per-aggregate filters apart
    instead of merging them into the WHERE, and empty filter sets must
    yield 0 for COUNT but NULL for SUM/MIN/MAX in BOTH engines. No
    other shape exercises the FILTER clause at all."""
    frm, cols = _chain(rng)
    nk = rng.randint(1, 2)
    keys = _group_keys(rng, cols, nk)
    items = list(keys)
    for _ in range(rng.randint(1, 3)):
        pred = _bool_expr(rng, cols)
        r = rng.random()
        if r < 0.4:
            items.append(
                Ex(
                    f"CAST(COUNT(*) FILTER (WHERE {pred.spark}) AS BIGINT)",
                    f"CAST(COUNT(*) FILTER (WHERE {pred.duck}) AS BIGINT)",
                    "int",
                    1e8,
                )
            )
        elif r < 0.8:
            a = _sum_arg(rng, cols)
            items.append(
                Ex(
                    f"CAST(SUM({a.spark}) FILTER (WHERE {pred.spark}) AS BIGINT)",
                    f"CAST(SUM({a.duck}) FILTER (WHERE {pred.duck}) AS BIGINT)",
                    "int",
                    1e16,
                )
            )
        else:
            a = _int_expr(rng, cols, 1)
            f = rng.choice(["MIN", "MAX"])
            items.append(
                Ex(
                    f"{f}({a.spark}) FILTER (WHERE {pred.spark})",
                    f"{f}({a.duck}) FILTER (WHERE {pred.duck})",
                    "int",
                    a.mag,
                )
            )
    where = _bool_expr(rng, cols) if rng.random() < 0.5 else None
    group = ", ".join(f"c{i}" for i in range(nk))
    return (
        _render(items, frm, where, group, None, dialect="spark"),
        _render(items, frm, where, group, None, dialect="duck"),
    )


def _shape_explode(rng: random.Random):
    """Generate surface #1: explode/unnest of split() token arrays and of
    grouped collect_set/list(DISTINCT) arrays — the reference corpus
    leans on explode (SQLFlow.scala:386-399 is a dedicated Generate
    lineage rule), and the grammar previously never emitted one."""
    if rng.random() < 0.55:
        tbl, scol, sep = rng.choice(_SPLIT_POOL)
        cols = _cols_of([tbl])
        if rng.random() < 0.5:
            # token-count aggregate: output bounded by vocabulary
            where = (
                _sat_bool(rng, cols) if rng.random() < 0.5 else None
            )
            out = []
            for d in ("spark", "duck"):
                gen = (
                    f"explode(split({scol}, '{sep}'))"
                    if d == "spark"
                    else f"unnest(string_split({scol}, '{sep}'))"
                )
                w = (
                    f" WHERE {getattr(where, d)}" if where is not None else ""
                )
                out.append(
                    f"SELECT c0, CAST(COUNT(*) AS BIGINT) AS c1 FROM "
                    f"(SELECT {gen} AS c0 FROM {tbl}{w}) g GROUP BY c0"
                )
            return tuple(out)
        # raw token stream, sampled to bound output
        samp = _samp_conjunct(rng, cols)
        out = []
        for d in ("spark", "duck"):
            gen = (
                "explode(split(s, '" + sep + "'))"
                if d == "spark"
                else "unnest(string_split(s, '" + sep + "'))"
            )
            side = (lambda e: e.spark) if d == "spark" else (lambda e: e.duck)
            out.append(
                f"SELECT c0, {gen} AS c1 FROM "
                f"(SELECT {scol} AS s, CAST(length({scol}) AS INT) AS c0 "
                f"FROM {tbl} WHERE {side(samp)}) b"
            )
        return tuple(out)
    # grouped collect_set / list(DISTINCT) round-trip through explode:
    # the IS NOT NULL conjunct keeps conventions aligned (collect_set
    # drops NULLs, DuckDB list(DISTINCT) keeps them)
    frm, cols = _chain(rng)
    keys = _group_keys(rng, cols, 1)
    a = _int_col(rng, cols)
    k = rng.choice([5, 7, 13])
    elem = Ex(
        f"(abs({a.spark}) % {k})", f"(abs({a.duck}) % {k})", "int", k
    )
    where = _sat_bool(rng, cols) if rng.random() < 0.6 else None
    out = []
    for d in ("spark", "duck"):
        side = (lambda e: e.spark) if d == "spark" else (lambda e: e.duck)
        coll = (
            f"collect_set({side(elem)})"
            if d == "spark"
            else f"list(DISTINCT {side(elem)})"
        )
        gen = "explode(arr)" if d == "spark" else "unnest(arr)"
        w = f"{side(elem)} IS NOT NULL"
        if where is not None:
            w += f" AND {side(where)}"
        inner = (
            f"SELECT {side(keys[0])} AS c0, {coll} AS arr FROM {frm} "
            f"WHERE {w} GROUP BY c0"
        )
        out.append(f"SELECT c0, {gen} AS c1 FROM ({inner}) g")
    return tuple(out)


def _shape_posexplode(rng: random.Random):
    """Generate surface #2: posexplode with ordinality arithmetic. The
    DuckDB pairing zips two parallel unnest()s positionally (its
    WITH-ORDINALITY substitute; generate_series(1, len) matches Spark's
    0-based pos + 1)."""
    tbl, scol, sep = rng.choice(_SPLIT_POOL)
    cols = _cols_of([tbl])
    samp = _samp_conjunct(rng, cols)
    mul = rng.randint(2, 9)
    spark_q = (
        f"SELECT c0, CAST(p + 1 AS INT) AS c1, tok AS c2, "
        f"CAST((p + 1) * (length(tok) + {mul}) AS INT) AS c3 "
        f"FROM (SELECT {scol} AS s, CAST(length({scol}) AS INT) AS c0 "
        f"FROM {tbl} WHERE {samp.spark}) b "
        f"LATERAL VIEW posexplode(split(s, '{sep}')) t AS p, tok"
    )
    duck_q = (
        f"SELECT c0, CAST(p AS INT) AS c1, tok AS c2, "
        f"CAST(p * (length(tok) + {mul}) AS INT) AS c3 FROM "
        f"(SELECT CAST(length({scol}) AS INT) AS c0, "
        f"unnest(generate_series(1, len(string_split({scol}, '{sep}')))) AS p, "
        f"unnest(string_split({scol}, '{sep}')) AS tok "
        f"FROM {tbl} WHERE {samp.duck}) b"
    )
    return spark_q, duck_q


def _shape_stack(rng: random.Random):
    """Generate surface #3: stack() unpivot (Spark) vs the two-branch
    UNION ALL it desugars to (DuckDB has no stack)."""
    frm, cols = _chain(rng)
    samp = _samp_conjunct(rng, cols)
    e1 = _int_expr(rng, cols, 1)
    e2 = _int_expr(rng, cols, 1)
    key = _int_col(rng, cols)
    spark_q = (
        f"SELECT {key.spark} AS c0, c1, CAST(c2 AS BIGINT) AS c2 "
        f"FROM {frm} "
        f"LATERAL VIEW stack(2, 'a', CAST({e1.spark} AS BIGINT), "
        f"'b', CAST({e2.spark} AS BIGINT)) s AS c1, c2 "
        f"WHERE {samp.spark}"
    )
    duck_q = (
        f"SELECT {key.duck} AS c0, 'a' AS c1, "
        f"CAST({e1.duck} AS BIGINT) AS c2 FROM {frm} WHERE {samp.duck} "
        f"UNION ALL "
        f"SELECT {key.duck} AS c0, 'b' AS c1, "
        f"CAST({e2.duck} AS BIGINT) AS c2 FROM {frm} WHERE {samp.duck}"
    )
    return spark_q, duck_q


_SHAPES = [
    (_shape_agg, 24),
    (_shape_proj, 15),
    (_shape_window, 14),
    (_shape_frame, 8),
    (_shape_setop, 12),
    (_shape_rollup, 10),
    (_shape_subq, 12),
    (_shape_anti, 10),
    (_shape_lateral, 8),
    (_shape_scalar_sel, 8),
    (_shape_toplimit, 8),
    (_shape_agg2, 8),
    (_shape_explode, 10),
    (_shape_posexplode, 6),
    (_shape_stack, 6),
    (_shape_aggfilter, 8),
]


def gen_pair(seed: int, only: str | None = None) -> tuple[str, str, str]:
    """(shape_name, spark_sql, duck_sql) for one seed. ``only`` pins the
    draw to a single shape (its bare name, e.g. "frame") for targeted
    sweeps — the seed still drives all intra-shape choices."""
    rng = random.Random(seed)
    pool = (
        _SHAPES
        if only is None
        else [(s, w) for s, w in _SHAPES if s.__name__ == f"_shape_{only}"]
    )
    shapes, weights = zip(*pool)
    shape = rng.choices(shapes, weights=weights)[0]
    s, d = shape(rng)
    return shape.__name__.replace("_shape_", ""), s, d


# ---------------------------------------------------------------------------
# differential runner (mirrors tools/check_oracle.py conventions)
# ---------------------------------------------------------------------------


def run_seed(spark, con, seed: int, only: str | None = None) -> dict:
    """Run one seed on both engines; views must already be registered.
    Returns a result record; rec["ok"] is the bit-exact verdict."""
    shape, s_sql, d_sql = gen_pair(seed, only)
    rec = {"seed": seed, "shape": shape, "spark_sql": s_sql, "duck_sql": d_sql}
    try:
        sdf = spark.sql(s_sql)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # pragma: no cover - gen bug surface
        rec.update(ok=False, err=f"SPARK: {str(exc)[:400]}")
        return rec
    try:
        rel = con.sql(d_sql)
        dcols = rel.columns
        drows = rel.fetchall()
    except Exception as exc:  # pragma: no cover - gen bug surface
        rec.update(ok=False, err=f"DUCK: {str(exc)[:400]}")
        return rec
    if sorted(scols) != sorted(dcols):
        rec.update(ok=False, err=f"cols {scols} vs {dcols}")
        return rec
    if len(srows) != len(drows):
        rec.update(ok=False, err=f"rows {len(srows)} vs {len(drows)}")
        return rec
    sn, dn = norm_rows(scols, srows), norm_rows(dcols, drows)
    if sn != dn:
        diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        rec.update(ok=False, err=f"values differ, e.g. {diff}")
        return rec
    rec.update(ok=True, n_rows=len(srows))
    return rec


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in FUZZ_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
