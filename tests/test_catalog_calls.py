"""What one catalog lineage call asks of the session (plans/catalog.py).

- ``_list_view_names`` returns the names, in the order, that PySpark's
  ``catalog.listDatabases()``/``listTables()`` enumeration gave, and its
  three catalog actions reach a registered lineage listener the same way
  (the benchmark's ``audited_pipeline`` record counts those events);
- the walk sends no cache lookup while the cache manager is empty and
  stays inside a py4j command budget; with a view cached, the lookups and
  flags come back;
- the arity gate on ``semanticHash()`` never skips a substitution, also
  where a Generate's ``unrequiredChildIndex`` changes its output;
- VALUES leaves are named deterministically and stay distinct.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_sql_flow_plugin_spark.api import extract
from spark_sql_flow_plugin_spark.functions import listener as L
from spark_sql_flow_plugin_spark.plans import catalog

_DBS = ("catcalls_a", "catcalls_b")


def _pyspark_list_view_names(spark) -> list[str]:
    """``_list_view_names`` as it was written over PySpark's catalog API:
    the reference enumeration the JVM-collect one must reproduce."""
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
    for t in spark.catalog.listTables():
        if t.tableType in ("TEMPORARY", "VIEW") or t.isTemporary:
            add(t)
    return names


class _NullSink:
    def append(self, nodes, edges, _output_dir):
        pass


@pytest.fixture()
def two_db_session(spark, sf_dir):
    """Temp views plus permanent views and a table in two databases."""
    s = spark.newSession()
    for db in _DBS:
        s.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    a, b = _DBS
    s.sql(f"CREATE TABLE IF NOT EXISTS {a}.li USING parquet LOCATION '{sf_dir}/lineitem.parquet'")
    s.sql(f"CREATE OR REPLACE VIEW {a}.big_qty AS SELECT * FROM {a}.li WHERE l_quantity > 40")
    s.sql(f"CREATE OR REPLACE VIEW {a}.flags AS SELECT DISTINCT l_returnflag FROM {a}.li")
    s.sql(f"CREATE OR REPLACE VIEW {b}.qty_by_flag AS SELECT l_returnflag, sum(l_quantity) q "
          f"FROM {a}.li GROUP BY l_returnflag")
    s.sql(f"CREATE OR REPLACE VIEW {b}.big_qty_keys AS SELECT l_orderkey FROM {a}.big_qty")
    s.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("ord_tmp")
    s.table(f"{a}.big_qty").select("l_orderkey").createOrReplaceTempView("big_keys")
    yield s
    for db in _DBS:
        s.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_list_view_names_matches_pyspark_listing(two_db_session):
    s = two_db_session
    names = catalog._list_view_names(s)
    assert names == _pyspark_list_view_names(s)
    a, b = _DBS
    assert {
        "ord_tmp", "big_keys", f"{a}.big_qty", f"{a}.flags", f"{b}.qty_by_flag", f"{b}.big_qty_keys"
    } <= set(names), names
    assert not any(n.endswith(".li") for n in names), names


def test_list_view_names_listener_events_match(two_db_session):
    """Each enumeration fires the listener the same number of times, with
    the same outcomes: these are the events a listener-on benchmark pass
    counts."""
    s = two_db_session
    lst = L.register(s, _NullSink(), "/tmp/unused")
    try:
        counts = []
        for listing in (_pyspark_list_view_names, catalog._list_view_names):
            L.wait_for_listener_bus(s)
            before = (lst.captured, lst.skipped, lst.failed)
            listing(s)
            L.wait_for_listener_bus(s)
            counts.append(tuple(x - y for x, y in zip((lst.captured, lst.skipped, lst.failed), before)))
    finally:
        L.unregister(s, lst)
    assert counts[0] == counts[1], counts
    assert counts[0][0] > 0 and counts[0][2] == 0, counts


def _count_commands(spark, monkeypatch, fn):
    """(result, non-detach py4j commands sent, called method names)."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):  # object detach on Python GC
            sent.append(command.split("\n", 3)[:3])
        return orig(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        out = fn()
    finally:
        monkeypatch.undo()
    methods = [parts[2] for parts in sent if parts[0] == "c" and len(parts) > 2]
    return out, len(sent), methods


@pytest.fixture()
def chain_session(spark, sf_dir):
    """Three parquet-backed temp views; ``lq_tagged`` repeats ``lq``'s
    plan without naming it, so only semanticHash substitution links them."""
    s = spark.newSession()
    li = s.read.parquet(f"{sf_dir}/lineitem.parquet")

    def lq(df):
        return df.where("l_quantity > 10").select("l_orderkey", "l_returnflag", "l_quantity")

    lq(li).createOrReplaceTempView("lq")
    s.table("lq").groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("q")
    ).createOrReplaceTempView("lq_by_flag")
    lq(s.read.parquet(f"{sf_dir}/lineitem.parquet")).select(
        "*", F.lit(1).alias("tag")
    ).createOrReplaceTempView("lq_tagged")
    spark.catalog.clearCache()
    yield s
    s.catalog.clearCache()


def _collapsed_into(edges, view: str, reuse: str, contracted: bool) -> bool:
    """``reuse``'s copy of ``view``'s plan became a reference to ``view``:
    in contracted mode ``view`` is ``reuse``'s only source, in expanded
    mode ``view`` reaches ``reuse`` (nothing else links the two)."""
    if contracted:
        return {e.from_id for e in edges if e.to_id == reuse} == {view}
    todo, seen = [view], set()
    while todo:
        cur = todo.pop()
        if cur == reuse:
            return True
        if cur not in seen:
            seen.add(cur)
            todo.extend(e.to_id for e in edges if e.from_id == cur)
    return False


#: non-detach py4j commands of one catalog call over ``chain_session``,
#: either mode: 98 with the cache gate and the arity gate, 181 with a
#: cache lookup and a semanticHash() on every node and PySpark's listing
_CHAIN_BUDGET = 130


@pytest.mark.parametrize("contracted", [False, True])
def test_catalog_call_py4j_budget(chain_session, monkeypatch, contracted):
    s = chain_session
    assert s._jsparkSession.sharedState().cacheManager().isEmpty()
    (nodes, edges), n, methods = _count_commands(
        s, monkeypatch, lambda: extract(s, contracted=contracted)
    )
    assert "lookupCachedData" not in methods
    assert methods.count("isEmpty") == 1, methods
    assert n <= _CHAIN_BUDGET, (n, methods)
    assert _collapsed_into(edges, "lq", "lq_tagged", contracted)


def test_catalog_call_cached_view_flags(chain_session, monkeypatch):
    """With a view cached the lookups come back, and flag what the
    ungated walk flagged: the view node, and in expanded mode also the
    view's own root operator."""
    s = chain_session
    s.sql("CACHE TABLE lq")
    for contracted in (False, True):
        (nodes, _), _, methods = _count_commands(
            s, monkeypatch, lambda: extract(s, contracted=contracted)
        )
        assert "lookupCachedData" in methods
        cached = sorted(n.ident for n in nodes if n.is_cached)
        assert cached == (["lq"] if contracted else ["Project", "lq"]), (contracted, cached)


def _optimized_df(spark, df) -> DataFrame:
    """A DataFrame whose analyzed plan is ``df``'s optimized plan, so a
    Generate in it keeps the ``unrequiredChildIndex`` column pruning set."""
    jss = spark._jsparkSession
    opt = df._jdf.queryExecution().optimizedPlan()
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, opt)
    return DataFrame(jdf, spark)


def _walk_jvm(jp):
    yield jp
    kids = jp.children()
    for i in range(kids.size()):
        yield from _walk_jvm(kids.apply(i))


def test_arity_gate_keeps_generate_substitution(spark, sf_dir):
    s = spark.newSession()
    li = s.read.parquet(f"{sf_dir}/lineitem.parquet")
    exploded = li.select(
        "l_orderkey", F.explode(F.array("l_quantity", "l_discount")).alias("x")
    ).where("x > 0")
    gen = _optimized_df(s, exploded)
    jgen = next(
        p for p in _walk_jvm(gen._jdf.queryExecution().analyzed())
        if p.getClass().getSimpleName() == "Generate"
    )
    assert jgen.unrequiredChildIndex().size() > 0  # the case under test
    gen.createOrReplaceTempView("gen_base")
    _optimized_df(s, exploded).select("*", F.lit(1).alias("tag")).createOrReplaceTempView(
        "gen_reuse"
    )
    for contracted in (False, True):
        nodes, edges = extract(s, contracted=contracted)
        assert _collapsed_into(edges, "gen_base", "gen_reuse", contracted), contracted
        # no output() was memoized before the Generate's annotation
        view = next(n for n in nodes if n.unique_id == "gen_base")
        assert view.attribute_names == ["l_orderkey", "x"], view


def _hashes(nodes):
    return sorted((n.ident, n.props.get("semanticHash", "")) for n in nodes)


def test_semantic_hashes_repeat_over_permanent_views(two_db_session):
    """A permanent view's text is re-analyzed on every call, with new
    expression ids; the hashes of the nodes above a view reference must
    not carry them."""
    s = two_db_session
    for contracted in (False, True):
        first, _ = extract(s, contracted=contracted)
        second, _ = extract(s, contracted=contracted)
        assert _hashes(first) == _hashes(second), contracted


_VALUES = "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, s)"


def test_values_leaves_deterministic_and_distinct(spark):
    s = spark.newSession()
    s.sql(_VALUES).createOrReplaceTempView("vals_1")
    s.sql(f"{_VALUES} WHERE id > 1").createOrReplaceTempView("vals_2")
    s.sql(f"{_VALUES} UNION ALL {_VALUES}").createOrReplaceTempView("vals_twice")
    leaf = re.compile(r"^t_[0-9a-f]{7}$")
    for contracted in (False, True):
        first, _ = extract(s, contracted=contracted)
        second, _ = extract(s, contracted=contracted)
        # every VALUES clause is its own node: one per view, two in vals_twice
        leaves = sorted(n.unique_id for n in first if leaf.match(n.unique_id))
        assert len(set(leaves)) == 4, leaves
        assert leaves == sorted(n.unique_id for n in second if leaf.match(n.unique_id))
        assert _hashes(first) == _hashes(second), contracted
