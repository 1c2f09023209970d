"""Listener-path fuzz (r15 verdict item #4): drive machine-generated
queries through a REGISTERED py4j QueryExecutionListener and assert the
edge set it captures equals direct ``planToSQLFlow`` extraction on the
same DataFrame — the listener path (reference listeners.scala:31-74)
was unit-tested only; these seeds exercise it against uncurated plan
shapes, plus the two reference behaviors that only show up live:

- Command-skip: eagerly-executed commands (CREATE VIEW) never produce a
  capture (listeners.scala:51-53);
- error-swallow: a sink that raises must not fail the query and must
  not count as captured (listeners.scala:64-67);
- thread boundary: captures land on the listener-bus thread, so every
  assertion sits behind ``wait_for_listener_bus`` (waitUntilEmpty).

Each seed runs in both modes: an expanded listener is compared with
direct expanded extraction, a contracted one (its own session) with direct
contracted extraction.

Edge comparison normalizes ONLY the flow name (the listener names its
query node ``query_<abs(qe.hashCode())>``; direct extraction gets an
explicit name) — everything else (plan-node idents, column ordinals)
must match exactly.
"""

from __future__ import annotations

import pytest

from spark_sql_flow_plugin_spark import extract, fuzz
from spark_sql_flow_plugin_spark.functions import listener as L
from spark_sql_flow_plugin_spark.sources import register_views

N_SEEDS = 60


class _RecordingSink:
    def __init__(self):
        self.captures = []

    def append(self, nodes, edges, _output_dir):
        self.captures.append((nodes, edges))


class _RaisingSink:
    def append(self, nodes, edges, _output_dir):
        raise RuntimeError("sink down")


def _listener_session(spark, sf_dir, contracted):
    s = spark.newSession()  # isolated temp-view catalog + listenerManager
    register_views(s, sf_dir, *fuzz.FUZZ_TABLES)
    sink = _RecordingSink()
    lst = L.register(s, sink, "/tmp/unused", contracted=contracted)
    return s, sink, lst


@pytest.fixture(scope="module")
def listener_session(spark, sf_dir):
    s, sink, lst = _listener_session(spark, sf_dir, contracted=False)
    yield s, sink, lst
    L.unregister(s, lst)


@pytest.fixture(scope="module")
def contracted_listener_session(spark, sf_dir):
    s, sink, lst = _listener_session(spark, sf_dir, contracted=True)
    yield s, sink, lst
    L.unregister(s, lst)


def _qname(nodes):
    return next(n for n in nodes if n.tpe.value == "QueryNode").ident


def _canon(nodes, edges, qname):
    """Canonical graph form: node unique_ids carry a RANDOM 7-hex suffix
    per extraction (reference GraphViz-style ids), but the tree walk is
    deterministic, so the k-th created node corresponds across two
    extractions of the same plan. Compare (walk-index, ordinal) edges +
    walk-order ident labels (flow name normalized to <Q>)."""
    pos = {n.unique_id: i for i, n in enumerate(nodes)}
    labels = [n.ident.replace(qname, "<Q>") for n in nodes]
    # whole-node edges carry a None ordinal: sort it as -1
    eset = sorted(
        (pos[e.from_id], e.from_idx, pos[e.to_id], -1 if e.to_idx is None else e.to_idx)
        for e in edges
    )
    return labels, eset


@pytest.mark.parametrize(
    "seed,contracted",
    [pytest.param(seed, False, id=str(seed)) for seed in range(N_SEEDS)]
    + [pytest.param(seed, True, id=f"contracted-{seed}") for seed in range(N_SEEDS)],
)
def test_listener_capture_matches_direct_extraction(request, seed, contracted):
    s, sink, lst = request.getfixturevalue(
        "contracted_listener_session" if contracted else "listener_session"
    )
    shape, s_sql, _ = fuzz.gen_pair(seed)
    df = s.sql(s_sql)
    before = len(sink.captures)
    df.collect()
    L.wait_for_listener_bus(s)
    assert len(sink.captures) == before + 1, (
        f"seed {seed} ({shape}): expected exactly one capture"
    )
    cap_nodes, cap_edges = sink.captures[-1]
    cap_q = _qname(cap_nodes)
    assert cap_q.startswith("query_"), cap_q
    # the listener stamps duration + timestamp on the query node
    qnode = next(n for n in cap_nodes if n.ident == cap_q)
    assert "durationMs" in qnode.props and "timestamp" in qnode.props
    ref_nodes, ref_edges = extract(df, contracted=contracted, flow_name=f"lf_{seed}")
    cap_labels, cap_eset = _canon(cap_nodes, cap_edges, cap_q)
    ref_labels, ref_eset = _canon(ref_nodes, ref_edges, f"lf_{seed}")
    assert cap_labels == ref_labels, (
        f"seed {seed} ({shape}): listener node walk diverged"
    )
    assert cap_eset == ref_eset, (
        f"seed {seed} ({shape}): listener edge set diverged from "
        "direct extraction"
    )


def test_listener_skips_commands(listener_session):
    s, sink, lst = listener_session
    before = len(sink.captures)
    skipped = lst.skipped
    s.sql("CREATE OR REPLACE TEMPORARY VIEW _listener_cmd AS SELECT 1 AS a")
    L.wait_for_listener_bus(s)
    assert len(sink.captures) == before, "Command plan must be skipped"
    assert lst.skipped == skipped + 1
    # ... and the listener still captures the next real query
    s.sql("SELECT a FROM _listener_cmd").collect()
    L.wait_for_listener_bus(s)
    assert len(sink.captures) == before + 1


def test_listener_swallows_sink_errors(spark, sf_dir):
    s = spark.newSession()
    register_views(s, sf_dir, *fuzz.FUZZ_TABLES)
    lst = L.register(s, _RaisingSink(), "/tmp/unused")
    try:
        _, s_sql, _ = fuzz.gen_pair(7)
        rows = s.sql(s_sql).collect()  # must not raise despite the sink
        L.wait_for_listener_bus(s)
        assert lst.captured == 0, "a raising sink must not count as captured"
        assert (lst.failed, lst.skipped) == (1, 0)
        assert len(rows) == s.sql(s_sql).count()
    finally:
        L.unregister(s, lst)


def test_listener_counts_failed_extraction(spark, sf_dir, monkeypatch):
    # a plan the annotate guard rejects fails its capture, not its query
    from spark_sql_flow_plugin_spark.plans import lineage

    def out_of_step(plan, jplan):
        raise ValueError("plan leaves out of step")

    s = spark.newSession()
    register_views(s, sf_dir, *fuzz.FUZZ_TABLES)
    sink = _RecordingSink()
    lst = L.register(s, sink, "/tmp/unused")
    try:
        monkeypatch.setattr(lineage, "annotate_plan", out_of_step)
        _, s_sql, _ = fuzz.gen_pair(7)
        rows = s.sql(s_sql).collect()
        L.wait_for_listener_bus(s)
        assert (lst.captured, lst.failed) == (0, 1)
        assert not sink.captures
        monkeypatch.undo()
        assert len(rows) == s.sql(s_sql).count()
        L.wait_for_listener_bus(s)
        assert (lst.captured, lst.failed) == (1, 1)
    finally:
        L.unregister(s, lst)
