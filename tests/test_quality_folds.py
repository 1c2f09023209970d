"""Property tests for the row-local run-length folds shared by
quality_gopher_rules / curation_filter_funnel (bigram mode) and
text_gini_diversity (sum of squared counts), and for the Gopher rules'
bigram and stopword-hit expressions: each Spark expression must equal the
obvious Python reference on arbitrary token lists — the fold's
accumulator threading (run reset, final flush) and the bigram slices'
bounds are exactly where an off-by-one would hide, and the oracle can't
catch it because both engines run the same fold-free SQL."""

from collections import Counter

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql import functions as F

from spark_sql_flow_plugin_spark.operators.text import (
    _GINI_SS_FOLD,
    _GOPHER_BIGRAMS,
    _GOPHER_STOP_HITS,
    _GOPHER_TOP_FOLD,
    _STOPWORDS,
)

_FAST = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_tokens = st.lists(st.sampled_from(["a", "b", "c", "dd", "e f"]), max_size=40)


@_FAST
@given(toks=_tokens)
def test_top_run_fold_equals_counter_mode(spark, toks):
    df = spark.createDataFrame([(toks,)], "bgs array<string>")
    got = df.select(F.expr(_GOPHER_TOP_FOLD).alias("top")).head().top
    want = max(Counter(toks).values()) if toks else 0
    assert got == want, (toks, got, want)


@_FAST
@given(toks=_tokens)
def test_gini_ss_fold_equals_counter_sumsq(spark, toks):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(F.expr(_GINI_SS_FOLD).alias("ss")).head().ss
    want = sum(c * c for c in Counter(toks).values())
    assert got == want, (toks, got, want)


# the stopwords plus non-stopwords that share their prefixes or contain a
# space, so duplicates, near-misses and empty/one-token rows all occur
_doc_tokens = st.lists(
    st.sampled_from(list(_STOPWORDS) + ["an", "thee", "x", "it's", "of to"]),
    max_size=40,
)


@_FAST
@given(toks=_doc_tokens)
def test_gopher_bigrams_equal_adjacent_pairs(spark, toks):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(F.expr(_GOPHER_BIGRAMS).alias("bgs")).head().bgs
    want = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    assert got == want, (toks, got, want)


@_FAST
@given(toks=_doc_tokens)
def test_gopher_stop_hits_equal_distinct_stopwords(spark, toks):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(F.expr(_GOPHER_STOP_HITS).alias("n")).head().n
    want = len(set(_STOPWORDS) & set(toks))
    assert got == want, (toks, got, want)


def test_funnel_chain_invariants(spark, sf_dir):
    from spark_sql_flow_plugin_spark.registry import queries

    rows = {
        r.stage_idx: r
        for r in queries()["curation_filter_funnel"](spark, sf_dir).collect()
    }
    assert sorted(rows) == list(range(1, 8))
    for k in range(2, 8):
        # sequential cascade: each stage consumes the previous survivors
        assert rows[k].n_in == rows[k - 1].n_out, k
    for k, r in rows.items():
        assert 0 <= r.n_out <= r.n_in
        assert r.n_removed == r.n_in - r.n_out
