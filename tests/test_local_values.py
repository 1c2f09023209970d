"""``functions.exprs.local_values`` edge cases: empty rows, values and
types it cannot express, and the empty result of ``bpe_train_merges``."""

import math

import pytest

from spark_sql_flow_plugin_spark.functions.exprs import local_values


def _optimized_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_rows_round_trip_as_local_relation(spark):
    rows = [(1, "it's a \\ test", 2.5, True), (2, None, -0.0, False)]
    df = local_values(spark, rows, "k int, s string, x double, b boolean")
    assert df.schema.simpleString() == "struct<k:int,s:string,x:double,b:boolean>"
    assert [tuple(r) for r in df.collect()] == rows
    assert _optimized_class(df) == "LocalRelation"


def test_empty_rows_give_typed_empty_local_relation(spark):
    df = local_values(spark, [], "rank int, pair string, cnt bigint")
    assert df.schema.simpleString() == "struct<rank:int,pair:string,cnt:bigint>"
    assert df.collect() == []
    assert _optimized_class(df) == "LocalRelation"


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_non_finite_float_rejected(spark, bad):
    with pytest.raises(ValueError, match="non-finite"):
        local_values(spark, [(1, bad)], "k int, x double")


@pytest.mark.parametrize(
    "schema", ["k int, d decimal(10,2)", "k int, a array<string>", "k int, m map<string,int>"]
)
def test_parameterized_type_rejected(spark, schema):
    with pytest.raises(ValueError, match="unsupported schema field"):
        local_values(spark, [(1, None)], schema)


def test_bpe_train_merges_without_pairs_is_empty(spark, tmp_path):
    # every word is one character: no adjacent pair, so no merge is learned
    from spark_sql_flow_plugin_spark.operators.text import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "a b c", "s"), (2, "x y z", "s")], "doc_id bigint, text string, source string"
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    out = bpe_train_merges(spark, str(tmp_path))
    assert out.schema.simpleString() == "struct<rank:int,pair:string,cnt:bigint>"
    assert out.collect() == []
