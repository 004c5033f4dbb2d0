"""SQL-text kernels in functions/arrays.py: literal quoting and the
Column wrappers, checked against the pure-Python oracle."""

import pytest
from pyspark.sql import functions as F

from ontology_matcher_spark import oracle
from ontology_matcher_spark.functions.arrays import (
    concat_unique,
    q,
    split_pipe,
    sql_join_lst,
)
from ontology_matcher_spark.ontology_types import CURIE_LOCAL_PATTERN


@pytest.mark.parametrize(
    "s",
    ["", "it's", "back\\slash", "a|b", "\\'|", "''", "ICD-9",
     f"^{CURIE_LOCAL_PATTERN}$"],
)
def test_q_round_trips(spark, s):
    assert spark.range(1).select(F.expr(q(s))).first()[0] == s


def test_column_wrappers_match_oracle(spark):
    rows = [("a|b||c", ["c|a", "b", None], ["x"], None), (None, [], None, ["y", "x"])]
    df = spark.createDataFrame(
        rows, "s string, arr array<string>, a array<string>, b array<string>"
    )
    got = df.select(
        split_pipe("s").alias("sp"),
        sql_join_lst(F.col("arr")).alias("jl"),
        concat_unique(F.col("a"), "b").alias("cu"),
    ).collect()
    for (s, arr, a, b), r in zip(rows, got):
        assert r["sp"] == [p for p in (s or "").split("|") if p]
        assert r["jl"] == oracle.join_lst(arr)
        assert r["cu"] == oracle.concat(a or [], b or [])


@pytest.mark.parametrize(
    "make",
    [lambda: F.lit("a|b"), lambda: F.col("a").alias("b"),
     lambda: F.col("`x y`"), lambda: F.upper("a")],
)
def test_column_wrappers_refuse_non_references(spark, make):
    with pytest.raises(TypeError, match="F.col"):
        split_pipe(make())
