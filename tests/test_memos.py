"""Driver-side expression builders: typed constant arrays, and the
Column|str builders giving the same values for either input spelling."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mcp_hubspot_spark.functions.scalars import (
    const_double_array,
    const_long_array,
)
from mcp_hubspot_spark.operators.dedup import minhash_signature, simhash
from mcp_hubspot_spark.operators.text import positional_ngrams
from mcp_hubspot_spark.operators.vector import sign_pack


def test_empty_const_arrays_are_typed(spark):
    """array() alone is array<void>; the helpers must emit typed empties
    so degenerate inputs (num_perm=0, empty centroid tables) fail at the
    boundary they always did, not deep inside a fold."""
    df = spark.range(1).select(
        const_long_array([]).alias("l"),
        const_double_array([]).alias("d"),
        const_double_array([], depth=2).alias("dd"),
    )
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "l": "array<bigint>",
        "d": "array<double>",
        "dd": "array<array<double>>",
    }
    row = df.collect()[0]
    assert row.l == [] and row.d == [] and row.dd == []
    # and non-empty forms are unchanged
    row2 = spark.range(1).select(
        const_long_array([1, 2]).alias("l"),
        const_double_array([0.5]).alias("d"),
    ).collect()[0]
    assert row2.l == [1, 2] and row2.d == [0.5]


def test_column_and_name_inputs_agree(spark):
    """The Column|str builders give equal values for a plan-bound Column
    (``df["text"]``) and the bare column name."""
    df = spark.createDataFrame(
        [("a b c d", [0.5, -1.0, 2.0, -0.1])], "text string, v array<double>"
    )
    pairs = [
        (minhash_signature(df["text"], num_perm=4),
         minhash_signature("text", num_perm=4)),
        (simhash(df["text"]), simhash("text")),
        (sign_pack(df["v"], dim=4), sign_pack("v", dim=4)),
    ]
    for by_col, by_name in pairs:
        assert isinstance(by_col, Column)
        a = df.select(by_col.alias("s")).collect()[0].s
        b = df.select(by_name.alias("s")).collect()[0].s
        assert a == b


def test_positional_ngrams_correct(spark):
    g = positional_ngrams(F.split(F.col("text"), " "), 2)
    df = spark.createDataFrame([("a b c",), ("x y",)], "text string")
    rows = df.select(g.alias("g")).collect()
    assert rows[0].g == ["a b", "b c"] and rows[1].g == ["x y"]
