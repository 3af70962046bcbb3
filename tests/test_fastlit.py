"""Array literals built as one parsed SQL expression (functions/fastlit)."""

from __future__ import annotations

from hierarchical_graph_db_spark.functions.fastlit import (
    double_array_sql,
    lit_double_array,
    lit_double_matrix,
    lit_int_array,
    lit_long_array,
)


def test_empty_array_literals_are_typed(spark):
    assert double_array_sql([]) == "CAST(array() AS ARRAY<DOUBLE>)"
    row = spark.range(1).select(
        lit_double_array([]).alias("d"),
        lit_long_array([]).alias("l"),
        lit_int_array([]).alias("i"),
        lit_double_matrix([]).alias("m"),
    )
    assert [f.dataType.simpleString() for f in row.schema.fields] == [
        "array<double>", "array<bigint>", "array<int>",
        "array<array<double>>"]
    assert row.first().asDict() == {"d": [], "l": [], "i": [], "m": []}


def test_nonempty_array_literals_keep_values_and_types(spark):
    row = spark.range(1).select(
        lit_double_array([1.5, -0.0, 2 ** 53]).alias("d"),
        lit_long_array([2 ** 40, -1]).alias("l"),
        lit_int_array([7]).alias("i"),
        lit_double_matrix([[1.0], []]).alias("m"),
    )
    assert [f.dataType.simpleString() for f in row.schema.fields] == [
        "array<double>", "array<bigint>", "array<int>",
        "array<array<double>>"]
    assert row.first().asDict() == {
        "d": [1.5, -0.0, float(2 ** 53)], "l": [2 ** 40, -1], "i": [7],
        "m": [[1.0], []]}
