"""Nested flatten planner vs golden outputs.

The fixture reproduces the reference's pet-shop nested table
(tests/spark/conftest.py:289-411). The golden cases come from
``load_cases``: the reference's tests/data/flatten_spark.yaml and
create_spark_dataframe.yaml when that checkout is present, else this repo's
hand-derived tests/data/ files of the same names, whose expected rows are
counted from this fixture (row fan-out under [*], row preservation for empty
arrays, [] first-non-null selection).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from gchq_data_quality_spark.plans.flatten import (
    explosion_signature,
    flatten,
    safe_name,
    validate_path,
)

from .conftest import case_ids, load_cases


@pytest.fixture(scope="module")
def nested_df(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField(
                "customers",
                T.StructType(
                    [
                        T.StructField("expiry_date", T.DateType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("age", T.IntegerType()),
                        T.StructField(
                            "pets",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("name", T.StringType()),
                                        T.StructField(
                                            "appointments",
                                            T.ArrayType(
                                                T.StructType(
                                                    [
                                                        T.StructField("date", T.StringType()),
                                                        T.StructField("comment", T.StringType()),
                                                    ]
                                                )
                                            ),
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )
    d = dt.date(2030, 1, 1)
    rows = [
        (
            1,
            (
                d,
                "John",
                30,
                [
                    ("Fido", [("2022-01-01", "Fido First appointment"), ("2022-01-02", "Fido Second appointment")]),
                    ("Whiskers", [("2022-02-03", "Whiskers First appointment"), ("2022-02-04", "Whiskers Second appointment")]),
                ],
            ),
        ),
        (2, (d, "Jane", 25, [("Rex", [])])),
        (3, (d, "Mr No Pets", 102, [(None, [])])),
        (4, (d, "Mrs Missing Pets", 15, [("missing", [("2025-01-01", "none")])])),
    ]
    return spark.createDataFrame(rows, schema)


def _rows_multiset(df, columns):
    return sorted(
        (tuple(str(row[c]) for c in columns) for row in df.collect()),
    )


@pytest.mark.parametrize(
    "case",
    load_cases("flatten_spark"),
    ids=case_ids(load_cases("flatten_spark")),
)
def test_flatten_golden(spark, nested_df, case):
    flatten_cols = case["inputs"]["flatten_cols"]
    expected = case["expected"]
    flat_df, mapping = flatten(nested_df, flatten_cols)

    assert flat_df.count() == expected["row_count"]
    assert list(flat_df.columns) == expected["columns"]

    value_cols = [c for c in expected if c in flat_df.columns]
    exp_rows = sorted(
        tuple(str(expected[c][i]) if expected[c][i] is not None else "None" for c in value_cols)
        for i in range(expected["row_count"])
    )
    got_rows = _rows_multiset(flat_df.select(*value_cols), value_cols)
    assert got_rows == exp_rows


def test_safe_name():
    assert safe_name("customer.name") == "customer_name"
    assert safe_name("orders[*].id") == "orders_all_id"
    assert safe_name("items[].cost") == "items_first_cost"
    assert safe_name("data.points[*].values[].entry") == "data_points_all_values_first_entry"


def test_validate_path_errors(nested_df):
    with pytest.raises(ValueError, match="not found"):
        validate_path(nested_df.schema, "customers.nope")
    with pytest.raises(ValueError, match="is an array"):
        validate_path(nested_df.schema, "customers.pets.name")
    with pytest.raises(ValueError, match="is not an array"):
        validate_path(nested_df.schema, "customers.name[*]")


def test_mixed_notation_rejected(nested_df):
    with pytest.raises(ValueError, match="Invalid mix"):
        flatten(nested_df, ["customers.pets[*].name", "customers.pets[].appointments[].date"])


def test_explosion_signature():
    assert explosion_signature(["a.b"]) == frozenset()
    assert explosion_signature(["a[*].b", "a[*].c"]) == frozenset({"a[*]"})
    assert explosion_signature(["a[].b"]) == frozenset()


def test_flat_passthrough(spark):
    df = spark.range(3).withColumnRenamed("id", "x")
    out, mapping = flatten(df, ["x"])
    assert out is df
    assert mapping == {"x": "x"}


def test_flatten_spark_reference_signature(spark):
    """The reference tutorial's public entry point: flatten_spark(df, cols)
    returns ONLY the requested columns under spark-safe names (and the input
    unchanged when nothing is nested)."""
    from gchq_data_quality_spark import flatten_spark

    df = spark.createDataFrame(
        [(1, [{"name": "rex", "age": 3}, {"name": "tom", "age": 5}])],
        "owner_id long, pets array<struct<name:string,age:long>>",
    )
    flat = flatten_spark(df, ["owner_id", "pets[*].age"])
    assert flat.columns == ["owner_id", "pets_all_age"]
    assert sorted(r.pets_all_age for r in flat.collect()) == [3, 5]

    plain = flatten_spark(df, ["owner_id"])
    assert plain is df  # short-circuit parity: nothing nested


@pytest.mark.parametrize(
    "case",
    load_cases("create_spark_dataframe"),
    ids=case_ids(load_cases("create_spark_dataframe")),
)
def test_create_spark_dataframe_golden(spark, nested_df, case):
    """Golden cases for single-field extraction (create_spark_dataframe.yaml;
    the reference drives its copy from spark/test_dataframe_operations
    .py:58-77): flatten ONE path with keep_cols -> exact output column set
    and post-explosion row count. Our flatten(df, [field], keep_cols) is
    the same contract as the reference's _create_spark_dataframe."""
    field = case["inputs"]["field"]
    keep_cols = case["inputs"].get("keep_cols") or []
    expected = case["expected"]
    flat_df, mapping = flatten(nested_df, [field], keep_cols=keep_cols)
    # the reference projects keep_cols + [field] even when nothing is
    # nested (_select_field); our flatten() short-circuits unchanged for
    # the multi-path engine, so apply the same projection here
    flat_df = flat_df.select(*keep_cols, mapping[field])
    assert len(flat_df.columns) == len(expected["columns"])
    assert set(flat_df.columns) == set(expected["columns"]), (
        field,
        flat_df.columns,
    )
    assert flat_df.count() == expected["row_count"]
