"""functions.jvmframes: the JVM-pure local-frame builders must be
bit-identical drop-ins for spark.createDataFrame on the literal row
sets the query paths feed them (r11: every small local frame on a
query path moved off the Python-RDD scan)."""
from __future__ import annotations

import math

import pytest
from pyspark.sql import types as T

from kenya_agricultural_regions_weather_etl_pipeline_spark.functions.jvmframes import (
    _MAX_VALUES_ROWS,
    empty_frame,
    values_frame,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_values_frame_matches_createdataframe_exactly(spark):
    rows = [
        ("Machakos", -1.5177, 37.2634),
        ("O'Neil's", 0.2, 1e-17),          # quote escape + tiny double
        ("neg", -0.0, float("inf")),        # -0.0 sign + infinity
    ]
    ddl = "region string, lat double, lon double"
    a = spark.createDataFrame(rows, ddl)
    b = values_frame(spark, rows, ddl)
    assert [f.dataType for f in a.schema.fields] == [
        f.dataType for f in b.schema.fields
    ]
    ra, rb = _rows(a), _rows(b)
    assert len(ra) == len(rb)
    for x, y in zip(ra, rb):
        assert x[0] == y[0]
        # exact bit equality incl. the -0.0 sign
        assert math.copysign(1.0, x[1]) == math.copysign(1.0, y[1])
        assert x[1] == y[1] and x[2] == y[2]


def test_values_frame_backslash_and_quote_strings(spark):
    rows = [(r"back\slash",), ("it's",), (r"both\'n",)]
    a = spark.createDataFrame(rows, "s string")
    b = values_frame(spark, rows, "s string")
    assert _rows(a) == _rows(b)


def test_values_frame_nan_and_null(spark):
    rows = [(1, float("nan")), (2, None)]
    b = values_frame(spark, rows, "id long, v double")
    got = sorted(b.collect(), key=lambda r: r["id"])
    assert math.isnan(got[0]["v"]) and got[1]["v"] is None


def test_values_frame_int_types(spark):
    b = values_frame(spark, [(1,), (16,)], "n_bands int")
    assert b.schema.fields[0].dataType == T.IntegerType()
    assert [r["n_bands"] for r in b.collect()] == [1, 16]


def test_values_frame_is_jvm_local_scan(spark):
    b = values_frame(spark, [(1, "a")], "id long, v string")
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan  # the Python-RDD scan it replaces


def test_empty_frame_schema_and_rows(spark):
    ddl = "src_id bigint, cvec array<double>, q double"
    a = spark.createDataFrame([], ddl)
    b = empty_frame(spark, ddl)
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ]
    assert b.count() == 0
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan


def test_values_frame_rejects_bulk(spark):
    rows = [(i,) for i in range(_MAX_VALUES_ROWS + 1)]
    with pytest.raises(ValueError):
        values_frame(spark, rows, "id long")


@pytest.mark.parametrize(
    "row, n", [((1, "a", "extra"), 3), ((2,), 1)], ids=["long", "short"]
)
def test_values_frame_names_a_row_of_the_wrong_arity(spark, row, n):
    # too long used to be truncated silently; too short died in the parser
    with pytest.raises(ValueError, match=rf"row 1 has {n} values, .* 2 col"):
        values_frame(spark, [(0, "ok"), row], "k long, s string")


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_values_frame_strings_under_either_parser_mode(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    rows = [
        (r"a\b",), ("it's",), (r"both\'n",), ("trail\\",), ("''",), ("plain",)
    ]
    spark.conf.set(key, escaped)
    try:
        got = values_frame(spark, rows, "s string")
        assert [r.s for r in got.collect()] == [r[0] for r in rows]
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
    finally:
        spark.conf.set(key, "false")
