"""core.localframe.local_rows — parity pins for the JVM-local fast path.

The helper replaces ``spark.createDataFrame(list, schema)`` for
collect-then-rebuild results (suite entries, the BPE merge table, the
qsketch quantile probes). Its contract is VALUE AND SCHEMA IDENTITY
with the classic path; these tests pin the edge cases the Arrow
conversion could plausibly diverge on, and that the known-divergent
inputs (NaN, nested cells, empty) take the classic fallback.
"""

from __future__ import annotations

import datetime
import math

import pytest

from erpl_web_spark.core.localframe import local_rows


def _assert_parity(spark, rows, schema):
    ref = spark.createDataFrame(rows, schema)
    got = local_rows(spark, rows, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_scalar_types_and_nulls(spark):
    _assert_parity(
        spark,
        [
            (1, 2**62, 1.5, "x", True),
            (2, None, None, None, None),
            (3, -(2**62), -0.0, "", False),
        ],
        "a int, b long, c double, d string, e boolean",
    )


def test_naive_timestamps_stay_ntz(spark):
    _assert_parity(
        spark,
        [
            (1, datetime.datetime(2020, 1, 1, 12, 30, 15, 123456)),
            (2, None),
        ],
        "a int, ts timestamp_ntz",
    )


def test_exact_int64_no_float_widening(spark):
    # 2**53 + 1 is NOT representable as a double: a pandas float64
    # widening would corrupt it silently.
    big = 2**53 + 1
    rows = [(1, big), (2, None)]
    got = local_rows(spark, rows, "a int, b long").collect()
    assert got[0]["b"] == big


def test_nan_falls_back_to_classic(spark):
    # Arrow's from_pandas reads NaN as null — the helper must take the
    # classic path so NaN survives as NaN.
    rows = [(1, float("nan")), (2, 1.5)]
    got = local_rows(spark, rows, "a int, c double").collect()
    assert math.isnan(got[0]["c"]) and got[1]["c"] == 1.5


def test_nested_and_empty_fall_back(spark):
    assert local_rows(spark, [], "a int, b string").collect() == []
    rows = [(1, [1, 2]), (2, [3])]
    ref = spark.createDataFrame(rows, "a int, arr array<int>")
    got = local_rows(spark, rows, "a int, arr array<int>")
    assert got.collect() == ref.collect()


@pytest.mark.parametrize(
    "rows",
    [
        [{"a": "x", "b": "y"}, {"b": "w", "a": "v"}],  # by name, not keys
        [("x", "y"), ("z",)],  # ragged: the classic path raises, no NULL pad
    ],
    ids=["dict_rows", "ragged_rows"],
)
def test_dict_and_ragged_rows_take_classic_path(spark, rows):
    schema = "a string, b string"
    try:
        want = spark.createDataFrame(rows, schema).collect()
    except Exception as e:
        with pytest.raises(type(e)):
            local_rows(spark, rows, schema).collect()
    else:
        assert local_rows(spark, rows, schema).collect() == want


def test_no_python_workers_in_plan(spark):
    # The fast path must be a JVM-side relation: no RDD scan of pickled
    # python partitions (which is what forks a worker per partition).
    df = local_rows(spark, [(1, "a")], "a int, b string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan
