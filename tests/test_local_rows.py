"""core.localframe.local_rows — parity pins for the one driver-local-frame path.

The helper replaces ``spark.createDataFrame(list, schema)`` for every
driver-built frame in the package (catalog and describe results, suite
entries, the BPE merge table, the qsketch quantile probes). Its contract
is VALUE AND SCHEMA IDENTITY with the classic path while planning as a
JVM local relation; these tests pin the edge cases the Arrow build could
plausibly diverge on, that each of them plans without a pickled-RDD
scan, and that bad cells raise the classic path's own error.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pytest

from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.odata.describe import DESCRIBE_SCHEMA
from erpl_web_spark.sources.http_ds import HTTP_RESPONSE_SCHEMA

SCALARS_AND_NULLS = (
    [
        (1, 2**62, 1.5, "x", True),
        (2, None, None, None, None),
        (3, -(2**62), -0.0, "", False),
    ],
    "a int, b long, c double, d string, e boolean",
)
NAIVE_NTZ = (
    [
        (1, datetime.datetime(2020, 1, 1, 12, 30, 15, 123456)),
        (2, None),
    ],
    "a int, ts timestamp_ntz",
)
PARITY_INPUTS = {
    "nan_inf_negzero": (
        [(math.nan, 1.0), (math.inf, -0.0), (-math.inf, None), (-0.0, 1e-310)],
        "c double, f float",
    ),
    "int64_edges": (
        [(2**63 - 1, 2**31 - 1), (-(2**63), -(2**31)), (2**53 + 1, 0)],
        "b long, a int",
    ),
    "array_struct_map": (
        [
            (1, [1, None], (2, "s"), {"k": 1.5}),
            (2, None, None, None),
            (3, [], (None, None), {}),
        ],
        "a int, arr array<int>, st struct<x:int,y:string>, m map<string,double>",
    ),
    "date_decimal": (
        [
            (datetime.date(2020, 2, 29), Decimal("1.5")),
            (None, Decimal("-12345678901234567890123456789012345.678")),
        ],
        "d date, x decimal(38,3)",
    ),
    "empty": ([], "a int, b string"),
    "http_response": (
        [("GET", 200, "http://h/x", {"Content-Type": "text/plain"}, "text/plain", "hi")],
        HTTP_RESPONSE_SCHEMA,
    ),
    "describe_service_root": (
        [("http://h/svc/", "service_root", "4", None, None, None, None,
          [("People", "NS.Person", "http://h/svc/People")])],
        DESCRIBE_SCHEMA,
    ),
    "describe_entity_set": (
        [("http://h/svc/People", "entity_set", "4", "People", "NS.Person",
          [("Id", "Edm.Int32", "false")], [("Friends", "NS.Person", "true")],
          [("People", "NS.Person", None)])],
        DESCRIBE_SCHEMA,
    ),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_parity(spark, rows, schema):
    ref = spark.createDataFrame(rows, schema)
    got = local_rows(spark, rows, schema)
    assert got.schema == ref.schema
    # repr: NaN equals itself and -0.0 differs from 0.0
    assert repr(got.collect()) == repr(ref.collect())


@pytest.mark.parametrize("name", PARITY_INPUTS)
def test_parity_with_classic_path(spark, name):
    _assert_parity(spark, *PARITY_INPUTS[name])


def test_scalar_types_and_nulls(spark):
    _assert_parity(spark, *SCALARS_AND_NULLS)


def test_naive_timestamps_stay_ntz(spark):
    _assert_parity(spark, *NAIVE_NTZ)


def test_exact_int64_no_float_widening(spark):
    # 2**53 + 1 is NOT representable as a double: a float64 widening
    # would corrupt it silently.
    big = 2**53 + 1
    rows = [(1, big), (2, None)]
    got = local_rows(spark, rows, "a int, b long").collect()
    assert got[0]["b"] == big


def test_nan_stays_nan_on_arrow_path(spark):
    rows = [(1, float("nan")), (2, 1.5)]
    df = local_rows(spark, rows, "a int, c double")
    assert "ExistingRDD" not in _plan(df)
    got = df.collect()
    assert math.isnan(got[0]["c"]) and got[1]["c"] == 1.5


def test_nested_and_empty_on_arrow_path(spark):
    empty = local_rows(spark, [], "a int, b string")
    assert "ExistingRDD" not in _plan(empty)
    assert empty.collect() == []
    rows = [(1, [1, 2]), (2, [3])]
    ref = spark.createDataFrame(rows, "a int, arr array<int>")
    got = local_rows(spark, rows, "a int, arr array<int>")
    assert "ExistingRDD" not in _plan(got)
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


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1.5,)], "a int"),  # pa.array alone would truncate it to 1
        ([(1,)], "a double"),  # pa.array alone would widen it
        (["x"], "a string"),  # a bare value is not a row
        ([(None, 200, "u", None, None, None)], HTTP_RESPONSE_SCHEMA),  # non-nullable
    ],
    ids=["float_in_int", "int_in_double", "scalar_row", "null_in_non_nullable"],
)
def test_bad_cells_raise_like_classic_path(spark, rows, schema):
    with pytest.raises(Exception) as classic:
        spark.createDataFrame(rows, schema)
    with pytest.raises(type(classic.value)) as ours:
        local_rows(spark, rows, schema)
    assert str(ours.value) == str(classic.value)


def test_arrow_rejection_takes_classic_path(spark):
    # Arrow will not round 1.23456 to scale 3; the JVM rounds HALF_UP.
    rows = [(Decimal("1.23456"),), (Decimal("2.0005"),)]
    got = local_rows(spark, rows, "x decimal(38,3)")
    assert "ExistingRDD" in _plan(got)
    assert [r.x for r in got.collect()] == [Decimal("1.235"), Decimal("2.001")]


def test_no_python_workers_in_plan(spark):
    # Every parity input must be a JVM-side relation: no RDD scan of
    # pickled python partitions (which is what forks a worker per partition).
    inputs = {"scalars_and_nulls": SCALARS_AND_NULLS, "naive_ntz": NAIVE_NTZ, **PARITY_INPUTS}
    for name, (rows, schema) in inputs.items():
        plan = _plan(local_rows(spark, rows, schema))
        assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, (name, plan)
