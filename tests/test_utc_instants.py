"""One instant through every web-API read surface, whatever the process
time zone.

The fixture server serves 2024-01-01T10:30:00Z from REST, GraphQL, a
SharePoint list (plain and ``/delta``, batch and stream), ODP (batch and
stream) and an Excel date column (ISO string and serial day number).
Executor-side readers are called in-process and their record batches
checked in int64 microseconds; driver-side frames are checked as
``cast(... as string)`` under session time zone UTC. A reader that hands
naive datetimes to PySpark reads them as process-local time and shifts
the instant by the zone's offset. ``core.localframe.local_rows`` keeps
the classic ``createDataFrame`` rule for driver rows: there a naive
datetime in a ``timestamp`` field IS process-local wall time.
"""

from __future__ import annotations

import datetime

import pytest

pa = pytest.importorskip("pyarrow")

from pyspark.sql.types import (  # noqa: E402
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from fixtures.odata_server import INSTANT  # noqa: E402

WANT_US = 1704105000000000  # 2024-01-01T10:30:00Z, microseconds since epoch
WANT_STR = "2024-01-01 10:30:00"
ZONES = ["Europe/Berlin", "America/New_York"]
_AT = StructType([StructField("id", LongType()), StructField("at", TimestampType())])


def _micros(batches, column):
    """The int64 microseconds of ``column`` across ``batches``."""
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    return pa.Table.from_batches(batches).column(column).cast(pa.int64()).to_pylist()


def _as_utc_string(spark, df, column):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    return [r[0] for r in df.selectExpr(f"cast(`{column}` as string)").collect()]


@pytest.fixture()
def stamped_list_item(fixture_server):
    """A SharePoint list item due at the instant, removed afterwards."""
    item = {"id": "tz", "fields": {"Title": "tz", "DueDate": INSTANT}}
    fixture_server.state.sp_items.append(item)
    yield item
    fixture_server.state.sp_items.remove(item)


def _gclient(fixture_server):
    from erpl_web_spark.core.http import HttpClient
    from erpl_web_spark.sources.graph import GraphClient

    return GraphClient(fixture_server.base_url + "/graph", HttpClient())


@pytest.mark.parametrize("zone", ZONES)
def test_rest_reader_batch(tz, fixture_server, zone):
    from erpl_web_spark.sources.rest import RestReader, _RangePartition

    tz(zone)
    reader = RestReader(_AT, {"url": fixture_server.base_url + "/rest/instants"}, {})
    assert _micros(list(reader.read(_RangePartition(0, None, None))), "at") == [WANT_US]


@pytest.mark.parametrize("zone", ZONES)
def test_graphql_reader_batch(tz, fixture_server, zone):
    from erpl_web_spark.sources.graphql import GraphQLReader

    tz(zone)
    options = {
        "url": fixture_server.base_url + "/graphql",
        "query": "{ instants { id at } }",
        "data_path": "instants",
    }
    reader = GraphQLReader(_AT, options, {})
    assert _micros(list(reader.read(reader.partitions()[0])), "at") == [WANT_US]


@pytest.mark.parametrize("zone", ZONES)
def test_graph_list_items_frame(tz, spark, fixture_server, stamped_list_item, zone):
    from erpl_web_spark.sources.graph import graph_list_items

    tz(zone)
    df = graph_list_items(spark, _gclient(fixture_server), "s1", "l1").where("id = 'tz'")
    assert _as_utc_string(spark, df, "DueDate") == [WANT_STR]


@pytest.mark.parametrize("zone", ZONES)
def test_graph_list_items_delta_frame(
    tz, spark, fixture_server, stamped_list_item, tmp_path, zone
):
    from erpl_web_spark.sources.graph import graph_list_items_delta

    tz(zone)
    df = graph_list_items_delta(
        spark, _gclient(fixture_server), "s1", "l1", str(tmp_path / "state")
    ).where("id = 'tz'")
    assert _as_utc_string(spark, df, "DueDate") == [WANT_STR]


@pytest.mark.parametrize("zone", ZONES)
def test_graph_list_items_delta_stream_batch(tz, fixture_server, stamped_list_item, zone):
    from erpl_web_spark.sources.graph import sharepoint_list_schema
    from erpl_web_spark.streaming.graph_delta_stream import GraphDeltaStreamReader

    tz(zone)
    reader = GraphDeltaStreamReader(
        fixture_server.base_url + "/graph",
        "list_items",
        delta_path="/sites/s1/lists/l1/items/delta?expand=fields",
        col_specs=sharepoint_list_schema(_gclient(fixture_server), "s1", "l1").fields,
    )
    batches = list(reader.read(reader.initialOffset())[0])
    ids = pa.Table.from_batches(batches).column("id").to_pylist()
    assert _micros(batches, "DueDate")[ids.index("tz")] == WANT_US


@pytest.mark.parametrize("zone", ZONES)
def test_odp_frame(tz, spark, fixture_server, tmp_path, zone):
    from erpl_web_spark.sources.odp import odp_read

    tz(zone)
    df = odp_read(spark, fixture_server.base_url + "/odp/Stamps", state_dir=str(tmp_path))
    assert _as_utc_string(spark, df, "At") == [WANT_STR]


@pytest.mark.parametrize("zone", ZONES)
def test_odp_stream_batch(tz, fixture_server, tmp_path, zone):
    from erpl_web_spark.sources.odp import OdpReader
    from erpl_web_spark.streaming.odp_stream import OdpStreamReader

    tz(zone)
    url, state = fixture_server.base_url + "/odp/Stamps", str(tmp_path)
    reader = OdpStreamReader(url, OdpReader(url, state).schema(), None)
    batches, _offset = reader.read(reader.initialOffset())
    assert _micros(list(batches), "At") == [WANT_US]


@pytest.mark.parametrize("zone", ZONES)
def test_excel_date_column_frame(tz, spark, fixture_server, zone):
    from erpl_web_spark.sources.graph import graph_excel_range

    tz(zone)
    df = graph_excel_range(spark, _gclient(fixture_server), "f1", "Stamps")
    assert isinstance(df.schema["When"].dataType, TimestampType)
    assert _as_utc_string(spark, df, "When") == [WANT_STR]


@pytest.mark.parametrize("zone", ZONES)
def test_excel_serial_date_column_frame(tz, spark, fixture_server, zone):
    """Graph grids carry dates as Excel serial day numbers (45292.4375),
    not epoch seconds."""
    from erpl_web_spark.sources.graph import graph_excel_range

    tz(zone)
    df = graph_excel_range(spark, _gclient(fixture_server), "f1", "Serials")
    assert isinstance(df.schema["When"].dataType, TimestampType)
    assert _as_utc_string(spark, df, "When") == [WANT_STR]


@pytest.mark.parametrize("zone", ZONES)
@pytest.mark.parametrize("shape", ["scalar", "array"])
def test_local_rows_naive_ltz_is_local_wall_time(tz, spark, zone, shape):
    """A naive datetime in a ``timestamp`` (LTZ) field is driver-local wall
    time in ``local_rows``, as in ``spark.createDataFrame(rows, schema)``."""
    from erpl_web_spark.core.localframe import local_rows

    tz(zone)
    naive = datetime.datetime(2020, 1, 1, 12, 30, 15, 123456)
    rows, schema = {
        "scalar": ([(1, naive)], "a int, ts timestamp"),
        "array": ([(1, [naive, None])], "a int, ts array<timestamp>"),
    }[shape]
    want = spark.createDataFrame(rows, schema).collect()
    assert want == [(1, rows[0][1])]
    assert local_rows(spark, rows, schema).collect() == want


def test_driver_frames_plan_as_local_table_scan(spark, fixture_server, tmp_path):
    """Driver-built frames are JVM local relations: no Python worker is
    forked to unpickle driver rows when they execute."""
    from erpl_web_spark.sources.graph import graph_users
    from erpl_web_spark.sources.odp import odp_read

    frames = {
        "graph_users": graph_users(spark, _gclient(fixture_server)),
        "odp_read": odp_read(
            spark, fixture_server.base_url + "/odp/Facts", state_dir=str(tmp_path)
        ),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)
        assert df.count() > 0, name
