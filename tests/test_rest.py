"""Generic REST connector: all four pagination dialects + parallel
offset partitioning, against the fixture server's /rest/* endpoints."""

from __future__ import annotations

import pytest
from pyspark.sql.types import DoubleType, LongType

from erpl_web_spark.sources.rest import rest_read


def _ids(df):
    return [r.item_id for r in df.orderBy("item_id").collect()]


def test_rest_offset_single_stream(spark, fixture_server):
    df = rest_read(
        spark,
        fixture_server.base_url + "/rest/offset-items",
        paginate="offset",
        data_path="items",
        page_size=9,
    )
    assert _ids(df) == list(range(23))
    assert isinstance(df.schema["item_id"].dataType, LongType)
    assert isinstance(df.schema["score"].dataType, DoubleType)


def test_rest_offset_server_capped_page_size(spark, fixture_server):
    """A server that caps page size below the requested limit returns
    'short' full pages; the scan must continue to an empty page instead
    of silently truncating after the first short page."""
    df = rest_read(
        spark,
        fixture_server.base_url + "/rest/capped-items",
        paginate="offset",
        data_path="items",
        page_size=20,  # server caps at 5
    )
    assert _ids(df) == list(range(23))


def test_rest_offset_parallel_partitions(spark, fixture_server):
    df = rest_read(
        spark,
        fixture_server.base_url + "/rest/offset-items",
        paginate="offset",
        data_path="items",
        total_path="total",
        page_size=5,
        parallelism=4,
    )
    assert df.rdd.getNumPartitions() == 4
    assert _ids(df) == list(range(23))
    # disjoint offset ranges hit the server (6-item chunks)
    reqs = [
        r["query"]
        for r in fixture_server.state.log
        if r["path"] == "/rest/offset-items" and "offset" in r.get("query", {})
    ]
    offsets = {int(r["offset"]) for r in reqs}
    assert {0, 6, 12, 18} <= offsets


def test_rest_page_numbers(spark, fixture_server):
    df = rest_read(
        spark,
        fixture_server.base_url + "/rest/page-items",
        paginate="page",
        data_path="items",
        page_size=10,
    )
    assert _ids(df) == list(range(23))


def test_rest_cursor(spark, fixture_server):
    df = rest_read(
        spark,
        fixture_server.base_url + "/rest/cursor-items",
        paginate="cursor",
        data_path="data.items",
        cursor_path="data.next_cursor",
        page_size=8,
    )
    assert _ids(df) == list(range(23))


def test_rest_link_header(spark, fixture_server):
    df = rest_read(
        spark,
        fixture_server.base_url + "/rest/link-items",
        paginate="link",
        data_path="",
    )
    assert _ids(df) == list(range(23))


def test_rest_secret_auth_reaches_wire(spark, fixture_server, secrets_file):
    from erpl_web_spark.core.secrets import SecretRegistry

    reg = SecretRegistry(persist_path=secrets_file)
    reg.create_secret(
        "rest-fx", "http_bearer", scope=fixture_server.base_url + "/rest/",
        token="rest-tok",
    )
    fixture_server.state.log.clear()
    df = rest_read(
        spark,
        fixture_server.base_url + "/rest/offset-items",
        paginate="offset",
        data_path="items",
        page_size=50,
    )
    assert df.count() == 23
    auths = {
        r["headers"].get("Authorization")
        for r in fixture_server.state.log
        if r["path"] == "/rest/offset-items"
    }
    assert auths == {"Bearer rest-tok"}


def test_rest_writer_batches_and_collects(spark, fixture_server):
    import base64
    import datetime as dt

    at = dt.datetime(2024, 1, 1, 10, 30, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame(
        [(i, f"t{i}", at, bytes([i, 255])) for i in range(7)],
        "item_id long, title string, at timestamp, blob binary",
    ).coalesce(1)
    from erpl_web_spark.sources.rest import ensure_registered

    ensure_registered(spark)
    (
        df.write.format("rest")
        .option("url", fixture_server.base_url + "/rest/collector")
        .option("write_batch_size", "3")
        .mode("append")
        .save()
    )
    got = sorted(fixture_server.state.rest_collected, key=lambda d: d["item_id"])
    assert [d["item_id"] for d in got] == list(range(7))
    assert got[0]["title"] == "t0"
    # the wire encoding: the UTC instant with a Z, binary as base64
    assert {d["at"] for d in got} == {"2024-01-01T10:30:00Z"}
    assert [base64.b64decode(d["blob"]) for d in got] == [bytes([i, 255]) for i in range(7)]
    posts = [
        r for r in fixture_server.state.log
        if r["path"] == "/rest/collector" and r["method"] == "POST"
    ]
    # 7 rows at batch size 3 -> 3 requests
    assert len(posts) == 3


def test_rest_writer_overwrite_rejected_and_errors_surface(spark, fixture_server):
    import pytest as _pytest

    from erpl_web_spark.sources.rest import ensure_registered

    ensure_registered(spark)
    df = spark.createDataFrame([(1, "ok")], "item_id long, title string")
    with _pytest.raises(Exception, match="append-only"):
        (
            df.write.format("rest")
            .option("url", fixture_server.base_url + "/rest/collector")
            .mode("overwrite")
            .save()
        )
    before = len(fixture_server.state.rest_collected)
    bad = spark.createDataFrame([(2, "reject")], "item_id long, title string")
    with _pytest.raises(Exception, match="422"):
        (
            bad.write.format("rest")
            .option("url", fixture_server.base_url + "/rest/collector")
            .mode("append")
            .save()
        )
    assert len(fixture_server.state.rest_collected) == before


def test_rest_stream_writer_posts_each_microbatch(spark, fixture_server, tmp_path):
    import os

    from erpl_web_spark.sources.rest import ensure_registered

    ensure_registered(spark)
    src = str(tmp_path / "in")
    os.makedirs(src)
    spark.createDataFrame(
        [(100, "s0"), (101, "s1")], "item_id long, title string"
    ).coalesce(1).write.mode("overwrite").json(src)
    before = len(fixture_server.state.rest_collected)
    (
        spark.readStream.schema("item_id long, title string")
        .json(src)
        .writeStream.format("rest")
        .option("url", fixture_server.base_url + "/rest/collector")
        .option("write_batch_size", "10")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {
        d["item_id"]
        for d in fixture_server.state.rest_collected[before:]
    }
    assert got == {100, 101}


def test_rest_error_status_carries_status(fixture_server):
    """An error status on a page GET raises ``HttpStatusError`` (a
    ``RuntimeError``) with the status and URL."""
    from erpl_web_spark.core.http import HttpClient
    from erpl_web_spark.odata.client import HttpStatusError
    from erpl_web_spark.sources.rest import RestPager

    url = fixture_server.base_url + "/rest/no-such-route"
    pager = RestPager(HttpClient(), {"url": url})
    with pytest.raises(HttpStatusError) as err:
        next(pager.pages())
    assert err.value.status == 404
    assert isinstance(err.value, RuntimeError)
    assert str(err.value) == f"HTTP 404 fetching {url}"
