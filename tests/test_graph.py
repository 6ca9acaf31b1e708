"""Microsoft Graph family connector tests against the fixture server."""

import datetime as dt
import itertools
import json
from decimal import Decimal

import pytest

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.sources.graph import (
    GraphClient,
    excel_table_append,
    graph_calendar_events,
    graph_channel_messages,
    graph_describe_list,
    graph_devices,
    graph_excel_range,
    graph_excel_table_data,
    graph_excel_tables,
    graph_excel_worksheets,
    graph_groups,
    graph_list_files,
    graph_list_items,
    graph_mail_folders,
    graph_messages,
    graph_my_teams,
    graph_planner_buckets,
    graph_planner_create_task,
    graph_planner_plans,
    graph_planner_tasks,
    graph_show_lists,
    graph_show_sites,
    graph_sharepoint_create_item,
    graph_sharepoint_delete_item,
    graph_sharepoint_update_item,
    graph_signin_logs,
    graph_users,
)


@pytest.fixture()
def gclient(fixture_server):
    return GraphClient(fixture_server.base_url + "/graph", HttpClient())


_JOB_GROUPS = itertools.count()


def _jobs_of(spark, call):
    """``call()``'s result and the number of Spark jobs it ran (the jobs
    of a fresh job group, read through ``statusTracker``)."""
    sc = spark.sparkContext
    group = f"graph-bulk-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        result = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_users_pagination_merges_pages(spark, gclient, fixture_server):
    fixture_server.state.log.clear()
    df = graph_users(spark, gclient)
    rows = df.collect()
    assert len(rows) == 5  # 3 + 2 across two pages
    assert [f.name for f in df.schema.fields] == [
        "id", "display_name", "user_principal_name", "mail",
        "job_title", "department", "account_enabled",
    ]
    assert rows[0]["display_name"] == "User 0"
    assert len(fixture_server.state.requests_for("/graph/users")) == 2


def test_groups_devices_signins(spark, gclient):
    assert graph_groups(spark, gclient).collect()[0]["display_name"] == "Grp"
    assert graph_devices(spark, gclient).collect()[0]["operating_system"] == "Linux"
    s = graph_signin_logs(spark, gclient).collect()[0]
    assert s["created_datetime"] == dt.datetime(2024, 2, 1, 12, 0)
    assert '"errorCode": 0' in s["status"]


def test_sharepoint_discovery_and_typed_items(spark, gclient):
    assert graph_show_sites(spark, gclient).collect()[0]["id"] == "s1"
    assert graph_show_lists(spark, gclient, "s1").collect()[0]["id"] == "l1"
    desc = {r["name"]: r["column_type"] for r in
            graph_describe_list(spark, gclient, "s1", "l1").collect()}
    assert desc == {
        "Title": "string", "Amount": "double", "Cost": "double",
        "Active": "boolean", "DueDate": "timestamp", "Status": "string",
    }
    items = graph_list_items(spark, gclient, "s1", "l1")
    assert items.schema["Amount"].dataType.simpleString() == "double"
    first = items.orderBy("id").collect()[0]
    assert first["Title"] == "first"
    assert first["Amount"] == 10.5
    assert first["DueDate"] == dt.datetime(2024, 5, 1)


def test_sharepoint_write_cycle(spark, gclient, fixture_server):
    n_before = len(fixture_server.state.sp_items)
    new_id = graph_sharepoint_create_item(gclient, "s1", "l1",
                                          {"Title": "third", "Amount": 3.0})
    assert len(fixture_server.state.sp_items) == n_before + 1
    graph_sharepoint_update_item(gclient, "s1", "l1", new_id, {"Amount": 4.5})
    item = next(i for i in fixture_server.state.sp_items if i["id"] == new_id)
    assert item["fields"]["Amount"] == 4.5
    graph_sharepoint_delete_item(gclient, "s1", "l1", new_id)
    assert all(i["id"] != new_id for i in fixture_server.state.sp_items)


def test_sharepoint_write_batch_coalescing(spark, fixture_server):
    """$batch coalescing budget: N-request and byte budgets each bound
    the wire-request count; every row still lands in server state."""
    from erpl_web_spark.sources.graph import sharepoint_list_write

    base = fixture_server.base_url + "/graph"
    factory = lambda: GraphClient(base, HttpClient())  # noqa: E731
    df = spark.createDataFrame(
        [(f"bt-{i}", float(i)) for i in range(7)], "Title string, Amount double"
    ).repartition(1)

    n0 = len(fixture_server.state.sp_items)
    fixture_server.state.log.clear()
    sharepoint_list_write(df, factory, "s1", "l1", batch_size=3)
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 3  # ceil(7/3)
    assert len(fixture_server.state.sp_items) == n0 + 7

    fixture_server.state.log.clear()
    sharepoint_list_write(df, factory, "s1", "l1", batch_size=20)
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 1
    assert len(fixture_server.state.sp_items) == n0 + 14
    sent = json.loads(fixture_server.state.requests_for("/graph/$batch")[0]["body"])

    # byte budget: each subrequest is ~120 bytes, so a 1-byte budget
    # degrades to one request per row (budget always admits >= 1)
    fixture_server.state.log.clear()
    sharepoint_list_write(df, factory, "s1", "l1", batch_size=20, batch_max_bytes=1)
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 7
    assert len(fixture_server.state.sp_items) == n0 + 21
    created = [i["fields"]["Title"] for i in fixture_server.state.sp_items[n0:]]
    assert sorted(created) == sorted([f"bt-{i}" for i in range(7)] * 3)

    # the byte budget counts the bytes sent: each subrequest as encoded
    # inside the envelope (id and headers included), so a budget one
    # byte short of two subrequests puts one in each envelope
    first, second = (len(json.dumps(sub)) for sub in sent["requests"][:2])
    fixture_server.state.log.clear()
    sharepoint_list_write(
        df, factory, "s1", "l1", batch_size=20, batch_max_bytes=first + second - 1
    )
    envelopes = fixture_server.state.requests_for("/graph/$batch")
    assert [len(json.loads(e["body"])["requests"]) for e in envelopes] == [1] * 7
    assert len(fixture_server.state.sp_items) == n0 + 28
    # restore shared fixture state for later tests
    del fixture_server.state.sp_items[n0:]


def test_graph_bulk_writers_return_rows_written(spark, fixture_server):
    """Both bulk writers report rows written (summed over partitions and
    over both write paths), not the DataFrame's column count, in one
    Spark job per call; typed cells go out in the JSON wire encoding
    (a timestamp as its UTC instant with a Z, a decimal as a string)."""
    from erpl_web_spark.sources.graph import excel_table_write, sharepoint_list_write

    base = fixture_server.base_url + "/graph"
    factory = lambda: GraphClient(base, HttpClient())  # noqa: E731
    due = dt.datetime(2024, 5, 1, 8, 0, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame(
        [(f"rw-{i}", float(i), due, Decimal("12.50")) for i in range(5)],
        "Title string, Amount double, DueDate timestamp, Cost decimal(10,2)",
    ).coalesce(2)  # two partitions, no shuffle job of their own

    n0 = len(fixture_server.state.sp_items)
    for batch_size in (20, 1):
        assert _jobs_of(
            spark, lambda: sharepoint_list_write(df, factory, "s1", "l1", batch_size=batch_size)
        ) == (5, 1)
    assert len(fixture_server.state.sp_items) == n0 + 10
    stored = [i["fields"] for i in fixture_server.state.sp_items[n0:]]
    assert {(f["DueDate"], f["Cost"]) for f in stored} == {("2024-05-01T08:00:00Z", "12.50")}
    del fixture_server.state.sp_items[n0:]

    e0 = len(fixture_server.state.excel_appended)
    assert _jobs_of(spark, lambda: excel_table_write(df, factory, "f1", "T1")) == (5, 1)
    assert len(fixture_server.state.excel_appended) == e0 + 5
    assert fixture_server.state.excel_appended[e0][2:] == ["2024-05-01T08:00:00Z", "12.50"]
    del fixture_server.state.excel_appended[e0:]


def test_graph_batch_throttled_subrequests_retry(fixture_server):
    """Graph throttles PER SUBREQUEST inside a 200 envelope: 429'd
    subrequests must be re-issued in a follow-up envelope (honoring
    Retry-After) while successes are kept — not raised, not re-sent."""
    from erpl_web_spark.sources.graph import graph_batch_execute

    g = GraphClient(fixture_server.base_url + "/graph", HttpClient())
    n0 = len(fixture_server.state.planner_created)
    fixture_server.state.log.clear()
    reqs = [
        {"method": "POST", "url": "/planner/tasks", "body": {"title": t}}
        for t in ["ok-1", "thr-a", "ok-2", "thr-b"]
    ]
    out = graph_batch_execute(g, reqs)
    assert [r["status"] for r in out] == [201, 201, 201, 201]
    # 2 envelopes on the wire: the full batch, then the 2 throttled retries
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 2
    created = [t["title"] for t in fixture_server.state.planner_created[n0:]]
    # each task created exactly once, successes never re-sent
    assert sorted(created) == ["ok-1", "ok-2", "thr-a", "thr-b"]
    # responses map back to input order
    assert out[1]["body"]["title"] == "thr-a" and out[3]["body"]["title"] == "thr-b"


def test_graph_batch_waits_retry_after(fixture_server, monkeypatch):
    """Throttled subresponses carry ``Retry-After: 2``: the next envelope
    goes out after the one retry wait, ``core.http.retry_delay``'s 2 s."""
    from erpl_web_spark.core import http as http_core
    from erpl_web_spark.sources.graph import graph_batch_execute

    sleeps = []
    monkeypatch.setattr(http_core, "sleep", sleeps.append)
    g = GraphClient(fixture_server.base_url + "/graph", HttpClient())
    reqs = [{"method": "POST", "url": "/planner/tasks", "body": {"title": t}}
            for t in ("thr-wait-1", "ok-wait", "thr-wait-2")]
    out = graph_batch_execute(g, reqs)
    assert ([r["status"] for r in out], sleeps) == ([201, 201, 201], [2.0])


def test_graph_batch_failure_is_attributable(fixture_server):
    from erpl_web_spark.sources.graph import graph_batch_execute

    g = GraphClient(fixture_server.base_url + "/graph", HttpClient())
    ok = {"method": "POST", "url": "/planner/tasks", "body": {"title": "t"}}
    bad = {"method": "POST", "url": "/nope", "body": {}}
    with pytest.raises(RuntimeError, match=r"id=1.*404"):
        graph_batch_execute(g, [ok, bad])


def test_excel_grid_typing(spark, gclient):
    assert graph_list_files(spark, gclient).collect()[0]["name"] == "book.xlsx"
    assert graph_excel_worksheets(spark, gclient, "f1").collect()[0]["name"] == "Sheet1"
    assert graph_excel_tables(spark, gclient, "f1").collect()[0]["name"] == "T1"
    df = graph_excel_table_data(spark, gclient, "f1", "T1")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"Name": "string", "Qty": "double", "Price": "double",
                     "Done": "boolean", "When": "timestamp"}
    rows = df.orderBy("Name").collect()
    assert rows[0]["Name"] == "alpha" and rows[0]["Qty"] == 1.0
    assert rows[0]["When"] == dt.datetime(2024, 3, 1)
    # usedRange path returns the same grid
    assert graph_excel_range(spark, gclient, "f1", "Sheet1").count() == 2


def test_excel_append_uses_session_batches(gclient, fixture_server):
    fixture_server.state.excel_appended.clear()
    n = excel_table_append(gclient, "f1", "T1",
                           [["r1", 1, 1.0, True, "2024-01-01"]] * 5, batch_size=2)
    assert n == 5
    assert len(fixture_server.state.excel_appended) == 5
    assert len(fixture_server.state.excel_sessions) >= 1  # createSession used


def test_teams_outlook(spark, gclient):
    assert graph_my_teams(spark, gclient).collect()[0]["display_name"] == "Team 1"
    msg = graph_channel_messages(spark, gclient, "t1", "c1").collect()[0]
    assert msg["from_user"] == "User 0" and msg["content"] == "hello"
    ev = graph_calendar_events(spark, gclient).collect()[0]
    assert ev["subject"] == "Standup"
    assert ev["start_at"] == dt.datetime(2024, 2, 5, 9, 0)
    assert graph_mail_folders(spark, gclient).collect()[0]["display_name"] == "Inbox"
    m = graph_messages(spark, gclient, folder="inbox").collect()[0]
    assert m["subject"] == "Hi" and m["is_read"] is False


def test_planner_and_create_task(spark, gclient, fixture_server):
    assert graph_planner_plans(spark, gclient, "g1").collect()[0]["title"] == "Plan 1"
    assert graph_planner_buckets(spark, gclient, "p1").collect()[0]["name"] == "Todo"
    t = graph_planner_tasks(spark, gclient, "p1").collect()[0]
    assert t["percent_complete"] == "50"
    task_id, url = graph_planner_create_task(gclient, "p1", "New task",
                                             bucket_id="b1")
    assert task_id.startswith("task-")
    assert task_id in url
    assert fixture_server.state.planner_created[-1]["title"] == "New task"


def test_planner_bulk_create(spark, fixture_server):
    from erpl_web_spark.sources.graph import planner_create_tasks
    from erpl_web_spark.core.http import HttpClient
    from erpl_web_spark.sources.graph import GraphClient

    base = fixture_server.base_url + "/graph"
    before = len(fixture_server.state.planner_created)
    df = spark.createDataFrame([("t-%d" % i,) for i in range(7)], "title string")
    out = planner_create_tasks(
        df.repartition(3), lambda: GraphClient(base, HttpClient()), "p1"
    ).collect()
    assert len(out) == 7
    assert all(r["task_id"].startswith("task-") for r in out)
    assert all(r["task_id"] in r["task_url"] for r in out)
    created = fixture_server.state.planner_created[before:]
    assert sorted(c["title"] for c in created) == sorted(r["title"] for r in out)


def test_sharepoint_bulk_update_delete_batched(spark, fixture_server):
    """B2 bulk UPDATE/DELETE ride $batch envelopes with the same dual
    budget as creates: request counts asserted on the wire at two batch
    sizes, server state asserted after each pass."""
    from erpl_web_spark.sources.graph import (
        sharepoint_list_delete,
        sharepoint_list_update,
        sharepoint_list_write,
    )

    base = fixture_server.base_url + "/graph"
    factory = lambda: GraphClient(base, HttpClient())  # noqa: E731
    n0 = len(fixture_server.state.sp_items)
    seed = spark.createDataFrame(
        [(f"u-{i}", 0.0) for i in range(6)], "Title string, Amount double"
    ).repartition(1)
    sharepoint_list_write(seed, factory, "s1", "l1", batch_size=20)
    ids = [i["id"] for i in fixture_server.state.sp_items[n0:]]

    # bulk update, batch_size=4 -> ceil(6/4)=2 envelopes, no direct PATCH
    upd = spark.createDataFrame(
        [(ids[i], 10.0 + i) for i in range(6)], "item_id string, Amount double"
    ).repartition(1)
    fixture_server.state.log.clear()
    assert sharepoint_list_update(upd, factory, "s1", "l1", batch_size=4) == 6
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 2
    got = {i["id"]: i["fields"]["Amount"] for i in fixture_server.state.sp_items[n0:]}
    assert got == {ids[i]: 10.0 + i for i in range(6)}

    # batch_size=1 degrades to per-item PATCHes (reference parity path)
    fixture_server.state.log.clear()
    assert sharepoint_list_update(upd, factory, "s1", "l1", batch_size=1) == 6
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 0

    # bulk delete, one envelope; then per-item path for the rest
    dels = spark.createDataFrame([(i,) for i in ids[:4]], "item_id string").repartition(1)
    fixture_server.state.log.clear()
    assert sharepoint_list_delete(dels, factory, "s1", "l1", batch_size=20) == 4
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 1
    assert {i["id"] for i in fixture_server.state.sp_items[n0:]} == set(ids[4:])

    rest = spark.createDataFrame([(i,) for i in ids[4:]], "item_id string").repartition(1)
    fixture_server.state.log.clear()
    assert sharepoint_list_delete(rest, factory, "s1", "l1", batch_size=1) == 2
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 0
    assert len(fixture_server.state.sp_items) == n0


def test_planner_bulk_create_batch_sizes(spark, fixture_server):
    """B1 bulk creates ride $batch envelopes: 7 tasks in one partition
    cut into ceil(7/4)=2 envelopes at batch_size=4, and batch_size=1
    degrades to 7 per-row POSTs with zero $batch calls — request counts
    asserted on the wire at both sizes."""
    from erpl_web_spark.core.http import HttpClient
    from erpl_web_spark.sources.graph import GraphClient, planner_create_tasks

    base = fixture_server.base_url + "/graph"
    df = spark.createDataFrame([("t-%d" % i,) for i in range(7)], "title string")

    fixture_server.state.log.clear()
    out = planner_create_tasks(
        df.coalesce(1), lambda: GraphClient(base, HttpClient()), "p1", batch_size=4
    ).collect()
    assert len(out) == 7
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 2
    assert len(fixture_server.state.requests_for("/graph/planner/tasks")) == 0

    fixture_server.state.log.clear()
    out = planner_create_tasks(
        df.coalesce(1), lambda: GraphClient(base, HttpClient()), "p1", batch_size=1
    ).collect()
    assert len(out) == 7
    assert len(fixture_server.state.requests_for("/graph/$batch")) == 0
    assert len(fixture_server.state.requests_for("/graph/planner/tasks")) == 7


def test_graph_users_delta_sync(spark, fixture_server, tmp_path):
    """Graph /delta CDC: full load -> updates + tombstones -> steady
    state; composing with apply_cdc_changes maintains the directory."""
    from erpl_web_spark.core.http import HttpClient
    from erpl_web_spark.operators.cdc import apply_cdc_changes
    from erpl_web_spark.sources.graph import GraphClient, graph_users_delta

    g = GraphClient(fixture_server.base_url + "/graph", HttpClient())
    state = str(tmp_path / "gstate")

    # 1) initial load: 5 users over 2 pages, all upserts
    full = graph_users_delta(spark, g, state)
    rows = full.collect()
    assert len(rows) == 5 and all(r["change_op"] == "U" for r in rows)

    # 2) delta: u1 renamed + u3 tombstoned
    delta = graph_users_delta(spark, g, state)
    ops = {r["id"]: r["change_op"] for r in delta.collect()}
    assert ops == {"u1": "U", "u3": "D"}

    # 3) steady state: no changes
    assert graph_users_delta(spark, g, state).count() == 0

    # 4) snapshot maintenance through the CDC merge
    snap = apply_cdc_changes(
        full.drop("change_op"), delta, ["id"], op_col="change_op"
    )
    final = {r["id"]: r["display_name"] for r in snap.collect()}
    assert "u3" not in final and final["u1"] == "User 1 Renamed"
    assert len(final) == 4


@pytest.mark.parametrize("surface", ["batch", "stream"])
def test_graph_delta_page_cap_resumes(spark, fixture_server, tmp_path, monkeypatch, surface):
    """Hitting MAX_GRAPH_PAGES mid-walk must persist that page's
    nextLink as a resumable cursor: the next sync continues the walk
    (no re-delivery, no lost progress) and eventually lands on the
    deltaLink steady state — for the batch helper (cursor in a state
    file) and the streaming source (cursor as the offset) alike."""
    import erpl_web_spark.sources.graph as graph_mod
    from erpl_web_spark.core.http import HttpClient
    from erpl_web_spark.sources.graph import GraphClient, graph_users_delta
    from erpl_web_spark.streaming.graph_delta_stream import GraphDeltaStreamReader

    monkeypatch.setattr(graph_mod, "MAX_GRAPH_PAGES", 1)
    base = fixture_server.base_url + "/graph"
    if surface == "batch":
        g = GraphClient(base, HttpClient())
        state = str(tmp_path / "gstate")

        def sync():
            df = graph_users_delta(spark, g, state)
            return [(r["id"], r["change_op"]) for r in df.collect()]
    else:
        reader = GraphDeltaStreamReader(base, "users")
        offset = reader.initialOffset()

        def sync():
            nonlocal offset
            batches, offset = reader.read(offset)
            return [(r["id"], r["change_op"]) for b in batches for r in b.to_pylist()]

    # page cap of 1: the 5-user 2-page initial load arrives over two syncs
    first = sync()
    assert len(first) == 3
    second = sync()
    assert len(second) == 2
    # no overlap — progress, not re-delivery
    assert {i for i, _ in first}.isdisjoint({i for i, _ in second})

    # now on the deltaLink: changes, then steady state, as usual
    assert dict(sync()) == {"u1": "U", "u3": "D"}
    assert sync() == []


def test_graph_delta_cursor_survives_failed_write(fixture_server, tmp_path, monkeypatch):
    """A cursor write that fails after a walk leaves the old cursor
    whole: the next sync resumes from it (no empty state file that
    every later sync fails to parse)."""
    import erpl_web_spark.sources.graph as graph_mod

    g = GraphClient(fixture_server.base_url + "/graph", HttpClient())
    state = str(tmp_path / "gstate")

    def sync():
        items = graph_mod._delta_sync(g, "/users/delta", "users", state)
        return sorted(i["id"] for i in items)

    assert sync() == [f"u{i}" for i in range(5)]  # initial load -> G1
    real_dump = json.dump

    def dump_fails_once(*args, **kwargs):
        monkeypatch.setattr(json, "dump", real_dump)
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", dump_fails_once)
    with pytest.raises(OSError, match="disk full"):
        sync()  # the G1 delta is walked, its cursor write fails
    assert sync() == ["u1", "u3"]  # G1 again
    assert sync() == []  # G2, steady state


def test_graph_groups_delta_sync(spark, fixture_server, tmp_path):
    from erpl_web_spark.core.http import HttpClient
    from erpl_web_spark.sources.graph import GraphClient, graph_groups_delta

    g = GraphClient(fixture_server.base_url + "/graph", HttpClient())
    state = str(tmp_path / "gstate")
    full = graph_groups_delta(spark, g, state)
    assert [(r["id"], r["change_op"]) for r in full.collect()] == [("g1", "U")]
    delta = graph_groups_delta(spark, g, state).collect()
    assert len(delta) == 1 and delta[0]["display_name"] == "Grp Renamed"
    assert delta[0]["security_enabled"] is True
    assert graph_groups_delta(spark, g, state).count() == 0


def test_graph_delta_streaming_source(spark, fixture_server, tmp_path):
    """Graph /delta as a streaming source: the deltaLink is the offset,
    so the checkpoint alone carries sync state across runs (foreachBatch
    sink — the memory sink cannot resume from a checkpoint)."""
    from erpl_web_spark.streaming.graph_delta_stream import GraphDeltaDataSource

    spark.dataSource.register(GraphDeltaDataSource)
    ckpt = str(tmp_path / "ckpt")
    batches: list[list] = []

    def run_once():
        stream = (
            spark.readStream.format("graph_delta")
            .option("base_url", fixture_server.base_url + "/graph")
            .option("entity", "users")
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: batches.append(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = {(r["id"], r["change_op"]) for b in batches for r in b}
    assert {("u0", "U"), ("u4", "U")} <= first and len(first) >= 5

    batches.clear()
    run_once()  # same checkpoint: only the G1 delta arrives
    second = {(r["id"], r["change_op"]) for b in batches for r in b}
    assert ("u3", "D") in second and ("u1", "U") in second
    assert ("u0", "U") not in second  # no full-reload replay


def test_graph_list_items_delta_streaming(spark, fixture_server, tmp_path):
    """SharePoint list items as a streaming delta source: schema typed
    from column facets at plan time, deltaLink as the offset, second run
    on the same checkpoint delivers only the edit + tombstone."""
    from erpl_web_spark.streaming.graph_delta_stream import GraphDeltaDataSource

    spark.dataSource.register(GraphDeltaDataSource)
    ckpt = str(tmp_path / "ckpt_li")
    batches: list[list] = []

    def run_once():
        stream = (
            spark.readStream.format("graph_delta")
            .option("base_url", fixture_server.base_url + "/graph")
            .option("entity", "list_items")
            .option("site_id", "s1")
            .option("list_id", "l1")
            .load()
        )
        assert stream.schema["Amount"].dataType.simpleString() == "double"
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: batches.append(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = {(r["id"], r["change_op"]) for b in batches for r in b}
    assert {("1", "U"), ("2", "U")} <= first

    batches.clear()
    run_once()  # same checkpoint -> only the L1 delta
    rows = {r["id"]: r for b in batches for r in b}
    assert rows["2"]["change_op"] == "U" and rows["2"]["Title"] == "Row2 edited"
    assert rows["2"]["Amount"] == 99.5
    assert rows["1"]["change_op"] == "D" and rows["1"]["Title"] is None
    assert "3" not in rows  # no full-reload replay


def test_graph_list_items_delta_sync(spark, fixture_server, tmp_path):
    """SharePoint list-items delta: facet-typed columns, tombstones, and
    snapshot maintenance through the CDC merge."""
    from erpl_web_spark.core.http import HttpClient
    from erpl_web_spark.operators.cdc import apply_cdc_changes
    from erpl_web_spark.sources.graph import GraphClient, graph_list_items_delta

    g = GraphClient(fixture_server.base_url + "/graph", HttpClient())
    state = str(tmp_path / "lstate")

    full = graph_list_items_delta(spark, g, "s1", "l1", state)
    rows = full.collect()
    assert {r["id"] for r in rows} == {"1", "2"}
    assert all(r["change_op"] == "U" for r in rows)
    amounts = {r["id"]: r["Amount"] for r in rows}
    assert amounts == {"1": 10.5, "2": 20.0}  # facet-typed DOUBLE

    delta = graph_list_items_delta(spark, g, "s1", "l1", state)
    ops = {r["id"]: r["change_op"] for r in delta.collect()}
    assert ops == {"2": "U", "1": "D"}

    assert graph_list_items_delta(spark, g, "s1", "l1", state).count() == 0

    snap = apply_cdc_changes(full.drop("change_op"), delta, ["id"], op_col="change_op")
    final = {r["id"]: r["Title"] for r in snap.collect()}
    assert final == {"2": "Row2 edited"}


def test_graph_get_json_error_status_carries_status(gclient, fixture_server):
    """An error status on ``GraphClient.get_json`` raises
    ``HttpStatusError`` (a ``RuntimeError``) with the status and URL."""
    from erpl_web_spark.odata.client import HttpStatusError

    with pytest.raises(HttpStatusError) as err:
        gclient.get_json("/no/such/route")
    assert err.value.status == 404
    assert str(err.value) == (
        f"HTTP 404 fetching {fixture_server.base_url}/graph/no/such/route"
    )


def test_absent_graph_fields_read_null(spark, gclient):
    """A field the item omits reads NULL, never the string "None"; a
    number in a string column still reads as its digits."""
    from erpl_web_spark.sources.graph import graph_team_members

    files = {r["id"]: r for r in graph_list_files(spark, gclient).collect()}
    assert files["f1"]["size"] == "1234" and files["f1"]["is_folder"] is False
    assert files["d1"]["size"] is None and files["d1"]["mime_type"] is None
    assert files["d1"]["is_folder"] is True
    sheets = {r["id"]: r["position"] for r in graph_excel_worksheets(spark, gclient, "f1").collect()}
    assert sheets == {"ws1": "0", "ws2": None}
    folders = {
        r["id"]: (r["total_items"], r["unread_items"])
        for r in graph_mail_folders(spark, gclient).collect()
    }
    assert folders == {"inbox": ("2", "1"), "drafts": (None, None)}
    tasks = {
        r["id"]: (r["percent_complete"], r["priority"])
        for r in graph_planner_tasks(spark, gclient, "p1").collect()
    }
    assert tasks == {"tk1": ("50", "5"), "tk2": (None, None)}
    roles = {r["id"]: r["roles"] for r in graph_team_members(spark, gclient, "t1").collect()}
    assert roles == {"mb1": '["owner"]', "mb2": None}
