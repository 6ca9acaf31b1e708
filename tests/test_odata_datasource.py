"""End-to-end Python Data Source tests against the local fixture server.

The flagship slice from SURVEY.md §7.3: probe -> EDMX -> type mapping ->
pushdown -> pagination -> decoding, with $filter/$select/$top observable
in the fixture server's request log.
"""

import datetime as dt
from decimal import Decimal

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def registered(spark):
    from erpl_web_spark.odata.datasource import ODataDataSource

    spark.dataSource.register(ODataDataSource)
    return spark


def read_people(registered, fixture_server, **options):
    reader = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v4/People")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def test_v4_schema_from_edmx(registered, fixture_server):
    df = read_people(registered, fixture_server)
    types = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert types["UserName"] == "string"
    assert types["Age"] == "bigint"
    assert types["Balance"] == "decimal(19,4)"
    assert types["Active"] == "boolean"
    assert types["Joined"] == "timestamp"
    assert types["Emails"] == "array<string>"
    assert types["HomeAddress"].startswith("struct<Street:string,City:struct<")


def test_v4_full_scan_pagination(registered, fixture_server):
    df = read_people(registered, fixture_server)
    rows = df.collect()
    assert len(rows) == 10  # 10 people, page size 3 -> 4 pages followed
    byname = {r["UserName"]: r for r in rows}
    assert byname["user2"]["Age"] == 22
    assert byname["user2"]["Balance"] == Decimal("102.5000")
    assert byname["user2"]["Emails"] == ["user2@a.example", "user2@b.example"]
    assert byname["user2"]["HomeAddress"]["City"]["Name"] == "Rome"
    assert byname["user2"]["Joined"] == dt.datetime(2023, 3, 15, 10, 30)


def test_filter_pushdown_reaches_server(registered, fixture_server):
    fixture_server.state.log.clear()
    df = read_people(registered, fixture_server).filter(
        (F.col("Age") > 24) & (F.col("Active") == True)  # noqa: E712
    )
    rows = df.collect()
    assert {r["UserName"] for r in rows} == {"user6", "user8"}
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert any(
        "$filter" in r["query"] and "Age gt 24" in r["query"]["$filter"]
        and "Active eq true" in r["query"]["$filter"]
        for r in reqs
    ), f"no pushed $filter seen: {[r['query'] for r in reqs]}"


def test_user_filter_and_combined_with_pushed(registered, fixture_server):
    """A $filter already on the user URL must AND-combine with pushed
    predicates — not silently drop them (merge_query_params never
    overwrites a user $filter, and Spark has removed pushed predicates
    from its plan, so dropping would apply them nowhere)."""
    fixture_server.state.log.clear()
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v4/People?$filter=Age%20le%2027")
        .load()
        .filter(F.col("Age") > 24)
    )
    rows = df.collect()
    assert {r["UserName"] for r in rows} == {"user5", "user6", "user7"}
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert any(
        "$filter" in r["query"]
        and "Age le 27" in r["query"]["$filter"]
        and "Age gt 24" in r["query"]["$filter"]
        and " and " in r["query"]["$filter"]
        for r in reqs
    ), f"combined $filter not seen: {[r['query'] for r in reqs]}"


def test_select_option_pushdown(registered, fixture_server):
    fixture_server.state.log.clear()
    df = read_people(registered, fixture_server, select="UserName,Age")
    out = df.select("UserName", "Age").collect()
    assert len(out) == 10
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert any(r["query"].get("$select") == "UserName,Age" for r in reqs)


def test_top_option_limits_rows(registered, fixture_server):
    df = read_people(registered, fixture_server, top="4")
    assert df.count() == 4


def test_residual_filter_reapplied(registered, fixture_server):
    # Empty-string equality is NOT pushed (reference skip rule); Spark must
    # still apply it locally => 0 rows. (Spark also pushes an implicit
    # IsNotNull, which legitimately becomes 'ne null' — only the
    # empty-string comparison must stay out of $filter.)
    fixture_server.state.log.clear()
    df = read_people(registered, fixture_server).filter(F.col("UserName") == "")
    assert df.count() == 0
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert all("eq ''" not in r["query"].get("$filter", "") for r in reqs)


def test_parallel_partitions_by_skip_range(registered, fixture_server):
    fixture_server.state.log.clear()
    df = read_people(registered, fixture_server, parallelism="3")
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 10
    assert len({r["UserName"] for r in rows}) == 10  # no dup/loss across ranges
    # Each $skip range request must carry $orderby on the entity-set key:
    # OData guarantees no stable order across independent requests.
    ranged = [
        r for r in fixture_server.state.requests_for("/v4/People")
        if r["query"] and "$skip" in r["query"]
    ]
    assert ranged and all(r["query"].get("$orderby") == "UserName" for r in ranged)


def test_auto_partition_splits_large_scan(registered, fixture_server):
    """parallelism=auto (the default) range-partitions a scan whose
    $count exceeds the per-partition row budget: the probe goes out
    once, the windows carry disjoint $skip ranges with the entity-key
    $orderby, and the union equals the single-chain result."""
    fixture_server.state.log.clear()
    df = read_people(registered, fixture_server, auto_partition_rows="3")
    assert df.rdd.getNumPartitions() == 4  # ceil(10 / 3) = 4 windows
    rows = df.collect()
    assert len(rows) == 10
    assert len({r["UserName"] for r in rows}) == 10  # no dup/loss
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    probes = [
        r for r in reqs
        if r["query"].get("$count") == "true" and r["query"].get("$top") == "0"
    ]
    assert len(probes) == 1, f"expected one $count probe: {[r['query'] for r in reqs]}"
    ranged = [r for r in reqs if "$skip" in r["query"]]
    skips = sorted(int(r["query"]["$skip"]) for r in ranged)
    assert skips == [0, 3, 6, 9]
    assert all(r["query"].get("$orderby") == "UserName" for r in ranged)


def test_auto_partition_small_scan_stays_single_chain(registered, fixture_server):
    """Default budget (50k rows/partition): a 10-row entity set probes
    $count but plans ONE page chain — no $skip windows."""
    fixture_server.state.log.clear()
    df = read_people(registered, fixture_server)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 10
    # no range windows: nothing carries the entity-key $orderby (the
    # server's own next-page links do use $skip — that's the one chain)
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert not any("$orderby" in r["query"] for r in reqs)


def test_auto_partition_small_top_skips_probe(registered, fixture_server):
    """An explicit small top can never split — the $count probe request
    is skipped entirely (no extra round-trip for point reads)."""
    fixture_server.state.log.clear()
    df = read_people(registered, fixture_server, top="4")
    assert df.count() == 4
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert not any(r["query"].get("$count") == "true" for r in reqs)


def test_user_orderby_pushed_to_server(registered, fixture_server):
    """orderby option -> $orderby on every request (beyond-reference:
    server-side ORDER BY), and rows arrive server-sorted."""
    fixture_server.state.log.clear()
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v4/People")
        .option("orderby", "Age desc")
        .option("top", "4")
        .load()
    )
    ages = [r["Age"] for r in df.collect()]
    assert ages == [29, 28, 27, 26]
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert any(r["query"].get("$orderby") == "Age desc" for r in reqs)


def test_apply_aggregation_pushdown(registered, fixture_server):
    """Server-side aggregation via $apply (beyond-reference pushdown):
    groupby+aggregate options compile to
    $apply=groupby((dims),aggregate(...)); the server aggregates and
    Spark never sees the raw entity set. Schema is inferred (typed) from
    the applied first page."""
    fixture_server.state.log.clear()
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v4/People")
        .option("groupby", "Segment")
        .option("aggregate", "Age with sum as TotalAge, Score with max as MaxScore")
        .load()
    )
    rows = {r["Segment"]: r for r in df.collect()}
    assert set(rows) == {"Retail", "Wholesale"}
    assert rows["Retail"]["TotalAge"] == 120 and rows["Wholesale"]["TotalAge"] == 125
    assert rows["Retail"]["MaxScore"] == 4.0 and rows["Wholesale"]["MaxScore"] == 4.5
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"Segment": "string", "TotalAge": "bigint", "MaxScore": "double"}
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert any(
        r["query"].get("$apply")
        == "groupby((Segment),aggregate(Age with sum as TotalAge, Score with max as MaxScore))"
        for r in reqs
    ), f"$apply not on the wire: {[r['query'] for r in reqs]}"


def test_apply_filters_stay_residual(registered, fixture_server):
    """With $apply active, Spark filters reference aggregate output
    columns — they must NOT be pushed as $filter (which evaluates
    pre-aggregation); Spark applies them post-aggregation."""
    fixture_server.state.log.clear()
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v4/People")
        .option("groupby", "Segment")
        .option("aggregate", "Age with sum as TotalAge")
        .load()
        .filter(F.col("TotalAge") > 121)
    )
    rows = df.collect()
    assert [r["Segment"] for r in rows] == ["Wholesale"]
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert not any("$filter" in r["query"] for r in reqs)


def test_apply_single_partition_and_bounded_probe(registered, fixture_server):
    """$apply reads must plan ONE partition even with parallelism>1: a
    $count probe + $skip windows would paginate the grouped rowset the
    probe never counted, and entity-key $orderby columns don't exist
    post-aggregation. The schema probe is also $top-bounded."""
    fixture_server.state.log.clear()
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v4/People")
        .option("parallelism", "4")
        .option("groupby", "Segment")
        .option("aggregate", "Age with sum as TotalAge")
        .load()
    )
    assert {r["Segment"] for r in df.collect()} == {"Retail", "Wholesale"}
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    assert not any(r["query"].get("$count") == "true" for r in reqs)
    assert not any("$orderby" in r["query"] for r in reqs)
    assert not any("$skip" in r["query"] for r in reqs)
    # schema probe carried $top
    assert any(
        "$apply" in r["query"] and r["query"].get("$top") == "32" for r in reqs
    ), f"unbounded schema probe: {[r['query'] for r in reqs]}"


def test_apply_multi_page_merge(registered, fixture_server):
    """$apply composing with server-driven pagination (VERDICT r11
    Next #6, reference analogue: Datasphere analytical pagination,
    datasphere_read.cpp:289-312): FirstName has 8 groups and the
    fixture pages 3 rows per response, so the aggregated rowset spans
    three @odata.nextLink hops. The executor's page-merge loop must
    follow them all with $apply intact on every request — a
    first-page-only read would silently truncate the aggregation to 3
    groups."""
    fixture_server.state.log.clear()
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v4/People")
        .option("groupby", "FirstName")
        .option("aggregate", "Age with sum as TotalAge")
        .load()
    )
    rows = {r["FirstName"]: r["TotalAge"] for r in df.collect()}
    # i in range(10): Ana (i=0,8), Ben (i=1,9) doubled; the rest single
    assert rows == {
        "Ana": 48, "Ben": 50, "Cleo": 22, "Dee": 23,
        "Eli": 24, "Fay": 25, "Gus": 26, "Hana": 27,
    }
    reqs = [r for r in fixture_server.state.requests_for("/v4/People") if r["query"]]
    # every request in the chain (schema probe + 3 data pages) carries $apply
    assert all(
        r["query"].get("$apply") == "groupby((FirstName),aggregate(Age with sum as TotalAge))"
        for r in reqs
    ), f"$apply dropped mid-chain: {[r['query'] for r in reqs]}"
    # the executor read followed the nextLink chain: pages at $skip 3 and 6
    data_skips = {r["query"].get("$skip") for r in reqs if r["query"].get("$top") != "32"}
    assert {"3", "6"} <= data_skips, f"nextLink chain not followed: {data_skips}"


def test_apply_empty_aggregation_with_explicit_schema(registered, fixture_server):
    """A valid-but-empty aggregation (filter matches nothing) must load
    as an empty DataFrame when the user supplies the schema — Spark then
    never calls the inference probe that would raise."""
    df = (
        registered.read.format("odata")
        .schema("Segment string, TotalAge bigint")
        .option("url", fixture_server.base_url + "/v4/People?$filter=Age gt 999")
        .option("groupby", "Segment")
        .option("aggregate", "Age with sum as TotalAge")
        .load()
    )
    assert df.collect() == []


def test_apply_rejected_on_v2_service(registered, fixture_server):
    import pytest

    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v2/Customers")
        .option("infer", "sample")
        .option("groupby", "Country")
        .option("aggregate", "Revenue with sum as Total")
        .load()
    )
    with pytest.raises(Exception, match="v4-only"):
        df.collect()


def test_apply_schema_probe_reports_http_error(fixture_server):
    """The $apply inference probe raises the status-carrying error on a
    404 instead of parsing the error body as JSON (no Spark)."""
    from erpl_web_spark.odata.client import HttpStatusError
    from erpl_web_spark.odata.datasource import ODataDataSource

    src = ODataDataSource(
        {"url": fixture_server.base_url + "/v4/NoSuchSet", "groupby": "FirstName"}
    )
    with pytest.raises(HttpStatusError, match="HTTP 404") as err:
        src.schema()
    assert err.value.status == 404
    assert "/v4/NoSuchSet" in err.value.url


def test_v2_customers_with_legacy_dates(registered, fixture_server):
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v2/Customers")
        .load()
    )
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "CustomerID": "string", "CompanyName": "string",
        "Country": "string", "Founded": "timestamp",
    }
    rows = df.collect()
    assert len(rows) == 8
    c3 = next(r for r in rows if r["CustomerID"] == "C003")
    assert "Söhne" in c3["CompanyName"]
    # /Date(ms)/ decoding, truncated to seconds
    assert c3["Founded"] == dt.datetime(2001, 9, 12, 1, 46, 40)


def test_v2_filter_pushdown(registered, fixture_server):
    fixture_server.state.log.clear()
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v2/Customers")
        .load()
        .filter(F.col("Country") == "Germany")
    )
    rows = df.collect()
    assert {r["CustomerID"] for r in rows} == {"C000", "C003", "C005"}
    reqs = [r for r in fixture_server.state.requests_for("/v2/Customers") if r["query"]]
    assert any("Country eq 'Germany'" in r["query"].get("$filter", "") for r in reqs)


def test_v2_auto_partition_inlinecount_probe(registered, fixture_server):
    """The auto-partition $count probe speaks v2: $inlinecount=allpages
    + $top=0, total from d.__count; windows split by $skip with the
    entity-key $orderby and the union equals the single-chain scan."""
    fixture_server.state.log.clear()
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v2/Customers")
        .option("auto_partition_rows", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # ceil(8 / 4)
    rows = df.collect()
    assert len(rows) == 8
    assert len({r["CustomerID"] for r in rows}) == 8
    reqs = [r for r in fixture_server.state.requests_for("/v2/Customers") if r["query"]]
    probes = [
        r for r in reqs
        if r["query"].get("$inlinecount") == "allpages" and r["query"].get("$top") == "0"
    ]
    assert len(probes) == 1, f"expected one $inlinecount probe: {[r['query'] for r in reqs]}"
    # window starts at $skip 0 and 4 ($top=4 each); the server's own
    # in-window next-links continue at 3 and 7 (v2 page size 3) and
    # also carry the window's $orderby
    ranged = [r for r in reqs if "$orderby" in r["query"]]
    starts = {
        int(r["query"]["$skip"]) for r in ranged if r["query"].get("$top") == "4"
    }
    assert {0, 4} <= starts
    assert all(r["query"]["$orderby"] == "CustomerID" for r in ranged)


def test_sample_inference_fallback(registered, fixture_server):
    # Force first-row inference: no metadata use -> all string columns.
    df = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v2/Customers")
        .option("infer", "sample")
        .load()
    )
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)
    assert "__metadata" not in df.columns


def test_version_from_metadata_no_unfiltered_probe(registered, fixture_server):
    """The protocol version comes from the cached EDMX: a filtered read
    sends every entity-set GET with its $filter (or as the $count
    probe) — no unfiltered first page fetched just to detect v2/v4."""
    fixture_server.state.log.clear()
    v4 = read_people(registered, fixture_server).filter(F.col("Age") > 24)
    assert v4.count() == 5
    v2 = (
        registered.read.format("odata")
        .option("url", fixture_server.base_url + "/v2/Customers")
        .load()
        .filter(F.col("Country") == "Spain")
    )
    assert [r["CustomerID"] for r in v2.collect()] == ["C004"]
    for path in ("/v4/People", "/v2/Customers"):
        reqs = fixture_server.state.requests_for(path)
        assert reqs
        unfiltered = [
            r["query"] for r in reqs
            if "$filter" not in r["query"]
            and "$count" not in r["query"] and "$inlinecount" not in r["query"]
        ]
        assert unfiltered == [], f"version probe on {path}: {unfiltered}"


def test_reader_shares_one_session_for_metadata_and_count(fixture_server):
    """reader() fetches the EDMX and partitions() sends the $count probe
    over one keep-alive connection; the pickled reader carries no
    client to the executors."""
    import pickle

    from erpl_web_spark.odata.client import clear_edm_cache
    from erpl_web_spark.odata.datasource import ODataDataSource

    src = ODataDataSource({
        "url": fixture_server.base_url + "/v4/People", "auto_partition_rows": "3",
    })
    schema = src.schema()
    clear_edm_cache()
    fixture_server.state.log.clear()
    reader = src.reader(schema)
    assert reader._version == 4
    assert len(reader.partitions()) == 4
    log = fixture_server.state.log
    assert [r["path"] for r in log] == ["/v4/$metadata", "/v4/People"]
    assert log[1]["query"].get("$count") == "true"
    assert log[0]["peer"] == log[1]["peer"]
    assert pickle.loads(pickle.dumps(reader))._http is None


def _notop_people(registered, fixture_server, **options):
    reader = registered.read.format("odata").option(
        "url", fixture_server.base_url + "/v4-notop/People"
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load().select("UserName", "Age", "Joined")


def test_top_trimmed_mid_page_when_server_ignores_top(registered, fixture_server):
    """The row budget is cut client-side: top=4 over 3-row pages ends
    inside the second page, and no third page is fetched."""
    fixture_server.state.log.clear()
    rows = _notop_people(registered, fixture_server, top="4").collect()
    assert [(r["UserName"], r["Age"]) for r in rows] == [
        ("user0", 20), ("user1", 21), ("user2", 22), ("user3", 23),
    ]
    assert rows[3]["Joined"] == dt.datetime(2023, 4, 15, 10, 30)
    pages = [
        r for r in fixture_server.state.requests_for("/v4-notop/People")
        if "$count" not in r["query"]
    ]
    assert len(pages) == 2, [r["query"] for r in pages]


@pytest.mark.parametrize(
    "options, sizes",
    [({"parallelism": "3"}, [4, 4, 2]), ({"parallelism": "2", "top": "7"}, [4, 3])],
)
def test_partition_windows_trimmed_mid_page(registered, fixture_server, options, sizes):
    """parallelism=N windows ($skip + $top, ignored by this server) end
    inside a 3-row page: each partition keeps exactly its window."""
    df = _notop_people(registered, fixture_server, **options)
    assert df.rdd.glom().map(len).collect() == sizes
    rows = df.collect()
    n = sum(sizes)
    assert [(r["UserName"], r["Age"]) for r in rows] == [
        (f"user{i}", 20 + i) for i in range(n)
    ]
