"""GraphQL connector: schema inference, cursor pagination, error surface.

Drives ``spark.read.format("graphql")`` against the local fixture server's
``/graphql`` endpoint (25 products, Relay-style connection)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructType,
)

from erpl_web_spark.sources.graphql import (
    GraphQLClient,
    GraphQLError,
    _infer_struct,
    ensure_registered,
    graphql_read,
)

CONN_QUERY = """
query($first: Int, $after: String) {
  products(first: $first, after: $after) {
    edges { node { id name price inStock tags vendor { name rating } } cursor }
    pageInfo { hasNextPage endCursor }
  }
}
"""

PLAIN_QUERY = "query { allProducts { id name price inStock } }"


def test_infer_struct_types():
    st = _infer_struct(
        [
            {"a": 1, "b": "x", "c": 1.5, "d": True, "e": [1, 2], "f": {"g": 1}},
            {"a": 2.5, "b": None, "extra": "later"},
        ]
    )
    assert isinstance(st["a"].dataType, DoubleType)  # long+double widens
    assert isinstance(st["b"].dataType, StringType)
    assert isinstance(st["d"].dataType, BooleanType)
    assert isinstance(st["e"].dataType, ArrayType)
    assert isinstance(st["e"].dataType.elementType, LongType)
    assert isinstance(st["f"].dataType, StructType)
    assert [f.name for f in st.fields] == ["a", "b", "c", "d", "e", "f", "extra"]


def test_client_pagination_and_errors(fixture_server):
    url = fixture_server.base_url + "/graphql"
    client = GraphQLClient(url)
    pages = list(client.fetch_connection_pages(CONN_QUERY, {}, "products", page_size=10))
    assert [len(p) for p in pages] == [10, 10, 5]
    assert pages[0][0]["id"] == 0 and pages[2][-1]["id"] == 24
    with pytest.raises(GraphQLError, match="boom"):
        client.execute("query { boom }")


def test_graphql_datasource_plain(spark, fixture_server):
    url = fixture_server.base_url + "/graphql"
    df = graphql_read(spark, url, PLAIN_QUERY, data_path="allProducts")
    assert df.count() == 25
    assert isinstance(df.schema["id"].dataType, LongType)
    assert isinstance(df.schema["price"].dataType, DoubleType)
    assert df.where("inStock").count() == 16  # i % 3 != 0


def test_graphql_datasource_cursor_pages(spark, fixture_server):
    url = fixture_server.base_url + "/graphql"
    ensure_registered(spark)
    df = (
        spark.read.format("graphql")
        .option("url", url)
        .option("query", CONN_QUERY)
        .option("data_path", "products")
        .option("paginate", "cursor")
        .option("page_size", "7")
        .load()
    )
    rows = df.orderBy("id").collect()
    assert len(rows) == 25
    # nested struct + array survive inference and decode
    assert rows[3].vendor.name == "vendor-3"
    assert rows[4].tags == ["t0", "t4"]
    # the whole relational surface composes on top of the scan
    agg = df.groupBy("inStock").count().orderBy("inStock").collect()
    assert [(r.inStock, r["count"]) for r in agg] == [(False, 9), (True, 16)]
    # wire log shows the cursor loop hit the server page by page
    gql_posts = [r for r in fixture_server.state.log if r["path"] == "/graphql"]
    assert len(gql_posts) >= 4  # ceil(25/7) pages (+ schema probe)


def test_graphql_secret_auth_reaches_wire(spark, fixture_server, secrets_file):
    from erpl_web_spark.core.secrets import SecretRegistry

    reg = SecretRegistry(persist_path=secrets_file)
    reg.create_secret(
        "gql-fx", "http_bearer", scope=fixture_server.base_url + "/graphql",
        token="gql-tok",
    )
    fixture_server.state.log.clear()
    url = fixture_server.base_url + "/graphql"
    df = graphql_read(spark, url, PLAIN_QUERY, data_path="allProducts")
    assert df.count() == 25
    auths = {
        r["headers"].get("Authorization")
        for r in fixture_server.state.log
        if r["path"] == "/graphql"
    }
    assert auths == {"Bearer gql-tok"}


def test_graphql_nullable_field_yields_empty(spark, fixture_server):
    """A requested-but-null field (GraphQL spec for nullable resolvers)
    is zero rows, not a crash; a genuinely missing path still errors."""
    url = fixture_server.base_url + "/graphql"
    df = (
        spark.read.format("graphql")
        .option("url", url)
        .option("query", "query { maybeProducts { id } }")
        .option("data_path", "maybeProducts")
        .schema("id BIGINT")
        .load()
    )
    assert df.count() == 0
    client = GraphQLClient(url)
    with pytest.raises(GraphQLError, match="not found"):
        client.fetch_rows("query { doesNotExist { id } }", None, "doesNotExist")


def test_graphql_broken_cursor_terminates(fixture_server):
    """hasNextPage=true with a null endCursor must not loop forever."""
    url = fixture_server.base_url + "/graphql"
    client = GraphQLClient(url)
    q = """
    query($first: Int, $after: String) {
      brokenProducts(first: $first, after: $after) {
        edges { node { id } cursor }
        pageInfo { hasNextPage endCursor }
      }
    }
    """
    pages = list(client.fetch_connection_pages(q, {}, "brokenProducts", page_size=5))
    assert [len(p) for p in pages] == [5]


def test_graphql_bulk_mutation_call(spark, fixture_server):
    """graphql_call: one mutation per row, columns as variables (an int
    stays an integer, a NULL is null), row-level errors captured not
    raised (the write-side bulk idiom)."""
    import json as _json

    from erpl_web_spark.sources.graphql import graphql_call

    df = spark.createDataFrame(
        [(1, "alpha", 3, 1.5), (2, "beta", None, 2.25), (3, None, 4, 0.5)],
        "rid int, name string, qty int, price double",
    )
    out = graphql_call(
        df.coalesce(1),
        fixture_server.base_url + "/graphql",
        "mutation addProduct($name: String!, $qty: Int, $price: Float) "
        "{ addProduct(name: $name) { id name } }",
        variable_cols=["name", "qty", "price"],
        keep_cols=["rid"],
    ).collect()
    by_rid = {r["rid"]: r for r in out}
    assert by_rid[1]["ok"] and by_rid[2]["ok"]
    assert _json.loads(by_rid[1]["data"])["addProduct"]["name"] == "alpha"
    assert not by_rid[3]["ok"] and "required" in by_rid[3]["error"]
    # server really recorded the two successful writes
    assert [v["name"] for v in fixture_server.state.gql_added] == ["alpha", "beta"]
    assert [(type(v["qty"]), v["qty"], v["price"]) for v in fixture_server.state.gql_added] == [
        (int, 3, 1.5), (type(None), None, 2.25)
    ]
