"""``spark.read.format("graphql")`` — Python Data Source for GraphQL APIs.

The reference engine's connector family is OData/REST; the north-star for
this port adds GraphQL to the same surface. The design mirrors the OData
scan lifecycle (SURVEY.md §3.1):

- bind     -> ``schema()``: probe one page, infer a typed ``StructType``
              from the result objects (typed first-rows inference — an
              upgrade over the reference's all-VARCHAR first-row rule,
              ``odata_read_functions.cpp:107-121``);
- execute  -> ``read()``: POST query pages, decode each page into one
              Arrow record batch with the OData scan's lenient
              PERMISSIVE ``ColumnDecoders``.

Pagination modes (option ``paginate``):

- ``none`` (default): one POST; rows at ``data.<data_path>``.
- ``cursor``: Relay-connection style. The query must declare
  ``$first: Int`` / ``$after: String`` variables; the connection object at
  ``data.<data_path>`` must expose ``edges[].node`` and
  ``pageInfo{hasNextPage endCursor}``. The reader loops pages
  executor-side, yielding ``node`` rows — the GraphQL analogue of the
  OData ``@odata.nextLink`` loop (E1).

A cursor chain is inherently sequential (each page's token comes from the
previous page), so the scan is one input partition — same single-stream
model as the reference's OData scan; parallelism across scans comes from
Spark. Auth options match the OData source (``auth_type``/``token``/
``username`` inline, or the file-backed secret registry).

Every operation body, including ``graphql_call``'s per-row variables, is
encoded by ``core.jsonwire``: an ``int`` column stays an integer and a
NULL is ``null``, timestamps are UTC ``Z`` instants, decimals strings,
binary base64, and a NaN or ±inf variable fails that row.

Usage::

    from erpl_web_spark.sources.graphql import ensure_registered
    ensure_registered(spark)
    df = (spark.read.format("graphql")
          .option("url", "https://host/graphql")
          .option("query", "query($first:Int,$after:String){ products(first:$first,after:$after){ edges{ node{ id name price } } pageInfo{ hasNextPage endCursor } } }")
          .option("data_path", "products")
          .option("paginate", "cursor")
          .load())
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from erpl_web_spark.core import jsonwire
from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.infer import infer_struct as _infer_struct
from erpl_web_spark.core.secrets import auth_headers_from_options as _auth_headers
from erpl_web_spark.odata.json_decode import ColumnDecoders
from erpl_web_spark.sources.bulk import each_row, fan_out

if TYPE_CHECKING:
    import pyarrow


class GraphQLError(RuntimeError):
    """Server returned a GraphQL ``errors`` array."""


# -- client ------------------------------------------------------------------

def _walk(doc, path: str):
    cur = doc
    for seg in path.split("."):
        if not isinstance(cur, dict) or seg not in cur:
            raise GraphQLError(f"path {path!r} not found in response (at {seg!r})")
        cur = cur[seg]
    return cur


class GraphQLClient:
    """Minimal GraphQL-over-HTTP client on the shared retry/redirect/
    charset HTTP core (H3/H4/H1)."""

    def __init__(self, url: str, http: HttpClient | None = None):
        self.url = url
        self.http = http or HttpClient()

    def execute(self, query: str, variables: dict | None = None) -> dict:
        body = jsonwire.dumps({"query": query, "variables": variables or {}})
        resp = self.http.request(
            "POST",
            self.url,
            headers={"Accept": "application/json"},
            body=body,
            content_type="application/json",
        )
        doc = resp.raise_for_status().json()
        if doc.get("errors"):
            msgs = "; ".join(e.get("message", "?") for e in doc["errors"])
            raise GraphQLError(f"GraphQL errors: {msgs}")
        return doc

    def fetch_rows(self, query: str, variables: dict | None, data_path: str) -> list[dict]:
        """One non-paginated request -> list of row objects."""
        data = _walk(self.execute(query, variables), f"data.{data_path}")
        if data is None:  # nullable field: explicit JSON null -> no rows
            return []
        if isinstance(data, dict):
            data = [data]
        return [r for r in data if isinstance(r, dict)]

    def fetch_connection_pages(
        self,
        query: str,
        variables: dict | None,
        data_path: str,
        page_size: int,
        size_var: str = "first",
        cursor_var: str = "after",
        max_pages: int = 10_000,
    ) -> Iterator[list[dict]]:
        """Relay-cursor pagination: yields each page's node list."""
        cursor = None
        for _ in range(max_pages):
            vs = dict(variables or {})
            vs[size_var] = page_size
            vs[cursor_var] = cursor
            conn = _walk(self.execute(query, vs), f"data.{data_path}")
            if conn is None:  # nullable connection field
                return
            edges = conn.get("edges", [])
            yield [e["node"] for e in edges if isinstance(e.get("node"), dict)]
            info = conn.get("pageInfo", {})
            if not info.get("hasNextPage") or not edges:
                return
            cursor = info.get("endCursor")
            if not cursor:
                # non-compliant server: hasNextPage without a cursor would
                # refetch page one forever
                return


# -- data source -------------------------------------------------------------


def _pages(options, auth: dict[str, str], max_pages: int = 10_000) -> Iterator[list[dict]]:
    """The scan's row pages under ``options``: one POST, or the Relay
    cursor walk of at most ``max_pages`` pages."""
    client = GraphQLClient(options["url"], HttpClient(auth_headers=auth))
    query, data_path = options["query"], options.get("data_path", "data")
    variables = json.loads(options.get("variables", "{}"))
    if options.get("paginate", "none") != "cursor":
        return iter([client.fetch_rows(query, variables, data_path)])
    return client.fetch_connection_pages(
        query, variables, data_path, page_size=int(options.get("page_size", 100)),
        size_var=options.get("size_var", "first"), cursor_var=options.get("cursor_var", "after"),
        max_pages=max_pages,
    )


class GraphQLDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graphql"

    def schema(self) -> StructType:
        explicit = self.options.get("schema_json")
        if explicit:
            return StructType.fromJson(json.loads(explicit))
        rows = next(_pages(self.options, _auth_headers(self.options), max_pages=1), [])
        if not rows:
            raise GraphQLError(
                f"cannot infer schema: no rows at {self.options.get('url')}; "
                "pass .option('schema_json', <StructType json>)"
            )
        return _infer_struct(rows[:50])

    def reader(self, schema: StructType) -> "GraphQLReader":
        return GraphQLReader(schema, dict(self.options), _auth_headers(self.options))


class GraphQLReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict, auth: dict[str, str]):
        self._schema = schema
        self._options = options
        self._auth = auth

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(0)]

    def read(self, partition) -> Iterator[pyarrow.RecordBatch]:
        decoders = ColumnDecoders(self._schema)
        for page in _pages(self._options, self._auth):
            yield decoders.batch(page)


def ensure_registered(spark) -> None:
    """Idempotently register the data source on this session."""
    try:
        spark.dataSource.register(GraphQLDataSource)
    except Exception:
        pass


def graphql_read(spark, url: str, query: str, **options):
    """Convenience wrapper: ``graphql_read(spark, url, query,
    data_path=..., paginate='cursor')`` -> DataFrame."""
    ensure_registered(spark)
    reader = (
        spark.read.format("graphql").option("url", url).option("query", query)
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


GRAPHQL_CALL_SCHEMA = StructType(
    [
        StructField("ok", BooleanType()),
        StructField("data", StringType()),
        StructField("error", StringType()),
    ]
)


def graphql_call(
    df: DataFrame,
    url: str,
    query: str,
    variable_cols: list[str],
    keep_cols: list[str] | None = None,
    auth_headers: dict[str, str] | None = None,
    max_rps_per_task: float | None = None,
) -> DataFrame:
    """Bulk GraphQL execution (typically mutations): one request per
    input row, row columns -> operation variables. The write-side
    complement of ``format("graphql")`` reads, mirroring
    ``http_ds.http_call`` (the reference's lateral-join bulk idiom):
    ``bulk.fan_out``, one keep-alive client per task,
    partition-parallel, optional per-task pacing. A row-level GraphQL
    error is captured in (ok, error), not raised — one bad record must
    not kill a 10^9-row write job.
    """
    auth = dict(auth_headers or {})

    def start():
        client = GraphQLClient(url, HttpClient(auth_headers=auth))

        def call(r: dict) -> tuple:
            try:
                doc = client.execute(query, {c: r[c] for c in variable_cols})
                return (True, json.dumps(doc.get("data"), sort_keys=True), None)
            except Exception as e:  # row-level failure -> row-level error
                return (False, None, str(e)[:500])

        return each_row(call, max_rps_per_task)

    return fan_out(df, GRAPHQL_CALL_SCHEMA, start, keep_cols)
