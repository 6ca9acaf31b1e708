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

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.infer import infer_struct as _infer_struct
from erpl_web_spark.core.secrets import auth_headers_from_options as _auth_headers
from erpl_web_spark.odata.json_decode import ColumnDecoders

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
        body = json.dumps({"query": query, "variables": variables or {}})
        resp = self.http.request(
            "POST",
            self.url,
            headers={"Accept": "application/json"},
            body=body,
            content_type="application/json",
        )
        if resp.status >= 400:
            raise GraphQLError(f"HTTP {resp.status} from {self.url}")
        doc = resp.json()
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


class GraphQLDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graphql"

    def _client(self) -> GraphQLClient:
        return GraphQLClient(
            self.options["url"], HttpClient(auth_headers=_auth_headers(self.options))
        )

    def _probe_rows(self) -> list[dict]:
        client = self._client()
        query = self.options["query"]
        variables = json.loads(self.options.get("variables", "{}"))
        data_path = self.options.get("data_path", "data")
        if self.options.get("paginate", "none") == "cursor":
            first_page = next(
                client.fetch_connection_pages(
                    query,
                    variables,
                    data_path,
                    page_size=int(self.options.get("page_size", 100)),
                    size_var=self.options.get("size_var", "first"),
                    cursor_var=self.options.get("cursor_var", "after"),
                    max_pages=1,
                ),
                [],
            )
            return first_page
        return client.fetch_rows(query, variables, data_path)

    def schema(self) -> StructType:
        explicit = self.options.get("schema_json")
        if explicit:
            return StructType.fromJson(json.loads(explicit))
        rows = self._probe_rows()
        if not rows:
            raise GraphQLError(
                f"cannot infer schema: no rows at {self.options.get('url')}; "
                "pass .option('schema_json', <StructType json>)"
            )
        return _infer_struct(rows[:50])

    def reader(self, schema: StructType) -> "GraphQLReader":
        return GraphQLReader(schema, dict(self.options), _auth_headers(self.options))


class _OnePartition(InputPartition):
    def __init__(self):
        self.index = 0


class GraphQLReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict, auth: dict[str, str]):
        self._schema = schema
        self._options = options
        self._auth = auth

    def partitions(self) -> Sequence[InputPartition]:
        return [_OnePartition()]

    def read(self, partition) -> Iterator[pyarrow.RecordBatch]:
        client = GraphQLClient(
            self._options["url"], HttpClient(auth_headers=self._auth)
        )
        query = self._options["query"]
        variables = json.loads(self._options.get("variables", "{}"))
        data_path = self._options.get("data_path", "data")
        if self._options.get("paginate", "none") == "cursor":
            pages = client.fetch_connection_pages(
                query,
                variables,
                data_path,
                page_size=int(self._options.get("page_size", 100)),
                size_var=self._options.get("size_var", "first"),
                cursor_var=self._options.get("cursor_var", "after"),
            )
        else:
            pages = [client.fetch_rows(query, variables, data_path)]
        decoders = ColumnDecoders(self._schema)
        for page in pages:
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
    Arrow-batched mapInPandas, one keep-alive client per batch,
    partition-parallel, optional per-task pacing. A row-level GraphQL
    error is captured in (ok, error), not raised — one bad record must
    not kill a 10^9-row write job.
    """
    import time as _time

    keep = keep_cols or []
    out_schema = StructType(
        [df.schema[c] for c in keep] + list(GRAPHQL_CALL_SCHEMA.fields)
    )
    auth = dict(auth_headers or {})
    min_interval = 1.0 / max_rps_per_task if max_rps_per_task else 0.0

    def run(batches):
        client = GraphQLClient(url, HttpClient(auth_headers=auth))
        next_slot = 0.0
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if min_interval:
                    now = _time.monotonic()
                    if now < next_slot:
                        _time.sleep(next_slot - now)
                    next_slot = max(now, next_slot) + min_interval
                variables = {c: _py(r[c]) for c in variable_cols}
                try:
                    doc = client.execute(query, variables)
                    res = (True, json.dumps(doc.get("data"), sort_keys=True), None)
                except Exception as e:  # row-level failure -> row-level error
                    res = (False, None, str(e)[:500])
                rows.append(tuple(r[c] for c in keep) + res)
            import pandas as pd

            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(run, schema=out_schema)


def _py(v):
    """numpy scalar -> plain Python for JSON encoding."""
    return v.item() if hasattr(v, "item") else v
