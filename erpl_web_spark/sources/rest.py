"""``spark.read.format("rest")`` — generic paginated JSON REST scan.

The reference exposes single-request HTTP verbs (A1-A3) and full OData
scans (A4); real-world JSON APIs in between use ad-hoc pagination. This
source completes the north-star "OData/GraphQL/REST" connector family
with the four pagination conventions that cover most public APIs:

- ``paginate=none``    one GET; rows at ``data_path``.
- ``paginate=offset``  query params ``limit``/``offset`` (names via
                       ``limit_param``/``offset_param``). When the
                       response exposes a total count (``total_path``),
                       the scan *range-partitions across executors* —
                       same trick as the OData ``$skip`` partitioning.
                       Otherwise a single partition loops until a short
                       page.
- ``paginate=page``    page-number param (``page_param``, 1-based),
                       loops until a short/empty page.
- ``paginate=cursor``  next-page token read from the response body at
                       ``cursor_path``, sent as ``cursor_param``.
- ``paginate=link``    RFC-5988 ``Link: <url>; rel="next"`` header
                       (GitHub style); follows until absent.

Rows live at ``data_path`` (dot path into the response document; empty
for a top-level array). Schema: explicit ``schema_json``, else typed
inference from the first page. Each page decodes into one Arrow record
batch through the OData scan's lenient PERMISSIVE ``ColumnDecoders``.
Auth matches the other connectors (inline options or the file-backed
secret registry).

Cursor/link chains are sequential by nature — one partition, page-at-a-
time laziness (reference E1). Offset mode with a known total is the
parallel path: N executors fetch disjoint ranges concurrently.
"""

from __future__ import annotations

import json
import logging
import re
from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from erpl_web_spark.core import jsonwire
from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.infer import infer_struct
from erpl_web_spark.core.secrets import auth_headers_from_options as _auth_headers
from erpl_web_spark.core.url import HttpUrl
from erpl_web_spark.odata.json_decode import ColumnDecoders

if TYPE_CHECKING:
    import pyarrow

_LINK_NEXT_RE = re.compile(r'<([^>]+)>\s*;\s*rel="?next"?')


def _walk(doc, path: str):
    cur = doc
    if not path:
        return cur
    for seg in path.split("."):
        if not isinstance(cur, dict) or seg not in cur:
            return None
        cur = cur[seg]
    return cur


def _rows_at(doc, data_path: str) -> list[dict]:
    data = _walk(doc, data_path)
    if data is None:
        return []
    if isinstance(data, dict):
        data = [data]
    return [r for r in data if isinstance(r, dict)]


def _with_params(url: str, params: dict) -> str:
    u = HttpUrl.parse(url)
    merged = {**u.query_params(), **{k: str(v) for k, v in params.items()}}
    return u.with_query_params(merged).to_string()


class RestPager:
    """Pagination iterator: yields (rows, response_doc) pages."""

    def __init__(self, http: HttpClient, options: dict):
        self.http = http
        self.o = options
        self.url = options["url"]
        self.data_path = options.get("data_path", "")
        self.mode = options.get("paginate", "none")
        self.page_size = int(options.get("page_size", 100))
        self.max_pages = int(options.get("max_pages", 10_000))

    def _get(self, url: str):
        return self.http.get(url, headers={"Accept": "application/json"}).raise_for_status()

    def pages(
        self, offset_start: int | None = None, offset_limit: int | None = None
    ) -> Iterator[list[dict]]:
        if self.mode == "offset":
            yield from self._offset_pages(offset_start or 0, offset_limit)
        elif self.mode == "page":
            yield from self._number_pages()
        elif self.mode == "cursor":
            yield from self._cursor_pages()
        elif self.mode == "link":
            yield from self._link_pages()
        else:
            yield _rows_at(self._get(self.url).json(), self.data_path)

    def _offset_pages(self, start: int, limit: int | None) -> Iterator[list[dict]]:
        lp = self.o.get("limit_param", "limit")
        op = self.o.get("offset_param", "offset")
        fetched = 0
        effective = None  # server's observed page cap (may be < page_size)
        for i in range(self.max_pages):
            want = self.page_size
            if limit is not None:
                want = min(want, limit - fetched)
                if want <= 0:
                    return
            url = _with_params(self.url, {lp: want, op: start + fetched})
            rows = _rows_at(self._get(url).json(), self.data_path)
            if not rows:
                return
            yield rows
            fetched += len(rows)
            # A page shorter than requested is only terminal if it is
            # also shorter than the server's effective cap: servers that
            # cap page size below the requested limit return "short"
            # FULL pages, and stopping there would silently truncate.
            if effective is None:
                effective = len(rows)
            if len(rows) < min(want, effective):
                return

    def _number_pages(self) -> Iterator[list[dict]]:
        pp = self.o.get("page_param", "page")
        lp = self.o.get("limit_param", "limit")
        effective = None  # server's observed page cap (may be < page_size)
        for page in range(1, self.max_pages + 1):
            url = _with_params(self.url, {pp: page, lp: self.page_size})
            rows = _rows_at(self._get(url).json(), self.data_path)
            if not rows:
                return
            yield rows
            if effective is None:
                effective = len(rows)
            if len(rows) < min(self.page_size, effective):
                return

    def _cursor_pages(self) -> Iterator[list[dict]]:
        cp = self.o.get("cursor_param", "cursor")
        cpath = self.o.get("cursor_path", "next_cursor")
        lp = self.o.get("limit_param", "limit")
        cursor = None
        for _ in range(self.max_pages):
            params = {lp: self.page_size}
            if cursor is not None:
                params[cp] = cursor
            doc = self._get(_with_params(self.url, params)).json()
            rows = _rows_at(doc, self.data_path)
            if not rows:
                return
            yield rows
            cursor = _walk(doc, cpath)
            if not cursor:
                return

    def _link_pages(self) -> Iterator[list[dict]]:
        url = self.url
        for _ in range(self.max_pages):
            resp = self._get(url)
            yield _rows_at(resp.json(), self.data_path)
            link = resp.headers.get("Link") or resp.headers.get("link") or ""
            m = _LINK_NEXT_RE.search(link)
            if not m:
                return
            url = HttpUrl.parse(url).resolve(m.group(1)).to_string()

    def total(self) -> int | None:
        """Probe the collection's total count, if the API reports one."""
        tpath = self.o.get("total_path")
        if not tpath or self.mode != "offset":
            return None
        lp = self.o.get("limit_param", "limit")
        op = self.o.get("offset_param", "offset")
        try:
            doc = self._get(_with_params(self.url, {lp: 1, op: 0})).json()
            t = _walk(doc, tpath)
            return int(t) if t is not None else None
        except Exception:
            return None


class RestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rest"

    def schema(self) -> StructType:
        explicit = self.options.get("schema_json")
        if explicit:
            return StructType.fromJson(json.loads(explicit))
        pager = RestPager(
            HttpClient(auth_headers=_auth_headers(self.options)), dict(self.options)
        )
        first = next(pager.pages(), [])
        if not first:
            raise RuntimeError(
                f"cannot infer schema: no rows at {self.options.get('url')}; "
                "pass .option('schema_json', <StructType json>)"
            )
        return infer_struct(first[:50])

    def reader(self, schema: StructType) -> "RestReader":
        return RestReader(schema, dict(self.options), _auth_headers(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> "RestWriter":
        if overwrite:
            raise ValueError(
                "format('rest') is append-only: a generic REST collection "
                "has no truncate semantics. Use mode('append')."
            )
        return RestWriter(schema, dict(self.options), _auth_headers(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool) -> "RestStreamWriter":
        if overwrite:
            raise ValueError(
                "format('rest') supports append/update streaming output "
                "only: outputMode('complete') would re-POST the full "
                "result set every trigger."
            )
        return RestStreamWriter(
            schema, dict(self.options), _auth_headers(self.options)
        )


class _RangePartition(InputPartition):
    def __init__(self, index: int, start: int | None, limit: int | None):
        self.index = index
        self.start = start
        self.limit = limit


class RestReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict, auth: dict[str, str]):
        self._schema = schema
        self._options = options
        self._auth = auth
        self._parallelism = int(options.get("parallelism", 1))

    def partitions(self) -> Sequence[InputPartition]:
        if self._parallelism > 1 and self._options.get("paginate") == "offset":
            pager = RestPager(HttpClient(auth_headers=self._auth), self._options)
            total = pager.total()
            if total:
                n = min(self._parallelism, max(1, total))
                chunk = (total + n - 1) // n
                return [
                    _RangePartition(i, i * chunk, min(chunk, total - i * chunk))
                    for i in range(n)
                    if i * chunk < total
                ]
        return [_RangePartition(0, None, None)]

    def read(self, partition: _RangePartition) -> Iterator[pyarrow.RecordBatch]:
        pager = RestPager(HttpClient(auth_headers=self._auth), self._options)
        decoders = ColumnDecoders(self._schema)
        for page in pager.pages(partition.start, partition.limit):
            yield decoders.batch(page)


def ensure_registered(spark) -> None:
    try:
        spark.dataSource.register(RestDataSource)
    except Exception:
        pass


def rest_read(spark, url: str, **options):
    """``rest_read(spark, url, paginate='offset', total_path='total',
    parallelism=8)`` -> DataFrame."""
    ensure_registered(spark)
    reader = spark.read.format("rest").option("url", url)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


# -- Write path (df.write.format("rest")) -----------------------------------


class _RestWriteCommit(WriterCommitMessage):
    def __init__(self, rows: int, requests: int):
        self.rows = rows
        self.requests = requests


class RestWriter(DataSourceArrowWriter):
    """Batch writer: rows arrive as Arrow record batches, serialize to
    JSON objects keyed by column name and POST (or PUT/PATCH) to ``url``
    in arrays of ``write_batch_size`` (1 posts bare objects) — the
    idiomatic ``df.write`` twin of the reference's COPY TO surfaces
    (SURVEY §2.B; the same row->request mapping as graph.py's bulk
    writers, minus Graph's $batch envelope).

    Wire encoding (``core.jsonwire``): a ``timestamp`` is its UTC instant
    as ISO-8601 with a ``Z`` suffix, a ``timestamp_ntz`` ISO-8601 with no
    zone, a ``date`` an ISO date, a ``decimal`` its string, ``binary``
    base64, a struct an object and a map an object; a NaN or ±inf
    double fails the task instead of sending invalid JSON.

    Non-transactional like any REST sink: duplicates can arise from
    (a) Spark task retries re-sending already-posted batches, and
    (b) the HTTP core's status-code retry (408/418/429/503/504) when an
    ambiguous gateway error masks a server that already committed —
    timeouts are idempotent-only (core/http.py) but status retries are
    not method-gated. The exactly-once upgrade for both is an
    idempotency key column the server dedupes on (pass one through the
    row payload)."""

    def __init__(self, schema: StructType, options: dict, auth: dict[str, str]):
        self._options = options
        self._auth = auth

    def write(self, iterator) -> _RestWriteCommit:
        from erpl_web_spark.sources.bulk import batch_rows, cut  # pyarrow: executor-side

        o = self._options
        client = HttpClient(auth_headers=self._auth)
        url = o["url"]
        method = o.get("write_method", "POST").upper()
        batch = max(1, int(o.get("write_batch_size", 20)))
        rows = requests = 0
        for chunk in cut((row for b in iterator for row in batch_rows(b)), batch):
            body = jsonwire.dumps(chunk[0] if batch == 1 else chunk)
            resp = client.request(method, url, body=body, content_type="application/json")
            resp.raise_for_status()
            rows += len(chunk)
            requests += 1
        return _RestWriteCommit(rows, requests)

    def commit(self, messages) -> None:
        total = sum(m.rows for m in messages if m is not None)
        logging.getLogger(__name__).info(
            "rest write committed: %d rows in %d requests",
            total,
            sum(m.requests for m in messages if m is not None),
        )

    def abort(self, messages) -> None:
        logging.getLogger(__name__).warning(
            "rest write aborted; already-posted batches are NOT rolled "
            "back (non-transactional sink)"
        )


class RestStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("rest")`` — the streaming twin of
    ``RestWriter``: every micro-batch's rows POST in the same budgeted
    JSON batches.

    Delivery is at-least-once: Spark replays an uncommitted micro-batch
    after a crash, and a REST endpoint has no transaction to make the
    replay invisible. For exactly-once, either route an idempotency key
    through the payload (server-side dedupe) or use the
    checkpoint-versioned parquet sinks (operators/cdc.py) and ship the
    snapshot instead."""

    __init__ = RestWriter.__init__
    write = RestWriter.write

    def commit(self, messages, batchId: int) -> None:
        logging.getLogger(__name__).info(
            "rest stream batch %d committed: %d rows",
            batchId,
            sum(m.rows for m in messages if m is not None),
        )

    def abort(self, messages, batchId: int) -> None:
        logging.getLogger(__name__).warning(
            "rest stream batch %d aborted; posted requests are not "
            "rolled back (at-least-once sink)",
            batchId,
        )
