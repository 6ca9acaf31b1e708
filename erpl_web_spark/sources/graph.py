"""Microsoft Graph connectors: Entra ID, SharePoint lists, Excel
workbooks, Teams, Outlook, Planner (reference A17-A22, B1-B6).

Shapes reproduced from the reference:
- fixed snake_case schemas with camelCase JSON extraction
  (graph_entra_functions.cpp:98, 199, 295, 391; planner :140-298;
  sharepoint :80-243; excel :214-363);
- pagination merges ``value`` arrays across ``@odata.nextLink`` pages
  with a MAX_GRAPH_PAGES=10000 cap (graph_client.cpp:15, 203-245);
- SharePoint list columns typed from facets: number/currency -> DOUBLE,
  boolean -> BOOLEAN, dateTime -> TIMESTAMP, else VARCHAR
  (graph_sharepoint_type_mapper.hpp:16-34);
- Excel usedRange: row 0 = headers; cell types from valueTypes +
  numberFormat (date formats -> TIMESTAMP)
  (graph_excel_functions.cpp:455-515, 70);
- writers are per-row API calls (B1/B2) or batched rows/add with a
  workbook session (B4, graph_excel_client.cpp:103-111); DataFrame bulk
  writers run through ``sources.bulk`` and send through ``graph_send``.

Every collection read is one row of ``GRAPH_ENTITIES``: the route its
items come from and its ``(out_name, type, JSON path)`` fields, a path
being a tuple of keys (an int indexes a list) or, for a derived column
such as ``is_folder``, a callable of the item. ``_graph_frame`` projects
the items through that table and decodes the cells with
``odata.json_decode.ColumnDecoders`` (lenient: an absent field is NULL,
timestamps are UTC instants); SharePoint list items build the same kind
of table from the list's column facets (``sharepoint_list_schema``). The
``/delta`` reads and the ``graph_delta`` stream reuse those tables, a
tombstone keeping only its id.

Discovery/catalog results are small -> driver-built DataFrames, each one
Arrow table handed to ``core.localframe.local_batches`` (a JVM local
relation, no pickled-RDD scan). Bulk item reads use Graph's sequential
opaque skiptoken, so the page chain is protocol-bound (same as the
reference).
"""

from __future__ import annotations

import datetime
import json
import os
from collections.abc import Iterable
from typing import TYPE_CHECKING, Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from erpl_web_spark.core import http as http_core
from erpl_web_spark.core import jsonwire
from erpl_web_spark.core.http import HttpClient, HttpStatusError
from erpl_web_spark.core.localframe import local_batches
from erpl_web_spark.core.secrets import default_registry
from erpl_web_spark.odata.json_decode import ColumnDecoders
from erpl_web_spark.sources.bulk import cut, fan_out, write_partitions

if TYPE_CHECKING:
    import pyarrow

MAX_GRAPH_PAGES = 10000
DEFAULT_GRAPH_BASE = "https://graph.microsoft.com/v1.0"


class GraphClient:
    def __init__(self, base_url: str = DEFAULT_GRAPH_BASE, http: HttpClient | None = None):
        self.base_url = base_url.rstrip("/")
        self.http = http or HttpClient(
            auth_headers=default_registry.auth_headers_for_url(self.base_url)
        )
        self.sent = 0  # ``request`` calls made, one HTTP exchange each

    def get_json(self, path: str) -> Any:
        resp = self.http.get(self.base_url + path, headers={"Accept": "application/json"})
        return resp.raise_for_status().json()

    def _absolute(self, link: str) -> str:
        # Graph links are absolute, or relative to the versioned base
        # ("/users?$skiptoken=..."); HttpUrl.resolve would drop the
        # base path ("/v1.0").
        return self.base_url + link if link.startswith("/") else link

    def walk(self, link: str) -> tuple[list[dict], str | None]:
        """The Graph page walk (E6, graph_client.cpp:203-245): merge
        ``value`` arrays across ``@odata.nextLink`` pages from ``link``
        (a base-relative path or an absolute next/delta link) and return
        ``(items, cursor)``. The cursor is the last ``@odata.deltaLink``;
        when MAX_GRAPH_PAGES cuts the walk short it is the pending
        nextLink instead — Graph next links resume the same walk, so the
        next call continues rather than restarting. An error status
        raises ``HttpStatusError``."""
        url: str | None = self._absolute(link)
        items: list[dict] = []
        cursor = None
        pages = 0
        while url:
            resp = self.http.get(url, headers={"Accept": "application/json"})
            doc = resp.raise_for_status().json()
            items.extend(doc.get("value", []))
            pages += 1
            # Cursor first, cap second: breaking before capturing this
            # page's links would strand the walk on collections larger
            # than the cap.
            nxt = doc.get("@odata.nextLink")
            cursor = doc.get("@odata.deltaLink") or cursor
            url = self._absolute(nxt) if nxt else None
            if url and pages >= MAX_GRAPH_PAGES:
                cursor = url
                break
        return items, self._absolute(cursor) if cursor else None

    def get_paged_values(self, path: str) -> list[dict]:
        """Merge `value` arrays across @odata.nextLink pages (E6)."""
        return self.walk(path)[0]

    def request(self, method: str, path: str, body: dict | None = None) -> Any:
        self.sent += 1
        resp = self.http.request(
            method, self.base_url + path,
            body=jsonwire.dumps(body) if body is not None else None,
            content_type="application/json" if body is not None else None,
        ).raise_for_status()
        return resp.json() if resp.raw else None


GRAPH_BATCH_MAX_REQUESTS = 20  # Graph JSON-batching hard cap per envelope
GRAPH_BATCH_MAX_BYTES = 1 << 20  # stay well under Graph's 4 MB body limit


def graph_batch_execute(
    client: GraphClient,
    requests: list[dict],
    max_requests: int = GRAPH_BATCH_MAX_REQUESTS,
    max_bytes: int = GRAPH_BATCH_MAX_BYTES,
) -> list[dict]:
    """Coalesce individual Graph calls into ``POST /$batch`` envelopes —
    the request-count lever for bulk writers (generalizing the
    reference's Excel rows/add batching, graph_excel_client.cpp:103-111,
    to every Graph mutation surface).

    ``requests`` are dicts with ``method``, ``url`` (Graph-relative) and
    optional ``body``. Envelopes are cut by a dual budget (``bulk.cut``):
    at most ``max_requests`` subrequests (Graph caps JSON batching at 20)
    and at most ``max_bytes`` of subrequests encoded as they are sent,
    so many small writes coalesce while a few huge ones don't blow the
    service's body limit. Returns one response dict ``{"id", "status",
    "body"}`` per input, in input order.

    Throttling: Graph answers a retry status PER SUBREQUEST inside a 200
    envelope, where the transport's retry never sees it. Those
    subrequests are sent again in follow-up envelopes, up to ``RETRIES``
    rounds, each after the largest ``core.http.retry_delay`` of their
    subresponse headers. Any other failed subresponse raises at once, id
    and status named, so partial failures are attributable, never silent.
    """
    subrequests = [
        {"id": str(i), "method": r["method"], "url": r["url"]}
        | ({} if r.get("body") is None
           else {"body": r["body"], "headers": {"Content-Type": "application/json"}})
        for i, r in enumerate(requests)
    ]
    sizes = [len(jsonwire.dumps(sub).encode()) for sub in subrequests]
    results: list[dict | None] = [None] * len(requests)
    todo = list(range(len(requests)))
    for attempt in range(1, http_core.RETRIES + 2):
        throttled, delay = [], 0.0
        for chunk in cut(todo, max_requests, sizes.__getitem__, max_bytes):
            doc = client.request("POST", "/$batch", {"requests": [subrequests[i] for i in chunk]})
            got = {str(resp.get("id")): resp for resp in (doc or {}).get("responses", [])}
            for i in chunk:
                resp = got.get(str(i))
                if resp is None:
                    raise RuntimeError(f"Graph $batch dropped response id={i}")
                status = int(resp.get("status", 0))
                if status in http_core.RETRY_STATUSES:
                    throttled.append(i)
                    delay = max(delay, http_core.retry_delay(attempt, resp.get("headers")))
                elif status >= 400:
                    raise RuntimeError(
                        f"Graph $batch subrequest id={i} failed with "
                        f"HTTP {status}: {str(resp.get('body'))[:200]}"
                    )
                else:
                    results[i] = resp
        if not (todo := throttled):
            break
        if attempt > http_core.RETRIES:
            raise RuntimeError(
                f"Graph $batch: {len(todo)} subrequests still throttled "
                f"after {http_core.RETRIES} retry rounds"
            )
        http_core.sleep(delay)
    return results  # type: ignore[return-value]


def graph_send(
    client: GraphClient, requests: list[dict], batch_size: int,
    max_bytes: int = GRAPH_BATCH_MAX_BYTES,
) -> list[Any]:
    """The bulk writers' send: one direct request each at ``batch_size``
    1 (the reference's per-row calls), else ``graph_batch_execute``.
    Returns the response bodies in input order."""
    if batch_size <= 1:
        return [client.request(r["method"], r["url"], r.get("body")) for r in requests]
    return [r.get("body") for r in graph_batch_execute(client, requests, batch_size, max_bytes)]


def _graph_write(df, client_factory, request, batch_size, max_bytes, what) -> int:
    """A bulk writer sending ``request(row)`` per row through ``graph_send``."""

    def send(rows: list[dict]) -> int:
        client = client_factory()
        graph_send(client, [request(r) for r in rows], batch_size, max_bytes)
        return client.sent

    return write_partitions(df, send, what)


class GraphEntity(NamedTuple):
    """One Graph collection read: the route its items come from (a
    ``str.format`` template over the reader's ids) and its field table,
    ``(out_name, type, path)`` per output column."""

    route: str
    fields: tuple

    @property
    def schema(self) -> StructType:
        return graph_items_schema(self.fields)


_S, _B, _T = StringType(), BooleanType(), TimestampType()
_CHANGE_OP = StructField("change_op", StringType(), True)


def _entity(route: str, *fields: tuple[str, DataType, Any]) -> GraphEntity:
    """A ``GraphEntity`` whose dotted JSON paths ("from.user.displayName",
    "emailAddresses.0.address") become key tuples; callables stay."""
    return GraphEntity(route, tuple(
        (name, dtype, path if callable(path)
         else tuple(int(k) if k.isdigit() else k for k in path.split(".")))
        for name, dtype, path in fields
    ))


def sharepoint_column_type(col: dict):
    """Facet -> Spark type (graph_sharepoint_type_mapper.hpp:16-34)."""
    if "number" in col or "currency" in col:
        return DoubleType()
    if "boolean" in col:
        return BooleanType()
    if "dateTime" in col:
        return TimestampType()
    return StringType()


_ID, _NAME = ("id", _S, "id"), ("name", _S, "name")
_DISPLAY_NAME, _DESCRIPTION = ("display_name", _S, "displayName"), ("description", _S, "description")
_WEB_URL, _CREATED_AT = ("web_url", _S, "webUrl"), ("created_at", _T, "createdDateTime")
_MODIFIED_AT = ("modified_at", _T, "lastModifiedDateTime")

GRAPH_ENTITIES: dict[str, GraphEntity] = {
    # -- Entra ID (A17)
    "users": _entity(
        "/users", _ID, _DISPLAY_NAME, ("user_principal_name", _S, "userPrincipalName"),
        ("mail", _S, "mail"), ("job_title", _S, "jobTitle"), ("department", _S, "department"),
        ("account_enabled", _B, "accountEnabled"),
    ),
    "groups": _entity(
        "/groups", _ID, _DISPLAY_NAME, _DESCRIPTION, ("mail", _S, "mail"),
        ("mail_enabled", _B, "mailEnabled"), ("security_enabled", _B, "securityEnabled"),
    ),
    "devices": _entity(
        "/devices", _ID, _DISPLAY_NAME, ("operating_system", _S, "operatingSystem"),
        ("os_version", _S, "operatingSystemVersion"), ("trust_type", _S, "trustType"),
        ("account_enabled", _B, "accountEnabled"),
    ),
    "signin_logs": _entity(
        "/auditLogs/signIns", _ID, ("user_display_name", _S, "userDisplayName"),
        ("user_principal_name", _S, "userPrincipalName"),
        ("app_display_name", _S, "appDisplayName"), ("ip_address", _S, "ipAddress"),
        ("created_datetime", _T, "createdDateTime"), ("status", _S, "status"),
    ),
    # -- SharePoint (A18)
    "sites": _entity("/sites?search=*", _ID, _NAME, _DISPLAY_NAME, _WEB_URL, _CREATED_AT),
    "drives": _entity(
        "/sites/{site_id}/drives", _ID, _NAME, ("drive_type", _S, "driveType"), _WEB_URL,
        _CREATED_AT, _MODIFIED_AT,
    ),
    "lists": _entity(
        "/sites/{site_id}/lists", _ID, _NAME, _DISPLAY_NAME, _DESCRIPTION, _WEB_URL,
        _CREATED_AT, _MODIFIED_AT,
    ),
    "list_columns": _entity(
        "/sites/{site_id}/lists/{list_id}/columns", _NAME, _DISPLAY_NAME,
        ("column_type", _S, lambda c: sharepoint_column_type(c).simpleString()),
        _DESCRIPTION, ("required", _B, "required"),
    ),
    # -- Excel over Graph (A19)
    "files": _entity(
        "/me/drive/root/children", _ID, _NAME, _WEB_URL, ("size", _S, "size"),
        _CREATED_AT, _MODIFIED_AT, ("mime_type", _S, "file.mimeType"),
        ("is_folder", _B, lambda i: "folder" in i),
    ),
    "worksheets": _entity(
        "/me/drive/items/{file_id}/workbook/worksheets", _NAME, _ID,
        ("position", _S, "position"), ("visibility", _S, "visibility"),
    ),
    "tables": _entity(
        "/me/drive/items/{file_id}/workbook/tables", _NAME, _ID,
        ("show_headers", _B, "showHeaders"), ("show_totals", _B, "showTotals"),
    ),
    # -- Teams (A20)
    "teams": _entity("/me/joinedTeams", _ID, _DISPLAY_NAME, _DESCRIPTION),
    "channels": _entity(
        "/teams/{team_id}/channels", _ID, _DISPLAY_NAME, _DESCRIPTION,
        ("membership_type", _S, "membershipType"),
    ),
    "members": _entity(
        "/teams/{team_id}/members", _ID, _DISPLAY_NAME, ("email", _S, "email"),
        ("roles", _S, "roles"),
    ),
    "channel_messages": _entity(
        "/teams/{team_id}/channels/{channel_id}/messages", _ID,
        ("from_user", _S, "from.user.displayName"), _CREATED_AT,
        ("content", _S, "body.content"),
    ),
    # -- Outlook (A21)
    "calendars": _entity(
        "/me/calendars", _ID, _NAME, ("owner", _S, "owner.address"),
        ("can_edit", _B, "canEdit"),
    ),
    "events": _entity(
        "/me/events", _ID, ("subject", _S, "subject"), ("start_at", _T, "start.dateTime"),
        ("end_at", _T, "end.dateTime"), ("organizer", _S, "organizer.emailAddress.address"),
        ("location", _S, "location.displayName"),
    ),
    "contacts": _entity(
        "/me/contacts", _ID, _DISPLAY_NAME, ("email", _S, "emailAddresses.0.address"),
        ("company", _S, "companyName"),
    ),
    "mail_folders": _entity(
        "/me/mailFolders", _ID, _DISPLAY_NAME, ("total_items", _S, "totalItemCount"),
        ("unread_items", _S, "unreadItemCount"),
    ),
    "messages": _entity(
        "/me/messages", _ID, ("subject", _S, "subject"),
        ("from_address", _S, "from.emailAddress.address"),
        ("received_at", _T, "receivedDateTime"), ("is_read", _B, "isRead"),
        ("body_preview", _S, "bodyPreview"),
    ),
    # -- Planner (A22)
    "planner_plans": _entity(
        "/groups/{group_id}/planner/plans", _ID, ("title", _S, "title"),
        ("owner_group_id", _S, "owner"), _CREATED_AT,
    ),
    "planner_buckets": _entity(
        "/planner/plans/{plan_id}/buckets", _ID, _NAME, ("plan_id", _S, "planId"),
        ("order_hint", _S, "orderHint"),
    ),
    "planner_tasks": _entity(
        "/planner/plans/{plan_id}/tasks", _ID, ("title", _S, "title"),
        ("bucket_id", _S, "bucketId"), ("plan_id", _S, "planId"),
        ("percent_complete", _S, "percentComplete"), ("priority", _S, "priority"),
        ("due_at", _T, "dueDateTime"),
    ),
}


def graph_items_schema(fields: tuple, delta: bool = False) -> StructType:
    """The Spark schema of a field table, closed by ``change_op`` for a
    ``/delta`` read."""
    return StructType(
        [StructField(name, dtype, True) for name, dtype, _ in fields]
        + ([_CHANGE_OP] if delta else [])
    )


def _at(item: Any, path) -> Any:
    """The value at ``path`` (key tuple or callable) in one item; None
    where a key is missing or a step is not a dict/list."""
    if callable(path):
        return path(item)
    for key in path:
        if isinstance(item, dict) and isinstance(key, str):
            item = item.get(key)
        elif isinstance(item, list) and isinstance(key, int) and key < len(item):
            item = item[key]
        else:
            return None
    return item


def graph_items_batch(
    items: list[dict], fields: tuple, delta: bool = False
) -> pyarrow.RecordBatch:
    """Project ``items`` through the field table and decode the cells
    into one record batch. ``delta`` reads a ``/delta`` walk: a
    tombstone (``@removed``) keeps only its id, and a ``change_op``
    column ('D' for a tombstone, else 'U') closes the row."""
    removed = [delta and "@removed" in i for i in items]
    cells = [
        [None if gone and name != "id" else _at(i, path) for i, gone in zip(items, removed)]
        for name, _dtype, path in fields
    ]
    if delta:
        cells.append(["D" if gone else "U" for gone in removed])
    return ColumnDecoders(graph_items_schema(fields, delta)).columns_batch(cells)


def _graph_frame(
    spark: SparkSession, items: list[dict], fields: tuple, delta: bool = False
) -> DataFrame:
    batch = graph_items_batch(items, fields, delta)
    return local_batches(spark, [batch], graph_items_schema(fields, delta))


def _graph_read(spark: SparkSession, client: GraphClient, entity: str, **ids) -> DataFrame:
    spec = GRAPH_ENTITIES[entity]
    return _graph_frame(spark, client.get_paged_values(spec.route.format(**ids)), spec.fields)


def sharepoint_list_schema(client: GraphClient, site_id: str, list_id: str) -> StructType:
    """The list's readable columns (not read-only, or Title), each typed
    from its facets — the schema of an item's ``fields``."""
    cols = client.get_paged_values(f"/sites/{site_id}/lists/{list_id}/columns")
    return StructType([
        StructField(c["name"], sharepoint_column_type(c), True)
        for c in cols
        if not c.get("readOnly") or c.get("name") == "Title"
    ])


def sharepoint_item_fields(columns: Iterable[StructField]) -> tuple:
    """Field table of SharePoint list items: the item id, then each
    column read from the item's ``fields``."""
    return (("id", _S, ("id",)),) + tuple(
        (c.name, c.dataType, ("fields", c.name)) for c in columns
    )


# -- Entra ID (A17) ---------------------------------------------------------

USERS_SCHEMA = GRAPH_ENTITIES["users"].schema
GROUPS_SCHEMA = GRAPH_ENTITIES["groups"].schema
DEVICES_SCHEMA = GRAPH_ENTITIES["devices"].schema
SIGNIN_SCHEMA = GRAPH_ENTITIES["signin_logs"].schema


def graph_users(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "users")


def graph_groups(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "groups")


def graph_devices(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "devices")


def graph_signin_logs(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "signin_logs")


# -- SharePoint (A18, B2) ---------------------------------------------------

SITES_SCHEMA = GRAPH_ENTITIES["sites"].schema
DRIVES_SCHEMA = GRAPH_ENTITIES["drives"].schema
LISTS_SCHEMA = GRAPH_ENTITIES["lists"].schema


def graph_show_sites(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "sites")


def graph_show_drives(spark: SparkSession, client: GraphClient, site_id: str) -> DataFrame:
    return _graph_read(spark, client, "drives", site_id=site_id)


def graph_show_lists(spark: SparkSession, client: GraphClient, site_id: str) -> DataFrame:
    return _graph_read(spark, client, "lists", site_id=site_id)


def graph_describe_list(
    spark: SparkSession, client: GraphClient, site_id: str, list_id: str
) -> DataFrame:
    return _graph_read(spark, client, "list_columns", site_id=site_id, list_id=list_id)


def graph_list_items(
    spark: SparkSession, client: GraphClient, site_id: str, list_id: str
) -> DataFrame:
    """Typed list items: columns from facets, values from fields."""
    fields = sharepoint_item_fields(sharepoint_list_schema(client, site_id, list_id))
    items = client.get_paged_values(f"/sites/{site_id}/lists/{list_id}/items?expand=fields")
    return _graph_frame(spark, items, fields)


def graph_sharepoint_create_item(
    client: GraphClient, site_id: str, list_id: str, fields: dict
) -> str:
    doc = client.request("POST", f"/sites/{site_id}/lists/{list_id}/items",
                         {"fields": fields})
    return doc.get("id")


def graph_sharepoint_update_item(
    client: GraphClient, site_id: str, list_id: str, item_id: str, fields: dict
) -> None:
    client.request("PATCH", f"/sites/{site_id}/lists/{list_id}/items/{item_id}/fields",
                   fields)


def graph_sharepoint_delete_item(
    client: GraphClient, site_id: str, list_id: str, item_id: str
) -> None:
    client.request("DELETE", f"/sites/{site_id}/lists/{list_id}/items/{item_id}")


def sharepoint_list_write(
    df: DataFrame,
    client_factory,
    site_id: str,
    list_id: str,
    batch_size: int = GRAPH_BATCH_MAX_REQUESTS,
    batch_max_bytes: int = GRAPH_BATCH_MAX_BYTES,
) -> int:
    """Bulk copy into a SharePoint list (B3 COPY TO analogue), executed
    on the executors. Creates are coalesced into ``$batch`` envelopes
    under a dual budget of ``batch_size`` requests / ``batch_max_bytes``
    encoded bytes per HTTP call; ``batch_size=1`` degrades to the
    reference's per-row POSTs (B3). NULL cells are left out of the item.
    Returns the number of rows written."""
    url = f"/sites/{site_id}/lists/{list_id}/items"
    return _graph_write(
        df, client_factory,
        lambda r: {"method": "POST", "url": url,
                   "body": {"fields": {c: v for c, v in r.items() if v is not None}}},
        batch_size, batch_max_bytes, "sharepoint_list_write",
    )


def sharepoint_list_update(
    df: DataFrame,
    client_factory,
    site_id: str,
    list_id: str,
    id_col: str = "item_id",
    batch_size: int = GRAPH_BATCH_MAX_REQUESTS,
    batch_max_bytes: int = GRAPH_BATCH_MAX_BYTES,
) -> int:
    """Bulk field updates against a SharePoint list (B2 UPDATE as a
    distributed write): one PATCH per row, coalesced into ``$batch``
    envelopes exactly like ``sharepoint_list_write``; ``batch_size=1``
    degrades to the reference's per-item PATCH
    (sharepoint_functions.cpp update path). Returns the number of rows
    written.

    Unlike create, a None value is SENT as an explicit JSON null —
    PATCH semantics distinguish "clear this field" from "leave it
    alone" (omit the column from the DataFrame to leave it alone);
    silently dropping Nones would make null cells unclearable."""
    url = f"/sites/{site_id}/lists/{list_id}/items/{{}}/fields"
    return _graph_write(
        df, client_factory,
        lambda r: {"method": "PATCH", "url": url.format(r[id_col]),
                   "body": {c: v for c, v in r.items() if c != id_col}},
        batch_size, batch_max_bytes, "sharepoint_list_update",
    )


def sharepoint_list_delete(
    df: DataFrame,
    client_factory,
    site_id: str,
    list_id: str,
    id_col: str = "item_id",
    batch_size: int = GRAPH_BATCH_MAX_REQUESTS,
) -> int:
    """Bulk deletes against a SharePoint list (B2 DELETE as a
    distributed write): one DELETE per id, coalesced into ``$batch``
    envelopes; ``batch_size=1`` degrades to per-item DELETEs. Returns
    the number of rows written."""
    url = f"/sites/{site_id}/lists/{list_id}/items/{{}}"
    return _graph_write(
        df.select(id_col), client_factory,
        lambda r: {"method": "DELETE", "url": url.format(r[id_col])},
        batch_size, GRAPH_BATCH_MAX_BYTES, "sharepoint_list_delete",
    )


# -- Excel over Graph (A19, B4-B6) -----------------------------------------

FILES_SCHEMA = GRAPH_ENTITIES["files"].schema


def graph_list_files(spark: SparkSession, client: GraphClient, path: str = "") -> DataFrame:
    spec = GRAPH_ENTITIES["files"]
    route = spec.route if not path else f"/me/drive/root:/{path}:/children"
    return _graph_frame(spark, client.get_paged_values(route), spec.fields)


def graph_excel_worksheets(spark: SparkSession, client: GraphClient, file_id: str) -> DataFrame:
    return _graph_read(spark, client, "worksheets", file_id=file_id)


def graph_excel_tables(spark: SparkSession, client: GraphClient, file_id: str) -> DataFrame:
    return _graph_read(spark, client, "tables", file_id=file_id)


_DATE_FORMAT_HINTS = ("yy", "mm", "dd", "h:", "hh")
_EXCEL_EPOCH = datetime.datetime(1899, 12, 30)


def _excel_serial(v):
    """A numeric cell of a date-formatted column is an Excel serial date
    (days since 1899-12-30, the time of day as the fraction): as naive
    ISO-8601 for the timestamp decoder. Other cells pass unchanged."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        try:
            return (_EXCEL_EPOCH + datetime.timedelta(days=v)).isoformat()
        except (OverflowError, ValueError):
            return None
    return v


def _excel_grid_to_df(spark: SparkSession, doc: dict) -> DataFrame:
    """usedRange grid -> DataFrame: row 0 = headers, types inferred from
    valueTypes + numberFormat (dates detected via format string). Cells
    decode by position (``columns_batch``): headers may repeat."""
    values = doc.get("values") or []
    if not values:
        return local_batches(spark, [], StructType([]))
    headers = [str(h) for h in values[0]]
    vtypes = doc.get("valueTypes") or []
    formats = doc.get("numberFormat") or []

    def col_type(ci: int):
        seen = {r[ci] for r in vtypes[1:] if ci < len(r)} if vtypes else set()
        fmt = ""
        if len(formats) > 1 and ci < len(formats[1]):
            fmt = str(formats[1][ci]).lower()
        if any(h in fmt for h in _DATE_FORMAT_HINTS) and "general" not in fmt:
            return TimestampType()
        if seen <= {"Double", "Integer"} and seen:
            return DoubleType()
        if seen == {"Boolean"}:
            return BooleanType()
        return StringType()

    schema = StructType(
        [StructField(h or f"col{i}", col_type(i), True) for i, h in enumerate(headers)]
    )
    cells = [[r[ci] if ci < len(r) else None for r in values[1:]] for ci in range(len(headers))]
    for ci, field in enumerate(schema.fields):
        if isinstance(field.dataType, TimestampType):
            cells[ci] = [_excel_serial(v) for v in cells[ci]]
    return local_batches(spark, [ColumnDecoders(schema).columns_batch(cells)], schema)


def graph_excel_table_data(
    spark: SparkSession, client: GraphClient, file_id: str, table: str
) -> DataFrame:
    doc = client.get_json(
        f"/me/drive/items/{file_id}/workbook/tables/{table}/range"
    )
    return _excel_grid_to_df(spark, doc)


def graph_excel_range(
    spark: SparkSession, client: GraphClient, file_id: str, sheet: str
) -> DataFrame:
    doc = client.get_json(
        f"/me/drive/items/{file_id}/workbook/worksheets/{sheet}/usedRange"
    )
    return _excel_grid_to_df(spark, doc)


def excel_table_append(
    client: GraphClient, file_id: str, table: str, rows: list[list], batch_size: int = 100
) -> int:
    """Bulk append via workbook session + rows/add batches (B4;
    graph_excel_client.cpp:103-111)."""
    sess = client.request("POST", f"/me/drive/items/{file_id}/workbook/createSession",
                          {"persistChanges": True})
    session_id = (sess or {}).get("id", "")
    n = 0
    try:
        for batch in cut(rows, batch_size):
            client.request(
                "POST",
                f"/me/drive/items/{file_id}/workbook/tables/{table}/rows/add",
                {"values": batch, "sessionId": session_id},
            )
            n += len(batch)
    finally:
        client.request("POST", f"/me/drive/items/{file_id}/workbook/closeSession",
                       {"sessionId": session_id})
    return n


def graph_excel_delete_rows(
    client: GraphClient, file_id: str, table: str, col_index: int, col_value: str
) -> int:
    """Delete every table row whose ``col_index`` cell equals ``col_value``
    (string-compared, like the reference); returns the deleted count (B6;
    graph_excel_client.cpp:432-536). Runs inside a workbook session and
    deletes from the highest row index down so indices never shift."""
    sess = client.request("POST", f"/me/drive/items/{file_id}/workbook/createSession",
                          {"persistChanges": True})
    session_id = (sess or {}).get("id", "")
    base = f"/me/drive/items/{file_id}/workbook/tables/{table}"
    try:
        matching: list[int] = []
        for row in client.get_paged_values(f"{base}/rows"):
            values = row.get("values") or [[]]
            cells = values[0] if values else []
            if col_index >= len(cells):
                continue
            cell = cells[col_index]
            cell_str = f"{float(cell):.6f}" if isinstance(cell, (int, float)) and not isinstance(cell, bool) else str(cell)
            if cell_str == col_value:
                matching.append(int(row.get("index", -1)))
        for idx in sorted(matching, reverse=True):
            client.request(
                "POST", f"{base}/rows/itemAt(index={idx})/delete", {"sessionId": session_id}
            )
        return len(matching)
    finally:
        client.request("POST", f"/me/drive/items/{file_id}/workbook/closeSession",
                       {"sessionId": session_id})


def excel_table_write(df: DataFrame, client_factory, file_id: str, table: str) -> int:
    """``df.write``-style bulk append: each partition's rows go through
    ``excel_table_append`` on the executors (one workbook session per
    partition). Returns the number of rows written."""

    def send(rows: list[dict]) -> int:
        client = client_factory()
        excel_table_append(client, file_id, table, [list(r.values()) for r in rows])
        return client.sent

    # positional column names: a repeated name must not drop its cells
    return write_partitions(df.toDF(*map(str, range(len(df.columns)))), send, "excel_table_write")


# -- Teams (A20) ------------------------------------------------------------

def graph_my_teams(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "teams")


def graph_team_channels(spark: SparkSession, client: GraphClient, team_id: str) -> DataFrame:
    return _graph_read(spark, client, "channels", team_id=team_id)


def graph_team_members(spark: SparkSession, client: GraphClient, team_id: str) -> DataFrame:
    return _graph_read(spark, client, "members", team_id=team_id)


def graph_channel_messages(
    spark: SparkSession, client: GraphClient, team_id: str, channel_id: str
) -> DataFrame:
    return _graph_read(
        spark, client, "channel_messages", team_id=team_id, channel_id=channel_id
    )


# -- Outlook (A21) ----------------------------------------------------------

def graph_calendars(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "calendars")


def graph_calendar_events(
    spark: SparkSession, client: GraphClient,
    start_date: str | None = None, end_date: str | None = None,
) -> DataFrame:
    spec = GRAPH_ENTITIES["events"]
    if start_date and end_date:
        path = f"/me/calendarView?startDateTime={start_date}&endDateTime={end_date}"
    else:
        path = spec.route
    return _graph_frame(spark, client.get_paged_values(path), spec.fields)


def graph_contacts(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "contacts")


def graph_mail_folders(spark: SparkSession, client: GraphClient) -> DataFrame:
    return _graph_read(spark, client, "mail_folders")


def graph_messages(
    spark: SparkSession, client: GraphClient, folder: str | None = None
) -> DataFrame:
    spec = GRAPH_ENTITIES["messages"]
    path = f"/me/mailFolders/{folder}/messages" if folder else spec.route
    return _graph_frame(spark, client.get_paged_values(path), spec.fields)


# -- Planner (A22, B1) ------------------------------------------------------

def graph_planner_plans(spark: SparkSession, client: GraphClient, group_id: str) -> DataFrame:
    return _graph_read(spark, client, "planner_plans", group_id=group_id)


def graph_planner_buckets(spark: SparkSession, client: GraphClient, plan_id: str) -> DataFrame:
    return _graph_read(spark, client, "planner_buckets", plan_id=plan_id)


def graph_planner_tasks(spark: SparkSession, client: GraphClient, plan_id: str) -> DataFrame:
    return _graph_read(spark, client, "planner_tasks", plan_id=plan_id)


def graph_planner_create_task(
    client: GraphClient, plan_id: str, title: str,
    bucket_id: str | None = None, due_date: str | None = None,
) -> tuple[str, str]:
    """One POST -> (task_id, task_url) (B1). Bulk creation over a
    DataFrame goes through http_call, the lateral-join idiom."""
    body: dict = {"planId": plan_id, "title": title}
    if bucket_id:
        body["bucketId"] = bucket_id
    if due_date:
        body["dueDateTime"] = due_date
    doc = client.request("POST", "/planner/tasks", body)
    task_id = doc.get("id", "")
    return task_id, f"{client.base_url}/planner/tasks/{task_id}"


def planner_create_tasks(
    df: DataFrame, client_factory, plan_id: str,
    title_col: str = "title", bucket_col: str | None = None,
    batch_size: int = GRAPH_BATCH_MAX_REQUESTS,
) -> "DataFrame":
    """Bulk task creation from a DataFrame — the reference's LATERAL-join
    bulk-write idiom (README.md:753-780) as a distributed map, with the
    per-row POSTs coalesced into ``$batch`` envelopes (up to
    ``batch_size`` creates per HTTP call; 1 degrades to per-row). One
    (title, task_id, task_url) result row comes back per input row, so
    failures are attributable, not silent. ``client_factory`` must close
    over serializable config only.
    """

    def start():
        client = client_factory()

        def create(rows: list[dict]) -> list[tuple]:
            bodies = [
                {"planId": plan_id, "title": str(r[title_col])}
                | ({"bucketId": str(r[bucket_col])} if bucket_col else {})
                for r in rows
            ]
            reqs = [{"method": "POST", "url": "/planner/tasks", "body": b} for b in bodies]
            ids = [(doc or {}).get("id", "") for doc in graph_send(client, reqs, batch_size)]
            url = f"{client.base_url}/planner/tasks/"
            return [(b["title"], i, url + i) for b, i in zip(bodies, ids)]

        return create

    cols = [title_col] + ([bucket_col] if bucket_col else [])
    results = StructType([StructField(n, StringType()) for n in ("title", "task_id", "task_url")])
    return fan_out(df.select(*cols), results, start)


def _delta_sync(
    client: GraphClient, path: str, state_key: str, state_dir: str
) -> list[dict]:
    """Shared Graph /delta token machinery (mirrors sources/odp.py): one
    ``GraphClient.walk`` from the stored cursor (else ``path``), the new
    cursor committed only after the walk, 410 on a stored link -> drop
    state and reload."""
    os.makedirs(state_dir, exist_ok=True)
    state_path = os.path.join(state_dir, f"{state_key}.json")
    delta_link = None
    if os.path.exists(state_path):
        with open(state_path) as f:
            delta_link = json.load(f).get("delta_link")
    try:
        items, cursor = client.walk(delta_link or path)
    except HttpStatusError as e:
        if e.status == 410 and delta_link:
            os.remove(state_path)
            return _delta_sync(client, path, state_key, state_dir)
        raise
    if cursor:
        # temp file + rename: a failed write leaves the old cursor whole
        tmp = state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"delta_link": cursor}, f)
        os.replace(tmp, state_path)
    return items


def graph_users_delta(
    spark: SparkSession, client: GraphClient, state_dir: str
) -> DataFrame:
    """Incremental Entra users via Graph ``/users/delta`` — the Graph
    family's CDC surface (beyond the reference, which implements delta
    replication only for SAP ODP).

    First call returns the full directory (change_op 'U' per row);
    subsequent calls return only changes — updated rows as 'U', tombstones
    (``@removed`` markers) as 'D' with only the id populated. Feed the
    result straight into ``operators.cdc.apply_cdc_changes`` keyed on id
    to maintain a directory snapshot.
    """
    items = _delta_sync(client, "/users/delta", "graph_users_delta", state_dir)
    return _graph_frame(spark, items, GRAPH_ENTITIES["users"].fields, delta=True)


def graph_groups_delta(
    spark: SparkSession, client: GraphClient, state_dir: str
) -> DataFrame:
    """Incremental Entra groups via ``/groups/delta`` — same token
    machinery and change_op convention as ``graph_users_delta``."""
    items = _delta_sync(client, "/groups/delta", "graph_groups_delta", state_dir)
    return _graph_frame(spark, items, GRAPH_ENTITIES["groups"].fields, delta=True)


def graph_list_items_delta(
    spark: SparkSession,
    client: GraphClient,
    site_id: str,
    list_id: str,
    state_dir: str,
) -> DataFrame:
    """Incremental SharePoint list rows via ``/items/delta`` — the third
    Graph delta surface (users, groups, list items), same token
    machinery and change_op convention. Columns type from the list's
    facets exactly as ``graph_list_items``; tombstones carry only the
    id. Feed ``operators.cdc.apply_cdc_changes`` keyed on id to
    maintain a list snapshot without re-reading the whole list."""
    fields = sharepoint_item_fields(sharepoint_list_schema(client, site_id, list_id))
    items = _delta_sync(
        client,
        f"/sites/{site_id}/lists/{list_id}/items/delta?expand=fields",
        f"graph_list_items_delta_{site_id}_{list_id}",
        state_dir,
    )
    return _graph_frame(spark, items, fields, delta=True)
