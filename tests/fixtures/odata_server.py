"""Local fixture HTTP server emulating OData v2/v4 services + misc HTTP
behaviors (redirects, retry statuses, charsets, binary) for tests.

Equivalent in role to the reference's checked-in EDMX fixtures and
sqllogictests against public services (SURVEY.md §5) — regenerated, not
copied. Records every request (path + parsed query) so tests can assert
pushdown reached the server ($filter/$select/$top observable in the log).
"""

from __future__ import annotations

import gzip
import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlsplit

PAGE_SIZE = 3

EDMX_V4 = """<?xml version="1.0" encoding="utf-8"?>
<edmx:Edmx Version="4.0" xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx">
  <edmx:DataServices>
    <Schema Namespace="Fixture" xmlns="http://docs.oasis-open.org/odata/ns/edm">
      <EnumType Name="Segment">
        <Member Name="Retail" Value="0"/>
        <Member Name="Wholesale" Value="1"/>
      </EnumType>
      <ComplexType Name="Address">
        <Property Name="Street" Type="Edm.String"/>
        <Property Name="City" Type="Fixture.City"/>
      </ComplexType>
      <ComplexType Name="City">
        <Property Name="Name" Type="Edm.String"/>
        <Property Name="Country" Type="Edm.String"/>
      </ComplexType>
      <EntityType Name="Person">
        <Key><PropertyRef Name="UserName"/></Key>
        <Property Name="UserName" Type="Edm.String" Nullable="false"/>
        <Property Name="FirstName" Type="Edm.String" Nullable="false"/>
        <Property Name="Age" Type="Edm.Int64"/>
        <Property Name="Balance" Type="Edm.Decimal" Precision="19" Scale="4"/>
        <Property Name="Score" Type="Edm.Double"/>
        <Property Name="Active" Type="Edm.Boolean"/>
        <Property Name="Joined" Type="Edm.DateTimeOffset"/>
        <Property Name="Emails" Type="Collection(Edm.String)"/>
        <Property Name="HomeAddress" Type="Fixture.Address"/>
        <Property Name="Segment" Type="Fixture.Segment"/>
        <NavigationProperty Name="Orders" Type="Collection(Fixture.Order)"/>
      </EntityType>
      <EntityType Name="Order">
        <Key><PropertyRef Name="OrderID"/></Key>
        <Property Name="OrderID" Type="Edm.Int32" Nullable="false"/>
        <Property Name="UserName" Type="Edm.String"/>
        <Property Name="Amount" Type="Edm.Decimal" Precision="19" Scale="4"/>
        <Property Name="Placed" Type="Edm.DateTimeOffset"/>
      </EntityType>
      <EntityContainer Name="Container">
        <EntitySet Name="People" EntityType="Fixture.Person"/>
        <EntitySet Name="Orders" EntityType="Fixture.Order"/>
      </EntityContainer>
    </Schema>
  </edmx:DataServices>
</edmx:Edmx>
"""

EDMX_V2 = """<?xml version="1.0" encoding="utf-8"?>
<edmx:Edmx Version="1.0" xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx">
  <edmx:DataServices m:DataServiceVersion="2.0"
      xmlns:m="http://schemas.microsoft.com/ado/2007/08/dataservices/metadata">
    <Schema Namespace="NW" xmlns="http://schemas.microsoft.com/ado/2009/11/edm">
      <EntityType Name="Customer">
        <Key><PropertyRef Name="CustomerID"/></Key>
        <Property Name="CustomerID" Type="Edm.String" Nullable="false" MaxLength="5"/>
        <Property Name="CompanyName" Type="Edm.String" Nullable="false" MaxLength="40"/>
        <Property Name="Country" Type="Edm.String" MaxLength="15"/>
        <Property Name="Founded" Type="Edm.DateTime"/>
        <NavigationProperty Name="Orders" Relationship="NW.FK_Orders_Customers"
            ToRole="Orders" FromRole="Customers"/>
      </EntityType>
      <EntityType Name="Order">
        <Key><PropertyRef Name="OrderID"/></Key>
        <Property Name="OrderID" Type="Edm.Int32" Nullable="false"/>
        <Property Name="CustomerID" Type="Edm.String" MaxLength="5"/>
        <Property Name="Freight" Type="Edm.Decimal" Precision="19" Scale="4"/>
      </EntityType>
      <Association Name="FK_Orders_Customers">
        <End Role="Customers" Type="NW.Customer" Multiplicity="1"/>
        <End Role="Orders" Type="NW.Order" Multiplicity="*"/>
      </Association>
      <EntityContainer Name="NWEntities" m:IsDefaultEntityContainer="true">
        <EntitySet Name="Customers" EntityType="NW.Customer"/>
        <EntitySet Name="Orders" EntityType="NW.Order"/>
      </EntityContainer>
    </Schema>
  </edmx:DataServices>
</edmx:Edmx>
"""

PEOPLE = [
    {
        "UserName": f"user{i}",
        "FirstName": ["Ana", "Ben", "Cleo", "Dee", "Eli", "Fay", "Gus", "Hana"][i % 8],
        "Age": 20 + i,
        "Balance": f"{100.5 + i}",
        "Score": 0.5 * i,
        "Active": i % 2 == 0,
        "Joined": f"2023-0{1 + i % 9}-15T10:30:00Z",
        "Emails": [f"user{i}@a.example", f"user{i}@b.example"],
        "HomeAddress": {
            "Street": f"{i} Main St",
            "City": {"Name": ["Berlin", "Paris", "Rome"][i % 3],
                     "Country": ["DE", "FR", "IT"][i % 3]},
        },
        "Segment": "Retail" if i % 2 == 0 else "Wholesale",
    }
    for i in range(10)
]

V4_ORDERS = [
    {"OrderID": 100 + i, "UserName": f"user{i % 5}", "Amount": f"{10.25 * (i + 1)}",
     "Placed": f"2024-01-{i + 1:02d}T08:00:00Z"}
    for i in range(12)
]

CUSTOMERS_V2 = [
    {
        "__metadata": {"uri": f"Customers('C{i:03d}')", "type": "NW.Customer"},
        "CustomerID": f"C{i:03d}",
        "CompanyName": f"Company {i} {'& Söhne' if i == 3 else ''}".strip(),
        "Country": ["Germany", "France", "Italy", "Germany", "Spain"][i % 5],
        "Founded": f"/Date({(1000000000 + i * 86400) * 1000})/",
        "Orders": {"__deferred": {"uri": f"Customers('C{i:03d}')/Orders"}},
    }
    for i in range(8)
]

_CMP = {"eq": "==", "ne": "!=", "gt": ">", "ge": ">=", "lt": "<", "le": "<="}
_FILTER_RE = re.compile(r"^(\w+) (eq|ne|gt|ge|lt|le) (.+)$")


def _parse_literal(s: str):
    s = s.strip()
    if s.startswith("'") and s.endswith("'"):
        return s[1:-1].replace("''", "'")
    if s in ("true", "false"):
        return s == "true"
    if s == "null":
        return None
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s


def _apply_filter(rows: list[dict], expr: str) -> list[dict]:
    """Evaluate 'Col op lit [and Col op lit ...]' — the subset tests use."""
    # strip per-clause parens: '(A le 27) and (B gt 2)' / '(A ne 1 and A ne null)'
    clauses = [c.strip().strip("()").strip() for c in expr.split(" and ")]
    out = rows
    for clause in clauses:
        m = _FILTER_RE.match(clause)
        if not m:
            continue
        col, op, lit = m.group(1), m.group(2), _parse_literal(m.group(3))
        def keep(r, col=col, op=op, lit=lit):
            v = r.get(col)
            if lit is None:
                return (v is None) if op == "eq" else (v is not None)
            if v is None:
                return False
            if isinstance(lit, (int, float)) and isinstance(v, str):
                try:
                    v = float(v)
                except ValueError:
                    return False
            try:
                return {
                    "eq": v == lit, "ne": v != lit, "gt": v > lit,
                    "ge": v >= lit, "lt": v < lit, "le": v <= lit,
                }[op]
            except TypeError:
                return False
        out = [r for r in out if keep(r)]
    return out


_APPLY_RE = re.compile(
    r"^groupby\(\(([^)]*)\)(?:,aggregate\((.*)\))?\)$"
)
_AGG_RE = re.compile(r"^(\w+) with (sum|min|max|average|countdistinct) as (\w+)$")


def _apply_apply(rows: list[dict], expr: str) -> list[dict]:
    """Evaluate the $apply subset the tests use:
    groupby((d1,d2),aggregate(Src with sum as Alias[, ...]))."""
    m = _APPLY_RE.match(expr.strip())
    if not m:
        return rows
    dims = [d.strip() for d in m.group(1).split(",") if d.strip()]
    aggs = []
    if m.group(2):
        for part in m.group(2).split(","):
            am = _AGG_RE.match(part.strip())
            if am:
                aggs.append((am.group(1), am.group(2), am.group(3)))
    groups: dict[tuple, list[dict]] = {}
    for r in rows:
        groups.setdefault(tuple(r.get(d) for d in dims), []).append(r)
    out = []
    for key, members in sorted(groups.items(), key=lambda kv: str(kv[0])):
        row = dict(zip(dims, key))
        for src, fn, alias in aggs:
            vals = [r[src] for r in members if r.get(src) is not None]
            if fn == "sum":
                row[alias] = sum(vals)
            elif fn == "min":
                row[alias] = min(vals)
            elif fn == "max":
                row[alias] = max(vals)
            elif fn == "average":
                row[alias] = sum(vals) / len(vals) if vals else None
            elif fn == "countdistinct":
                row[alias] = len(set(vals))
        out.append(row)
    return out


EDMX_ODP = """<?xml version="1.0" encoding="utf-8"?>
<edmx:Edmx Version="4.0" xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx">
  <edmx:DataServices>
    <Schema Namespace="ODP" xmlns="http://docs.oasis-open.org/odata/ns/edm">
      <EntityType Name="Fact">
        <Key><PropertyRef Name="FactID"/></Key>
        <Property Name="FactID" Type="Edm.Int32" Nullable="false"/>
        <Property Name="CALMONTH" Type="Edm.String" MaxLength="6"/>
        <Property Name="Amount" Type="Edm.Decimal" Precision="33" Scale="2"/>
      </EntityType>
      <EntityType Name="Stamp">
        <Key><PropertyRef Name="StampID"/></Key>
        <Property Name="StampID" Type="Edm.Int32" Nullable="false"/>
        <Property Name="At" Type="Edm.DateTimeOffset"/>
      </EntityType>
      <EntityContainer Name="C">
        <EntitySet Name="Facts" EntityType="ODP.Fact"/>
        <EntitySet Name="Stamps" EntityType="ODP.Stamp"/>
      </EntityContainer>
    </Schema>
  </edmx:DataServices>
</edmx:Edmx>
"""

ODP_INITIAL = [
    {"FactID": i, "CALMONTH": f"2024{(i % 3) + 1:02d}", "Amount": f"{100 + i}.25"}
    for i in range(7)
]
ODP_DELTAS = {
    "T1": [{"FactID": 100, "CALMONTH": "202404", "Amount": "999.99"},
            {"FactID": 101, "CALMONTH": "202404", "Amount": "888.88"}],
    "T2": [{"FactID": 102, "CALMONTH": "202405", "Amount": "777.77"}],
    "T3": [],
}
ODP_TOKEN_CHAIN = {"T1": "T2", "T2": "T3", "T3": "T3"}


GRAPH_USERS = [
    {"id": f"u{i}", "displayName": f"User {i}", "userPrincipalName": f"u{i}@x.example",
     "mail": f"u{i}@x.example", "jobTitle": "Eng", "department": "R&D",
     "accountEnabled": i % 2 == 0}
    for i in range(5)
]

GRAPH_USER_DELTAS = {
    "G1": [
        {"id": "u1", "displayName": "User 1 Renamed",
         "userPrincipalName": "u1@x.example", "mail": "u1@x.example",
         "jobTitle": "Staff Eng", "department": "R&D", "accountEnabled": False},
        {"id": "u3", "@removed": {"reason": "deleted"}},
    ],
    "G2": [],
}
GRAPH_DELTA_CHAIN = {"G1": "G2", "G2": "G2"}

GRAPH_GROUP_DELTAS = {
    "H1": [
        {"id": "g1", "displayName": "Grp Renamed", "description": "d2",
         "mail": "g@x", "mailEnabled": True, "securityEnabled": True},
    ],
    "H2": [],
}
GRAPH_GROUP_CHAIN = {"H1": "H2", "H2": "H2"}

GRAPH_LIST_COLUMNS = [
    {"name": "Title", "displayName": "Title", "text": {}, "required": True},
    {"name": "Amount", "displayName": "Amount", "number": {}, "required": False},
    {"name": "Cost", "displayName": "Cost", "currency": {}, "required": False},
    {"name": "Active", "displayName": "Active", "boolean": {}, "required": False},
    {"name": "DueDate", "displayName": "Due", "dateTime": {}, "required": False},
    {"name": "Status", "displayName": "Status", "choice": {}, "required": False},
]

# One instant, 2024-01-01T10:30:00Z, served by every web-API surface
# (REST, GraphQL, a SharePoint list, ODP, an Excel date column): a
# reader that shifts it by the process time zone reads a different value.
INSTANT = "2024-01-01T10:30:00Z"

REST_ITEMS = [
    {"item_id": i, "name": f"item-{i}", "score": round(0.5 * i, 2)}
    for i in range(23)
]

GQL_PRODUCTS = [
    {
        "id": i,
        "name": f"widget-{i}",
        "price": round(1.5 * i, 2),
        "inStock": i % 3 != 0,
        "tags": [f"t{i % 2}", f"t{i % 5}"],
        "vendor": {"name": f"vendor-{i % 4}", "rating": i % 5},
    }
    for i in range(25)
]

EXCEL_STAMPS_DOC = {
    "values": [["Name", "When"], ["tz", INSTANT]],
    "valueTypes": [["String", "String"], ["String", "String"]],
    "numberFormat": [["General", "General"], ["General", "yyyy-mm-dd hh:mm"]],
}

# The same instant as an Excel serial date: days since 1899-12-30.
EXCEL_SERIALS_DOC = {
    "values": [["Name", "When"], ["tz", 45292.4375]],
    "valueTypes": [["String", "String"], ["String", "Double"]],
    "numberFormat": [["General", "General"], ["General", "yyyy-mm-dd hh:mm"]],
}

EXCEL_RANGE_DOC = {
    "values": [
        ["Name", "Qty", "Price", "Done", "When"],
        ["alpha", 1, 9.99, True, "2024-03-01T00:00:00"],
        ["beta", 2, 19.5, False, "2024-03-02T00:00:00"],
    ],
    "valueTypes": [
        ["String", "String", "String", "String", "String"],
        ["String", "Double", "Double", "Boolean", "String"],
        ["String", "Double", "Double", "Boolean", "String"],
    ],
    "numberFormat": [
        ["General", "General", "General", "General", "General"],
        ["General", "0", "0.00", "General", "yyyy-mm-dd"],
        ["General", "0", "0.00", "General", "yyyy-mm-dd"],
    ],
}


class FixtureState:
    def __init__(self) -> None:
        self.log: list[dict] = []
        self.flaky_counts: dict[str, int] = {}
        # Delta Sharing: tests drop parquet files and register their URLs +
        # the table's Spark-schema JSON string here.
        self.delta_tables: dict[str, dict] = {}
        # SharePoint list items (mutable via create/update/delete).
        self.sp_items: list[dict] = [
            {"id": "1", "fields": {"Title": "first", "Amount": 10.5, "Cost": 1.25,
                                     "Active": True, "DueDate": "2024-05-01T00:00:00Z",
                                     "Status": "open"}},
            {"id": "2", "fields": {"Title": "second", "Amount": 20.0, "Cost": 2.5,
                                     "Active": False, "DueDate": "2024-06-01T00:00:00Z",
                                     "Status": "done"}},
        ]
        self.sp_next_id = 3
        # Rows POSTed to /rest/collector by the REST write path.
        self.rest_collected: list[dict] = []
        # Excel rows appended via rows/add; workbook sessions opened/closed.
        self.excel_appended: list[list] = []
        self.excel_sessions: list[str] = []
        # Excel table rows addressable by index (for delete_rows).
        self.excel_rows: list[list] = [["a", 1.0], ["b", 2.0], ["a", 3.0]]
        # Planner tasks created.
        self.planner_created: list[dict] = []
        # OAuth2 tokens issued.
        self.tokens_issued: list[dict] = []
        # GraphQL mutation side effects
        self.gql_added: list[dict] = []
        # $batch subrequests throttled once (429) by title
        self.batch_throttled: set[str] = set()

    def requests_for(self, path_prefix: str) -> list[dict]:
        return [r for r in self.log if r["path"].startswith(path_prefix)]


def _make_handler(state: FixtureState):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # Headers and body go out as separate small writes on a kept-alive
        # connection: with Nagle on, each response waits for the client's
        # delayed ACK (~40 ms).
        disable_nagle_algorithm = True

        def log_message(self, *args):  # silence
            pass

        def _send(self, status: int, body: bytes, content_type: str,
                  extra_headers: dict | None = None):
            self.send_response(status)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            # A list of (name, value) pairs may repeat a header name.
            if isinstance(extra_headers, dict):
                extra_headers = extra_headers.items()
            for k, v in extra_headers or ():
                self.send_header(k, v)
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(body)

        def _json(self, status: int, doc, extra_headers=None):
            self._send(status, json.dumps(doc).encode(), "application/json",
                       extra_headers)

        def do_GET(self):  # noqa: N802
            parts = urlsplit(self.path)
            q = dict(parse_qsl(parts.query, keep_blank_values=True))
            state.log.append({
                "method": self.command, "path": parts.path, "query": dict(q),
                "headers": {k: v for k, v in self.headers.items()},
                "peer": self.client_address,
            })
            route = parts.path

            # ---- generic REST pagination ---------------------------------
            # 23 items {item_id, name, score}; four pagination dialects.
            if route.startswith("/rest/"):
                items = REST_ITEMS
                if route == "/rest/instants":
                    return self._json(200, [{"id": 1, "at": INSTANT}])
                if route == "/rest/offset-items":
                    limit = int(q.get("limit", 10))
                    offset = int(q.get("offset", 0))
                    return self._json(200, {
                        "total": len(items),
                        "items": items[offset : offset + limit],
                    })
                if route == "/rest/capped-items":
                    # Server caps page size at 5 regardless of the
                    # requested limit — "short" pages are FULL pages.
                    limit = min(int(q.get("limit", 10)), 5)
                    offset = int(q.get("offset", 0))
                    return self._json(200, {
                        "items": items[offset : offset + limit],
                    })
                if route == "/rest/page-items":
                    page = int(q.get("page", 1))
                    limit = int(q.get("limit", 10))
                    start = (page - 1) * limit
                    return self._json(200, {"items": items[start : start + limit]})
                if route == "/rest/cursor-items":
                    limit = int(q.get("limit", 10))
                    start = int(q.get("cursor", 0))
                    page = items[start : start + limit]
                    nxt = start + limit if start + limit < len(items) else None
                    return self._json(200, {
                        "data": {"items": page, "next_cursor": nxt},
                    })
                if route == "/rest/link-items":
                    page = int(q.get("page", 1))
                    limit = 10
                    start = (page - 1) * limit
                    hdrs = {}
                    if start + limit < len(items):
                        hdrs["Link"] = (
                            f'</rest/link-items?page={page + 1}>; rel="next"'
                        )
                    return self._json(200, items[start : start + limit], hdrs)
                return self._send(404, b"unknown rest route", "text/plain")

            # ---- OData v4 -------------------------------------------------
            if route == "/v4/$metadata":
                return self._send(200, EDMX_V4.encode(), "application/xml")
            if route in ("/v4", "/v4/"):
                return self._json(200, {
                    "@odata.context": "/v4/$metadata",
                    "value": [
                        {"name": "People", "kind": "EntitySet", "url": "People"},
                        {"name": "Orders", "kind": "EntitySet", "url": "Orders"},
                    ],
                })
            if route in ("/v4/People", "/v4/Orders"):
                data = PEOPLE if route.endswith("People") else V4_ORDERS
                return self._serve_v4(route, data, q)
            # Same service behind a gateway that drops $top: the client
            # must cut its row budget itself, mid-page.
            if route == "/v4-notop/$metadata":
                return self._send(200, EDMX_V4.encode(), "application/xml")
            if route == "/v4-notop/People":
                q.pop("$top", None)
                return self._serve_v4(route, PEOPLE, q)

            # ---- OData v2 -------------------------------------------------
            if route == "/v2/$metadata":
                return self._send(200, EDMX_V2.encode(), "application/xml",
                                  {"DataServiceVersion": "2.0"})
            if route in ("/v2", "/v2/"):
                return self._json(200, {"d": {"EntitySets": ["Customers", "Orders"]}},
                                  {"DataServiceVersion": "2.0"})
            if route == "/v2/Customers":
                return self._serve_v2(route, CUSTOMERS_V2, q)

            # ---- generic HTTP behaviors ----------------------------------
            if route == "/http/echo":
                return self._json(200, {
                    "path": parts.path, "query": q,
                    "headers": {k: v for k, v in self.headers.items()},
                })
            if route.startswith("/http/redirect/"):
                n = int(route.rsplit("/", 1)[-1])
                target = "/http/echo" if n <= 1 else f"/http/redirect/{n - 1}"
                return self._send(302, b"", "text/plain", {"Location": target})
            if route == "/http/redirect-cross":
                # "cross-origin" simulated by a different host in Location
                return self._send(302, b"", "text/plain",
                                  {"Location": f"http://127.0.0.1:{self.server.server_port}/http/echo"})
            if route == "/http/flaky":
                c = state.flaky_counts.get(route, 0) + 1
                state.flaky_counts[route] = c
                if c <= 2:
                    return self._send(429, b"slow down", "text/plain")
                return self._json(200, {"ok": True, "attempts": c})
            if route == "/http/throttled-once":
                c = state.flaky_counts.get(route, 0) + 1
                state.flaky_counts[route] = c
                if c == 1:
                    return self._send(429, b"slow down", "text/plain", {"Retry-After": "2"})
                return self._json(200, {"ok": True, "attempts": c})
            if route == "/http/slow-once":
                c = state.flaky_counts.get(route, 0) + 1
                state.flaky_counts[route] = c
                if c == 1:
                    time.sleep(2.0)  # exceeds the test client's read timeout
                return self._json(200, {"ok": True, "attempts": c})
            if route == "/http/latin1":
                body = "Grüße, café".encode("iso-8859-1")
                return self._send(200, body, "text/plain; charset=iso-8859-1")
            if route == "/http/binary":
                return self._send(200, b"\x89PNG\r\n\x1a\n....", "image/png")
            if route == "/http/notfound":
                return self._send(404, b"nope", "text/plain")
            if route == "/http/gzip":
                body = gzip.compress(json.dumps({"ok": True, "text": "zipped " * 50}).encode())
                return self._send(200, body, "application/json",
                                  {"Content-Encoding": "gzip"})
            if route == "/http/links":
                # Three pages of two items; each page carries TWO Link
                # headers (rel="first" before rel="next"), which a client
                # must join into one value to find the next link.
                page = int(q.get("page", 1))
                links = [("Link", '</http/links?page=1>; rel="first"')]
                if page < 3:
                    links.append(("Link", f'</http/links?page={page + 1}>; rel="next"'))
                items = [{"item_id": 2 * (page - 1) + i} for i in range(2)]
                return self._json(200, items, links)

            # ---- ODP CDC --------------------------------------------------
            if route == "/odp/$metadata":
                return self._send(200, EDMX_ODP.encode(), "application/xml")
            if route == "/odp/Facts":
                return self._serve_odp(q)
            if route == "/odp/Stamps":
                # one-row initial load, then empty deltas
                rows = [] if any(k.startswith("!deltatoken") for k in q) else [
                    {"StampID": 1, "At": INSTANT}]
                return self._json(200, {
                    "value": rows, "@odata.deltaLink": "/odp/Stamps?!deltatoken='S1'",
                }, {"OData-Version": "4.0", "Preference-Applied": "odata.track-changes"})

            # ---- Microsoft Graph -----------------------------------------
            if route == "/graph/users/delta":
                token = q.get("$deltatoken")
                if token:
                    if token not in GRAPH_USER_DELTAS:
                        return self._send(410, b"token expired", "text/plain")
                    nxt = GRAPH_DELTA_CHAIN[token]
                    return self._json(200, {
                        "value": GRAPH_USER_DELTAS[token],
                        "@odata.deltaLink": f"/users/delta?%24deltatoken={nxt}",
                    })
                skip = int(q.get("$skiptoken", 0))
                page = GRAPH_USERS[skip:skip + 3]
                doc = {"value": page}
                if skip + 3 < len(GRAPH_USERS):
                    doc["@odata.nextLink"] = f"/users/delta?%24skiptoken={skip + 3}"
                else:
                    doc["@odata.deltaLink"] = "/users/delta?%24deltatoken=G1"
                return self._json(200, doc)
            if route == "/graph/users":
                # two pages via @odata.nextLink
                skip = int(q.get("$skiptoken", 0))
                page = GRAPH_USERS[skip:skip + 3]
                doc = {"value": page}
                if skip + 3 < len(GRAPH_USERS):
                    # relative to the Graph base (client prefixes base_url)
                    doc["@odata.nextLink"] = f"/users?%24skiptoken={skip + 3}"
                return self._json(200, doc)
            if route == "/graph/groups/delta":
                token = q.get("$deltatoken")
                if token:
                    if token not in GRAPH_GROUP_DELTAS:
                        return self._send(410, b"token expired", "text/plain")
                    nxt = GRAPH_GROUP_CHAIN[token]
                    return self._json(200, {
                        "value": GRAPH_GROUP_DELTAS[token],
                        "@odata.deltaLink": f"/groups/delta?%24deltatoken={nxt}",
                    })
                return self._json(200, {
                    "value": [
                        {"id": "g1", "displayName": "Grp", "description": "d",
                         "mail": "g@x", "mailEnabled": True,
                         "securityEnabled": False}],
                    "@odata.deltaLink": "/groups/delta?%24deltatoken=H1",
                })
            if route == "/graph/groups":
                return self._json(200, {"value": [
                    {"id": "g1", "displayName": "Grp", "description": "d",
                     "mail": "g@x", "mailEnabled": True, "securityEnabled": False}]})
            if route == "/graph/devices":
                return self._json(200, {"value": [
                    {"id": "d1", "displayName": "Dev", "operatingSystem": "Linux",
                     "operatingSystemVersion": "6.1", "trustType": "AzureAd",
                     "accountEnabled": True}]})
            if route == "/graph/auditLogs/signIns":
                return self._json(200, {"value": [
                    {"id": "s1", "userDisplayName": "User 0",
                     "userPrincipalName": "u0@x.example", "appDisplayName": "App",
                     "ipAddress": "10.0.0.1",
                     "createdDateTime": "2024-02-01T12:00:00Z",
                     "status": {"errorCode": 0}}]})
            if route == "/graph/sites":
                return self._json(200, {"value": [
                    {"id": "s1", "name": "site1", "displayName": "Site 1",
                     "webUrl": "https://sp/site1",
                     "createdDateTime": "2024-01-01T00:00:00Z"}]})
            if route == "/graph/sites/s1/lists":
                return self._json(200, {"value": [
                    {"id": "l1", "name": "list1", "displayName": "List 1",
                     "description": "", "webUrl": "https://sp/site1/l1",
                     "createdDateTime": "2024-01-01T00:00:00Z",
                     "lastModifiedDateTime": "2024-01-02T00:00:00Z"}]})
            if route == "/graph/sites/s1/lists/l1/columns":
                return self._json(200, {"value": GRAPH_LIST_COLUMNS})
            if route == "/graph/sites/s1/lists/l1/items/delta":
                token = q.get("$deltatoken")
                if token == "L1":
                    return self._json(200, {
                        "value": [
                            {"id": "2", "fields": {"Title": "Row2 edited",
                                                   "Amount": 99.5}},
                            {"id": "1", "@removed": {"reason": "deleted"}},
                        ],
                        "@odata.deltaLink": "/sites/s1/lists/l1/items/delta?%24deltatoken=L2",
                    })
                if token == "L2":
                    return self._json(200, {
                        "value": [],
                        "@odata.deltaLink": "/sites/s1/lists/l1/items/delta?%24deltatoken=L2",
                    })
                if token:
                    return self._send(410, b"token expired", "text/plain")
                return self._json(200, {
                    "value": state.sp_items,
                    "@odata.deltaLink": "/sites/s1/lists/l1/items/delta?%24deltatoken=L1",
                })
            if route == "/graph/sites/s1/lists/l1/items":
                return self._json(200, {"value": state.sp_items})
            if route == "/graph/me/drive/root/children":
                return self._json(200, {"value": [
                    {"id": "f1", "name": "book.xlsx", "webUrl": "https://sp/f1",
                     "size": 1234, "createdDateTime": "2024-01-01T00:00:00Z",
                     "lastModifiedDateTime": "2024-01-03T00:00:00Z",
                     "file": {"mimeType": "application/vnd.ms-excel"}},
                    # a folder: no size, no file facet
                    {"id": "d1", "name": "docs", "webUrl": "https://sp/d1",
                     "folder": {"childCount": 0}}]})
            if route == "/graph/me/drive/items/f1/workbook/worksheets":
                return self._json(200, {"value": [
                    {"name": "Sheet1", "id": "ws1", "position": 0,
                     "visibility": "Visible"},
                    {"name": "Sheet2", "id": "ws2", "visibility": "Hidden"}]})
            if route == "/graph/me/drive/items/f1/workbook/tables":
                return self._json(200, {"value": [
                    {"name": "T1", "id": "t1", "showHeaders": True,
                     "showTotals": False}]})
            if route in ("/graph/me/drive/items/f1/workbook/tables/T1/range",
                         "/graph/me/drive/items/f1/workbook/worksheets/Sheet1/usedRange"):
                return self._json(200, EXCEL_RANGE_DOC)
            if route == "/graph/me/drive/items/f1/workbook/worksheets/Stamps/usedRange":
                return self._json(200, EXCEL_STAMPS_DOC)
            if route == "/graph/me/drive/items/f1/workbook/worksheets/Serials/usedRange":
                return self._json(200, EXCEL_SERIALS_DOC)
            if route == "/graph/me/drive/items/f1/workbook/tables/T1/rows":
                return self._json(200, {"value": [
                    {"index": i, "values": [row]}
                    for i, row in enumerate(state.excel_rows)]})
            if route == "/graph/me/joinedTeams":
                return self._json(200, {"value": [
                    {"id": "t1", "displayName": "Team 1", "description": "d"}]})
            if route == "/graph/teams/t1/channels":
                return self._json(200, {"value": [
                    {"id": "c1", "displayName": "General", "description": "",
                     "membershipType": "standard"}]})
            if route == "/graph/teams/t1/members":
                return self._json(200, {"value": [
                    {"id": "mb1", "displayName": "User 0", "email": "u0@x.example",
                     "roles": ["owner"]},
                    {"id": "mb2", "displayName": "User 1", "email": "u1@x.example"}]})
            if route == "/graph/teams/t1/channels/c1/messages":
                return self._json(200, {"value": [
                    {"id": "m1", "from": {"user": {"displayName": "User 0"}},
                     "createdDateTime": "2024-02-02T09:00:00Z",
                     "body": {"content": "hello"}}]})
            if route == "/graph/me/calendars":
                return self._json(200, {"value": [
                    {"id": "cal1", "name": "Calendar",
                     "owner": {"address": "u0@x.example"}, "canEdit": True}]})
            if route in ("/graph/me/events", "/graph/me/calendarView"):
                return self._json(200, {"value": [
                    {"id": "e1", "subject": "Standup",
                     "start": {"dateTime": "2024-02-05T09:00:00"},
                     "end": {"dateTime": "2024-02-05T09:15:00"},
                     "organizer": {"emailAddress": {"address": "u0@x.example"}},
                     "location": {"displayName": "Room 1"}}]})
            if route == "/graph/me/mailFolders":
                return self._json(200, {"value": [
                    {"id": "inbox", "displayName": "Inbox", "totalItemCount": 2,
                     "unreadItemCount": 1},
                    {"id": "drafts", "displayName": "Drafts"}]})
            if route in ("/graph/me/messages", "/graph/me/mailFolders/inbox/messages"):
                return self._json(200, {"value": [
                    {"id": "msg1", "subject": "Hi",
                     "from": {"emailAddress": {"address": "a@x"}},
                     "receivedDateTime": "2024-02-06T08:00:00Z", "isRead": False,
                     "bodyPreview": "hello there"}]})
            if route == "/graph/groups/g1/planner/plans":
                return self._json(200, {"value": [
                    {"id": "p1", "title": "Plan 1", "owner": "g1",
                     "createdDateTime": "2024-01-10T00:00:00Z"}]})
            if route == "/graph/planner/plans/p1/buckets":
                return self._json(200, {"value": [
                    {"id": "b1", "name": "Todo", "planId": "p1", "orderHint": "1"}]})
            if route == "/graph/planner/plans/p1/tasks":
                return self._json(200, {"value": [
                    {"id": "tk1", "title": "Task 1", "bucketId": "b1", "planId": "p1",
                     "percentComplete": 50, "priority": 5,
                     "dueDateTime": "2024-03-01T00:00:00Z"},
                    {"id": "tk2", "title": "Task 2", "bucketId": "b1", "planId": "p1"}]})

            # ---- Datasphere / Business Central (OData-backed) -------------
            if route == "/dsp/api/v1/dwc/catalog/spaces":
                spaces = [{"name": "SP1", "label": "Space One"}]
                if "$filter" in q:
                    spaces = _apply_filter(spaces, q["$filter"])
                return self._json(200, {"value": spaces})
            if route in ("/dsp/api/v1/dwc/catalog/spaces('SP1')/assets",
                         "/dsp/api/v1/dwc/catalog/assets"):
                dsp_assets = [
                    {"name": "Orders", "spaceName": "SP1",
                     "supportsRelationalQueries": True,
                     "supportsAnalyticalQueries": True,
                     "label": "Orders view",
                     "assetRelationalMetadataUrl": "/dsp/rel/$metadata",
                     "assetRelationalDataUrl": "/dsp/rel/Orders",
                     "assetAnalyticalMetadataUrl": "/dsp/ana/$metadata",
                     "assetAnalyticalDataUrl": "/dsp/ana/Orders",
                     "assetType": "View",
                     "analyticalSchema": {"measures": ["Amount"],
                                          "dimensions": ["UserName"]}},
                ]
                if "$filter" in q:
                    dsp_assets = _apply_filter(dsp_assets, q["$filter"])
                return self._json(200, {"value": dsp_assets})
            if route == "/bc/api/v2.0/companies" and "$format" not in q:
                return self._json(200, {"value": [
                    {"id": "c1", "name": "CRONUS", "displayName": "CRONUS Ltd."}]})
            if (route.startswith(("/dsp/", "/bc/"))) and route.endswith("/$metadata"):
                return self._send(200, EDMX_V4.encode(), "application/xml")
            if route.startswith(("/dsp/", "/bc/")) and route.split("/")[-1] == "Orders":
                return self._serve_v4(route, V4_ORDERS, q)

            # ---- SAP Gateway catalogs (sap_catalog.py) --------------------
            if route == "/sap/sap/opu/odata/iwfnd/catalogservice;v=2/ServiceCollection":
                services = [
                    {"ID": "ZSVC_ORDERS", "Description": "Orders service",
                     "ServiceUrl": "https://sap/sap/opu/odata/sap/ZSVC_ORDERS",
                     "EntitySets": {"results": [
                         {"ID": "EntityOfOrders", "Description": "Orders extractor"},
                         {"ID": "FactsOfSales", "Description": "Sales facts"},
                         {"ID": "PlainSet", "Description": "not ODP"}]}},
                    {"ID": "ZSVC_PLAIN", "Title": "Plain service",
                     "ServiceUrl": "https://sap/sap/opu/odata/sap/ZSVC_PLAIN",
                     "EntitySets": {"results": [
                         {"ID": "Things", "Description": "no odp here"}]}},
                ]
                if "$expand" not in q:
                    services = [
                        {k: v for k, v in s.items() if k != "EntitySets"}
                        for s in services
                    ]
                return self._json(200, {"d": {"results": services}})
            if route == ("/sap/sap/opu/odata4/iwfnd/config/default/iwfnd/"
                         "catalog/0002/ServiceGroups"):
                return self._json(200, {"value": [
                    {"GroupId": "ZGRP", "DefaultSystem": {"Services": [
                        {"ServiceId": "ZSVC_V4_TRAVEL", "Description": "Travel v4",
                         "ServiceUrl": "https://sap/sap/opu/odata4/sap/ztravel"}]}}]})

            # ---- Delta Sharing (REST catalog; GET parts) ------------------
            if route == "/delta/shares":
                return self._json(200, {"items": [{"name": "share1"}]})
            if route == "/delta/shares/share1/schemas":
                return self._json(200, {"items": [{"name": "default"}]})
            if route == "/delta/shares/share1/schemas/default/tables":
                return self._json(200, {
                    "items": [{"name": n} for n in sorted(state.delta_tables)]
                })

            return self._send(404, b"unknown route", "text/plain")

        do_HEAD = do_GET

        def do_POST(self):  # noqa: N802
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length) if length else b""
            parts = urlsplit(self.path)
            state.log.append({
                "method": "POST", "path": parts.path,
                "query": dict(parse_qsl(parts.query)), "body": body.decode("utf-8", "replace"),
                "headers": {k: v for k, v in self.headers.items()},
            })
            if parts.path == "/http/echo":
                return self._json(201, {"received": body.decode("utf-8", "replace")})
            if parts.path == "/http/slow-once-post":
                # hangs past the client read timeout on the first call
                c = state.flaky_counts.get(parts.path, 0) + 1
                state.flaky_counts[parts.path] = c
                if c == 1:
                    time.sleep(2.0)
                return self._json(200, {"ok": True, "attempts": c})
            # ---- REST write collector ------------------------------------
            if parts.path == "/rest/collector":
                doc = json.loads(body or b"{}")
                items = doc if isinstance(doc, list) else [doc]
                if any(it.get("title") == "reject" for it in items):
                    return self._json(422, {"error": "rejected"})
                state.rest_collected.extend(items)
                return self._json(201, {"accepted": len(items)})
            # ---- GraphQL endpoint ----------------------------------------
            if parts.path == "/graphql":
                doc = json.loads(body or b"{}")
                q = doc.get("query", "")
                variables = doc.get("variables") or {}
                if "boom" in q:
                    return self._json(200, {"errors": [{"message": "boom"}]})
                if "explode" in q:  # a server fault, not a GraphQL error
                    return self._send(500, b"internal server error", "text/plain")
                products = GQL_PRODUCTS
                if "instants" in q:
                    return self._json(200, {"data": {"instants": [{"id": 1, "at": INSTANT}]}})
                if "addProduct" in q:
                    if not variables.get("name"):
                        return self._json(200, {"errors": [
                            {"message": "name is required"}]})
                    state.gql_added.append(dict(variables))
                    return self._json(200, {"data": {"addProduct": {
                        "id": len(state.gql_added), "name": variables["name"]}}})
                if "maybeProducts" in q:
                    # spec-compliant nullable field: requested, resolved null
                    return self._json(200, {"data": {"maybeProducts": None}})
                if "brokenProducts" in q:
                    # non-compliant paging: claims more pages, gives no cursor
                    return self._json(200, {"data": {"brokenProducts": {
                        "edges": [{"node": p, "cursor": None} for p in products[:5]],
                        "pageInfo": {"hasNextPage": True, "endCursor": None},
                    }}})
                if "allProducts" in q:
                    return self._json(200, {"data": {"allProducts": products}})
                if "products" in q:
                    first = int(variables.get("first") or 10)
                    after = variables.get("after")
                    start = int(after) + 1 if after is not None else 0
                    page = products[start : start + first]
                    edges = [
                        {"node": p, "cursor": str(start + j)}
                        for j, p in enumerate(page)
                    ]
                    end = start + len(page) - 1
                    return self._json(200, {"data": {"products": {
                        "edges": edges,
                        "pageInfo": {
                            "hasNextPage": end < len(products) - 1,
                            "endCursor": str(end) if edges else None,
                        },
                    }}})
                return self._json(200, {"data": {}})
            # ---- OAuth2 token endpoint -----------------------------------
            if parts.path == "/token":
                form = dict(parse_qsl(body.decode()))
                state.tokens_issued.append(form)
                grant = form.get("grant_type")
                if grant == "client_credentials":
                    tok = f"cc-{len(state.tokens_issued)}"
                elif grant == "refresh_token":
                    tok = f"refreshed-{form.get('refresh_token', '')}"
                elif grant == "authorization_code":
                    tok = f"code-{form.get('code', '')}"
                else:
                    return self._json(400, {"error": "unsupported_grant_type"})
                return self._json(200, {
                    "access_token": tok, "token_type": "Bearer",
                    "expires_in": 3600, "refresh_token": "rt-1",
                })
            # ---- Graph JSON batching -------------------------------------
            if parts.path == "/graph/$batch" and self.command == "POST":
                doc = json.loads(body or b"{}")
                responses = []
                for sub in doc.get("requests", []):
                    sid = sub.get("id")
                    method, url = sub.get("method"), sub.get("url", "")
                    sbody = sub.get("body")
                    if method == "POST" and url == "/sites/s1/lists/l1/items":
                        item_id = str(state.sp_next_id)
                        state.sp_next_id += 1
                        state.sp_items.append(
                            {"id": item_id, "fields": (sbody or {}).get("fields", {})}
                        )
                        responses.append({"id": sid, "status": 201,
                                          "body": {"id": item_id}})
                    elif method == "POST" and url == "/planner/tasks":
                        title = (sbody or {}).get("title", "")
                        # titles starting 'thr-' are throttled once each
                        # (subresponse-level 429, envelope still 200)
                        if title.startswith("thr-") and title not in state.batch_throttled:
                            state.batch_throttled.add(title)
                            responses.append({"id": sid, "status": 429,
                                              "headers": {"Retry-After": "2"},
                                              "body": {"error": "throttled"}})
                            continue
                        task_id = f"task-{len(state.planner_created) + 1}"
                        state.planner_created.append({**(sbody or {}), "id": task_id})
                        responses.append({"id": sid, "status": 201,
                                          "body": {"id": task_id, **(sbody or {})}})
                    elif method == "PATCH" and (
                        m := re.match(r"^/sites/s1/lists/l1/items/(\w+)/fields$", url)
                    ):
                        hit = next(
                            (i for i in state.sp_items if i["id"] == m.group(1)), None
                        )
                        if hit is None:
                            responses.append({"id": sid, "status": 404,
                                              "body": {"error": "no item"}})
                        else:
                            hit["fields"].update(sbody or {})
                            responses.append({"id": sid, "status": 200,
                                              "body": hit["fields"]})
                    elif method == "DELETE" and (
                        m := re.match(r"^/sites/s1/lists/l1/items/(\w+)$", url)
                    ):
                        state.sp_items = [
                            i for i in state.sp_items if i["id"] != m.group(1)
                        ]
                        responses.append({"id": sid, "status": 204, "body": None})
                    else:
                        responses.append({"id": sid, "status": 404,
                                          "body": {"error": f"unknown {method} {url}"}})
                return self._json(200, {"responses": responses})
            # ---- Graph mutations -----------------------------------------
            if parts.path == "/graph/sites/s1/lists/l1/items" and self.command == "POST":
                doc = json.loads(body)
                item_id = str(state.sp_next_id)
                state.sp_next_id += 1
                state.sp_items.append({"id": item_id, "fields": doc.get("fields", {})})
                return self._json(201, {"id": item_id})
            m = re.match(r"^/graph/sites/s1/lists/l1/items/(\w+)/fields$", parts.path)
            if m and self.command == "PATCH":
                for it in state.sp_items:
                    if it["id"] == m.group(1):
                        it["fields"].update(json.loads(body))
                        return self._json(200, it["fields"])
                return self._send(404, b"no item", "text/plain")
            m = re.match(r"^/graph/sites/s1/lists/l1/items/(\w+)$", parts.path)
            if m and self.command == "DELETE":
                state.sp_items = [i for i in state.sp_items if i["id"] != m.group(1)]
                return self._send(204, b"", "text/plain")
            if parts.path == "/graph/me/drive/items/f1/workbook/createSession":
                sid = f"sess-{len(state.excel_sessions) + 1}"
                state.excel_sessions.append(sid)
                return self._json(201, {"id": sid})
            if parts.path == "/graph/me/drive/items/f1/workbook/closeSession":
                return self._send(204, b"", "text/plain")
            m = re.match(
                r"^/graph/me/drive/items/f1/workbook/tables/T1/rows/itemAt\(index=(\d+)\)/delete$",
                parts.path,
            )
            if m and self.command == "POST":
                idx = int(m.group(1))
                if idx >= len(state.excel_rows):
                    return self._send(404, b"no row", "text/plain")
                state.excel_rows.pop(idx)
                return self._send(204, b"", "text/plain")
            if parts.path == "/graph/me/drive/items/f1/workbook/tables/T1/rows/add":
                doc = json.loads(body)
                state.excel_appended.extend(doc.get("values", []))
                return self._json(201, {"index": len(state.excel_appended)})
            if parts.path == "/graph/planner/tasks" and self.command == "POST":
                doc = json.loads(body)
                task_id = f"task-{len(state.planner_created) + 1}"
                state.planner_created.append({**doc, "id": task_id})
                return self._json(201, {"id": task_id, **doc})
            # Delta Sharing query endpoint -> NDJSON (protocol, metaData, files)
            m = re.match(r"^/delta/shares/share1/schemas/default/tables/(\w+)/query$",
                         parts.path)
            if m:
                t = state.delta_tables.get(m.group(1))
                if t is None:
                    return self._send(404, b"no such table", "text/plain")
                lines = [
                    json.dumps({"protocol": {"minReaderVersion": 1}}),
                    json.dumps({"metaData": {"id": "m1", "schemaString": t["schema"],
                                              "format": {"provider": "parquet"}}}),
                ]
                for i, url in enumerate(t["files"]):
                    lines.append(json.dumps({"file": {"id": f"f{i}", "url": url,
                                                        "size": 1}}))
                return self._send(200, "\n".join(lines).encode(),
                                  "application/x-ndjson")
            return self._send(404, b"unknown route", "text/plain")

        do_PUT = do_POST
        do_PATCH = do_POST
        do_DELETE = do_POST

        def _serve_odp(self, q: dict):
            """ODP emulation: initial load (paged) with track-changes ->
            delta link on last page; delta fetches advance T1->T2->T3."""
            token = q.get("!deltatoken") or None
            # delta-URL style: /odp/Facts?!deltatoken='T1'
            for k in q:
                m = re.match(r"^!deltatoken$", k)
                if m:
                    token = q[k].strip("'")
            if token:
                if token not in ODP_DELTAS:
                    return self._send(410, b"token expired", "text/plain")
                nxt = ODP_TOKEN_CHAIN[token]
                doc = {
                    "@odata.context": "/odp/$metadata",
                    "value": ODP_DELTAS[token],
                    "@odata.deltaLink": f"/odp/Facts?!deltatoken='{nxt}'",
                }
                return self._json(200, doc, {"OData-Version": "4.0"})
            # initial load: page of 4 then rest + deltaLink
            prefer = self.headers.get("Prefer", "")
            skip = int(q.get("$skip", 0))
            page = ODP_INITIAL[skip:skip + 4]
            doc = {"@odata.context": "/odp/$metadata", "value": page}
            extra = {"OData-Version": "4.0"}
            if "track-changes" in prefer or skip > 0:
                extra["Preference-Applied"] = "odata.track-changes"
            if skip + 4 < len(ODP_INITIAL):
                doc["@odata.nextLink"] = f"/odp/Facts?$skip={skip + 4}"
            else:
                doc["@odata.deltaLink"] = "/odp/Facts?!deltatoken='T1'"
            return self._json(200, doc, extra)

        # -- OData serving helpers ------------------------------------------

        def _serve_v4(self, route: str, data: list[dict], q: dict):
            rows = list(data)
            if "$filter" in q:
                rows = _apply_filter(rows, q["$filter"])
            if "$apply" in q:
                rows = _apply_apply(rows, q["$apply"])
            if "$orderby" in q:
                # first key only — the subset tests use
                spec = q["$orderby"].split(",")[0].strip().split()
                col, desc = spec[0], len(spec) > 1 and spec[1].lower() == "desc"
                rows = sorted(rows, key=lambda r: (r.get(col) is None, r.get(col)),
                              reverse=desc)
            total = len(rows)
            skip = int(q.get("$skip", 0))
            rows = rows[skip:]
            if "$top" in q:
                rows = rows[: int(q["$top"])]
            # Pagination with nextLink over the (post-filter) window.
            page = rows[:PAGE_SIZE]
            rest = rows[PAGE_SIZE:]
            if "$select" in q:
                cols = [c.strip() for c in q["$select"].split(",")]
                page = [{k: r.get(k) for k in cols} for r in page]
            doc = {"@odata.context": "/v4/$metadata", "value": page}
            if q.get("$count") == "true":
                doc["@odata.count"] = total
            if rest:
                nq = dict(q)
                nq["$skip"] = str(skip + PAGE_SIZE)
                if "$top" in q:
                    nq["$top"] = str(int(q["$top"]) - PAGE_SIZE)
                from urllib.parse import urlencode

                doc["@odata.nextLink"] = f"{route}?{urlencode(nq)}"
            return self._json(200, doc, {"OData-Version": "4.0"})

        def _serve_v2(self, route: str, data: list[dict], q: dict):
            rows = list(data)
            if "$filter" in q:
                rows = _apply_filter(rows, q["$filter"])
            total = len(rows)
            skip = int(q.get("$skip", 0))
            rows = rows[skip:]
            if "$top" in q:
                rows = rows[: int(q["$top"])]
            page = rows[:PAGE_SIZE]
            rest = rows[PAGE_SIZE:]
            if "$select" in q:
                cols = [c.strip() for c in q["$select"].split(",")]
                page = [
                    {**{k: r.get(k) for k in cols}, "__metadata": r.get("__metadata")}
                    for r in page
                ]
            d: dict = {"results": page}
            if q.get("$inlinecount") == "allpages":
                d["__count"] = str(total)
            if rest:
                nq = dict(q)
                nq["$skip"] = str(skip + PAGE_SIZE)
                from urllib.parse import urlencode

                d["__next"] = f"{route}?{urlencode(nq)}"
            return self._json(200, {"d": d}, {"DataServiceVersion": "2.0"})

    return Handler


class FixtureServer:
    """threading OData/HTTP fixture server bound to an ephemeral port."""

    def __init__(self) -> None:
        self.state = FixtureState()
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(self.state))
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def start(self) -> "FixtureServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    @property
    def base_url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"
