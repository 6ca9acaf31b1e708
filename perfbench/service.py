"""Loopback OData v4 + REST collector service owned by the benchmark.

Run as a child process::

    python3 perfbench/service.py DATA_DIR

It prints ``PORT <n>`` on stdout once it listens on 127.0.0.1 and exits
when its stdin closes, so it never outlives the benchmark.

OData surface (``/odata``): the service document, ``$metadata`` (EDMX
generated from the parquet schemas), and the entity sets ``Orders``
(``orders.parquet``, key ``o_orderkey``) and ``Customers``
(``customer.parquet``, key ``c_custkey``). Query options: ``$count``,
``$skip``, ``$top``, ``$orderby`` on the key, ``$select``, ``$filter``
(``and``-joined comparisons with a string, number or ``null`` literal —
what the connector sends for the benchmark's reads; anything else gets a
400) and
``$apply=groupby((dims),aggregate(col with fn as alias,...,$count as n))``.
Pages hold at most 1,000 rows and chain through ``@odata.nextLink``.

Every row is JSON-encoded once at start-up, and each distinct query's
matching rows are memoized (keyed on everything but ``$skip``/``$top``/
``$count``), so a page costs the same whatever query it belongs to and the
service stays a constant, small share of each request.

REST surface: ``POST /collect/<tag>`` accepts a JSON array (or object) of
rows and records, per tag, the row count and an order-insensitive checksum
(see ``row_checksum``).

Control surface, not counted: ``GET /_stats`` returns the counters
(requests, connections, bytes, handler busy time, metadata GETs, ``$count``
probes, rows, POSTs, errors) and the collector records; ``GET /_spans``
returns the handler spans ``[start, end, kind]`` (wall-clock seconds).

Each connection gets a thread, but at most as many requests as the process
may use CPUs are handled at once: a thread takes that gate per request.
"""

from __future__ import annotations

import collections
import hashlib
import json
import math
import os
import re
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, quote, urlencode, urlsplit

import numpy as np
import pyarrow.parquet as pq

PAGE_ROWS = 1000
ENTITY_SETS = {"Orders": ("orders", "o_orderkey"), "Customers": ("customer", "c_custkey")}
_EDM = {"int64": "Edm.Int64", "int32": "Edm.Int32", "double": "Edm.Double",
        "float": "Edm.Single", "string": "Edm.String", "large_string": "Edm.String",
        "bool": "Edm.Boolean"}


def row_checksum(rows) -> int:
    """Order-insensitive checksum of JSON-able row dicts (sum of 64-bit
    digests of the canonical encoding) — the benchmark computes the same
    over the rows it sends."""
    total = 0
    for r in rows:
        enc = json.dumps(r, sort_keys=True, separators=(",", ":")).encode()
        total += int.from_bytes(hashlib.blake2b(enc, digest_size=8).digest(), "big")
    return total % (1 << 64)


# ---------------------------------------------------------------------------
# Entity sets: columns, pre-encoded rows, EDMX
# ---------------------------------------------------------------------------


class EntitySet:
    def __init__(self, name: str, path: str, key: str):
        table = pq.read_table(path).sort_by(key)
        self.name, self.key = name, key
        self.columns = table.column_names
        self.types = {f.name: f.type for f in table.schema}
        self.arrays: dict[str, np.ndarray] = {}
        self.fragments: dict[str, np.ndarray] = {}  # '"col":<json value>' per row
        for col in self.columns:
            values = table.column(col).to_pylist()
            t = str(self.types[col])
            if t.startswith("timestamp"):
                self.arrays[col] = table.column(col).to_numpy()
                enc = [json.dumps(v.isoformat() + "Z") for v in values]
            elif t in ("double", "float"):
                self.arrays[col] = np.asarray(values, dtype=np.float64)
                enc = [repr(float(v)) for v in values]
            elif t.startswith("int"):
                self.arrays[col] = np.asarray(values, dtype=np.int64)
                enc = [str(v) for v in values]
            else:
                self.arrays[col] = np.asarray(values, dtype=object)
                enc = [json.dumps(v) for v in values]
            self.fragments[col] = np.asarray([f'"{col}":{e}' for e in enc], dtype=object)
        self.n = table.num_rows

    def edm_type(self, col: str) -> str:
        t = str(self.types[col])
        return "Edm.DateTimeOffset" if t.startswith("timestamp") else _EDM.get(t, "Edm.String")

    def encode(self, idx: np.ndarray, cols: list[str]) -> list[str]:
        out = self.fragments[cols[0]][idx]
        for c in cols[1:]:
            out = out + "," + self.fragments[c][idx]
        return ["{" + s + "}" for s in out.tolist()]


def edmx(sets: dict[str, EntitySet]) -> str:
    types, containers = [], []
    for es in sets.values():
        props = "".join(
            f'<Property Name="{c}" Type="{es.edm_type(c)}" Nullable="{str(c != es.key).lower()}"/>'
            for c in es.columns
        )
        types.append(
            f'<EntityType Name="{es.name}Type"><Key><PropertyRef Name="{es.key}"/></Key>'
            f"{props}</EntityType>"
        )
        containers.append(f'<EntitySet Name="{es.name}" EntityType="Bench.{es.name}Type"/>')
    return (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<edmx:Edmx Version="4.0" xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx">'
        '<edmx:DataServices><Schema Namespace="Bench" xmlns="http://docs.oasis-open.org/odata/ns/edm">'
        + "".join(types)
        + '<EntityContainer Name="Container">' + "".join(containers) + "</EntityContainer>"
        "</Schema></edmx:DataServices></edmx:Edmx>"
    )


# ---------------------------------------------------------------------------
# $filter: and-joined comparisons -> numpy mask
# ---------------------------------------------------------------------------

_TERM = re.compile(
    r"^(\w+) (eq|ne|gt|ge|lt|le) ('(?:[^']|'')*'|null|-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)$")
_CMP = {"eq": np.equal, "ne": np.not_equal, "gt": np.greater, "ge": np.greater_equal,
        "lt": np.less, "le": np.less_equal}


def filter_mask(es: EntitySet, text: str) -> np.ndarray:
    # a string literal holding " and " splits into terms that do not match
    mask = np.ones(es.n, dtype=bool)
    for term in text.strip().split(" and "):
        m = _TERM.match(term.strip())
        if not m or m.group(1) not in es.arrays:
            raise ValueError(f"unsupported $filter term {term!r}")
        col, op, lit = m.groups()
        if lit == "null":
            if op not in ("eq", "ne"):
                raise ValueError(f"unsupported $filter term {term!r}")
            mask &= op == "ne"  # the tables hold no nulls
            continue
        value = lit[1:-1].replace("''", "'") if lit.startswith("'") else float(lit)
        mask &= _CMP[op](es.arrays[col], value)
    return mask


# ---------------------------------------------------------------------------
# $apply: groupby((dims),aggregate(...))
# ---------------------------------------------------------------------------

_APPLY = re.compile(r"^groupby\(\((?P<dims>[^)]*)\)(?:,aggregate\((?P<aggs>.*)\))?\)$")
_AGG = re.compile(r"^(\S+) with (sum|min|max|average|countdistinct) as (\w+)$")


def apply_groupby(es: EntitySet, idx: np.ndarray, expr: str) -> list[str]:
    m = _APPLY.match(expr.strip())
    if not m:
        raise ValueError(f"unsupported $apply {expr!r}")
    dims = [d.strip() for d in m.group("dims").split(",") if d.strip()]
    aggs = []
    for term in (m.group("aggs") or "").split(","):
        term = term.strip()
        if not term:
            continue
        if term.startswith("$count as "):
            aggs.append((None, "count", term[len("$count as "):].strip()))
            continue
        am = _AGG.match(term)
        if not am:
            raise ValueError(f"unsupported aggregate {term!r}")
        aggs.append(am.groups())
    groups: dict[tuple, list[int]] = collections.defaultdict(list)
    dim_vals = [es.arrays[d][idx].tolist() for d in dims]
    for pos, key in enumerate(zip(*dim_vals)):
        groups[key].append(pos)
    out = []
    for key in sorted(groups):
        members = np.asarray(groups[key])
        row: dict = dict(zip(dims, key))
        for col, fn, alias in aggs:
            if fn == "count":
                row[alias] = len(members)
                continue
            vals = es.arrays[col][idx][members]
            if fn == "sum":
                row[alias] = math.fsum(vals.tolist())
            elif fn == "average":
                row[alias] = math.fsum(vals.tolist()) / len(vals)
            elif fn == "countdistinct":
                row[alias] = len(set(vals.tolist()))
            else:
                row[alias] = (vals.min() if fn == "min" else vals.max()).item()
        out.append(json.dumps(row, separators=(",", ":")))
    return out


# ---------------------------------------------------------------------------
# HTTP
# ---------------------------------------------------------------------------


class Stats:
    FIELDS = ("requests", "connections", "bytes_out", "busy_s", "metadata_gets",
              "count_probes", "rows_out", "posts", "post_rows", "errors")

    def __init__(self):
        self.lock = threading.Lock()
        self.values = dict.fromkeys(self.FIELDS, 0)
        self.collect: dict[str, list[int]] = {}
        self.spans: collections.deque = collections.deque(maxlen=200_000)

    def add(self, **kw) -> None:
        with self.lock:
            for k, v in kw.items():
                self.values[k] += v

    def snapshot(self) -> dict:
        with self.lock:
            return {**self.values, "collect": {k: list(v) for k, v in self.collect.items()}}


class Service:
    def __init__(self, data_dir: str):
        self.sets = {
            name: EntitySet(name, os.path.join(data_dir, f"{table}.parquet"), key)
            for name, (table, key) in ENTITY_SETS.items()
        }
        self.metadata = edmx(self.sets).encode()
        self.memo: collections.OrderedDict = collections.OrderedDict()
        self.memo_lock = threading.Lock()
        self.stats = Stats()

    def rows_for(self, es: EntitySet, q: dict) -> list[str]:
        """Encoded rows of one query (memoized without $skip/$top/$count)."""
        key = (es.name, q.get("$filter"), q.get("$select"), q.get("$orderby"), q.get("$apply"))
        with self.memo_lock:
            hit = self.memo.get(key)
            if hit is not None:
                self.memo.move_to_end(key)
                return hit
        order = q.get("$orderby")
        if order and order.split()[0] != es.key or (order and order.endswith(" desc")):
            raise ValueError(f"$orderby supports only the key {es.key}")
        mask = filter_mask(es, q["$filter"]) if q.get("$filter") else None
        idx = np.nonzero(mask)[0] if mask is not None else np.arange(es.n)
        if q.get("$apply"):
            rows = apply_groupby(es, idx, q["$apply"])
        else:
            cols = [c.strip() for c in q["$select"].split(",")] if q.get("$select") else es.columns
            unknown = [c for c in cols if c not in es.arrays]
            if unknown:
                raise ValueError(f"unknown $select columns {unknown}")
            rows = es.encode(idx, cols)
        with self.memo_lock:
            self.memo[key] = rows
            if len(self.memo) > 256:
                self.memo.popitem(last=False)
        return rows

    def page(self, es: EntitySet, path: str, q: dict, base: str) -> tuple[bytes, int, str]:
        rows = self.rows_for(es, q)
        skip = int(q.get("$skip", 0))
        top = int(q["$top"]) if "$top" in q else None
        end = len(rows) if top is None else min(len(rows), skip + top)
        stop = min(end, skip + PAGE_ROWS)
        head = f'{{"@odata.context":"{base}/$metadata#{es.name}"'
        if q.get("$count") == "true":
            head += f',"@odata.count":{len(rows)}'
        body = head + ',"value":[' + ",".join(rows[skip:stop]) + "]"
        if stop < end:
            nxt = dict(q, **{"$skip": str(stop)})
            if top is not None:
                nxt["$top"] = str(end - stop)
            body += f',"@odata.nextLink":"{base}{path}?{urlencode(nxt, quote_via=quote)}"'
        kind = "count" if top == 0 and q.get("$count") == "true" else "page"
        return (body + "}").encode(), max(stop - skip, 0), kind


def make_handler(svc: Service, gate: threading.Semaphore):
    stats = svc.stats

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        timeout = 60  # reap idle keep-alive connections
        _seen = False

        def log_message(self, *args):
            pass

        def _send(self, status: int, body: bytes, ctype: str) -> None:
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("OData-Version", "4.0")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _control(self, path: str) -> bool:
            if path == "/_stats":
                self._send(200, json.dumps(stats.snapshot()).encode(), "application/json")
            elif path == "/_spans":
                with stats.lock:
                    spans = list(stats.spans)
                self._send(200, json.dumps(spans).encode(), "application/json")
            else:
                return False
            return True

        def _counted(self, handle) -> None:
            with gate:
                t0 = time.time()
                try:
                    status, body, ctype, kind, rows = handle()
                except (ValueError, KeyError) as exc:
                    status, body, ctype, kind, rows = 400, str(exc).encode(), "text/plain", "error", 0
                # count before replying: a client that reads /_stats right
                # after its last response must see that response counted
                first = not self._seen
                self._seen = True
                stats.add(
                    requests=1, connections=int(first), bytes_out=len(body),
                    metadata_gets=int(kind == "metadata"), count_probes=int(kind == "count"),
                    rows_out=rows if kind == "page" else 0,
                    posts=int(kind == "post"), post_rows=rows if kind == "post" else 0,
                    errors=int(status >= 400),
                )
                self._send(status, body, ctype)
                t1 = time.time()
            stats.add(busy_s=t1 - t0)
            with stats.lock:
                stats.spans.append((t0, t1, kind))

        def do_GET(self):
            parts = urlsplit(self.path)
            if self._control(parts.path):
                return
            base = f"http://127.0.0.1:{self.server.server_address[1]}/odata"

            def handle():
                path = parts.path.rstrip("/")
                if path == "/odata/$metadata":
                    return 200, svc.metadata, "application/xml", "metadata", 0
                if path == "/odata":
                    doc = {"@odata.context": f"{base}/$metadata",
                           "value": [{"name": n, "kind": "EntitySet", "url": n} for n in svc.sets]}
                    return 200, json.dumps(doc).encode(), "application/json", "root", 0
                es = svc.sets.get(path.rsplit("/", 1)[-1]) if path.startswith("/odata/") else None
                if es is None:
                    return 404, b"not found", "text/plain", "error", 0
                q = dict(parse_qsl(parts.query, keep_blank_values=True))
                body, rows, kind = svc.page(es, f"/{es.name}", q, base)
                return 200, body, "application/json", kind, rows

            self._counted(handle)

        def do_POST(self):
            length = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(length)

            def handle():
                parts = urlsplit(self.path)
                if not parts.path.startswith("/collect/"):
                    return 404, b"not found", "text/plain", "error", 0
                payload = json.loads(raw)
                rows = payload if isinstance(payload, list) else [payload]
                tag = parts.path[len("/collect/"):]
                checksum = row_checksum(rows)
                with stats.lock:
                    rec = stats.collect.setdefault(tag, [0, 0])
                    rec[0] += len(rows)
                    rec[1] = (rec[1] + checksum) % (1 << 64)
                return 201, b'{"ok":true}', "application/json", "post", len(rows)

            self._counted(handle)

    return Handler


def main() -> None:
    svc = Service(sys.argv[1])
    gate = threading.Semaphore(len(os.sched_getaffinity(0)))
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(svc, gate))
    server.daemon_threads = True
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    sys.stdin.read()  # returns at EOF: the parent closed our stdin or died
    server.shutdown()
    server.server_close()
    serving.join(timeout=5)


if __name__ == "__main__":
    main()
