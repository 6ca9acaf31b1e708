import datetime as dt
from decimal import Decimal

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from erpl_web_spark.odata.json_decode import (
    decode_rows,
    decode_value,
    extract_rows_payload,
    next_link,
    total_count,
)


def test_v2_legacy_date_format():
    # /Date(ms)/ truncated to whole seconds (odata_content.cpp:666-677)
    v = decode_value("/Date(1000000123456)/", TimestampType())
    assert v == dt.datetime(2001, 9, 9, 1, 48, 43)
    # with offset suffix
    v2 = decode_value("/Date(1000000000000+0200)/", TimestampType())
    assert v2 == dt.datetime(2001, 9, 9, 1, 46, 40)


def test_iso_and_epoch_timestamps():
    assert decode_value("2023-01-15T10:30:00Z", TimestampType()) == dt.datetime(
        2023, 1, 15, 10, 30
    )
    assert decode_value(1673778600, TimestampType()) == dt.datetime(2023, 1, 15, 10, 30)
    assert decode_value("garbage", TimestampType()) is None  # error -> NULL


def test_lenient_scalar_casts():
    assert decode_value("42", LongType()) == 42
    assert decode_value(42.9, IntegerType()) == 42
    assert decode_value("true", BooleanType()) is True
    assert decode_value(0, BooleanType()) is False
    assert decode_value("12.5", DecimalType(10, 2)) == Decimal("12.5")
    assert decode_value(True, StringType()) == "true"
    assert decode_value("not-a-number", LongType()) is None


def test_nested_struct_and_array():
    schema = StructType([
        StructField("Name", StringType()),
        StructField("Tags", ArrayType(StringType())),
        StructField("Home", StructType([
            StructField("City", StringType()),
            StructField("Zip", IntegerType()),
        ])),
    ])
    rows = decode_rows(
        {"value": [{"Name": "a", "Tags": ["x", "y"], "Home": {"City": "B", "Zip": "10"}}]},
        schema,
    )
    assert rows == [("a", ["x", "y"], ("B", 10))]


def test_v2_nested_collection_results_shape():
    # v2 wraps nested collections in {"results": [...]}
    schema = StructType([StructField("Items", ArrayType(StringType()))])
    rows = decode_rows({"d": {"results": [{"Items": {"results": ["a", "b"]}}]}}, schema)
    assert rows == [(["a", "b"],)]


def test_missing_fields_null_and_meta_exclusion():
    schema = StructType([StructField("A", StringType()), StructField("B", LongType())])
    rows = decode_rows(
        {"d": {"results": [{"A": "x", "__metadata": {"uri": "u"}}]}}, schema
    )
    assert rows == [("x", None)]


def test_payload_shapes_and_links():
    assert extract_rows_payload({"value": [{"a": 1}]}) == [{"a": 1}]
    assert extract_rows_payload({"d": {"results": [{"a": 1}]}}) == [{"a": 1}]
    assert extract_rows_payload({"d": [{"a": 1}]}) == [{"a": 1}]
    assert next_link({"@odata.nextLink": "x"}) == "x"
    assert next_link({"d": {"__next": "y"}}) == "y"
    assert next_link({"value": []}) is None
    assert total_count({"@odata.count": 7}) == 7
    assert total_count({"d": {"__count": "9"}}) == 9


# ---------------------------------------------------------------------------
# Column-wise Arrow decoding (pure pyarrow, no SparkSession)
# ---------------------------------------------------------------------------

import pytest  # noqa: E402

from pyspark.sql.types import (  # noqa: E402
    BinaryType,
    ByteType,
    DateType,
    DoubleType,
    ShortType,
)


_MIXED = StructType([
    StructField("i32", IntegerType()),
    StructField("i8", ByteType()),
    StructField("i16", ShortType()),
    StructField("flag", BooleanType()),
    StructField("ts", TimestampType()),
    StructField("day", DateType()),
    StructField("amount", DecimalType(10, 2)),
    StructField("blob", BinaryType()),
    StructField("tags", ArrayType(LongType())),
    StructField("home", StructType([
        StructField("city", StringType()),
        StructField("since", TimestampType()),
    ])),
    StructField("name", StringType()),
    StructField("score", DoubleType()),
])

_MIXED_ROWS = [
    {"i32": "42", "i8": 127, "i16": True, "flag": "true", "ts": "/Date(1000000123456)/",
     "day": 19372, "amount": "12.345", "blob": "aGVsbG8=", "tags": [1, "2", None],
     "home": {"city": "Rome", "since": "2023-01-15T10:30:00+01:00"}, "name": 7,
     "score": "2.5"},
    {"i32": 2**40, "i8": 128, "i16": -(2**15), "flag": 0, "ts": "/Date(1000000000000+0200)/",
     "day": "2023-01-15", "amount": 3, "blob": "not base64!", "tags": {"results": [5]},
     "home": {"since": 1673778600}, "name": True, "score": 1},
    {"i32": 1, "i8": "0x1", "i16": 3.7, "flag": 1, "ts": 1673778600,
     "day": "garbage", "amount": "n/a", "tags": "x", "home": "not-a-struct",
     "name": {"nested": [1]}, "score": None},
    {"i32": 0, "flag": "0", "ts": "2023-01-15T10:30:00", "name": "plain"},
    {"flag": False, "ts": "garbage"},
    {"i32": 2**31 - 1, "flag": True, "ts": "2023-01-15T10:30:00Z", "day": 0.9},
]

_V2_SCHEMA = StructType([
    StructField("CustomerID", StringType()),
    StructField("Founded", TimestampType()),
    StructField("Orders", ArrayType(StringType())),
    StructField("__metadata", StringType()),
])

_V2_DOC = {"d": {"results": [
    {"__metadata": {"uri": "Customers('C1')"}, "CustomerID": "C1",
     "Founded": "/Date(1000000000000)/", "Orders": {"__deferred": {"uri": "x"}}},
    {"__metadata": {"uri": "Customers('C2')"}, "CustomerID": "C2",
     "Founded": "/Date(-1500)/", "Orders": {"results": ["o1", "o2"]}},
]}}

# every column native: the fast paths (and the Arrow ISO-8601 cast)
_NATIVE = StructType([
    StructField("id", LongType()),
    StructField("qty", IntegerType()),
    StructField("ok", BooleanType()),
    StructField("price", DoubleType()),
    StructField("name", StringType()),
    StructField("at", TimestampType()),
])

_NATIVE_DOC = {"value": [
    {"id": 2**62, "qty": -(2**31), "ok": True, "price": 1.5, "name": "a",
     "at": "2023-01-15T10:30:00Z"},
    {"id": -1, "qty": 7, "ok": None, "price": -0.0, "name": "",
     "at": "2023-01-15T10:30:00.123456+02:00"},
    {"id": None, "qty": None, "ok": False, "price": 1e300, "name": None,
     "at": "1969-12-31T23:59:59.5+05:00"},
    {"id": 0, "qty": 0, "ok": True, "price": 3.25, "name": "ü",
     "at": "9999-12-31 23:59:59-00:30"},
    {"id": 5, "qty": 1, "ok": False, "price": 0.1, "name": "z", "at": None},
]}


def _tuple_path(rows, schema):
    """The tuple reader's Arrow: decoded tuples + PySpark's converter."""
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    from erpl_web_spark.odata.datasource import ODataDataSource

    batches = list(records_to_arrow_batches(iter(rows), 10_000, schema, ODataDataSource({})))
    return batches[0] if batches else None


def _st(*fields):
    return StructType([StructField(n, t) for n, t in fields])


def _fixture_docs():
    """REST, GraphQL and Graph fixture documents, plus an Excel grid whose
    columns arrive pre-extracted (a tuple of cell lists) under a repeated
    header — the shape ``columns_batch`` decodes by position."""
    from fixtures.odata_server import (
        EXCEL_RANGE_DOC,
        GQL_PRODUCTS,
        GRAPH_USERS,
        REST_ITEMS,
        FixtureState,
    )

    s, d, b, ts = StringType(), DoubleType(), BooleanType(), TimestampType()
    grid = [r[:2] + r[1:] for r in EXCEL_RANGE_DOC["values"][1:]]  # "Qty" twice
    return [
        (REST_ITEMS, _st(("item_id", LongType()), ("name", s), ("score", d))),
        (GQL_PRODUCTS, _st(
            ("id", LongType()), ("name", s), ("price", d), ("inStock", b),
            ("tags", ArrayType(s)),
            ("vendor", _st(("name", s), ("rating", IntegerType()))))),
        ({"value": GRAPH_USERS}, _st(
            ("id", s), ("displayName", s), ("mail", s), ("accountEnabled", b))),
        ({"value": FixtureState().sp_items}, _st(
            ("id", s),
            ("fields", _st(("Title", s), ("Amount", d), ("Active", b), ("DueDate", ts))))),
        (tuple(map(list, zip(*grid))), _st(
            ("Name", s), ("Qty", d), ("Qty", d), ("Price", d), ("Done", b), ("When", ts))),
    ]


@pytest.mark.parametrize(
    "doc, schema",
    [
        ({"value": _MIXED_ROWS + [5, "not-a-row", None]}, _MIXED),
        (_V2_DOC, _V2_SCHEMA),
        (_NATIVE_DOC, _NATIVE),
        ({"value": [{"id": 2**63}, {"qty": 2**31}, {"ok": 1}, {"price": 2}, {"name": 1},
                    {"at": "2023-01-15T10:30:00.1234567Z"}, {"at": "2023-01-15"}]}, _NATIVE),
    ] + _fixture_docs(),
    ids=["lenient", "v2", "native", "native-fallbacks",
         "rest", "graphql", "graph-users", "graph-list-items", "excel-columns"],
)
def test_decode_batch_matches_tuple_path(tz, doc, schema):
    pa = pytest.importorskip("pyarrow")
    from erpl_web_spark.odata.json_decode import ColumnDecoders, decode_batch

    tz("UTC")  # the tuple path reads naive timestamps as local time
    if isinstance(doc, tuple):  # pre-extracted columns, decoded by position
        got = ColumnDecoders(schema).columns_batch(list(doc))
        rows = [
            tuple(decode_value(v, f.dataType) for v, f in zip(row, schema.fields))
            for row in zip(*doc)
        ]
    else:
        got = decode_batch(doc, schema)
        rows = decode_rows(doc, schema)
    want = _tuple_path(rows, schema)
    assert isinstance(got, pa.RecordBatch)
    assert got.schema == want.schema
    assert got.to_pylist() == want.to_pylist()
    assert got.num_rows == len(rows)


def test_decode_batch_lenient_values():
    pytest.importorskip("pyarrow")
    from erpl_web_spark.odata.json_decode import decode_batch

    cols = decode_batch({"value": _MIXED_ROWS}, _MIXED).to_pydict()
    assert cols["i32"] == [42, None, 1, 0, None, 2**31 - 1]  # 2**40 out of range
    assert cols["i8"] == [127, None, None, None, None, None]
    assert cols["i16"] == [None, -(2**15), 3, None, None, None]  # bool -> NULL
    assert cols["flag"] == [True, False, True, False, False, True]
    utc = dt.timezone.utc
    assert cols["ts"] == [
        dt.datetime(2001, 9, 9, 1, 48, 43, tzinfo=utc),
        dt.datetime(2001, 9, 9, 1, 46, 40, tzinfo=utc),
        dt.datetime(2023, 1, 15, 10, 30, tzinfo=utc),
        dt.datetime(2023, 1, 15, 10, 30, tzinfo=utc),  # zone-less read as UTC
        None,
        dt.datetime(2023, 1, 15, 10, 30, tzinfo=utc),
    ]
    assert cols["day"] == [dt.date(2023, 1, 15), dt.date(2023, 1, 15), None, None, None,
                           dt.date(1970, 1, 1)]
    assert cols["amount"][:3] == [Decimal("12.34"), Decimal("3.00"), None]
    assert cols["blob"][0] == b"hello"
    assert cols["tags"][:3] == [[1, 2, None], [5], None]
    assert cols["home"][0] == {
        "city": "Rome", "since": dt.datetime(2023, 1, 15, 9, 30, tzinfo=utc),
    }
    assert cols["name"][:3] == ["7", "true", '{"nested": [1]}']
    # offsets that push the instant outside years 1..9999 -> NULL
    edge = decode_batch(
        {"value": [{"at": "0001-01-01T00:00:00Z"}, {"at": "0001-01-01T00:00:00+01:00"},
                   {"at": "9999-12-31T23:00:00-05:00"}]},
        StructType([StructField("at", TimestampType())]),
    )
    assert edge.column(0).to_pylist() == [dt.datetime(1, 1, 1, tzinfo=utc), None, None]


def test_decode_batch_keeps_utc_instant_in_any_time_zone(tz):
    """Timestamps land as the UTC instant whatever the worker's zone: on
    the Arrow-cast fast path, the scalar fallback and inside structs."""
    pytest.importorskip("pyarrow")
    from erpl_web_spark.odata.json_decode import decode_batch

    schema = StructType([
        StructField("fast", TimestampType()),
        StructField("slow", TimestampType()),
        StructField("nested", StructType([StructField("at", TimestampType())])),
    ])
    doc = {"value": [{
        "fast": "2023-01-15T10:30:00Z",
        "slow": "/Date(1673778600000)/",
        "nested": {"at": "2023-01-15T10:30:00Z"},
    }]}
    want = dt.datetime(2023, 1, 15, 10, 30, tzinfo=dt.timezone.utc)
    for zone in ("Europe/Berlin", "America/New_York", "UTC"):
        tz(zone)
        row = decode_batch(doc, schema).to_pylist()[0]
        assert row == {"fast": want, "slow": want, "nested": {"at": want}}, zone


def test_one_page_walker_per_web_api_family():
    """The OData next-link walk lives only in ``ODataClient.pages``
    (``odata/client.py``) and the Graph one only in ``GraphClient.walk``
    (``sources/graph.py``): no other package module calls
    ``next_link(`` or reads ``"@odata.nextLink"`` with ``.get``, so a
    hand-rolled page loop cannot grow back unnoticed. ``next_link``'s
    own body, the parser of the link keys, is the one exemption."""
    import ast
    from pathlib import Path

    import erpl_web_spark

    root = Path(erpl_web_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        parser = [
            n for n in ast.walk(tree)
            if rel == "odata/json_decode.py"
            and isinstance(n, ast.FunctionDef) and n.name == "next_link"
        ]
        exempt = {id(n) for f in parser for n in ast.walk(f)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or id(node) in exempt:
                continue
            func = node.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name == "next_link" and rel != "odata/client.py":
                offenders.append(f"{rel}:{node.lineno} calls next_link(")
            if (
                name == "get"
                and isinstance(func, ast.Attribute)
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "@odata.nextLink"
                and rel != "sources/graph.py"
            ):
                offenders.append(f'{rel}:{node.lineno} reads .get("@odata.nextLink")')
    assert not offenders, offenders


def test_one_write_path_per_web_api_sink():
    """Executor-side writes in ``sources/`` run only through
    ``sources/bulk.py``'s Arrow partition loop and encode JSON only
    through ``core.jsonwire``: no module there calls ``foreachPartition``,
    ``mapInPandas``, ``iterrows`` or ``.accumulator(``, imports pandas,
    passes ``default=str`` to a JSON encoder, or builds a request
    ``body=`` with ``json.dumps``."""
    import ast
    from pathlib import Path

    import erpl_web_spark

    root = Path(erpl_web_spark.__file__).parent / "sources"
    banned_calls = {"foreachPartition", "mapInPandas", "iterrows", "accumulator"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root.parent).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if isinstance(node, ast.Attribute) and node.attr in banned_calls:
                offenders.append(f"{rel}:{node.lineno} uses .{node.attr}")
            elif isinstance(node, ast.Import) and any(
                a.name.split(".")[0] == "pandas" for a in node.names
            ):
                offenders.append(f"{rel}:{node.lineno} imports pandas")
            elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "pandas":
                offenders.append(f"{rel}:{node.lineno} imports from pandas")
            elif (
                isinstance(node, ast.keyword)
                and node.arg == "default"
                and isinstance(node.value, ast.Name)
                and node.value.id == "str"
            ):
                offenders.append(f"{rel}:{node.lineno} passes default=str")
            elif isinstance(node, ast.keyword) and node.arg == "body" and any(
                isinstance(n, ast.Attribute)
                and n.attr == "dumps"
                and isinstance(n.value, ast.Name)
                and n.value.id == "json"
                for n in ast.walk(node.value)
            ):
                offenders.append(f"{rel}:{node.value.lineno} encodes body= with json.dumps")
    assert not offenders, offenders


def test_one_decode_path_per_web_api_read():
    """Cells decode only inside ``odata/json_decode.py`` (no
    ``decode_value(`` call elsewhere in the package), and no module but
    ``core/localframe.py`` builds a frame itself (no ``createDataFrame(``):
    every driver-side frame goes through ``core.localframe``."""
    import ast
    from pathlib import Path

    import erpl_web_spark

    root = Path(erpl_web_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            if name == "decode_value" and rel != "odata/json_decode.py":
                offenders.append(f"{rel}:{node.lineno} calls decode_value(")
            if name == "createDataFrame" and rel != "core/localframe.py":
                offenders.append(f"{rel}:{node.lineno} calls createDataFrame(")
    assert not offenders, offenders


def test_one_http_status_contract():
    """Whether a response is an error, and what is raised for it, is
    decided only in ``core/http.py`` (``HttpResponse.raise_for_status``):
    no other package module compares a ``.status`` attribute with
    ``<``, ``<=``, ``>``, ``>=`` or ``!=``, or parses a ``.text``
    attribute with ``json.loads`` instead of ``HttpResponse.json()``.
    ``==`` and ``in`` on a caught error's status, and plain ``status``
    names (a ``$batch`` subresponse's), stay allowed."""
    import ast
    from pathlib import Path

    import erpl_web_spark

    root = Path(erpl_web_spark.__file__).parent
    ordering = (ast.Lt, ast.LtE, ast.Gt, ast.GtE, ast.NotEq)
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "core/http.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if isinstance(node, ast.Compare) and any(
                isinstance(op, ordering) for op in node.ops
            ) and any(
                isinstance(side, ast.Attribute) and side.attr == "status"
                for side in (node.left, *node.comparators)
            ):
                offenders.append(f"{rel}:{node.lineno} compares .status")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "loads"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "json"
                and node.args
                and isinstance(node.args[0], ast.Attribute)
                and node.args[0].attr == "text"
            ):
                offenders.append(f"{rel}:{node.lineno} calls json.loads on .text")
    assert not offenders, offenders
