"""Lenient JSON -> typed-row decoder.

Reproduces the reference's per-type deserializers (odata_content.cpp:
122-183 dispatch; SURVEY.md §1.3):
- every type accepts the native JSON value OR a string and casts;
- timestamps accept ISO-8601, the OData v2 legacy ``/Date(ms±HHMM)/``
  format (odata_content.cpp:666-677, truncated to whole seconds), and
  raw epoch seconds (int/real, :680-688);
- arrays recurse per element (:726); objects build structs matching the
  target fields (:778);
- missing fields -> NULL (:1149-1152); deserialization errors -> NULL,
  never a row failure (:1155-1160) — PERMISSIVE-mode semantics;
- booleans are a documented strict SUPERSET of the reference matrix:
  the reference accepts only true/false, "true", "1", "0" (and errors on
  "false" and numerics, odata_content.cpp:195-207); we additionally
  accept "false" and 0/1 numerics, never remapping a reference-accepted
  value.

Payload row extraction handles both v4 (``value`` array) and v2
(``d.results`` / ``d``) shapes (odata_content.cpp:1122-1168), and the
v2 ``__metadata``/``__deferred`` exclusions (odata_read_functions.cpp:
43-54).

Every web-API read (OData, REST, GraphQL, Microsoft Graph, ODP) decodes
through ``ColumnDecoders`` and nothing else, so the lenient semantics and
the UTC-instant rule live in this module. Pages decode a column at a
time: a column whose cells all already have the target's native JSON
type (str, bool, float, an int within range) is taken as is, and
offset-carrying ISO-8601 timestamp strings are cast by Arrow; any other
column goes through ``decode_value`` cell by cell. Two entry points build
a ``pyarrow.RecordBatch`` matching PySpark's Arrow schema, with
timestamps as UTC instants whatever the process time zone:
``batch(doc)`` extracts the row objects of a response document (or a
list of row objects) and looks each field up by name;
``columns_batch(cells)`` takes cells already extracted, one list per
schema field in schema order (Graph's projected JSON paths, the Excel
grid's positional columns, whose headers may repeat). ``decode_rows``
returns Python tuples, the reference the parity tests compare against.
"""

from __future__ import annotations

import datetime as dt
import re
from decimal import Decimal, InvalidOperation
from typing import Any

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

_V2_DATE_RE = re.compile(r"/Date\((-?\d+)([+-]\d{4})?\)/")
_META_KEYS = {"__metadata", "__deferred"}
_INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}


def _to_bool(v: Any):
    if isinstance(v, bool):
        return v
    if isinstance(v, str):
        if v.lower() in ("true", "1"):
            return True
        if v.lower() in ("false", "0"):
            return False
    if isinstance(v, (int, float)):
        return bool(v)
    return None


def _to_int(v: Any, bits: int = 64):
    """Lenient int decode; values outside the target type's range become
    NULL (PERMISSIVE), matching the reference's range-checked deserializers
    (odata_content.cpp:210-458 TryCast paths)."""
    try:
        if isinstance(v, bool):
            # reference int deserializers have no bool branch — a JSON
            # bool for an int column is a type error -> NULL (PERMISSIVE)
            return None
        elif isinstance(v, (int, float)):
            out = int(v)
        elif isinstance(v, str) and v.strip():
            out = int(float(v)) if ("." in v or "e" in v.lower()) else int(v)
        else:
            return None
    except (ValueError, OverflowError):
        return None
    bound = 1 << (bits - 1)
    return out if -bound <= out < bound else None


def _to_float(v: Any):
    try:
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)
        if isinstance(v, str) and v.strip():
            return float(v)
    except ValueError:
        return None
    return None


def _to_decimal(v: Any):
    try:
        if isinstance(v, (int, float, str)) and not isinstance(v, bool):
            return Decimal(str(v))
    except (InvalidOperation, ValueError):
        return None
    return None


def _to_timestamp(v: Any):
    if isinstance(v, str):
        m = _V2_DATE_RE.fullmatch(v.strip())
        if m:
            # v2 legacy format: ms since epoch (+offset ignored, truncated
            # to whole seconds like the reference — C++ integer division
            # truncates toward zero, so pre-epoch values round UP).
            ms = int(m.group(1))
            secs = -((-ms) // 1000) if ms < 0 else ms // 1000
            return _epoch_secs(secs)
        try:
            s = v.strip().replace("Z", "+00:00")
            parsed = dt.datetime.fromisoformat(s)
            if parsed.tzinfo is not None:
                parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return parsed
        except (ValueError, OverflowError):
            # OverflowError: an offset shifts the instant past year 1..9999
            return None
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return _epoch_secs(int(v))
    return None


def _epoch_secs(secs: int):
    try:
        return dt.datetime.fromtimestamp(secs, dt.timezone.utc).replace(tzinfo=None)
    except (OverflowError, OSError, ValueError):
        # outside datetime's representable range -> NULL (PERMISSIVE)
        return None


def _to_date(v: Any):
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        # Numeric JSON for an Edm.Date column is DAYS since epoch
        # (odata_content.cpp:612-620 date_t(days)), not seconds; reals
        # truncate toward zero like static_cast<int64_t>.
        try:
            return dt.date(1970, 1, 1) + dt.timedelta(days=int(v))
        except (OverflowError, ValueError):
            return None
    ts = _to_timestamp(v)
    if ts is not None:
        return ts.date()
    return None


def _to_binary(v: Any):
    import base64

    if isinstance(v, str):
        try:
            return base64.b64decode(v)
        except Exception:
            return v.encode()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return None


def decode_value(v: Any, data_type: DataType):
    """Decode one JSON value to the Python value for ``data_type``."""
    if v is None:
        return None
    if isinstance(data_type, StringType):
        if isinstance(v, (dict, list)):
            import json

            return json.dumps(v)
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)
    if isinstance(data_type, BooleanType):
        return _to_bool(v)
    if isinstance(data_type, (ByteType, ShortType, IntegerType, LongType)):
        return _to_int(v, _INT_BITS[type(data_type)])
    if isinstance(data_type, (FloatType, DoubleType)):
        return _to_float(v)
    if isinstance(data_type, DecimalType):
        return _to_decimal(v)
    if isinstance(data_type, TimestampType):
        return _to_timestamp(v)
    if isinstance(data_type, DateType):
        return _to_date(v)
    if isinstance(data_type, BinaryType):
        return _to_binary(v)
    if isinstance(data_type, ArrayType):
        if isinstance(v, dict) and "results" in v:  # v2 nested collection shape
            v = v["results"]
        if not isinstance(v, list):
            return None
        return [decode_value(x, data_type.elementType) for x in v]
    if isinstance(data_type, StructType):
        if not isinstance(v, dict):
            return None
        return tuple(
            decode_value(v.get(f.name), f.dataType) for f in data_type.fields
        )
    return str(v)


def extract_rows_payload(doc: Any) -> list[dict]:
    """Pull the row array out of a v4 or v2 response document."""
    if isinstance(doc, dict):
        if "value" in doc and isinstance(doc["value"], list):  # v4
            return doc["value"]
        d = doc.get("d")
        if isinstance(d, dict) and isinstance(d.get("results"), list):  # v2
            return d["results"]
        if isinstance(d, list):  # v2 without results wrapper
            return d
        if isinstance(d, dict):  # single entity
            return [d]
        if "value" not in doc and "d" not in doc:
            return [doc]
    if isinstance(doc, list):
        return doc
    return []


def next_link(doc: Any, base_url: str | None = None) -> str | None:
    """v4 @odata.nextLink / v2 __next (root or inside d)
    (odata_content.cpp:1072-1100)."""
    if not isinstance(doc, dict):
        return None
    link = doc.get("@odata.nextLink") or doc.get("odata.nextLink") or doc.get("__next")
    if not link:
        d = doc.get("d")
        if isinstance(d, dict):
            link = d.get("__next")
    return link


def total_count(doc: Any) -> int | None:
    """v4 @odata.count / v2 __count (odata_content.cpp:1175-1196)."""
    if not isinstance(doc, dict):
        return None
    for key in ("@odata.count", "odata.count"):
        if key in doc:
            return _to_int(doc[key])
    d = doc.get("d")
    if isinstance(d, dict) and "__count" in d:
        return _to_int(d["__count"])
    return None


# ---------------------------------------------------------------------------
# Column-wise page decoding
# ---------------------------------------------------------------------------

_NoneType = type(None)
# Python types decode_value returns unchanged for these Spark types.
_NATIVE = {
    StringType: str,
    BooleanType: bool,
    ByteType: int,
    ShortType: int,
    IntegerType: int,
    LongType: int,
    FloatType: float,
    DoubleType: float,
}
# Microseconds since epoch of datetime.min / datetime.max (UTC).
_MIN_US, _MAX_US = -62135596800000000, 253402300799999999


class _Column:
    """Decoder for one schema field's cells (JSON values, one per row)."""

    __slots__ = ("name", "data_type", "native", "bound")

    def __init__(self, name: str, data_type: DataType):
        self.name = name
        self.data_type = data_type
        self.native = _NATIVE.get(type(data_type))
        bits = _INT_BITS.get(type(data_type))
        self.bound = 1 << (bits - 1) if bits else None

    def cells(self, objs: list[dict]) -> list:
        if self.name in _META_KEYS:
            return [None] * len(objs)
        name = self.name
        return [o.get(name) for o in objs]

    def is_native(self, cells: list) -> bool:
        """True when ``decode_value`` would return every cell unchanged:
        each is None or exactly the native type (``type(v) is int``, so
        bools stay out of int columns), and ints fit the target width."""
        if self.native is None:
            return False
        kinds = set(map(type, cells))
        kinds.discard(_NoneType)
        if not kinds:
            return True
        if kinds != {self.native}:
            return False
        if self.bound is not None:
            present = [v for v in cells if v is not None]
            return -self.bound <= min(present) and max(present) < self.bound
        return True

    def values(self, cells: list) -> list:
        if self.is_native(cells):
            return cells
        data_type = self.data_type
        return [decode_value(v, data_type) for v in cells]

    def arrow(self, cells: list, arrow_type, convert):
        import pyarrow as pa

        if isinstance(self.data_type, TimestampType):
            arr = _iso_timestamps(cells, arrow_type)
            if arr is not None:
                return arr
        values = self.values(cells)
        if convert is not None:
            values = [convert(v) for v in values]
        return pa.array(values, type=arrow_type)


def _iso_timestamps(cells: list, arrow_type):
    """Arrow's ISO-8601 cast of a column of strings that all carry a zone
    offset, or None when any cell needs the scalar decoder (zone-less,
    ``/Date(..)/``, numbers, unparsable, or outside years 1..9999)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    kinds = set(map(type, cells))
    kinds.discard(_NoneType)
    if kinds != {str}:
        return None
    try:
        arr = pc.cast(pa.array(cells, pa.string()), arrow_type)
    except pa.ArrowInvalid:
        return None
    span = pc.min_max(arr.view(pa.int64())).as_py()
    if span["min"] < _MIN_US or span["max"] > _MAX_US:
        return None
    return arr


def _naive_utc(data_type: DataType) -> DataType:
    """``data_type`` with every TimestampType read as TimestampNTZType.
    Decoded timestamps are naive UTC; PySpark's TimestampType converter
    would read them as worker-local time, while Arrow stores a naive
    datetime in a UTC timestamp column as the UTC instant it names."""
    if isinstance(data_type, TimestampType):
        return TimestampNTZType()
    if isinstance(data_type, ArrayType):
        return ArrayType(_naive_utc(data_type.elementType), data_type.containsNull)
    if isinstance(data_type, MapType):
        return MapType(
            _naive_utc(data_type.keyType),
            _naive_utc(data_type.valueType),
            data_type.valueContainsNull,
        )
    if isinstance(data_type, StructType):
        return StructType(
            [StructField(f.name, _naive_utc(f.dataType), f.nullable) for f in data_type.fields]
        )
    return data_type


def _row_objects(doc: Any) -> list[dict]:
    return [o for o in extract_rows_payload(doc) if isinstance(o, dict)]


class ColumnDecoders:
    """The per-field column decoders for one schema, built once per
    reader and shared by ``rows`` (Python tuples) and ``batch`` (Arrow).

    ``batch`` builds its Arrow schema like PySpark's data-source reader
    (``to_arrow_schema``). Columns without a native fast path (timestamp,
    decimal, binary, nested, ...) pass their decoded values through
    PySpark's own ``LocalDataToArrowConversion`` converter, so they hold
    what PySpark would build from the same tuples."""

    def __init__(self, schema: StructType):
        self._schema = schema
        self._columns = [_Column(f.name, f.dataType) for f in schema.fields]
        self._arrow = None  # (pyarrow schema, converter per column), built on first batch()

    def rows(self, doc: Any) -> list[tuple]:
        objs = _row_objects(doc)
        if not self._columns:
            return [()] * len(objs)
        return list(zip(*(c.values(c.cells(objs)) for c in self._columns)))

    def batch(self, doc: Any):
        objs = _row_objects(doc)
        return self.columns_batch([col.cells(objs) for col in self._columns])

    def columns_batch(self, cells: list[list]):
        """Decode pre-extracted JSON cells, one equal-length list per
        schema field in schema order, into one record batch."""
        import pyarrow as pa

        if self._arrow is None:
            self._arrow = self._arrow_plan()
        arrow_schema, converters = self._arrow
        arrays = [
            col.arrow(col_cells, arrow_schema.field(i).type, converters[i])
            for i, (col, col_cells) in enumerate(zip(self._columns, cells, strict=True))
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    def _arrow_plan(self):
        from pyspark.sql.conversion import LocalDataToArrowConversion
        from pyspark.sql.pandas.types import to_arrow_schema

        converters = [
            None
            if col.native is not None
            else LocalDataToArrowConversion._create_converter(
                _naive_utc(col.data_type), none_on_identity=True
            )
            for col in self._columns
        ]
        return to_arrow_schema(self._schema), converters


def decode_rows(doc: Any, schema: StructType) -> list[tuple]:
    """Decode a response document into tuples matching ``schema``."""
    return ColumnDecoders(schema).rows(doc)


def decode_batch(doc: Any, schema: StructType):
    """Decode a response document into a ``pyarrow.RecordBatch`` with
    PySpark's Arrow schema for ``schema``; timestamps are UTC instants."""
    return ColumnDecoders(schema).batch(doc)
