"""The one JSON encoder for web-API request bodies (REST writes, Graph
requests and ``$batch`` envelopes, GraphQL operations). An aware
datetime is its UTC instant in ISO-8601 with a ``Z``; a naive one
(``timestamp_ntz``) and a date are ISO with no zone; a Decimal is its
string and bytes are base64. NaN and ±inf raise ``ValueError`` (strict
JSON). Separators are ``json.dumps``' own, so plain rows encode to the
same bytes."""

from __future__ import annotations

import base64
import datetime
import decimal
import json


def _default(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None).isoformat() + "Z"
    if isinstance(v, datetime.date):  # datetime.datetime included
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(v).decode("ascii")
    raise TypeError(f"Object of type {type(v).__name__} is not JSON serializable")


dumps = json.JSONEncoder(allow_nan=False, default=_default).encode
