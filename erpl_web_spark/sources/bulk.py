"""Executor-side web-API writes: the one partition loop behind every bulk
writer and per-row fan-out (SURVEY §2.B B1-B5). Rows arrive as Arrow
record batches (``mapInArrow`` here, a ``DataSourceArrowWriter`` in
``rest.py``) and become dicts through ``batch_rows``; request bodies are
encoded by ``core.jsonwire``; ``cut`` is the one request budget.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType

_COUNTS = StructType([StructField("rows", LongType()), StructField("requests", LongType())])


def _dict_maps(t: pa.DataType):
    """A converter that turns the ``(key, value)`` lists ``to_pylist``
    gives for maps into dicts, for cells of type ``t``; falsy when ``t``
    holds no map."""
    if pa.types.is_map(t):
        item = _dict_maps(t.item_type) or (lambda v: v)
        return lambda m: m if m is None else {k: item(v) for k, v in m}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        elem = _dict_maps(t.value_type)
        return elem and (lambda xs: xs if xs is None else [elem(x) for x in xs])
    if pa.types.is_struct(t):
        fix = {f.name: c for f in t if (c := _dict_maps(f.type))}
        return fix and (lambda s: s if s is None else {**s, **{n: c(s[n]) for n, c in fix.items()}})
    return None


def batch_rows(batch: pa.RecordBatch) -> list[dict]:
    """``batch``'s rows as dicts of Python values: structs and maps as
    dicts, timestamps as aware datetimes."""
    rows = batch.to_pylist()
    for field in batch.schema:
        if fix := _dict_maps(field.type):
            for row in rows:
                row[field.name] = fix(row[field.name])
    return rows


def cut(items: Iterable, max_count: int, size: Callable | None = None, max_bytes: int = 0):
    """Lists of consecutive ``items``, each at most ``max_count`` long and,
    given ``size``, at most ``max_bytes`` in summed size (always >= 1)."""
    chunk, used = [], 0
    for item in items:
        n = size(item) if size else 0
        if chunk and (len(chunk) >= max_count or (size and used + n > max_bytes)):
            yield chunk
            chunk, used = [], 0
        chunk.append(item)
        used += n
    if chunk:
        yield chunk


def write_partitions(df: DataFrame, send: Callable[[list[dict]], int], what: str) -> int:
    """Run ``send`` on each non-empty partition's rows on the executors
    (one Spark job); ``send`` returns its HTTP request count. Returns
    the number of rows written."""

    def run(batches):
        rows = [row for batch in batches for row in batch_rows(batch)]
        yield pa.RecordBatch.from_pydict(  # Python ints: int64, as _COUNTS
            {"rows": [len(rows)], "requests": [send(rows) if rows else 0]}
        )

    counts = df.mapInArrow(run, _COUNTS).collect()
    rows = sum(c.rows for c in counts)
    logging.getLogger(__name__).info(
        "%s: %d rows in %d requests", what, rows, sum(c.requests for c in counts)
    )
    return rows


def fan_out(df: DataFrame, results: StructType, start: Callable, keep_cols=None) -> DataFrame:
    """One ``results`` row per input row, after the input's ``keep_cols``
    (its own Arrow columns). ``start()`` runs once per task and returns
    the call mapping one batch's row dicts to result tuples."""
    keep = list(keep_cols or [])
    out = StructType([df.schema[c] for c in keep] + results.fields)
    types = [f.type for f in to_arrow_schema(results)]

    def run(batches):
        call = start()
        for batch in batches:
            got = call(batch_rows(batch))
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep]
                + [pa.array([r[i] for r in got], type=t) for i, t in enumerate(types)],
                names=out.names,
            )

    return df.mapInArrow(run, out)


def each_row(call: Callable[[dict], tuple], max_rps: float | None = None):
    """A batch call running ``call`` on each row, at most ``max_rps``
    calls per second from one task (unpaced without it)."""
    interval, next_slot = 1.0 / max_rps if max_rps else 0.0, 0.0

    def paced(row: dict) -> tuple:
        nonlocal next_slot
        now = time.monotonic()
        time.sleep(max(0.0, next_slot - now))
        next_slot = max(now, next_slot) + interval
        return call(row)

    one = paced if interval else call
    return lambda rows: [one(row) for row in rows]
