"""Driver-local rows -> DataFrame without the pickled-RDD execution path.

The package's single place for driver-built frames. ``local_rows``
takes Python tuples; ``local_batches`` takes Arrow record batches, the
form every driver-side web-API read (Graph entities, the Excel grid,
ODP batches) gets from ``odata.json_decode.ColumnDecoders``. Both land
as a JVM local relation (``LocalTableScan``) instead of a pickled-RDD
scan; ``local_rows`` only where the exactness guards below allow.

``spark.createDataFrame(list, schema)`` parallelizes the rows into
defaultParallelism pickle partitions, so every downstream action forks
one Python worker PER PARTITION just to unpickle a handful of rows —
measured 2.8 s per action for a 12-row frame on this runtime (32
concurrent worker forks, guide §4 fork tax), paid again by every bench
rep of every collect-then-rebuild query. Routing the same rows through
a pandas DataFrame + Arrow lands them as a JVM-side relation: identical
rows and schema, zero Python workers at execution (measured 0.13 s).

Exactness guards — fall back to the classic path whenever the Arrow
conversion could diverge: NaN doubles (Arrow's from_pandas reads NaN as
null — the one measured value divergence), empty row sets (pandas loses
the column count), nested cells (list/tuple/dict under dtype=object),
mapping rows (``tuple(row)`` would be the keys; the classic path maps
them by field name) and ragged rows (pandas pads short rows with NULL
where the classic path raises).
dtype=object preserves int64 exactly (no float64 widening), None stays
null, naive datetimes stay NTZ — pinned by tests/test_local_rows.py.
"""

from __future__ import annotations

import math
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Build a DataFrame from driver-local ``rows`` with the DDL
    ``schema`` — value-identical to ``spark.createDataFrame(rows,
    schema)``, but executed as a JVM local relation (no Python workers)
    whenever the rows are flat, NaN-free scalars."""

    def _safe(v) -> bool:
        if isinstance(v, float) and math.isnan(v):
            return False
        return not isinstance(v, (list, tuple, dict, set))

    if (
        not rows
        or any(isinstance(r, Mapping) for r in rows)
        or len({len(r) for r in rows}) > 1
        or not all(_safe(v) for r in rows for v in r)
    ):
        return spark.createDataFrame(rows, schema)
    try:
        import pandas as pd

        pdf = pd.DataFrame([tuple(r) for r in rows], dtype=object)
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        # The fast path is an optimization, never a dependency: any
        # pandas/Arrow conversion surprise falls back to the classic
        # (value-defining) path.
        return spark.createDataFrame(rows, schema)


def local_batches(spark: SparkSession, batches, schema: StructType) -> DataFrame:
    """Build a DataFrame from driver-local Arrow ``batches`` with PySpark's
    Arrow schema for ``schema`` (``ColumnDecoders`` output; any number,
    none included). One Arrow table goes to ``createDataFrame``: a JVM
    local relation whose timestamps are the batches' UTC instants,
    whatever the driver's ``TZ``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_batches(batches, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
