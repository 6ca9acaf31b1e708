"""Driver-local rows -> DataFrame as a JVM local relation.

The package's one place for driver-built frames: no other module calls
``createDataFrame``. ``local_rows`` takes Python rows, ``local_batches``
Arrow record batches (what ``odata.json_decode.ColumnDecoders`` yields
for the Graph, Excel and ODP reads). Both hand one Arrow table to
``createDataFrame``, which plans as ``LocalTableScan``. The classic
``createDataFrame(list, schema)`` plans a pickled-RDD scan instead, so
every action on the frame forks Python workers to unpickle its rows.

``local_rows`` runs the classic path's own driver-side steps — PySpark's
schema verifier, field converter and ``toInternal`` — and builds one
``pa.array`` per field from the internal values instead of pickling
them. So bad input raises the classic error (``pa.array`` alone would
truncate 1.5 in an int field to 1), Mapping rows map by field name and
a naive datetime in a ``timestamp`` field is driver-local wall time.
The classic path runs only when Arrow rejects a verified value (a
decimal beyond its field's scale, which the JVM rounds HALF_UP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    StructType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)


def local_rows(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """Build a DataFrame from driver-local ``rows`` with ``schema`` (a DDL
    string or a ``StructType``): value- and schema-identical to
    ``spark.createDataFrame(rows, schema)``, executed as a JVM local
    relation (no Python workers)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    verify, convert = _make_type_verifier(struct), _create_converter(struct)
    rows = list(rows)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(struct)
    try:
        columns = [
            pa.array([r[i] for r in internal], type=field.type)
            for i, field in enumerate(arrow_schema)
        ]
    except pa.ArrowException:
        return spark.createDataFrame(rows, schema)
    return local_batches(
        spark, [pa.RecordBatch.from_arrays(columns, schema=arrow_schema)], struct
    )


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
