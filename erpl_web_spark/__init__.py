"""erpl_web_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the DataZooDE/erpl-web DuckDB extension.

The reference (see /root/reference, SURVEY.md) turns remote web APIs
(OData v2/v4, SAP Datasphere/ODP, Delta Sharing, Microsoft Graph, …) into
scannable tables with server-side pushdown, and delegates all relational
execution to the host engine. Here the host engine is Spark SQL/Catalyst:

- ``erpl_web_spark.core``      — URL building, HTTP retry/redirect/charset,
                                 secret registry (reference: http_client.cpp)
- ``erpl_web_spark.odata``     — EDMX -> StructType, JSON row decoding,
                                 predicate pushdown -> $filter/$select/$top,
                                 pagination, Python Data Source connector
- ``erpl_web_spark.sources``   — http_* table functions, Delta Sharing,
                                 Microsoft Graph family, ODP CDC
- ``erpl_web_spark.operators`` — relational helpers (as-of join, expand),
                                 plus large-scale pipeline operators:
                                 dedup (exact/MinHash-LSH/SimHash), similarity
                                 search, text analysis, multimodal columns
- ``erpl_web_spark.streaming`` — incremental/CDC source plumbing

All relational operators (joins, aggregates, windows, set ops) are
expressed with the DataFrame API so Catalyst/Tungsten choose physical
plans; Python only runs at the connector boundary and in explicitly
Arrow-batched UDFs.

Importing the package installs ``core.pyworker``'s zipimport stat guard.
"""

from erpl_web_spark.core import pyworker as _pyworker

__version__ = "0.1.0"

_pyworker.install()
