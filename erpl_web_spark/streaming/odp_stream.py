"""ODP CDC as a Structured Streaming source.

The reference's ODP surface is pull-based micro-batching with durable
delta tokens (SURVEY.md §2.I) — exactly Spark's micro-batch source
contract: **offset == delta link**. This wraps the ODP orchestrator in a
``SimpleDataSourceStreamReader`` (driver-side reads, appropriate for CDC
delta volumes; Spark checkpoints the offsets, giving exactly-once
delivery into the sink — the reference's deferred-token-commit semantics
fall out of Spark's offset protocol for free). Each micro-batch is the
orchestrator's Arrow record batches, one per non-empty page.

Usage::

    spark.dataSource.register(OdpStreamDataSource)
    stream = (spark.readStream.format("odp")
              .option("url", "https://sap/odp/FactsOfSomething")
              .load())
    q = stream.writeStream.format("parquet").option("path", ...).start()
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from erpl_web_spark.sources.odp import DEFAULT_STATE_DIR, OdpReader

if TYPE_CHECKING:
    import pyarrow


class OdpStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "odp"

    def schema(self) -> StructType:
        return OdpReader(
            self.options["url"], self.options.get("state_dir", DEFAULT_STATE_DIR)
        ).schema()

    def simpleStreamReader(self, schema: StructType) -> "OdpStreamReader":
        return OdpStreamReader(
            self.options["url"],
            schema,
            self.options.get("state_dir", DEFAULT_STATE_DIR),
            int(self.options["max_page_size"]) if "max_page_size" in self.options else None,
        )


class OdpStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, url: str, schema: StructType, state_dir: str, max_page_size):
        self._url = url
        self._schema = schema
        self._state_dir = state_dir
        self._max_page_size = max_page_size

    def _reader(self) -> OdpReader:
        return OdpReader(self._url, self._state_dir, self._max_page_size)

    def initialOffset(self) -> dict:
        return {"delta_link": "", "batch": 0}

    def read(self, start: dict) -> tuple[Iterator[pyarrow.RecordBatch], dict]:
        reader = self._reader()
        if not start.get("delta_link"):
            batches, _schema, sub, _phase = reader.run_batch(force_full_load=True)
        else:
            batches, _schema, sub, _phase = reader.run_batch(
                import_delta_token=None  # state repo already holds the link
            )
        return iter(batches), {
            "delta_link": sub.delta_link or "", "batch": start.get("batch", 0) + 1
        }

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[pyarrow.RecordBatch]:
        # Failure replay: re-fetch from the start offset's delta link. ODP
        # servers replay a delta until the next token is requested, so this
        # is deterministic within the server's retention window.
        reader = self._reader()
        link = start.get("delta_link")
        if not link:
            batches, _sch, _sub, _ph = reader.run_batch(force_full_load=True)
            return iter(batches)
        # An HTTP error (a 503 after retries, an expired token) raises:
        # an empty replay would silently drop the batch's rows.
        batches, _first, _last = reader.fetch(link, self._schema)
        return iter(batches)

    def commit(self, end: dict) -> None:
        pass  # durable state already advanced by the repo on each batch
