"""ODP CDC as a Structured Streaming source.

The reference's ODP surface is pull-based micro-batching with durable
delta tokens (SURVEY.md §2.I) — exactly Spark's micro-batch source
contract: **offset == delta link**. The offset is the stream's only
state: each micro-batch is one ``OdpReader.fetch`` from its start
offset's link (the initial load from an empty one), and Spark's
checkpoint logs the next link before the sink sees the rows, so a
restart at any point re-reads from the last logged link — exactly-once
delivery into an idempotent sink, the reference's deferred-token-commit
semantics from Spark's offset protocol. A stream creates no
subscription and does not appear in ``odp_list_subscriptions``. Each
micro-batch is one Arrow record batch per non-empty page; a link the
server returns unchanged is no new micro-batch. A batch that fell back
to a full reload (its start token expired) is marked so in its end
offset, and its replay reloads.

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

from erpl_web_spark.sources.odp import RELOAD_PHASE, OdpReader

if TYPE_CHECKING:
    import pyarrow


class OdpStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "odp"

    def schema(self) -> StructType:
        return OdpReader(self.options["url"]).schema()

    def simpleStreamReader(self, schema: StructType) -> "OdpStreamReader":
        return OdpStreamReader(
            self.options["url"],
            schema,
            int(self.options["max_page_size"]) if "max_page_size" in self.options else None,
        )


class OdpStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, url: str, schema: StructType, max_page_size):
        self._url = url
        self._schema = schema
        self._max_page_size = max_page_size

    def _fetch(
        self, delta_link: str, reload_expired: bool
    ) -> tuple[list[pyarrow.RecordBatch], str, str]:
        reader = OdpReader(self._url, max_page_size=self._max_page_size)
        batches, link, phase, _applied = reader.fetch(delta_link, self._schema, reload_expired)
        return batches, link, phase

    def initialOffset(self) -> dict:
        return {"delta_link": ""}

    def read(self, start: dict) -> tuple[Iterator[pyarrow.RecordBatch], dict]:
        batches, link, phase = self._fetch(start["delta_link"], reload_expired=True)
        if link == start["delta_link"]:
            return iter(batches), start  # no new token, no micro-batch
        end = {"delta_link": link}
        if phase == RELOAD_PHASE:
            end["reloaded"] = True  # its replay reloads too
        return iter(batches), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[pyarrow.RecordBatch]:
        # Failure replay: re-fetch from the start offset's delta link, or
        # reload when the logged batch was a reload. ODP servers replay a
        # delta until the next token is requested, so this is
        # deterministic within the server's retention window. An HTTP
        # error (a 503 after retries, an expired token) raises: an empty
        # replay, or a full reload in place of a logged delta, would not be
        # the logged batch.
        link = "" if end.get("reloaded") else start["delta_link"]
        return iter(self._fetch(link, reload_expired=False)[0])

    def commit(self, end: dict) -> None:
        pass  # the offset IS the state; Spark's checkpoint owns it
