"""Microsoft Graph /delta as a Structured Streaming source.

The batch helpers (``sources.graph.graph_users_delta``) persist the
deltaLink in a state directory; this wrapper makes the link itself the
**streaming offset**, so Spark's checkpoint owns the state end-to-end —
exactly-once delivery into the sink with no side files (the same
offset==token design as ``streaming.odp_stream``, applied to Graph).

Entities: ``users``, ``groups`` (their ``sources.graph.GRAPH_ENTITIES``
field tables) and ``list_items`` (SharePoint list rows — schema typed at
plan time by ``sources.graph.sharepoint_list_schema``, exactly like the
batch ``graph_list_items_delta``; requires ``site_id`` and ``list_id``
options). Each walk decodes into one Arrow record batch through the
batch helpers' field tables.

Usage::

    spark.dataSource.register(GraphDeltaDataSource)
    stream = (spark.readStream.format("graph_delta")
              .option("base_url", "https://graph.microsoft.com/v1.0")
              .option("entity", "users")
              .load())

Auth rides the URL-scoped secret registry ($ERPL_WEB_SECRETS_FILE),
which Python worker processes inherit via the environment.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pyarrow

_ENTITIES = ("users", "groups")


class GraphDeltaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graph_delta"

    def schema(self) -> StructType:
        from erpl_web_spark.sources.graph import (
            GRAPH_ENTITIES,
            GraphClient,
            graph_items_schema,
            sharepoint_item_fields,
            sharepoint_list_schema,
        )

        entity = self.options.get("entity", "users")
        if entity == "list_items":
            columns = sharepoint_list_schema(
                GraphClient(self.options["base_url"]),
                self.options["site_id"],
                self.options["list_id"],
            )
            return graph_items_schema(sharepoint_item_fields(columns), delta=True)
        return graph_items_schema(GRAPH_ENTITIES[entity].fields, delta=True)

    def simpleStreamReader(self, schema: StructType) -> "GraphDeltaStreamReader":
        entity = self.options.get("entity", "users")
        if entity == "list_items":
            return GraphDeltaStreamReader(
                self.options["base_url"],
                entity,
                delta_path=(
                    f"/sites/{self.options['site_id']}/lists/"
                    f"{self.options['list_id']}/items/delta?expand=fields"
                ),
                # the list's columns: the planned schema minus id and change_op
                col_specs=schema.fields[1:-1],
            )
        return GraphDeltaStreamReader(self.options["base_url"], entity)


class GraphDeltaStreamReader(SimpleDataSourceStreamReader):
    def __init__(
        self,
        base_url: str,
        entity: str,
        delta_path: str | None = None,
        col_specs=None,
    ):
        """``col_specs``: the list's column ``StructField``s (entity
        ``list_items`` only)."""
        if entity not in _ENTITIES and entity != "list_items":
            raise ValueError(f"unsupported entity {entity!r}")
        self._base_url = base_url.rstrip("/")
        self._entity = entity
        self._delta_path = delta_path or f"/{entity}/delta"
        self._col_specs = col_specs

    def _fetch(self, start: dict) -> tuple[list[pyarrow.RecordBatch], str | None]:
        """One ``GraphClient.walk`` from the ``start`` offset's link, else
        from the entity's delta path: ([its record batch], next cursor),
        no batch for an empty walk."""
        from erpl_web_spark.sources.graph import (
            GRAPH_ENTITIES,
            GraphClient,
            graph_items_batch,
            sharepoint_item_fields,
        )

        items, cursor = GraphClient(self._base_url).walk(
            start.get("delta_link") or self._delta_path
        )
        if self._entity == "list_items":
            fields = sharepoint_item_fields(self._col_specs)
        else:
            fields = GRAPH_ENTITIES[self._entity].fields
        return [graph_items_batch(items, fields, delta=True)] if items else [], cursor

    def initialOffset(self) -> dict:
        return {"delta_link": ""}

    def read(self, start: dict) -> tuple[Iterator[pyarrow.RecordBatch], dict]:
        batches, cursor = self._fetch(start)
        return iter(batches), {"delta_link": cursor or start.get("delta_link", "")}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[pyarrow.RecordBatch]:
        # Failure replay: Graph replays a delta link until the next one is
        # requested, so re-walking the start link is deterministic within
        # the service's retention window.
        batches, _ = self._fetch(start)
        return iter(batches)

    def commit(self, end: dict) -> None:
        pass  # the offset IS the state; Spark's checkpoint owns it
