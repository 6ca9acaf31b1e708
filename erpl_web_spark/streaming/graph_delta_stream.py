"""Microsoft Graph /delta as a Structured Streaming source.

The batch helpers (``sources.graph.graph_users_delta``) persist the
deltaLink in a state directory; this wrapper makes the link itself the
**streaming offset**, so Spark's checkpoint owns the state end-to-end —
exactly-once delivery into the sink with no side files (the same
offset==token design as ``streaming.odp_stream``, applied to Graph).

Entities: ``users``, ``groups`` (fixed schemas) and ``list_items``
(SharePoint list rows — schema typed at plan time from the list's
column facets, exactly like the batch ``graph_list_items_delta``;
requires ``site_id`` and ``list_id`` options).

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

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StringType, StructField, StructType

_ENTITY_FIELDS = {
    "users": (
        ("id", "id"), ("displayName", "display_name"),
        ("userPrincipalName", "user_principal_name"), ("mail", "mail"),
        ("jobTitle", "job_title"), ("department", "department"),
        ("accountEnabled", "account_enabled"),
    ),
    "groups": (
        ("id", "id"), ("displayName", "display_name"),
        ("description", "description"), ("mail", "mail"),
        ("mailEnabled", "mail_enabled"), ("securityEnabled", "security_enabled"),
    ),
}


def _entity_schema(entity: str) -> StructType:
    from pyspark.sql.types import BooleanType

    bool_cols = {"account_enabled", "mail_enabled", "security_enabled"}
    fields = [
        StructField(out, BooleanType() if out in bool_cols else StringType())
        for _, out in _ENTITY_FIELDS[entity]
    ]
    return StructType(fields + [StructField("change_op", StringType())])


def _list_item_columns(base_url: str, site_id: str, list_id: str):
    """(name, DataType) specs from the list's column facets — the same
    typing rule as the batch reader (number/currency -> DOUBLE, boolean,
    dateTime -> TIMESTAMP, else VARCHAR)."""
    from erpl_web_spark.sources.graph import GraphClient, sharepoint_column_type

    client = GraphClient(base_url)
    cols = client.get_paged_values(f"/sites/{site_id}/lists/{list_id}/columns")
    cols = [c for c in cols if not c.get("readOnly") or c.get("name") == "Title"]
    return [(c["name"], sharepoint_column_type(c)) for c in cols]


def _list_item_schema(col_specs) -> StructType:
    return StructType(
        [StructField("id", StringType(), True)]
        + [StructField(name, dt, True) for name, dt in col_specs]
        + [StructField("change_op", StringType())]
    )


class GraphDeltaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graph_delta"

    def _col_specs(self):
        return _list_item_columns(
            self.options["base_url"], self.options["site_id"], self.options["list_id"]
        )

    def schema(self) -> StructType:
        entity = self.options.get("entity", "users")
        if entity == "list_items":
            return _list_item_schema(self._col_specs())
        return _entity_schema(entity)

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
                col_specs=self._col_specs(),
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
        if entity not in _ENTITY_FIELDS and entity != "list_items":
            raise ValueError(f"unsupported entity {entity!r}")
        self._base_url = base_url.rstrip("/")
        self._entity = entity
        self._delta_path = delta_path or f"/{entity}/delta"
        self._col_specs = col_specs

    def _fetch(self, start: dict) -> tuple[list[dict], str | None]:
        """(items, next cursor) of one ``GraphClient.walk`` from the
        ``start`` offset's link, else from the entity's delta path."""
        from erpl_web_spark.sources.graph import GraphClient

        return GraphClient(self._base_url).walk(start.get("delta_link") or self._delta_path)

    def _rows(self, items: list[dict]) -> list[tuple]:
        if self._entity == "list_items":
            from erpl_web_spark.odata.json_decode import decode_value

            rows = []
            for i in items:
                removed = "@removed" in i
                f = i.get("fields", {})
                rows.append(
                    (i.get("id"),)
                    + tuple(
                        None if removed else decode_value(f.get(name), dt)
                        for name, dt in self._col_specs
                    )
                    + (("D" if removed else "U"),)
                )
            return rows
        fields = _ENTITY_FIELDS[self._entity]
        return [
            tuple(i.get(src) for src, _ in fields)
            + (("D" if "@removed" in i else "U"),)
            for i in items
        ]

    def initialOffset(self) -> dict:
        return {"delta_link": ""}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        items, cursor = self._fetch(start)
        return iter(self._rows(items)), {"delta_link": cursor or start.get("delta_link", "")}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # Failure replay: Graph replays a delta link until the next one is
        # requested, so re-walking the start link is deterministic within
        # the service's retention window.
        items, _ = self._fetch(start)
        return iter(self._rows(items))

    def commit(self, end: dict) -> None:
        pass  # the offset IS the state; Spark's checkpoint owns it
