"""SAP Datasphere connectors (reference A10-A12,
src/datasphere_catalog.cpp, datasphere_read.cpp, datasphere_client.cpp).

URL conventions (datasphere_client.cpp:65-90, 118):
- tenant base: ``https://{tenant}.{data_center}.hcs.cloud.sap``
- catalog:     ``{base}/api/v1/dwc/catalog`` (spaces/assets discovery)
- relational:  ``{base}/api/v1/dwc/consumption/relational/{space}/{asset}``
- analytical:  ``{base}/api/v1/dwc/consumption/analytical/{space}/{asset}``

Reads go through the ``odata`` data source (full pushdown); the
analytical endpoint's metrics+dimensions compile into ``$select``
(datasphere_read.cpp:289-312) — semantically a server-side
``groupBy(dimensions).agg(sum(metrics))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.core.secrets import default_registry
from erpl_web_spark.odata.datasource import ensure_registered


def tenant_base_url(tenant: str, data_center: str = "eu10") -> str:
    return f"https://{tenant}.{data_center}.hcs.cloud.sap"


class DatasphereClient:
    def __init__(self, base_url: str, http: HttpClient | None = None):
        self.base_url = base_url.rstrip("/")
        self.http = http or HttpClient(
            auth_headers=default_registry.auth_headers_for_url(self.base_url)
        )

    def catalog_url(self, path: str = "") -> str:
        return f"{self.base_url}/api/v1/dwc/catalog{path}"

    def relational_url(self, space: str, asset: str) -> str:
        return f"{self.base_url}/api/v1/dwc/consumption/relational/{space}/{asset}"

    def analytical_url(self, space: str, asset: str) -> str:
        return f"{self.base_url}/api/v1/dwc/consumption/analytical/{space}/{asset}"

    def get_values(self, url: str) -> list[dict]:
        doc = self.http.get(url, headers={"Accept": "application/json"}).raise_for_status().json()
        return doc.get("value", doc if isinstance(doc, list) else [])


def datasphere_show_spaces(spark: SparkSession, client: DatasphereClient) -> DataFrame:
    items = client.get_values(client.catalog_url("/spaces"))
    rows = [(i.get("name"), i.get("label")) for i in items]
    return local_rows(spark, rows, "name string, label string")


def datasphere_show_assets(
    spark: SparkSession, client: DatasphereClient, space: str | None = None
) -> DataFrame:
    path = f"/spaces('{space}')/assets" if space else "/assets"
    items = client.get_values(client.catalog_url(path))
    rows = [
        (i.get("name"), i.get("spaceName"), i.get("assetRelationalMetadataUrl") is not None
         or bool(i.get("supportsRelationalQueries")),
         i.get("assetAnalyticalMetadataUrl") is not None
         or bool(i.get("supportsAnalyticalQueries")))
        for i in items
    ]
    return local_rows(
        spark, rows, "name string, space_name string, relational boolean, analytical boolean"
    )


def datasphere_describe_space(
    spark: SparkSession, client: DatasphereClient, space_id: str
) -> DataFrame:
    """Describe one space (reference datasphere_catalog.cpp:1026-1070,
    CreateDatasphereDescribeSpaceFunction :1665): the catalog API has no
    individual-resource access, so the spaces collection is queried with
    ``$filter=name eq '{space_id}'``. SpaceEntityV1 schema: (name, label).
    """
    url = client.catalog_url("/spaces") + f"?$filter=name eq '{space_id}'"
    items = client.get_values(url)
    rows = [(i.get("name"), i.get("label")) for i in items]
    return local_rows(spark, rows, "name string, label string")


_ASSET_DESCRIBE_SCHEMA = (
    "name string, space_name string, label string, "
    "asset_relational_metadata_url string, asset_relational_data_url string, "
    "asset_analytical_metadata_url string, asset_analytical_data_url string, "
    "supports_analytical_queries string, odata_context string, "
    "relational_schema string, analytical_schema string, "
    "has_relational_access string, has_analytical_access string, "
    "asset_type string, odata_metadata_etag string"
)


def datasphere_describe_asset(
    spark: SparkSession, client: DatasphereClient, space_id: str, asset_id: str
) -> DataFrame:
    """Describe one asset (reference datasphere_catalog.cpp:1074-1140,
    CreateDatasphereDescribeAssetFunction :1674): assets collection
    filtered with ``name eq '{asset_id}' and spaceName eq '{space_id}'``
    (datasphere_client.cpp:166-171). AssetEntityV1: the reference's 15
    describe columns; the relational/analytical schema payloads are
    emitted as JSON strings (the reference unnests analyticalSchema into
    a struct — JSON keeps the same information engine-neutral).
    """
    import json

    url = (
        client.catalog_url("/assets")
        + f"?$filter=name eq '{asset_id}' and spaceName eq '{space_id}'"
    )
    items = client.get_values(url)

    def _s(v) -> str | None:
        if v is None:
            return None
        if isinstance(v, (dict, list)):
            return json.dumps(v, sort_keys=True)
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    rows = [
        tuple(
            _s(i.get(k))
            for k in (
                "name", "spaceName", "label",
                "assetRelationalMetadataUrl", "assetRelationalDataUrl",
                "assetAnalyticalMetadataUrl", "assetAnalyticalDataUrl",
                "supportsAnalyticalQueries", "@odata.context",
                "relationalSchema", "analyticalSchema",
                "hasRelationalAccess", "hasAnalyticalAccess",
                "assetType", "@odata.metadataEtag",
            )
        )
        for i in items
    ]
    return local_rows(spark, rows, _ASSET_DESCRIBE_SCHEMA)


def datasphere_read_relational(
    spark: SparkSession,
    client: DatasphereClient,
    space: str,
    asset: str,
    top: int | None = None,
    skip: int | None = None,
    params: dict | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Relational consumption scan via the odata data source (A11).
    Inherits ``parallelism=auto`` window splitting for big assets;
    ``options`` passes through any odata reader option."""
    ensure_registered(spark)
    url = client.relational_url(space, asset)
    if params:
        args = ",".join(f"{k}='{v}'" for k, v in params.items())
        url = f"{client.base_url}/api/v1/dwc/consumption/relational/{space}/{asset}({args})/Set"
    reader = spark.read.format("odata").option("url", url)
    if top is not None:
        reader = reader.option("top", str(top))
    if skip is not None:
        reader = reader.option("skip", str(skip))
    for k, v in (options or {}).items():
        reader = reader.option(k, str(v))
    return reader.load()


def datasphere_read_analytical(
    spark: SparkSession,
    client: DatasphereClient,
    space: str,
    asset: str,
    metrics: list[str] | None = None,
    dimensions: list[str] | None = None,
    top: int | None = None,
) -> DataFrame:
    """Analytical consumption: metrics+dimensions -> $select (A12) — the
    server aggregates; Spark sees the pre-aggregated result.

    Analytical reads are pinned to a SINGLE page chain (parallelism=1):
    the server recomputes the aggregate per request and the aggregated
    row set has no entity-key pagination contract, so parallel ``$skip``
    windows could split one live aggregation across inconsistent
    snapshots — same rule as ``$apply`` scans, and the reference's
    analytical consumption is likewise single-stream."""
    ensure_registered(spark)
    url = client.analytical_url(space, asset)
    reader = (
        spark.read.format("odata")
        .option("url", url)
        .option("parallelism", "1")
    )
    select = list(dimensions or []) + list(metrics or [])
    if select:
        reader = reader.option("select", ",".join(select))
    if top is not None:
        reader = reader.option("top", str(top))
    return reader.load()
