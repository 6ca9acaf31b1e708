"""Dynamics 365 Business Central connectors (reference A23,
src/business_central_functions.cpp, business_central_client.cpp:17-22).

URL conventions: base
``https://api.businesscentral.dynamics.com/v2.0/{tenant}/{environment}/api/v2.0``
with company scoping ``/companies({company_id})/{entity}``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.core.secrets import default_registry
from erpl_web_spark.odata.client import ODataClient
from erpl_web_spark.odata.datasource import ensure_registered

DEFAULT_BC_HOST = "https://api.businesscentral.dynamics.com"


def bc_base_url(tenant: str, environment: str = "production",
                host: str = DEFAULT_BC_HOST) -> str:
    return f"{host}/v2.0/{tenant}/{environment}/api/v2.0"


class BusinessCentralClient:
    def __init__(self, base_url: str, http: HttpClient | None = None):
        self.base_url = base_url.rstrip("/")
        self.http = http or HttpClient(
            auth_headers=default_registry.auth_headers_for_url(self.base_url)
        )

    def entity_url(self, entity: str, company_id: str | None = None) -> str:
        if company_id:
            return f"{self.base_url}/companies({company_id})/{entity}"
        return f"{self.base_url}/{entity}"


def bc_show_companies(spark: SparkSession, client: BusinessCentralClient) -> DataFrame:
    resp = client.http.get(client.entity_url("companies"),
                           headers={"Accept": "application/json"})
    items = resp.raise_for_status().json().get("value", [])
    rows = [(i.get("id"), i.get("name"), i.get("displayName")) for i in items]
    return local_rows(spark, rows, "id string, name string, display_name string")


def bc_show_entities(spark: SparkSession, client: BusinessCentralClient) -> DataFrame:
    """Entity sets from the service EDMX."""
    model = ODataClient(client.base_url + "/", client.http).get_model()
    rows = [(name, es.entity_type) for name, es in sorted(model.entity_sets.items())]
    return local_rows(spark, rows, "name string, entity_type string")


def bc_describe(
    spark: SparkSession,
    client: BusinessCentralClient,
    entity: str,
    company_id: str | None = None,
) -> DataFrame:
    """Schema of a BC entity: one row per property (reference A23,
    business_central_functions.cpp:146-256 — columns property_name,
    property_type, nullable, is_key). Metadata is resolved at the
    service root; ``company_id`` is accepted for API symmetry with
    bc_read, matching the reference's optional ``company`` parameter.
    """
    model = ODataClient(client.base_url + "/", client.http).get_model()
    set_name = entity.split("(")[0]
    es = model.entity_sets.get(set_name)
    if es is None:
        raise ValueError(
            f"Entity '{entity}' not found in Business Central API. "
            "Use bc_show_entities() to list available entities."
        )
    keys = set(model.key_for_entity_set(set_name))
    rows = [
        (p.name, p.type, bool(p.nullable), p.name in keys)
        for p in model._flattened_properties(es.entity_type)
    ]
    return local_rows(
        spark,
        rows,
        "property_name string, property_type string, nullable boolean, is_key boolean",
    )


def bc_read(
    spark: SparkSession,
    client: BusinessCentralClient,
    entity: str,
    company_id: str | None = None,
    expand: str | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Entity scan through the odata data source (v4, full pushdown).
    Inherits the data source's scan behavior including
    ``parallelism=auto`` window splitting for big entity sets;
    ``options`` passes through any odata reader option
    (``auto_partition_rows``, ``page_size``, ``parallelism``, ...)."""
    ensure_registered(spark)
    reader = spark.read.format("odata").option(
        "url", client.entity_url(entity, company_id)
    )
    if expand:
        reader = reader.option("expand", expand)
    for k, v in (options or {}).items():
        reader = reader.option(k, str(v))
    return reader.load()
