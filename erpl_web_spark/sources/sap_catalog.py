"""SAP Gateway catalog discovery (reference A7 + ODP discovery half of A9).

``odata_sap_show`` lists every OData service registered in an SAP
Gateway: the v2 catalog service (``/sap/opu/odata/iwfnd/catalogservice;
v=2/ServiceCollection``) plus the v4 catalog (``/sap/opu/odata4/iwfnd/
config/default/iwfnd/catalog/0002/ServiceGroups`` expanded to services).
``odp_odata_show`` narrows the v2 catalog (``$expand=EntitySets``) to
ODP extractors — entity sets whose name starts with EntityOf/FactsOf/
AttrOf — one output row per extractor entity set.

Reference: src/odata_odp_functions.cpp:123-148 (sap_show schema),
:584-650 (v2/v4 catalog URLs), :508-561 (v2 parse: ID/Description|Title/
ServiceUrl), :324-380 + :473-474 (ODP entity-set prefix filter),
:204-233 (odp_show schema incl. change_tracking).

Failures on one catalog version are tolerated (an SAP system may expose
only v2 or only v4); both failing raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.core.secrets import default_registry

V2_CATALOG_PATH = "/sap/opu/odata/iwfnd/catalogservice;v=2/ServiceCollection"
V4_CATALOG_PATH = "/sap/opu/odata4/iwfnd/config/default/iwfnd/catalog/0002/ServiceGroups"

_ODP_PREFIXES = ("ENTITYOF", "FACTSOF", "ATTROF")

SAP_SHOW_SCHEMA = StructType(
    [
        StructField("service_id", StringType()),
        StructField("description", StringType()),
        StructField("version", StringType()),
        StructField("service_url", StringType()),
    ]
)

ODP_SHOW_SCHEMA = StructType(
    [
        StructField("service_id", StringType()),
        StructField("service_description", StringType()),
        StructField("entity_set_id", StringType()),
        StructField("entity_set_description", StringType()),
        StructField("entity_set_url", StringType()),
        StructField("change_tracking", BooleanType()),
    ]
)


def _http_for(base_url: str, http: HttpClient | None) -> HttpClient:
    if http is not None:
        return http
    return HttpClient(auth_headers=default_registry.auth_headers_for_url(base_url))


def _v2_services(http: HttpClient, base_url: str) -> list[tuple]:
    url = base_url.rstrip("/") + V2_CATALOG_PATH + "?$format=json"
    doc = http.get(url).raise_for_status().json()
    rows = []
    for entry in doc.get("d", {}).get("results", []):
        service_id = entry.get("ID") or ""
        if not service_id:
            continue
        desc = entry.get("Description") or entry.get("Title") or ""
        rows.append((service_id, desc, "V2", entry.get("ServiceUrl") or ""))
    return rows


def _v4_services(http: HttpClient, base_url: str) -> list[tuple]:
    url = (
        base_url.rstrip("/")
        + V4_CATALOG_PATH
        + "?$expand=DefaultSystem($expand=Services())&$format=json"
    )
    doc = http.get(url).raise_for_status().json()
    rows = []
    for group in doc.get("value", []):
        system = group.get("DefaultSystem") or {}
        for svc in system.get("Services", []):
            service_id = svc.get("ServiceId") or svc.get("ID") or ""
            if not service_id:
                continue
            desc = svc.get("Description") or svc.get("ServiceAlias") or ""
            rows.append((service_id, desc, "V4", svc.get("ServiceUrl") or ""))
    return rows


def odata_sap_show(
    spark: SparkSession, base_url: str, http: HttpClient | None = None
) -> DataFrame:
    """All OData services registered in the SAP Gateway (v2 + v4 catalogs)."""
    client = _http_for(base_url, http)
    rows: list[tuple] = []
    errors: list[Exception] = []
    for loader in (_v2_services, _v4_services):
        try:
            rows.extend(loader(client, base_url))
        except Exception as exc:  # one catalog version may be absent
            errors.append(exc)
    if not rows and len(errors) == 2:
        # Raise the v4 error (an ``HttpStatusError`` when the server
        # answered), its message naming the v2 one too.
        errors[1].args = (f"both SAP catalog endpoints failed: {errors[0]}; {errors[1]}",)
        raise errors[1]
    return local_rows(spark, rows, SAP_SHOW_SCHEMA)


def odp_odata_show(
    spark: SparkSession, base_url: str, http: HttpClient | None = None
) -> DataFrame:
    """ODP extractor entity sets: v2 catalog with ``$expand=EntitySets``,
    filtered to EntityOf*/FactsOf*/AttrOf* names; one row per entity set."""
    client = _http_for(base_url, http)
    url = (
        base_url.rstrip("/")
        + V2_CATALOG_PATH
        + "?$expand=EntitySets&$format=json"
    )
    doc = client.get(url).raise_for_status().json()
    rows: list[tuple] = []
    for entry in doc.get("d", {}).get("results", []):
        service_id = entry.get("ID") or ""
        if not service_id:
            continue
        service_desc = entry.get("Description") or entry.get("Title") or ""
        service_url = entry.get("ServiceUrl") or ""
        entity_sets = (entry.get("EntitySets") or {}).get("results", [])
        for es in entity_sets:
            es_id = es.get("ID") or ""
            if not es_id.upper().startswith(_ODP_PREFIXES):
                continue
            es_url = service_url.rstrip("/") + "/" + es_id if service_url else es_id
            rows.append(
                (service_id, service_desc, es_id, es.get("Description") or "", es_url, True)
            )
    return local_rows(spark, rows, ODP_SHOW_SCHEMA)
