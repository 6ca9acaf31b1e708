"""Microsoft Dataverse (Dynamics CRM) Web API connectors (reference A24,
src/dataverse_functions.cpp). Base: ``https://{org}.crm.dynamics.com/api/data/v9.2``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.core.secrets import default_registry
from erpl_web_spark.odata.client import ODataClient
from erpl_web_spark.odata.datasource import ensure_registered


def dataverse_base_url(org: str, host_suffix: str = "crm.dynamics.com") -> str:
    return f"https://{org}.{host_suffix}/api/data/v9.2"


class DataverseClient:
    def __init__(self, base_url: str, http: HttpClient | None = None):
        self.base_url = base_url.rstrip("/")
        self.http = http or HttpClient(
            auth_headers=default_registry.auth_headers_for_url(self.base_url)
        )


def crm_show_entities(spark: SparkSession, client: DataverseClient) -> DataFrame:
    model = ODataClient(client.base_url + "/", client.http).get_model()
    rows = [(name, es.entity_type) for name, es in sorted(model.entity_sets.items())]
    return local_rows(spark, rows, "name string, entity_type string")


def crm_describe(spark: SparkSession, client: DataverseClient, entity: str) -> DataFrame:
    from erpl_web_spark.odata.describe import odata_describe

    return odata_describe(spark, f"{client.base_url}/{entity}")


def crm_read(spark: SparkSession, client: DataverseClient, entity: str) -> DataFrame:
    ensure_registered(spark)
    return spark.read.format("odata").option("url", f"{client.base_url}/{entity}").load()
