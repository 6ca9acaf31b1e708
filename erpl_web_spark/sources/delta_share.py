"""Delta Sharing connector.

Reference (A15/A16, src/delta_share_client.cpp, delta_share_scan.cpp):
- profile JSON {shareCredentialsVersion, endpoint, bearerToken} loaded
  from a local path or URL (delta_share_client.cpp:17-59);
- REST catalog: GET /shares, /shares/{s}/schemas,
  /shares/{s}/schemas/{sc}/tables (:283-332);
- scan: POST .../tables/{t}/query -> NDJSON lines (protocol, metaData
  with schemaString, then one line per data file with a pre-signed URL)
  (:334-352, 551); each file is then read as Parquet.

Spark mapping: the pre-signed URL list goes straight to
``spark.read.parquet(*urls)`` — Spark parallelizes per file/row-group
natively (the reference hand-rolls a thread pool + atomic work claim for
this, delta_share_scan.cpp:203-265; Catalyst gives it for free). The
Delta ``schemaString`` IS Spark's own schema JSON dialect, so
``StructType.fromJson`` preserves nested/map/decimal types the reference
downgrades to VARCHAR (delta_share_client.cpp:823-849).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from erpl_web_spark.core import jsonwire
from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.localframe import local_rows


@dataclass
class DeltaShareProfile:
    endpoint: str
    bearer_token: str
    share_credentials_version: int = 1

    @classmethod
    def load(cls, path_or_url: str, http: HttpClient | None = None) -> "DeltaShareProfile":
        if path_or_url.startswith(("http://", "https://")):
            doc = (http or HttpClient()).get(path_or_url).raise_for_status().json()
        else:
            with open(path_or_url) as f:
                doc = json.load(f)
        return cls(
            endpoint=doc["endpoint"].rstrip("/"),
            bearer_token=doc.get("bearerToken", ""),
            share_credentials_version=int(doc.get("shareCredentialsVersion", 1)),
        )


class DeltaShareClient:
    def __init__(self, profile: DeltaShareProfile, http: HttpClient | None = None):
        self.profile = profile
        self.http = http or HttpClient(
            auth_headers={"Authorization": f"Bearer {profile.bearer_token}"}
        )

    def _get_items(self, path: str) -> list[dict]:
        url = f"{self.profile.endpoint}{path}"
        resp = self.http.get(url, headers={"Accept": "application/json"})
        return resp.raise_for_status().json().get("items", [])

    def list_shares(self) -> list[str]:
        return [i["name"] for i in self._get_items("/shares")]

    def list_schemas(self, share: str) -> list[str]:
        return [i["name"] for i in self._get_items(f"/shares/{share}/schemas")]

    def list_tables(self, share: str, schema: str) -> list[str]:
        return [
            i["name"] for i in self._get_items(f"/shares/{share}/schemas/{schema}/tables")
        ]

    def query_table(
        self, share: str, schema: str, table: str
    ) -> tuple[StructType, list[str]]:
        """POST the query endpoint; parse NDJSON -> (schema, file URLs)."""
        url = f"{self.profile.endpoint}/shares/{share}/schemas/{schema}/tables/{table}/query"
        resp = self.http.request(
            "POST", url, body=jsonwire.dumps({}), content_type="application/json"
        ).raise_for_status()
        schema_struct: StructType | None = None
        files: list[str] = []
        for line in resp.text.splitlines():
            line = line.strip()
            if not line:
                continue
            doc = json.loads(line)
            if "metaData" in doc:
                schema_struct = StructType.fromJson(
                    json.loads(doc["metaData"]["schemaString"])
                )
            elif "file" in doc:
                files.append(doc["file"]["url"])
        if schema_struct is None:
            raise RuntimeError(f"no metaData line in Delta Sharing response from {url}")
        return schema_struct, files


def delta_share_scan(
    spark: SparkSession, profile: str | DeltaShareProfile, share: str, schema: str, table: str
) -> DataFrame:
    """Scan a shared table: file list -> native parallel Parquet read."""
    prof = profile if isinstance(profile, DeltaShareProfile) else DeltaShareProfile.load(profile)
    client = DeltaShareClient(prof)
    table_schema, files = client.query_table(share, schema, table)
    if not files:
        return local_rows(spark, [], table_schema)
    return spark.read.schema(table_schema).parquet(*files)


def delta_share_show(spark: SparkSession, profile: str | DeltaShareProfile) -> DataFrame:
    """Catalog discovery: one row per (share, schema, table)."""
    prof = profile if isinstance(profile, DeltaShareProfile) else DeltaShareProfile.load(profile)
    client = DeltaShareClient(prof)
    rows = []
    for sh in client.list_shares():
        for sc in client.list_schemas(sh):
            for t in client.list_tables(sh, sc):
                rows.append((sh, sc, t))
    return local_rows(spark, rows, "share string, schema string, table string")


def _prof(profile: str | DeltaShareProfile) -> DeltaShareProfile:
    return profile if isinstance(profile, DeltaShareProfile) else DeltaShareProfile.load(profile)


def delta_share_show_shares(
    spark: SparkSession, profile: str | DeltaShareProfile
) -> DataFrame:
    """Reference ``delta_share_show_shares(profile)`` parity
    (delta_share_client.cpp:283-332): one row per share name."""
    return local_rows(
        spark,
        [(s,) for s in DeltaShareClient(_prof(profile)).list_shares()],
        "share_name string",
    )


def delta_share_show_schemas(
    spark: SparkSession, profile: str | DeltaShareProfile, share: str
) -> DataFrame:
    """Reference ``delta_share_show_schemas(profile, share)`` parity."""
    return local_rows(
        spark,
        [(share, s) for s in DeltaShareClient(_prof(profile)).list_schemas(share)],
        "share_name string, schema_name string",
    )


def delta_share_show_tables(
    spark: SparkSession, profile: str | DeltaShareProfile, share: str, schema: str
) -> DataFrame:
    """Reference ``delta_share_show_tables(profile, share, schema)`` parity."""
    return local_rows(
        spark,
        [(share, schema, t)
         for t in DeltaShareClient(_prof(profile)).list_tables(share, schema)],
        "share_name string, schema_name string, table_name string",
    )
