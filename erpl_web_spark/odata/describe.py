"""``odata_describe(url)`` — metadata introspection as a small DataFrame.

Reference (A5, src/odata_describe_functions.cpp:253-266): one row with
{url, resource_type, entity_set_name, entity_type_name,
properties LIST<STRUCT>, navigation_properties LIST<STRUCT>,
entity_sets LIST<STRUCT>}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.core.secrets import default_registry
from erpl_web_spark.odata.client import ODataClient

_PROP = StructType(
    [
        StructField("name", StringType()),
        StructField("type", StringType()),
        StructField("nullable", StringType()),
    ]
)
_NAV = StructType(
    [
        StructField("name", StringType()),
        StructField("target_type", StringType()),
        StructField("is_collection", StringType()),
    ]
)
_SET = StructType(
    [
        StructField("name", StringType()),
        StructField("entity_type", StringType()),
        StructField("url", StringType()),
    ]
)

DESCRIBE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("resource_type", StringType()),
        StructField("odata_version", StringType()),
        StructField("entity_set_name", StringType()),
        StructField("entity_type_name", StringType()),
        StructField("properties", ArrayType(_PROP)),
        StructField("navigation_properties", ArrayType(_NAV)),
        StructField("entity_sets", ArrayType(_SET)),
    ]
)


def odata_describe(spark: SparkSession, url: str) -> DataFrame:
    client = ODataClient(
        url, HttpClient(auth_headers=default_registry.auth_headers_for_url(url))
    )
    model = client.get_model()
    is_root = client.is_service_root()
    version = str(client.version)

    sets = [
        (name, es.entity_type, url.rstrip("/") + "/" + name if is_root else None)
        for name, es in sorted(model.entity_sets.items())
    ]
    if is_root:
        row = (url, "service_root", version, None, None, None, None, sets)
    else:
        set_name = client.entity_set_name()
        es = model.entity_sets.get(set_name)
        type_name = es.entity_type if es else None
        props = [
            (p.name, p.type, str(p.nullable).lower())
            for p in (model._flattened_properties(type_name) if type_name else [])
        ]
        navs = [
            (n.name, n.target_type, str(n.is_collection).lower())
            for n in (model._nav_of(type_name) if type_name else [])
        ]
        row = (url, "entity_set", version, set_name, type_name, props, navs, sets)
    return local_rows(spark, [row], DESCRIBE_SCHEMA)
