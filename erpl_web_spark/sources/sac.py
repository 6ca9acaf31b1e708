"""SAP Analytics Cloud connectors (reference A13-A14, src/sac_*.cpp).

The reference's discovery functions (sac_show_models/stories,
sac_get_model_info/story_info) are STUBS that return empty results
(README.md:560, sac_catalog.cpp) — reproduced faithfully here. The data
reads go through the SAC OData API (``/api/v1/odata/...``,
sac_url_builder.cpp:18) via the odata data source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.odata.datasource import ensure_registered


def sac_base_url(tenant: str, data_center: str = "eu10") -> str:
    return f"https://{tenant}.{data_center}.sapanalytics.cloud/api/v1/odata"


def sac_show_models(spark: SparkSession, base_url: str | None = None) -> DataFrame:
    """Stub returning an empty result (reference parity: README.md:560)."""
    return local_rows(spark, [], "model_id string, name string, description string")


def sac_show_stories(spark: SparkSession, base_url: str | None = None) -> DataFrame:
    """Stub returning an empty result (reference parity)."""
    return local_rows(spark, [], "story_id string, name string, description string")


def sac_get_model_info(spark: SparkSession, model_id: str) -> DataFrame:
    """Stub returning an empty result (reference parity)."""
    return local_rows(spark, [], "model_id string, info string")


def sac_get_story_info(spark: SparkSession, story_id: str) -> DataFrame:
    """Stub returning an empty result (reference parity)."""
    return local_rows(spark, [], "story_id string, info string")


def _odata_read(spark: SparkSession, url: str, top=None, skip=None, select=None) -> DataFrame:
    ensure_registered(spark)
    reader = spark.read.format("odata").option("url", url)
    if top is not None:
        reader = reader.option("top", str(top))
    if skip is not None:
        reader = reader.option("skip", str(skip))
    if select:
        reader = reader.option("select", ",".join(select))
    return reader.load()


def sac_read_planning_data(
    spark: SparkSession, base_url: str, model: str, top=None, skip=None
) -> DataFrame:
    return _odata_read(spark, f"{base_url.rstrip('/')}/planning/{model}", top, skip)


def sac_read_analytical(
    spark: SparkSession, base_url: str, model: str,
    dimensions: list[str] | None = None, measures: list[str] | None = None,
) -> DataFrame:
    select = list(dimensions or []) + list(measures or [])
    return _odata_read(
        spark, f"{base_url.rstrip('/')}/analytical/{model}", select=select or None
    )


def sac_read_story_data(spark: SparkSession, base_url: str, story: str) -> DataFrame:
    return _odata_read(spark, f"{base_url.rstrip('/')}/stories/{story}")
