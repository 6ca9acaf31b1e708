"""HTTP table functions: ``http_get/head/post/put/patch/delete`` and the
bulk per-row request operator.

Reference surface (SURVEY.md §2.A A1-A3): each verb yields ONE row with
the fixed 6-column schema {method, status, url, headers MAP, content_type,
content} (src/http_client.cpp:825-840; registration
src/erpl_web_extension.cpp:259-351). The reference's bulk idiom — LATERAL
join over a table of request parameters (README.md:753-780) — maps to
``http_call``: a ``sources.bulk.fan_out`` that sends one request per
input row on the executors (partition-parallel fan-out, the scalable
shape for millions of calls; one keep-alive client per task). A body is
sent as its ``body_col`` cell holds it; the JSON writers encode theirs
with ``core.jsonwire`` (UTC ``Z`` instants, base64 binary, NaN rejected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.core.secrets import default_registry
from erpl_web_spark.sources.bulk import each_row, fan_out

HTTP_RESPONSE_SCHEMA = StructType(
    [
        StructField("method", StringType(), False),
        StructField("status", IntegerType(), True),
        StructField("url", StringType(), False),
        StructField("headers", MapType(StringType(), StringType()), True),
        StructField("content_type", StringType(), True),
        StructField("content", StringType(), True),
    ]
)


def _do_request(
    client: HttpClient,
    method: str,
    url: str,
    headers: dict[str, str] | None,
    body: str | None,
    content_type: str | None,
) -> tuple:
    resp = client.request(method, url, headers=headers, body=body, content_type=content_type)
    return (
        resp.method,
        resp.status,
        resp.url,
        resp.headers,
        resp.content_type,
        resp.text,
    )


def _single(spark: SparkSession, method: str, url: str, headers=None, body=None,
            content_type=None, timeout: float = 30.0) -> DataFrame:
    client = HttpClient(default_registry.auth_headers_for_url(url), timeout_s=timeout)
    row = _do_request(client, method, url, headers, body, content_type)
    return local_rows(spark, [row], HTTP_RESPONSE_SCHEMA)


def http_get(spark, url, headers=None, timeout: float = 30.0) -> DataFrame:
    return _single(spark, "GET", url, headers, timeout=timeout)


def http_head(spark, url, headers=None, timeout: float = 30.0) -> DataFrame:
    return _single(spark, "HEAD", url, headers, timeout=timeout)


def http_post(spark, url, body="", content_type="application/json", headers=None) -> DataFrame:
    return _single(spark, "POST", url, headers, body, content_type)


def http_put(spark, url, body="", content_type="application/json", headers=None) -> DataFrame:
    return _single(spark, "PUT", url, headers, body, content_type)


def http_patch(spark, url, body="", content_type="application/json", headers=None) -> DataFrame:
    return _single(spark, "PATCH", url, headers, body, content_type)


def http_delete(spark, url, headers=None) -> DataFrame:
    return _single(spark, "DELETE", url, headers)


def http_call(
    df: DataFrame,
    url_col: str = "url",
    method: str = "GET",
    body_col: str | None = None,
    content_type: str = "application/json",
    extra_headers: dict[str, str] | None = None,
    auth_headers: dict[str, str] | None = None,
    keep_cols: list[str] | None = None,
    max_rps_per_task: float | None = None,
) -> DataFrame:
    """Bulk request fan-out: one HTTP call per input row, executed on the
    executors (the reference's LATERAL-join bulk-write idiom, B1/B2).

    Returns the input ``keep_cols`` plus the 6 response columns. One
    keep-alive HttpClient per task; partition-parallel.

    ``max_rps_per_task`` throttles each task to that many requests per
    second (cluster-wide ceiling = value × number of concurrent tasks;
    repartition the input to bound that product). Without it, a
    1000-executor fan-out is a self-inflicted denial of service on the
    target API — the retry ladder handles the resulting 429s, but
    pacing beats retrying.
    """
    headers = dict(extra_headers or {})
    auth = dict(auth_headers or {})

    def start():
        client = HttpClient(auth_headers=auth)
        return each_row(
            lambda r: _do_request(
                client, method, r[url_col], headers,
                r[body_col] if body_col else None, content_type if body_col else None,
            ),
            max_rps_per_task,
        )

    return fan_out(df, HTTP_RESPONSE_SCHEMA, start, keep_cols)
