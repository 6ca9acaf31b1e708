"""HTTP table functions: ``http_get/head/post/put/patch/delete`` and the
bulk per-row request operator.

Reference surface (SURVEY.md §2.A A1-A3): each verb yields ONE row with
the fixed 6-column schema {method, status, url, headers MAP, content_type,
content} (src/http_client.cpp:825-840; registration
src/erpl_web_extension.cpp:259-351). The reference's bulk idiom — LATERAL
join over a table of request parameters (README.md:753-780) — maps to
``http_call``: an Arrow-batched mapInPandas that issues one request per
input row on the executors (partition-parallel fan-out, the scalable
shape for millions of calls; per-executor Sessions reuse connections).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from erpl_web_spark.core.http import HttpClient, RetryConfig
from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.core.secrets import default_registry

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
    client = HttpClient(
        retry=RetryConfig(timeout_s=timeout),
        auth_headers=default_registry.auth_headers_for_url(url),
    )
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
    HttpClient (keep-alive Session) per Arrow batch; partition-parallel.

    ``max_rps_per_task`` throttles each task to that many requests per
    second (cluster-wide ceiling = value × number of concurrent tasks;
    repartition the input to bound that product). Without it, a
    1000-executor fan-out is a self-inflicted denial of service on the
    target API — the retry ladder handles the resulting 429s, but
    pacing beats retrying.
    """
    keep = keep_cols or []
    out_schema = StructType(
        [df.schema[c] for c in keep] + list(HTTP_RESPONSE_SCHEMA.fields)
    )
    headers = dict(extra_headers or {})
    auth = dict(auth_headers or {})
    min_interval = 1.0 / max_rps_per_task if max_rps_per_task else 0.0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        client = HttpClient(auth_headers=auth)
        next_slot = 0.0
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if min_interval:
                    now = _time.monotonic()
                    if now < next_slot:
                        _time.sleep(next_slot - now)
                    next_slot = max(now, next_slot) + min_interval
                body = r[body_col] if body_col else None
                resp = _do_request(
                    client, method, r[url_col], headers, body,
                    content_type if body_col else None,
                )
                rows.append(tuple(r[c] for c in keep) + resp)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(run, schema=out_schema)
