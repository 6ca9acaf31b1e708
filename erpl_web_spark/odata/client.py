"""OData service client: probe, version detection, metadata fetch/cache,
page iteration.

Reference lifecycle (SURVEY.md §3.1): bind probes the URL once to
classify service-root vs entity-set and detect the protocol version
(odata_client.cpp:642-791, 827-845), fetches + caches the $metadata EDMX
(EdmCache, odata_client.cpp:56-63), then the scan follows next-page links
until absent (odata_content.cpp:1072-1100). A non-2xx status raises
``core.http.HttpStatusError``, re-exported here.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from erpl_web_spark.core.http import HttpClient, HttpResponse, HttpStatusError  # noqa: F401
from erpl_web_spark.core.url import HttpUrl
from erpl_web_spark.odata.edm import EdmModel
from erpl_web_spark.odata.json_decode import extract_rows_payload, next_link


# Process-wide EDMX cache keyed by metadata URL (mirrors EdmCache).
_EDM_CACHE: dict[str, EdmModel] = {}


def detect_version(doc: Any, headers: dict[str, str] | None = None) -> int:
    """Detect OData v2 vs v4 from payload shape / headers
    (odata_client.cpp:827-845; odata_content.cpp:21-91)."""
    if headers:
        for k, v in headers.items():
            lk = k.lower()
            if lk == "odata-version":
                return 2 if v.strip().startswith(("1", "2", "3")) else 4
            if lk == "dataserviceversion":
                return 2
    if isinstance(doc, dict):
        if "d" in doc:
            return 2
        if "@odata.context" in doc or "@odata.nextLink" in doc or "value" in doc:
            return 4
    return 4


def looks_like_service_root_url(url: str) -> bool:
    """URL heuristic for service-root vs entity-set
    (odata_read_functions.cpp:547-567)."""
    path = HttpUrl.parse(url).path.rstrip("/")
    last = path.rsplit("/", 1)[-1]
    return last in ("", "odata") or last.endswith(".svc") or last.lower() in ("v1", "v2", "v3", "v4")


class ODataClient:
    def __init__(self, url: str, http: HttpClient | None = None):
        self.url = url
        self.http = http or HttpClient()
        self._version: int | None = None
        self._probe_doc: Any = None

    # -- probe / classify --------------------------------------------------

    def probe(self) -> dict:
        """One GET to classify the URL and capture the first page."""
        resp = self.http.get(self.url, headers={"Accept": "application/json"})
        doc = resp.raise_for_status().json()
        self._probe_doc = doc
        self._version = detect_version(doc, resp.headers)
        return doc

    @property
    def version(self) -> int:
        if self._version is None:
            self.probe()
        return self._version

    def is_service_root(self) -> bool:
        doc = self._probe_doc if self._probe_doc is not None else self.probe()
        if isinstance(doc, dict):
            rows = extract_rows_payload(doc)
            if rows and all(isinstance(r, dict) and set(r) <= {"name", "kind", "url", "title"} for r in rows):
                return True
        return looks_like_service_root_url(self.url)

    # -- metadata ----------------------------------------------------------

    def metadata_url(self) -> str:
        u = HttpUrl.parse(self.url)
        path = u.path.rstrip("/")
        # $metadata lives at the service root: strip the entity-set segment
        # unless the URL already is a service root.
        if looks_like_service_root_url(self.url):
            root = path
        else:
            root = path.rpartition("/")[0]
        u.path = root + "/$metadata"
        u.query = ""
        return u.to_string()

    def entity_set_name(self) -> str:
        path = HttpUrl.parse(self.url).path.rstrip("/")
        last = path.rsplit("/", 1)[-1]
        return last.split("(")[0]  # strip key/parameter segment

    def get_model(self) -> EdmModel:
        murl = self.metadata_url()
        if murl not in _EDM_CACHE:
            resp = self.http.get(murl, headers={"Accept": "application/xml"})
            _EDM_CACHE[murl] = EdmModel.from_xml(resp.raise_for_status().text)
        return _EDM_CACHE[murl]

    # -- pagination --------------------------------------------------------

    def pages(
        self, url: str | None = None, headers: dict[str, str] | None = None
    ) -> Iterator[tuple[HttpResponse, Any]]:
        """The OData next-link walk (odata_content.cpp:1072-1100): yield
        each page's response and parsed document, starting at ``url``
        (default: the client URL) and resolving each next link against
        the page it came from. ``headers`` go on every page. Lazy: a
        consumer that stops early fetches no further page."""
        url = url or self.url
        headers = headers or {"Accept": "application/json"}
        while url:
            resp = self.http.get(url, headers=headers).raise_for_status()
            doc = resp.json()
            yield resp, doc
            link = next_link(doc)
            url = HttpUrl.parse(url).resolve(link).to_string() if link else None


def clear_edm_cache() -> None:
    _EDM_CACHE.clear()
