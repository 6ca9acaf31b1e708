"""HTTP client with the reference's operational semantics.

Contract (see BASELINE.md and reference src/http_client.cpp):
- 3 retries on statuses 408/418/429/503/504 (http_client.hpp:90-97,
  http_client.cpp:1009-1050), each after ``retry_delay``: the server's
  ``Retry-After`` (seconds or an HTTP date, capped at 30 s), else the
  reference ladder of 100, 400 and 1600 ms. ``retry_delay`` is the one
  retry policy: Graph ``$batch`` waits by it between its rounds too;
- manual redirect handling: <=10 hops, same-origin keeps auth headers,
  cross-origin strips Authorization/Cookie, 301/302/303 -> GET, 307/308
  preserve method+body (http_client.cpp:946-1000);
- charset conversion utf-8 / iso-8859-1 / iso-8859-15 / windows-1252
  auto-detected from Content-Type (charset_converter.cpp:9-90);
- binary content tagged with a BINARY_CONTENT_BASE64: prefix for
  octet-stream/pdf/image/video/audio/font (http_client.cpp:875-900).

Transport is one urllib3 PoolManager per client: keep-alive connections
per host, matching the reference's per-host httplib client reuse. The
process environment is read once per client (and again after
unpickling, in the process that unpickles it): proxies and NO_PROXY
from ``urllib.request.getproxies()``, the CA bundle from
REQUESTS_CA_BUNDLE / CURL_CA_BUNDLE or certifi. Every request sends
``Accept: */*`` and ``Accept-Encoding: gzip, deflate`` unless the caller
sets them, and gzip bodies are decoded. There is no cookie jar and no
~/.netrc lookup; ``user:pass@`` in a URL becomes a Basic Authorization
header. Transport failures raise the builtin TimeoutError (connect or
read timeout) or ConnectionError (refused, reset, TLS, proxy), both
OSError subclasses. A response is returned whatever its status; every
connector turns a non-2xx one into ``HttpStatusError`` through
``HttpResponse.raise_for_status()`` (reference error mapping,
odata_read_functions.cpp:1983-2007). One HttpClient per executor task is
the intended usage pattern.
"""

from __future__ import annotations

import base64
import ipaddress
import os
import urllib.request
from collections.abc import Mapping
from dataclasses import dataclass
from datetime import datetime, timezone
from email.utils import parsedate_to_datetime
from time import sleep  # the one point a retry waits (core and $batch)
from urllib.parse import unquote, urlsplit

import urllib3
from urllib3.exceptions import (
    ConnectTimeoutError,
    NewConnectionError,
    ProtocolError,
    ProxyError,
    SSLError,
)

from erpl_web_spark.core.url import HttpUrl

RETRY_STATUSES = {408, 418, 429, 503, 504}
RETRIES = 3  # retries after the first attempt (reference http_client.hpp:90-97)
MAX_REDIRECTS = 10
RETRY_AFTER_CAP_S = 30.0
BINARY_PREFIX = "BINARY_CONTENT_BASE64:"
_BINARY_TYPES = (
    "application/octet-stream", "application/pdf", "image/", "video/",
    "audio/", "font/",
)
_SENSITIVE_HEADERS = {"authorization", "cookie", "proxy-authorization", "www-authenticate"}
_KNOWN_CHARSETS = {"utf-8", "iso-8859-1", "iso-8859-15", "windows-1252"}
_DEFAULT_HEADERS = {"Accept-Encoding": "gzip, deflate", "Accept": "*/*"}
# urllib3 failures that mean the request did not complete on the wire.
# NewConnectionError (refused, DNS) subclasses ConnectTimeoutError, and
# urllib3.exceptions.TimeoutError covers both connect and read timeouts.
_TRANSPORT_ERRORS = (urllib3.exceptions.TimeoutError, ProtocolError, SSLError, ProxyError)

# Magic-byte signatures (reference pattern_matcher.cpp:11-50): used when
# the server sends no usable Content-Type — content wins over headers.
_MAGIC_SIGNATURES = (
    b"\xff\xd8\xff",            # JPEG
    b"\x89PNG",                 # PNG
    b"GIF8",                    # GIF
    b"BM",                      # BMP
    b"RIFF",                    # WebP/WAV/AVI
    b"PK\x03\x04",              # ZIP / Office Open XML
    b"\x1f\x8b",                # GZIP
    b"\x28\xb5\x2f\xfd",        # Zstd
    b"Rar!",                    # RAR
    b"7z\xbc\xaf\x27\x1c",      # 7z
    b"%PDF",                    # PDF
    b"\xd0\xcf\x11\xe0",        # MS Office 97-2003
    b"\xff\xfb", b"\xff\xfa",   # MP3
    b"ID3",                     # MP3 with ID3 tag
    b"\x1a\x45\xdf\xa3",        # WebM/Matroska
    b"OggS",                    # Ogg
    b"fLaC",                    # FLAC
    b"\x7fELF",                 # ELF
    b"PAR1",                    # Parquet
)


def sniff_binary(raw: bytes) -> bool:
    """Magic-byte + NUL heuristic for untyped payloads (reference
    PatternMatcher::IsBinaryContent / MatchesBinarySignature)."""
    if not raw:
        return False
    if any(raw.startswith(m) for m in _MAGIC_SIGNATURES):
        return True
    if raw[4:8] == b"ftyp":        # MP4/MOV: signature at offset 4
        return True
    if raw[257:262] == b"ustar":   # TAR: signature at offset 257
        return True
    return b"\x00" in raw[:1024]   # NUL in the head: not text


_IDEMPOTENT_METHODS = {"GET", "HEAD", "OPTIONS"}


def retry_delay(attempt: int, headers: Mapping | None = None) -> float:
    """Seconds to wait before retry ``attempt`` (1-based), for a
    throttled response or subresponse with ``headers``, or for a
    transport error (no headers). A ``Retry-After`` header, in any case,
    is honoured in either form, delta-seconds or an HTTP date (a past one
    is 0), up to 30 s. Without one that parses, the reference ladder:
    0.1 × 4^(attempt-1) s, i.e. 100, 400, 1600 ms
    (http_client.cpp:1046-1050)."""
    value = next(
        (str(v).strip() for k, v in (headers or {}).items() if k.lower() == "retry-after"), ""
    )
    if value.isdecimal():
        return min(float(value), RETRY_AFTER_CAP_S)
    try:
        when = parsedate_to_datetime(value)
    except ValueError:
        return 0.1 * 4 ** (attempt - 1)
    if when.tzinfo is None:  # asctime form: GMT without a zone
        when = when.replace(tzinfo=timezone.utc)
    seconds = (when - datetime.now(timezone.utc)).total_seconds()
    return min(max(seconds, 0.0), RETRY_AFTER_CAP_S)


def redact(url: str) -> str:
    """``url`` without its ``user:pass@`` userinfo, for error text. Query
    values stay: ``$skiptoken`` and ``!deltatoken`` paging links are not
    credentials."""
    parts = urlsplit(url)
    if "@" not in parts.netloc:
        return url
    return parts._replace(netloc=parts.netloc.rpartition("@")[2]).geturl()


class HttpStatusError(RuntimeError):
    """A response whose status is not 2xx. ``status`` and ``url`` (its
    userinfo redacted) let callers branch on it (ODP's expired-token
    reload, Graph's 410). A GET reads ``HTTP {status} fetching {url}``;
    any other method names itself and keeps the head of the response
    body, the server's reason."""

    def __init__(self, status: int, url: str, method: str = "GET", body: str = ""):
        url, body = redact(url), body[:200]
        if method == "GET":
            msg = f"HTTP {status} fetching {url}"
        else:
            msg = f"HTTP {status} from {method} {url}" + (f": {body}" if body else "")
        if status in (401, 403):
            msg += " (provide a secret scoped to this URL)"
        super().__init__(msg)
        self.status, self.url, self.method, self.body = status, url, method, body

    def __reduce__(self):
        # rebuilt from what __init__ takes; the state keeps a message a
        # caller rewrote (the SAP catalog's both-endpoints error)
        return type(self), (self.status, self.url, self.method, self.body), {"args": self.args}


@dataclass
class HttpResponse:
    method: str
    status: int
    url: str
    headers: dict[str, str]
    content_type: str
    raw: bytes

    @property
    def text(self) -> str:
        """Decoded text content with reference charset + binary handling."""
        charset = "utf-8"
        ct = self.content_type.lower()
        if "charset=" in ct:
            cand = ct.split("charset=", 1)[1].split(";")[0].strip().strip('"')
            if cand in _KNOWN_CHARSETS:
                charset = cand
        if any(ct.startswith(b) for b in _BINARY_TYPES):
            return BINARY_PREFIX + base64.b64encode(self.raw).decode("ascii")
        if not ct and sniff_binary(self.raw):
            # No Content-Type at all: sniff magic bytes so a PNG from a
            # header-less server doesn't get mojibake'd into "text".
            return BINARY_PREFIX + base64.b64encode(self.raw).decode("ascii")
        return self.raw.decode(charset, errors="replace")

    def json(self):
        import json

        return json.loads(self.text)

    def raise_for_status(self) -> HttpResponse:
        """``self`` on a 2xx status, else raise ``HttpStatusError``. The
        client follows redirects itself, so a 3xx here is one it could
        not follow, and its body is not data."""
        if 200 <= self.status < 300:
            return self
        raise HttpStatusError(self.status, self.url, self.method, self.text)


def _basic_auth(userinfo: str) -> str:
    """``user:pass`` (percent-encoded, as in a URL) -> Basic credentials."""
    user, _, password = userinfo.partition(":")
    token = f"{unquote(user)}:{unquote(password)}".encode("latin-1")
    return "Basic " + base64.b64encode(token).decode("ascii")


class _Environment:
    """Proxy and TLS settings read from the process environment once."""

    def __init__(self):
        proxies = urllib.request.getproxies()
        self.no_proxy = proxies.pop("no", "")
        self.proxies = {
            k: v if "://" in v else "http://" + v for k, v in proxies.items() if v
        }
        self.no_proxy_nets = []
        for entry in self.no_proxy.split(","):
            try:
                self.no_proxy_nets.append(ipaddress.ip_network(entry.strip(), strict=False))
            except ValueError:
                pass
        ca = os.environ.get("REQUESTS_CA_BUNDLE") or os.environ.get("CURL_CA_BUNDLE")
        if not ca:
            try:
                import certifi

                ca = certifi.where()
            except ImportError:  # urllib3 falls back to the system store
                ca = None
        self.tls = {"cert_reqs": "CERT_REQUIRED"}
        if ca:
            self.tls["ca_cert_dir" if os.path.isdir(ca) else "ca_certs"] = ca

    def proxy_for(self, url: str) -> str | None:
        if not self.proxies:
            return None
        parts = urlsplit(url)
        host = parts.hostname or ""
        proxy = self.proxies.get(parts.scheme) or self.proxies.get("all")
        if proxy is None or urllib.request.proxy_bypass_environment(
            host, {"no": self.no_proxy}
        ):
            return None
        try:
            ip = ipaddress.ip_address(host)
        except ValueError:
            return proxy
        return None if any(ip in net for net in self.no_proxy_nets) else proxy


class HttpClient:
    def __init__(self, auth_headers: dict[str, str] | None = None, timeout_s: float = 30.0):
        self.auth_headers = dict(auth_headers or {})
        self.timeout_s = timeout_s
        self._env = _Environment()
        self._pools: dict[str | None, urllib3.PoolManager] = {}

    def __getstate__(self):
        # Pools hold locks and sockets; the unpickling process reads its
        # own environment and opens its own connections on first use.
        state = self.__dict__.copy()
        del state["_env"], state["_pools"]
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._env = _Environment()
        self._pools = {}

    def get(self, url: str, headers: dict[str, str] | None = None) -> HttpResponse:
        return self.request("GET", url, headers=headers)

    def request(
        self,
        method: str,
        url: str,
        headers: dict[str, str] | None = None,
        body: bytes | str | None = None,
        content_type: str | None = None,
    ) -> HttpResponse:
        current_method = method
        current_url = url
        current_body = body
        send_auth = True
        origin = HttpUrl.parse(url)
        for _hop in range(MAX_REDIRECTS + 1):
            resp = self._request_with_retries(
                current_method, current_url, headers or {}, current_body, content_type, send_auth
            )
            if resp.status in (301, 302, 303, 307, 308):
                location = resp.headers.get("Location") or resp.headers.get("location")
                if not location:
                    return resp
                target = HttpUrl.parse(current_url).resolve(location)
                # Cross-origin redirects must not leak credentials.
                send_auth = origin.equivalent_origin(target)
                if resp.status in (301, 302, 303) and current_method not in ("GET", "HEAD"):
                    current_method, current_body = "GET", None
                current_url = target.to_string()
                continue
            return resp
        raise RuntimeError(f"redirect limit ({MAX_REDIRECTS}) exceeded for {redact(url)}")

    def _pool(self, url: str) -> urllib3.PoolManager:
        proxy = self._env.proxy_for(url)
        pool = self._pools.get(proxy)
        if pool is None:
            # maxsize: idle keep-alive connections kept per host, as
            # requests' HTTPAdapter did for concurrent callers.
            if proxy is None:
                pool = urllib3.PoolManager(maxsize=10, **self._env.tls)
            else:
                userinfo = urlsplit(proxy).netloc.rpartition("@")[0]
                auth = {"Proxy-Authorization": _basic_auth(userinfo)} if userinfo else None
                pool = urllib3.ProxyManager(
                    proxy, maxsize=10, proxy_headers=auth, **self._env.tls
                )
            self._pools[proxy] = pool
        return pool

    def _request_with_retries(self, method, url, headers, body, content_type, send_auth):
        hdrs = urllib3.HTTPHeaderDict(_DEFAULT_HEADERS)
        if send_auth:
            hdrs.update(headers)
            hdrs.update(self.auth_headers)
        else:
            hdrs.update({k: v for k, v in headers.items() if k.lower() not in _SENSITIVE_HEADERS})
        if content_type:
            hdrs["Content-Type"] = content_type
        userinfo = urlsplit(url).netloc.rpartition("@")[0] if "@" in url else ""
        if userinfo:
            hdrs["Authorization"] = _basic_auth(userinfo)
        if isinstance(body, str):
            body = body.encode("utf-8")
        pool = self._pool(url)

        attempt = 0
        while True:
            attempt += 1
            try:
                r = pool.urlopen(
                    method,
                    url,
                    body=body,
                    headers=hdrs,
                    timeout=self.timeout_s,
                    redirect=False,
                    retries=False,
                )
            except _TRANSPORT_ERRORS as e:
                # A connect timeout means nothing was delivered, so every
                # method is safe to retry. A read timeout, refusal or
                # dropped connection may follow a request the server
                # already processed; retrying a mutation would duplicate
                # its side effects. Those retry only idempotent methods
                # (reference timeout_http_client.cpp wraps requests in a
                # deadline for the hung-server case).
                refused = isinstance(e, NewConnectionError)  # DNS failures too
                timed_out = isinstance(e, urllib3.exceptions.TimeoutError) and not refused
                retryable = (
                    timed_out and isinstance(e, ConnectTimeoutError)
                ) or method.upper() in _IDEMPOTENT_METHODS
                if not retryable or attempt > RETRIES:
                    raise (TimeoutError if timed_out else ConnectionError)(
                        f"{method} {redact(url)}: {e}"
                    ) from e
                sleep(retry_delay(attempt))
                continue
            if r.status in RETRY_STATUSES and attempt <= RETRIES:
                sleep(retry_delay(attempt, r.headers))
                continue
            return HttpResponse(
                method=method,
                status=r.status,
                url=url,
                headers=dict(r.headers.itermerged()),
                content_type=r.headers.get("Content-Type", ""),
                raw=r.data if method != "HEAD" else b"",
            )
