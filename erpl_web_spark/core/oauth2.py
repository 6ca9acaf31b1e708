"""OAuth2 flows (reference H7, src/oauth2_flow_v2.cpp, oauth2_server.cpp).

Implemented:
- client-credentials grant (the reference's non-interactive path);
- refresh-token grant, with tokens persisted back into the secret
  registry (reference persists into the DuckDB secret,
  oauth2_flow_v2.cpp:198+);
- PKCE helpers (code_verifier/challenge, S256) and the authorization-URL
  builder for the interactive authorization-code flow;
- the interactive authorization-code flow end-to-end: a one-shot
  localhost redirect catcher (reference oauth2_server.cpp:33-200) plus
  the orchestration that opens the browser, waits for the code,
  validates state, and redeems it with the stored PKCE verifier
  (reference oauth2_flow_v2.cpp:54-120).
"""

from __future__ import annotations

import base64
import hashlib
import secrets as pysecrets
import threading
import time
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, HTTPServer
from typing import Callable
from urllib.parse import parse_qsl, urlencode, urlsplit

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.secrets import Secret, SecretRegistry


def generate_code_verifier(length: int = 64) -> str:
    return base64.urlsafe_b64encode(pysecrets.token_bytes(length)).decode().rstrip("=")[:128]


def code_challenge_s256(verifier: str) -> str:
    digest = hashlib.sha256(verifier.encode()).digest()
    return base64.urlsafe_b64encode(digest).decode().rstrip("=")


def authorization_url(
    authorize_endpoint: str,
    client_id: str,
    redirect_uri: str,
    scope: str = "",
    code_challenge: str | None = None,
    state: str | None = None,
) -> str:
    params = {
        "response_type": "code",
        "client_id": client_id,
        "redirect_uri": redirect_uri,
    }
    if scope:
        params["scope"] = scope
    if code_challenge:
        params["code_challenge"] = code_challenge
        params["code_challenge_method"] = "S256"
    if state:
        params["state"] = state
    return f"{authorize_endpoint}?{urlencode(params)}"


@dataclass
class TokenResponse:
    access_token: str
    refresh_token: str | None
    expires_at: float
    token_type: str = "Bearer"

    @property
    def expired(self) -> bool:
        return time.time() >= self.expires_at - 30  # 30s clock-skew guard


class OAuth2Client:
    def __init__(self, token_endpoint: str, client_id: str,
                 client_secret: str | None = None, http: HttpClient | None = None):
        self.token_endpoint = token_endpoint
        self.client_id = client_id
        self.client_secret = client_secret
        self.http = http or HttpClient()

    def _token_request(self, form: dict[str, str]) -> TokenResponse:
        body = urlencode(form)
        resp = self.http.request(
            "POST", self.token_endpoint, body=body,
            content_type="application/x-www-form-urlencoded",
        )
        doc = resp.raise_for_status().json()
        return TokenResponse(
            access_token=doc["access_token"],
            refresh_token=doc.get("refresh_token"),
            expires_at=time.time() + float(doc.get("expires_in", 3600)),
            token_type=doc.get("token_type", "Bearer"),
        )

    def client_credentials(self, scope: str = "") -> TokenResponse:
        form = {"grant_type": "client_credentials", "client_id": self.client_id}
        if self.client_secret:
            form["client_secret"] = self.client_secret
        if scope:
            form["scope"] = scope
        return self._token_request(form)

    def refresh(self, refresh_token: str) -> TokenResponse:
        form = {
            "grant_type": "refresh_token",
            "refresh_token": refresh_token,
            "client_id": self.client_id,
        }
        if self.client_secret:
            form["client_secret"] = self.client_secret
        return self._token_request(form)

    def exchange_code(
        self, code: str, redirect_uri: str, code_verifier: str | None = None
    ) -> TokenResponse:
        form = {
            "grant_type": "authorization_code",
            "code": code,
            "redirect_uri": redirect_uri,
            "client_id": self.client_id,
        }
        if code_verifier:
            form["code_verifier"] = code_verifier
        if self.client_secret:
            form["client_secret"] = self.client_secret
        return self._token_request(form)


_SUCCESS_HTML = (
    "<!DOCTYPE html><html><body><h1>Authorization successful</h1>"
    "<p>You can close this window and return to the application.</p>"
    "</body></html>"
)
_ERROR_HTML = (
    "<!DOCTYPE html><html><body><h1>Authorization failed</h1>"
    "<p>{error}: {description}</p></body></html>"
)


class OAuth2CallbackServer:
    """One-shot loopback redirect catcher for the interactive
    authorization-code flow (reference oauth2_server.cpp:33-200:
    StartAndWaitForCode / WaitForCallback).

    Binds 127.0.0.1 (ephemeral port by default), waits for the IdP
    redirect, validates ``state`` (CSRF guard), answers the browser with
    a small HTML page, and hands the authorization code back. An
    ``error`` callback or a state mismatch raises.
    """

    def __init__(self, port: int = 0, host: str = "127.0.0.1"):
        self._result: dict = {}
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):
                parts = urlsplit(self.path)
                if parts.path != "/callback":
                    # Stray GETs (browser prefetch, /favicon.ico, port
                    # scanners) must not be mistaken for the IdP redirect
                    # — answering 404 and continuing to wait keeps the
                    # one-shot flow alive for the real callback.
                    data = b"not found"
                    self.send_response(404)
                    self.send_header("Content-Type", "text/plain")
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                    return
                params = dict(parse_qsl(parts.query))
                outer._result = params
                if "code" in params and params.get("state") == outer._expected_state:
                    body, status = _SUCCESS_HTML, 200
                else:
                    body, status = (
                        _ERROR_HTML.format(
                            error=params.get("error", "invalid_callback"),
                            description=params.get(
                                "error_description", "missing code or bad state"
                            ),
                        ),
                        400,
                    )
                data = body.encode()
                self.send_response(status)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._server = HTTPServer((host, port), _Handler)
        self._expected_state: str | None = None

    @property
    def redirect_uri(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/callback"

    def wait_for_code(self, expected_state: str, timeout: float = 180.0) -> str:
        """Serve until the redirect arrives (or timeout); return the code."""
        self._expected_state = expected_state
        self._server.timeout = timeout
        deadline = time.time() + timeout
        try:
            while not self._result:
                if time.time() >= deadline:
                    raise TimeoutError("timed out waiting for OAuth2 redirect")
                self._server.handle_request()
        finally:
            self._server.server_close()
        if "error" in self._result:
            raise RuntimeError(
                "OAuth2 authorization failed: "
                f"{self._result['error']}: {self._result.get('error_description', '')}"
            )
        if "code" not in self._result:
            raise RuntimeError("OAuth2 redirect carried no authorization code")
        if self._result.get("state") != expected_state:
            raise RuntimeError("OAuth2 state mismatch (possible CSRF) — code rejected")
        return self._result["code"]


def authorization_code_flow(
    client: OAuth2Client,
    authorize_endpoint: str,
    scope: str = "",
    port: int = 0,
    open_url: Callable[[str], object] | None = None,
    timeout: float = 180.0,
) -> TokenResponse:
    """Interactive authorization-code + PKCE flow, end-to-end (reference
    oauth2_flow_v2.cpp:54-120 ExecuteFlow): generate verifier/challenge/
    state, open the browser at the authorization URL, catch the loopback
    redirect, validate state, redeem the code with the stored verifier.

    ``open_url`` defaults to ``webbrowser.open``; tests inject a fake
    browser that follows the redirect programmatically.
    """
    verifier = generate_code_verifier()
    state = pysecrets.token_urlsafe(16)
    server = OAuth2CallbackServer(port=port)
    url = authorization_url(
        authorize_endpoint,
        client.client_id,
        server.redirect_uri,
        scope=scope,
        code_challenge=code_challenge_s256(verifier),
        state=state,
    )
    if open_url is None:  # pragma: no cover - interactive only
        import webbrowser

        open_url = webbrowser.open
    # The opener must not block the wait loop (a real browser doesn't).
    threading.Thread(target=open_url, args=(url,), daemon=True).start()
    code = server.wait_for_code(state, timeout=timeout)
    return client.exchange_code(code, server.redirect_uri, code_verifier=verifier)


def ensure_fresh_token(
    registry: SecretRegistry, secret_name: str, client: OAuth2Client
) -> Secret:
    """Refresh-or-reacquire the token in a secret, persisting it back
    (reference: tokens written back into the secret after refresh)."""
    s = registry.get(secret_name)
    if s is None:
        raise KeyError(f"secret '{secret_name}' not found")
    expires_at = float(s.values.get("expires_at", 0))
    if s.values.get("access_token") and time.time() < expires_at - 30:
        return s
    if s.values.get("refresh_token"):
        tok = client.refresh(s.values["refresh_token"])
    else:
        tok = client.client_credentials(s.values.get("scope", ""))
    values = dict(s.values)
    values.update(
        access_token=tok.access_token,
        refresh_token=tok.refresh_token or s.values.get("refresh_token", ""),
        expires_at=str(tok.expires_at),
    )
    return registry.create_secret(s.name, s.type, s.scope, **values)
