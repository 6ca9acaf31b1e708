"""Core plumbing: URL building, HTTP session (one retry policy,
redirects, charset), secret registry. Pure Python, no Spark dependency:
usable on the driver (probe/metadata) and in executors (page fetches).

The names below resolve on first access, so importing a light submodule
(``core.pyworker``, which the package ``__init__`` imports in every Python
worker) does not pull in urllib3 or the rest of the HTTP stack."""

from importlib import import_module

_EXPORTS = {
    "HttpUrl": "url",
    "merge_query_params": "url",
    "canonicalize_query_key": "url",
    "HttpClient": "http",
    "HttpResponse": "http",
    "SecretRegistry": "secrets",
    "Secret": "secrets",
    "default_registry": "secrets",
}

__all__ = list(_EXPORTS)


def __getattr__(name):
    if name in _EXPORTS:
        return getattr(import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
