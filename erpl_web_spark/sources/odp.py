"""SAP ODP delta replication (pull-based CDC with durable delta tokens).

Reference (SURVEY.md §2.I, src/odp_*.cpp):
- subscription state machine INITIAL_LOAD -> DELTA_FETCH -> (ERROR)
  (odp_subscription_state_manager.hpp:25, 58-68);
- initial load sends ``Prefer: odata.track-changes``
  (+ ``odata.maxpagesize=N``) and requires the server to echo
  Preference-Applied (odp_http_request_factory.cpp:159-184,
  odp_request_orchestrator.cpp:80);
- the delta token comes from the v2 delta URL / v4 ``@odata.deltaLink``,
  normalized by stripping quotes (odp_request_orchestrator.hpp:91-144);
- the token is committed only AFTER the last page of a multi-page load
  (deferred transition, odp_odata_read_bind_data.cpp:280-366);
- an expired/invalid token triggers an automatic full reload
  (odp_odata_read_bind_data.cpp:356-362);
- durable state + audit trail live in engine tables
  (odp_subscription_repository.cpp:591-635).

Spark mapping: state is a JSON file per subscription + a JSONL audit log
under a state dir (the checkpoint-dir analogue) addressed through
``pyarrow.fs`` — a local path or any ``file://``/``s3://``/``gs://`` URI;
every page decodes into one Arrow record batch (``ColumnDecoders``) and
``odp_read`` returns the batches as a local DataFrame. Pages are fetched
driver-side (the reference's scan is also a single page-chain); for huge
initial loads, do the first load through the parallel ``odata`` data
source and seed the subscription with ``import_delta_token``. The
Structured Streaming source (``erpl_web_spark.streaming.odp_stream``)
calls only ``OdpReader.fetch``: its offset is the delta link, and it
keeps no subscription.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from dataclasses import asdict, dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from erpl_web_spark.core.http import HttpClient, HttpResponse
from erpl_web_spark.core.localframe import local_batches, local_rows
from erpl_web_spark.core.secrets import default_registry
from erpl_web_spark.core.url import HttpUrl
from erpl_web_spark.odata.client import HttpStatusError, ODataClient
from erpl_web_spark.odata.json_decode import ColumnDecoders

if TYPE_CHECKING:
    import pyarrow

DEFAULT_STATE_DIR = os.environ.get(
    "ERPL_WEB_ODP_STATE_DIR", os.path.expanduser("~/.erpl_web_spark/odp")
)

_DELTA_TOKEN_RE = re.compile(r"!deltatoken='?([^'&]+)'?")
# ``fetch``'s phase when an expired or invalid token fell back to a reload
RELOAD_PHASE = "INITIAL_LOAD(token-fallback)"


@dataclass
class OdpSubscription:
    subscription_id: str
    url: str
    delta_token: str | None = None
    delta_link: str | None = None
    status: str = "CREATED"  # CREATED | ACTIVE | ERROR
    preference_applied: bool = False
    created_at: float = field(default_factory=time.time)
    updated_at: float = field(default_factory=time.time)


class OdpSubscriptionRepository:
    """Durable subscription + audit store (reference tables
    erpl_web.odp_subscriptions / odp_subscription_audit,
    odp_subscription_repository.cpp:591-635).

    Filesystem access goes through ``pyarrow.fs`` rather than ``os.*``:
    ``state_dir`` may be a plain local path, a ``file://`` URI, or any
    pyarrow-visible object-store URI (``s3://``, ``gs://``; ``hdfs://``
    where libhdfs is available) — the repository no longer silently
    requires a driver-local directory. pyarrow is used instead of the
    JVM Hadoop FileSystem, so no py4j gateway is needed. Subscription
    saves land via create-temp + move (atomic rename on local/HDFS; on
    object stores a small single PUT is whole-object-visible, so the
    move's copy+delete is safe too). The audit trail appends to
    ``audit.jsonl`` where the filesystem supports appends, else writes
    one record file per event under ``audit/``.
    """

    def __init__(self, state_dir: str = DEFAULT_STATE_DIR):
        from pyarrow import fs as pafs

        self.state_dir = state_dir
        if "://" in state_dir:
            self._fs, root = pafs.FileSystem.from_uri(state_dir)
        else:
            self._fs, root = pafs.LocalFileSystem(), os.path.abspath(state_dir)
        self._root = root.rstrip("/")
        self._fs.create_dir(self._root, recursive=True)

    @staticmethod
    def subscription_id_for(url: str) -> str:
        return hashlib.sha256(url.encode()).hexdigest()[:16]

    def _path(self, sub_id: str) -> str:
        return f"{self._root}/{sub_id}.json"

    def _exists(self, p: str) -> bool:
        from pyarrow import fs as pafs

        return self._fs.get_file_info(p).type != pafs.FileType.NotFound

    def load(self, sub_id: str) -> OdpSubscription | None:
        p = self._path(sub_id)
        if not self._exists(p):
            return None
        with self._fs.open_input_stream(p) as f:
            return OdpSubscription(**json.loads(f.readall().decode()))

    def save(self, sub: OdpSubscription) -> None:
        sub.updated_at = time.time()
        p = self._path(sub.subscription_id)
        tmp = p + ".tmp"
        with self._fs.open_output_stream(tmp) as f:
            f.write(json.dumps(asdict(sub)).encode())
        try:
            self._fs.move(tmp, p)
        except OSError:
            # filesystems whose rename refuses to clobber: the brief
            # missing-state gap degrades a racing reader to a (safe)
            # full reload, never to a torn token
            if self._exists(p):
                self._fs.delete_file(p)
            self._fs.move(tmp, p)

    def remove(self, sub_id: str) -> bool:
        p = self._path(sub_id)
        if self._exists(p):
            self._fs.delete_file(p)
            return True
        return False

    def list_all(self) -> list[OdpSubscription]:
        from pyarrow import fs as pafs

        infos = self._fs.get_file_info(pafs.FileSelector(self._root))
        out = []
        for info in sorted(infos, key=lambda i: i.base_name):
            if info.is_file and info.base_name.endswith(".json"):
                with self._fs.open_input_stream(info.path) as f:
                    out.append(OdpSubscription(**json.loads(f.readall().decode())))
        return out

    def audit(self, sub_id: str, record: dict) -> None:
        record = {"ts": time.time(), "subscription_id": sub_id, **record}
        line = json.dumps(record) + "\n"
        try:
            with self._fs.open_append_stream(f"{self._root}/audit.jsonl") as f:
                f.write(line.encode())
        except (NotImplementedError, OSError):
            # append-less stores (S3/GCS): one immutable record per
            # event — the uuid suffix keeps two events in the same
            # clock tick from overwriting each other
            import uuid

            self._fs.create_dir(f"{self._root}/audit", recursive=True)
            name = f"{record['ts']:.6f}-{sub_id}-{uuid.uuid4().hex[:8]}".replace(
                ".", "_"
            )
            with self._fs.open_output_stream(f"{self._root}/audit/{name}.json") as f:
                f.write(line.encode())


def delta_link_of(doc: dict) -> str | None:
    """The delta link of a page: v4 @odata.deltaLink or v2 d.__delta."""
    if not isinstance(doc, dict):
        return None
    link = doc.get("@odata.deltaLink") or doc.get("odata.deltaLink")
    d = doc.get("d")
    return link or (d.get("__delta") if isinstance(d, dict) else None)


class OdpReader:
    """One subscription's CDC fetch (``fetch``), plus the subscription
    state ``odp_read`` keeps under ``state_dir`` (``run_batch``)."""

    def __init__(
        self,
        url: str,
        state_dir: str = DEFAULT_STATE_DIR,
        max_page_size: int | None = None,
        http: HttpClient | None = None,
    ):
        self.url = url
        self.state_dir = state_dir
        self.max_page_size = max_page_size
        self.http = http or HttpClient(
            auth_headers=default_registry.auth_headers_for_url(url)
        )

    def schema(self) -> StructType:
        client = ODataClient(self.url, self.http)
        return client.get_model().schema_for_entity_set(client.entity_set_name())

    def fetch(
        self, delta_link: str, schema: StructType, reload_expired: bool = True
    ) -> tuple[list[pyarrow.RecordBatch], str, str, bool]:
        """One CDC fetch: the initial load when ``delta_link`` is empty,
        else the delta from it, where an expired or invalid token (400,
        404, 410) falls back to a full reload (I5) unless
        ``reload_expired`` is off. Returns (one record batch per non-empty
        page, the next delta link, the phase, whether the server applied
        track-changes). The next link is read off the LAST page, once the
        whole walk succeeded (I4); without one it stays ``delta_link``."""
        src = delta_link or self.url
        phase = "DELTA_FETCH" if delta_link else "INITIAL_LOAD"
        try:
            batches, first, last = self._walk(src, schema)
        except HttpStatusError as e:
            if not (delta_link and reload_expired and e.status in (400, 404, 410)):
                raise
            src, phase = self.url, RELOAD_PHASE
            batches, first, last = self._walk(src, schema)
        link = delta_link_of(last)
        applied = "track-changes" in first.headers.get(
            "Preference-Applied", first.headers.get("preference-applied", "")
        )
        next_link = HttpUrl.parse(src).resolve(link).to_string() if link else delta_link
        return batches, next_link, phase, applied

    def _walk(
        self, url: str, schema: StructType
    ) -> tuple[list[pyarrow.RecordBatch], HttpResponse, dict]:
        """The ``ODataClient.pages`` walk from ``url`` with the
        track-changes ``Prefer`` header on every page: one record batch
        per non-empty page, the first response and the last document."""
        batches = []
        first = None
        decoders = ColumnDecoders(schema)
        walk = ODataClient(self.url, self.http).pages(url, self._prefer_header())
        for resp, doc in walk:
            if first is None:
                first = resp
            batch = decoders.batch(doc)
            if batch.num_rows:
                batches.append(batch)
        return batches, first, doc

    def run_batch(
        self, force_full_load: bool = False, import_delta_token: str | None = None
    ) -> tuple[list[pyarrow.RecordBatch], StructType, OdpSubscription, str]:
        """One ``fetch`` from the stored subscription's delta link, then
        the subscription saved and audited; returns (record batches,
        schema, subscription, phase)."""
        repo = OdpSubscriptionRepository(self.state_dir)
        sub_id = repo.subscription_id_for(self.url)
        sub = repo.load(sub_id) or OdpSubscription(sub_id, self.url)
        if import_delta_token:
            sub.delta_link = f"{self.url}!deltatoken='{import_delta_token}'"
            sub.delta_token = import_delta_token
        link = "" if force_full_load else sub.delta_link or ""
        schema = self.schema()
        t0 = time.time()
        try:
            batches, next_link, phase, applied = self.fetch(link, schema)
        except HttpStatusError:
            if link:
                sub.status = "ERROR"
                repo.save(sub)
            raise
        if phase != "DELTA_FETCH":
            sub.preference_applied = applied
        if next_link:
            m = _DELTA_TOKEN_RE.search(next_link)
            sub.delta_link, sub.delta_token = next_link, m and m.group(1).strip("'\"")
        sub.status = "ACTIVE"
        repo.save(sub)
        repo.audit(
            sub_id,
            {
                "phase": phase,
                "rows": sum(b.num_rows for b in batches),
                "duration_s": round(time.time() - t0, 3),
                "token_after": sub.delta_token,
            },
        )
        return batches, schema, sub, phase

    def _prefer_header(self) -> dict[str, str]:
        prefer = "odata.track-changes"
        if self.max_page_size:
            prefer += f", odata.maxpagesize={self.max_page_size}"
        return {"Accept": "application/json", "Prefer": prefer}


# -- public API -------------------------------------------------------------

def odp_read(
    spark: SparkSession,
    url: str,
    force_full_load: bool = False,
    import_delta_token: str | None = None,
    max_page_size: int | None = None,
    state_dir: str = DEFAULT_STATE_DIR,
) -> DataFrame:
    """One CDC batch as a DataFrame (reference A8 ``odp_odata_read``).

    The subscription's token advances when the frame is built, before
    the caller writes it anywhere: if that write fails, pass the old
    token as ``import_delta_token`` to read the same delta again (the
    audit trail's ``token_after`` records each one). For delivery that
    follows the sink, use the ``odp`` streaming source, whose only state
    is its offset."""
    reader = OdpReader(url, state_dir, max_page_size)
    batches, schema, _sub, _phase = reader.run_batch(force_full_load, import_delta_token)
    return local_batches(spark, batches, schema)


def odp_list_subscriptions(spark: SparkSession, state_dir: str = DEFAULT_STATE_DIR) -> DataFrame:
    repo = OdpSubscriptionRepository(state_dir)
    rows = [
        (s.subscription_id, s.url, s.delta_token, s.status, s.preference_applied)
        for s in repo.list_all()
    ]
    return local_rows(
        spark,
        rows,
        "subscription_id string, url string, delta_token string, "
        "status string, preference_applied boolean",
    )


def odp_remove_subscription(subscription_id: str, state_dir: str = DEFAULT_STATE_DIR) -> bool:
    return OdpSubscriptionRepository(state_dir).remove(subscription_id)
