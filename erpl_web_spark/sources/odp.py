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
source and seed the subscription with ``import_delta_token``. A Structured Streaming wrapper lives in
``erpl_web_spark.streaming.odp_stream``.
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
    JVM Hadoop FileSystem because this code also runs inside Python
    Data Source worker processes (the ``odp`` streaming source), which
    have no py4j gateway. Subscription saves land via create-temp +
    move (atomic rename on local/HDFS; on object stores a small single
    PUT is whole-object-visible, so the move's copy+delete is safe
    too). The audit trail appends to ``audit.jsonl`` where the
    filesystem supports appends, else writes one record file per event
    under ``audit/``.
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


def extract_delta_token(doc: dict) -> tuple[str | None, str | None]:
    """(token, delta_link) from v4 @odata.deltaLink or v2 d.__delta."""
    link = None
    if isinstance(doc, dict):
        link = doc.get("@odata.deltaLink") or doc.get("odata.deltaLink")
        if not link:
            d = doc.get("d")
            if isinstance(d, dict):
                link = d.get("__delta")
    if not link:
        return None, None
    m = _DELTA_TOKEN_RE.search(link)
    token = m.group(1).strip("'\"") if m else None
    return token, link


class OdpReader:
    """Orchestrates initial load / delta fetch for one subscription."""

    def __init__(
        self,
        url: str,
        state_dir: str = DEFAULT_STATE_DIR,
        max_page_size: int | None = None,
        http: HttpClient | None = None,
    ):
        self.url = url
        self.repo = OdpSubscriptionRepository(state_dir)
        self.max_page_size = max_page_size
        self.http = http or HttpClient(
            auth_headers=default_registry.auth_headers_for_url(url)
        )

    def schema(self) -> StructType:
        client = ODataClient(self.url, self.http)
        return client.get_model().schema_for_entity_set(client.entity_set_name())

    def fetch(
        self, url: str, schema: StructType
    ) -> tuple[list[pyarrow.RecordBatch], HttpResponse, dict]:
        """One decoded record batch per non-empty page from ``url`` on
        (the ``ODataClient.pages`` walk, the track-changes ``Prefer``
        header on every page), the first response and the last document.
        The delta link appears only on the LAST page, so the token commit
        waits for it (I4)."""
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
        """Execute one CDC batch; returns (record batches, schema,
        subscription, phase)."""
        sub_id = self.repo.subscription_id_for(self.url)
        sub = self.repo.load(sub_id) or OdpSubscription(sub_id, self.url)
        if import_delta_token:
            sub.delta_token = import_delta_token
            sub.delta_link = f"{self.url}!deltatoken='{import_delta_token}'"
            sub.status = "ACTIVE"
        schema = self.schema()
        t0 = time.time()

        if force_full_load or not sub.delta_link:
            phase = "INITIAL_LOAD"
            batches, sub = self._initial_load(sub, schema)
        else:
            phase = "DELTA_FETCH"
            try:
                batches, sub = self._delta_fetch(sub, schema)
            except HttpStatusError as e:
                if e.status in (400, 404, 410):
                    # expired/invalid token -> automatic full reload (I5)
                    phase = "INITIAL_LOAD(token-fallback)"
                    batches, sub = self._initial_load(sub, schema)
                else:
                    sub.status = "ERROR"
                    self.repo.save(sub)
                    raise
        self.repo.save(sub)
        self.repo.audit(
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

    def _initial_load(self, sub: OdpSubscription, schema: StructType):
        batches, first, last = self.fetch(self.url, schema)
        sub.preference_applied = "track-changes" in first.headers.get(
            "Preference-Applied", first.headers.get("preference-applied", "")
        )
        token, delta_link = extract_delta_token(last)
        if delta_link:
            sub.delta_token = token
            sub.delta_link = HttpUrl.parse(self.url).resolve(delta_link).to_string()
        sub.status = "ACTIVE"
        return batches, sub

    def _delta_fetch(self, sub: OdpSubscription, schema: StructType):
        batches, _first, last = self.fetch(sub.delta_link, schema)
        token, delta_link = extract_delta_token(last)
        if delta_link:  # advance token only after the last page (I4)
            sub.delta_token = token
            sub.delta_link = HttpUrl.parse(sub.delta_link).resolve(delta_link).to_string()
        return batches, sub


# -- public API -------------------------------------------------------------

def odp_read(
    spark: SparkSession,
    url: str,
    force_full_load: bool = False,
    import_delta_token: str | None = None,
    max_page_size: int | None = None,
    state_dir: str = DEFAULT_STATE_DIR,
) -> DataFrame:
    """One CDC batch as a DataFrame (reference A8 ``odp_odata_read``)."""
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
