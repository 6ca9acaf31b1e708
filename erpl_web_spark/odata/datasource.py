"""``spark.read.format("odata")`` — Python Data Source for OData v2/v4.

Maps the reference's scan lifecycle (SURVEY.md §3.1) onto the Spark
Python Data Source API:

- bind      -> ``ODataDataSource.schema()``: probe + EDMX -> StructType
               (driver-side, metadata cached per service URL);
- optimize  -> Catalyst calls ``pushFilters`` (supported predicates
               become ``$filter``; the residual list is re-applied by
               Spark — same belt-and-suspenders as the reference host);
- init      -> ``partitions()``: ``parallelism=auto`` (the default)
               probes ``$count`` and splits big scans into ``$skip``
               range partitions (``auto_partition_rows`` rows each,
               default 50k, capped at ``auto_partition_max``, default
               32) whenever the entity set has key columns for a stable
               ``$orderby``; small scans, keyless sets and ``$apply``
               reads stay one server-friendly page chain (reference
               parity: its scan is always single-stream,
               odata_content.cpp:1072-1100). ``parallelism=N`` forces a
               split count. CONSISTENCY CAVEAT: parallel ``$skip``
               windows are independent server requests and are NOT
               snapshot-consistent against concurrent source mutations
               — an insert/delete between window reads can shift rows
               across window boundaries even under a stable
               ``$orderby``, duplicating or missing them (a wider
               exposure than one sequential chain, which at least reads
               a moving frontier once). For write-hot entity sets
               either pin ``parallelism=1`` or use the ODP delta
               surface (``sources/odp.py``), which is the
               change-tracking contract designed for mutating data;
- execute   -> ``read(partition)``: generator following next-page links,
               decoding each JSON page column-wise into one
               ``pyarrow.RecordBatch`` (executor-side).

Read options: ``url`` (required), ``select``, ``top``, ``skip``,
``expand``, ``count``, ``parallelism``, ``orderby`` (server-side ORDER
BY — beyond-reference), ``secret`` (name in the driver-side registry;
resolved to auth headers at planning time and shipped to executors),
``infer`` = metadata|sample, and server-side aggregation via
``groupby`` + ``aggregate`` (compiled to OData v4
``$apply=groupby((dims),aggregate(...))``) or a raw ``apply`` string —
beyond-reference pushdown: the server aggregates, Spark never sees the
raw entity set.

Usage::

    spark.dataSource.register(ODataDataSource)
    df = (spark.read.format("odata")
          .option("url", "https://host/svc/Customers")
          .load()
          .filter("Country = 'Germany'")
          .select("CustomerID", "CompanyName"))
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from erpl_web_spark.core.http import HttpClient
from erpl_web_spark.core.secrets import auth_headers_from_options
from erpl_web_spark.odata.client import ODataClient
from erpl_web_spark.odata.edm import EdmModel
from erpl_web_spark.odata.expand import parse_expand
from erpl_web_spark.odata.filters import translate_filters
from erpl_web_spark.odata.json_decode import ColumnDecoders, total_count
from erpl_web_spark.odata.query_builder import ODataQueryBuilder
from erpl_web_spark.core.url import HttpUrl

from pyspark.sql.types import StringType, StructField

if TYPE_CHECKING:
    import pyarrow


class ODataDataSource(DataSource):
    """Entity-set scan as a Spark table (reference: odata_read, A4)."""

    @classmethod
    def name(cls) -> str:
        return "odata"

    def _client(self) -> ODataClient:
        return ODataClient(
            self.options["url"],
            HttpClient(auth_headers=auth_headers_from_options(self.options)),
        )

    def _apply_expr(self) -> str | None:
        """OData v4 ``$apply`` (server-side aggregation — beyond the
        reference's pushdown surface): raw via option ``apply``, or built
        from ``groupby`` (comma-separated dims) + ``aggregate``
        (e.g. "Balance with sum as TotalBalance", comma-separated)."""
        if "apply" in self.options:
            return self.options["apply"]
        if "groupby" in self.options:
            dims = ",".join(d.strip() for d in self.options["groupby"].split(","))
            agg = self.options.get("aggregate")
            if agg:
                return f"groupby(({dims}),aggregate({agg}))"
            return f"groupby(({dims}))"
        if "aggregate" in self.options:
            return f"aggregate({self.options['aggregate']})"
        return None

    def schema(self) -> StructType:
        client = self._client()
        apply_expr = self._apply_expr()
        if apply_expr:
            # Aggregate aliases don't exist in the EDMX — infer typed
            # columns from the first page of the APPLIED result.
            from erpl_web_spark.core.infer import infer_struct
            from erpl_web_spark.odata.json_decode import extract_rows_payload

            # $top bounds the probe: only a page of the aggregated result
            # is needed for inference, not the full first page.
            url = ODataQueryBuilder(
                base_url=self.options["url"],
                odata_version=4,
                apply=apply_expr,
                top=32,
            ).build()
            http = HttpClient(auth_headers=auth_headers_from_options(self.options))
            resp = http.get(url, headers={"Accept": "application/json"})
            rows = extract_rows_payload(resp.raise_for_status().json())
            if not rows:
                # A valid-but-empty aggregation cannot be type-inferred;
                # Spark only calls schema() when the user supplied none.
                raise RuntimeError(
                    f"cannot infer $apply schema: no rows at {url}; pass an "
                    "explicit schema (.schema(ddl)) to read an empty "
                    "aggregation as an empty DataFrame"
                )
            return infer_struct(
                [{k: v for k, v in r.items() if not k.startswith("@")} for r in rows]
            )
        expand_opt = self.options.get("expand")
        expand = [e.path for e in parse_expand(expand_opt)] if expand_opt else None
        infer = self.options.get("infer", "metadata")
        if infer != "sample":
            try:
                model = client.get_model()
                full = model.schema_for_entity_set(client.entity_set_name(), expand=expand)
                select = self.options.get("select")
                if select:
                    keep = [s.strip().split("/")[0] for s in select.split(",")]
                    fields = [f for f in full.fields if f.name in keep]
                else:
                    fields = list(full.fields)
                # Scan schemas are always nullable: the server may omit any
                # field and the decoder maps missing/invalid -> NULL
                # (reference odata_content.cpp:1149-1160).
                return StructType(
                    [StructField(f.name, f.dataType, True) for f in fields]
                )
            except Exception:
                pass  # fall through to first-row inference
        # Sample inference: first data row's keys become string columns
        # (reference odata_read_functions.cpp:107-121).
        doc = client.probe()
        from erpl_web_spark.odata.json_decode import extract_rows_payload

        rows = extract_rows_payload(doc)
        if not rows:
            raise RuntimeError(
                f"cannot infer schema: no metadata and no rows at {self.options['url']}"
            )
        first = rows[0]
        return StructType(
            [
                StructField(k, StringType(), True)
                for k in first
                if k not in ("__metadata", "__deferred")
            ]
        )

    def reader(self, schema: StructType) -> "ODataReader":
        # One HttpClient (one keep-alive session) serves the metadata
        # fetch, the version fallback probe and the reader's $count probe.
        auth = auth_headers_from_options(self.options)
        http = HttpClient(auth_headers=auth)
        client = ODataClient(self.options["url"], http)
        apply_expr = self._apply_expr()
        try:
            model = client.get_model()
        except Exception:
            model = None
        if model is not None:
            version = model.protocol_version
        else:
            # No metadata: classify from the first page instead.
            try:
                version = client.version
            except Exception:
                version = 4
        if apply_expr and version == 2:
            raise ValueError(
                "$apply aggregation pushdown (groupby/aggregate/apply options) "
                "is OData v4-only; this service speaks v2 — drop the options "
                "and aggregate in Spark instead"
            )
        # Entity-set key columns stabilize $skip range partitioning:
        # OData guarantees no ordering across independent requests, so
        # parallel $skip windows without $orderby can duplicate/miss rows.
        # A user `orderby` option (e.g. "Age desc,UserName") wins — it is
        # also sent on unpartitioned reads (server-side ORDER BY,
        # beyond-reference: the reference never pushes ORDER BY).
        user_orderby = self.options.get("orderby")
        if user_orderby:
            order_keys = [s.strip() for s in user_orderby.split(",")]
        elif apply_expr:
            # Post-$apply results don't have the entity-set key columns —
            # an $orderby on them would be rejected by the server. (A user
            # orderby above is kept: $orderby evaluates after $apply.)
            order_keys = []
        else:
            try:
                order_keys = model.key_for_entity_set(client.entity_set_name())
            except Exception:
                order_keys = []
        return ODataReader(
            url=self.options["url"],
            schema=schema,
            version=version,
            auth_headers=auth,
            select=self.options.get("select"),
            top=_int_opt(self.options, "top"),
            skip=_int_opt(self.options, "skip"),
            expand=self.options.get("expand"),
            count=self.options.get("count", "false").lower() == "true",
            parallelism=self.options.get("parallelism", "auto"),
            order_keys=order_keys,
            always_order=bool(user_orderby),
            apply=apply_expr,
            auto_partition_rows=_int_opt(self.options, "auto_partition_rows") or 50_000,
            auto_partition_max=_int_opt(self.options, "auto_partition_max") or 32,
            http=http,
        )


def _int_opt(options, key: str) -> int | None:
    v = options.get(key)
    return int(v) if v is not None else None


class _PagePartition(InputPartition):
    def __init__(self, index: int, skip: int | None, top: int | None):
        self.index = index
        self.skip = skip
        self.top = top


class ODataReader(DataSourceReader):
    def __init__(
        self,
        url: str,
        schema: StructType,
        version: int,
        auth_headers: dict[str, str],
        select: str | None,
        top: int | None,
        skip: int | None,
        expand: str | None,
        count: bool,
        parallelism: int | str,
        order_keys: list[str] | None = None,
        always_order: bool = False,
        apply: str | None = None,
        auto_partition_rows: int = 50_000,
        auto_partition_max: int = 32,
        http: HttpClient | None = None,
    ):
        # A user-supplied $filter in the base URL is folded into the
        # generated $filter (AND-combined with pushed predicates) instead
        # of riding along on the URL: merge_query_params never overwrites
        # a user $filter, so leaving it in place would silently DROP the
        # pushed predicates — which Spark has already removed from the
        # plan — applying them nowhere.
        base = HttpUrl.parse(url)
        params = base.query_params()
        self._user_filter = params.pop("$filter", None)
        self._url = base.with_query_params(params).to_string() if self._user_filter else url
        self._schema = schema
        self._version = version
        self._auth = auth_headers
        self._select = [s.strip() for s in select.split(",")] if select else []
        self._top = top
        self._skip = skip
        self._expand = [e.path for e in parse_expand(expand)] if expand else []
        self._count = count
        self._auto = str(parallelism).strip().lower() == "auto"
        self._parallelism = 1 if self._auto else max(1, int(parallelism))
        self._auto_rows = max(1, auto_partition_rows)
        self._auto_max = max(1, auto_partition_max)
        self._order_keys = order_keys or []
        self._always_order = always_order
        self._apply = apply
        self._filter_expr: str | None = None
        # Planning-time client, shared with reader(); executors build their own.
        self._http = http

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_http"] = None
        return state

    # -- pushdown ----------------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        if self._apply:
            # Filters reference the aggregated output, not entity-set
            # columns — $filter evaluates pre-$apply, so pushing would be
            # wrong. Spark applies everything post-aggregation.
            return iter(filters)
        expr, _pushed, residual = translate_filters(list(filters), self._version)
        self._filter_expr = expr
        return iter(residual)

    # -- partition planning ------------------------------------------------

    def _build_url(
        self,
        top: int | None = None,
        skip: int | None = None,
        count=False,
        ordered=False,
    ) -> str:
        # all_columns=[] disables the "skip $select when everything is
        # selected" rule: an explicit user select option is always sent
        # (the skip rule targets engine-driven pruning, where the pruned
        # set routinely equals the full column list).
        if self._user_filter and self._filter_expr:
            filter_expr = f"({self._user_filter}) and ({self._filter_expr})"
        else:
            filter_expr = self._user_filter or self._filter_expr
        qb = ODataQueryBuilder(
            base_url=self._url,
            odata_version=self._version,
            select=self._select,
            all_columns=[],
            filter_expr=filter_expr,
            top=top if top is not None else self._top,
            skip=skip if skip is not None else self._skip,
            expand=self._expand,
            count=count or self._count,
            orderby=self._order_keys if ordered else [],
            apply=self._apply,
        )
        return qb.build()

    def _probe_total(self) -> int | None:
        """Server-reported row count via ``$count=true``/``$inlinecount``
        with ``$top=0`` — one cheap request; None when unsupported."""
        http = self._http or HttpClient(auth_headers=self._auth)
        probe_url = self._build_url(top=0, count=True)
        try:
            doc = http.get(probe_url, headers={"Accept": "application/json"}).json()
            return total_count(doc)
        except Exception:
            return None

    def partitions(self) -> Sequence[InputPartition]:
        single = [_PagePartition(0, None, None)]
        if self._apply:
            # Aggregated ($apply) results are small by construction; a
            # $count probe + $skip windows against them would paginate a
            # different (grouped) rowset than the probe counted.
            return single
        if self._auto:
            # Default: split automatically when the scan is big enough
            # that a single page chain would serialize it. Requires
            # entity-set keys (stable $orderby — without one, parallel
            # $skip windows can duplicate/miss rows) and a server that
            # answers the $count probe; ``auto_partition_rows`` rows per
            # partition (default 50k ~= tens-to-hundreds of server pages),
            # capped at ``auto_partition_max`` partitions. Small explicit
            # ``top`` reads skip the probe request entirely.
            if not self._order_keys:
                return single
            if self._top is not None and self._top < 2 * self._auto_rows:
                return single
        elif self._parallelism <= 1:
            # Explicit parallelism=N: user-forced split count (kept even
            # without entity-set keys — the user override also forces
            # $orderby off when no keys exist; documented sharp edge).
            return single
        total = self._probe_total()
        if not total:
            return single
        base_skip = self._skip or 0
        # clamp an over-asked top to the rows that actually exist —
        # otherwise windows past the end each burn an HTTP request
        # for an empty page
        limit = max(total - base_skip, 0)
        if self._top is not None:
            limit = min(self._top, limit)
        if self._auto:
            n = min(self._auto_max, (limit + self._auto_rows - 1) // self._auto_rows)
            if n < 2:
                return single
        else:
            n = min(self._parallelism, limit)
            if n < 1:
                return single
        chunk = (limit + n - 1) // n
        return [
            _PagePartition(i, base_skip + i * chunk, min(chunk, limit - i * chunk))
            for i in range(n)
            if i * chunk < limit
        ]

    # -- execution (runs on executors) ------------------------------------

    def read(self, partition: _PagePartition) -> Iterator[pyarrow.RecordBatch]:
        http = HttpClient(auth_headers=self._auth)
        decoders = ColumnDecoders(self._schema)
        # Range partitions (skip is set) get $orderby on the entity-set
        # key: OData gives no stable order across independent requests,
        # so unordered parallel $skip windows could duplicate/miss rows.
        # A user orderby option is sent on every request.
        ordered = self._always_order or (
            partition.skip is not None and bool(self._order_keys)
        )
        url = self._build_url(top=partition.top, skip=partition.skip, ordered=ordered)
        remaining = partition.top if partition.top is not None else self._top
        for _resp, doc in ODataClient(url, http).pages():
            batch = decoders.batch(doc)
            if remaining is not None:
                batch = batch.slice(0, remaining)
                remaining -= batch.num_rows
            if batch.num_rows:
                yield batch
            if remaining is not None and remaining <= 0:
                return


def ensure_registered(spark) -> None:
    """Idempotently register the odata data source and enable the
    (runtime-settable, default-false) Python filter-pushdown conf —
    ODataReader implements pushFilters(), and Spark refuses to plan the
    scan while the conf is off."""
    try:
        spark.dataSource.register(ODataDataSource)
    except Exception:
        pass  # already registered
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # pinned static conf — reads still fail loudly with Spark's message


def register(spark) -> None:
    """Register all custom data sources on a SparkSession."""
    ensure_registered(spark)
