"""The benchmark's two workloads.

Each workload yields decks: a fixed composition of operations in seeded
order, with seeded parameters. An operation has a
``build`` step (construct the DataFrame: ``.load()`` for OData, the registry
function for a suite query, ``createDataFrame`` for a write), an ``action``
(the Spark action), and a ``check`` that compares the action's result with
DuckDB or with the collector. The package only ever sees the generated
requests.
"""

from __future__ import annotations

import random
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import functions as F

from service import PAGE_ROWS, row_checksum

# entity set -> (table, equality column, its values, threshold column, extra columns,
#                target row range)
READ_TARGETS = {
    "Orders": ("orders", "o_orderstatus", ["F", "O", "P"], "o_totalprice",
               ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"], (1000, 10000)),
    "Customers": ("customer", "c_mktsegment",
                  ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                  "c_acctbal", ["c_custkey", "c_name", "c_nationkey"], (1000, 2800)),
}
AGG_TARGETS = {
    "Orders": ("orders", [["o_orderstatus"], ["o_orderpriority"], ["o_orderstatus", "o_orderpriority"]],
               [("o_totalprice", "sum"), ("o_totalprice", "average"), ("o_totalprice", "max"),
                ("o_custkey", "countdistinct")]),
    "Customers": ("customer", [["c_mktsegment"], ["c_nationkey"]],
                  [("c_acctbal", "sum"), ("c_acctbal", "min"), ("c_acctbal", "average")]),
}
_DUCK_AGG = {
    "sum": "CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)",
    "average": "CAST(AVG(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)",
    "max": "MAX({c})",
    "min": "MIN({c})",
    "countdistinct": "COUNT(DISTINCT {c})",
}
WRITE_ROWS = 2000
WRITE_BATCH = 200
# the registry's headline entries; their names are part of the metric names
HEADLINE = (
    "asof_join_events", "dedup_exact", "dedup_minhash_lsh", "q01_pricing_summary",
    "q03_shipping_priority", "q05_local_supplier_volume", "similarity_cosine_top3",
    "text_stats", "window_rank_orders",
)


@dataclass
class Op:
    kind: str
    label: str
    build: Callable[[], object]
    action: Callable[[object], object]
    check: Callable[[object, dict], bool]
    rows: int = 0  # rows read, written, scanned or returned


class ODataMix:
    """Seeded mix of filtered reads, ``$apply`` aggregations, REST writes
    and full ``Orders`` scans (6:2:1:2), each built from scratch. Two scans
    per deck give the scan median, and so ``rows_per_s``, two samples even
    in a one-deck run."""

    name = "odata_mix"
    DECK = ["read"] * 6 + ["agg"] * 2 + ["write"] + ["scan"] * 2

    def __init__(self, ctx):
        self.ctx = ctx
        # per (entity, equality value): threshold-column values, descending
        self.values: dict[tuple[str, str], list[float]] = {}
        for entity, (table, eq_col, eq_vals, thr_col, _extra, _rng) in READ_TARGETS.items():
            for v in eq_vals:
                self.values[entity, v] = [r[0] for r in ctx.oracle.rows(
                    f"SELECT {thr_col} FROM {table} WHERE {eq_col} = '{v}' ORDER BY 1 DESC")]
        self.writes = 0

    def reader(self, entity: str):
        return self.ctx.spark.read.format("odata").option("url", f"{self.ctx.odata_url}/{entity}")

    def full_scan_check(self, entity: str, table: str) -> bool:
        """Untimed: every row of an entity set through the connector vs DuckDB."""
        got = self.ctx.oracle.digest_arrow(self.reader(entity).load().toArrow())
        return got == self.ctx.oracle.digest(f"SELECT * FROM {table}")

    def checked(self, op_sql: str):
        """A check of an Arrow result against ``op_sql``'s rows in DuckDB."""

        def check(table, _delta) -> bool:
            return self.ctx.oracle.digest_arrow(table) == self.ctx.expect(
                self.ctx.oracle.digest(op_sql))

        return check

    def read_op(self, rng: random.Random) -> Op:
        entity = rng.choice(sorted(READ_TARGETS))
        table, eq_col, eq_vals, thr_col, extra, (lo, hi) = READ_TARGETS[entity]
        eq = rng.choice(eq_vals)
        values = self.values[entity, eq]
        target = min(rng.randint(lo, hi), len(values) - 1)
        # amounts are whole cents: a threshold half a cent below a value
        # selects exactly the rows >= that value
        thr = round(values[target] - 0.005, 3)
        cols = [eq_col, thr_col] + rng.sample(extra, rng.randint(0, 1))
        sql = (f"SELECT {', '.join(cols)} FROM {table} WHERE {eq_col} = '{eq}' "
               f"AND {thr_col} > CAST({thr!r} AS DOUBLE)")
        def build():
            return self.reader(entity).option("select", ",".join(cols)).load()

        def action(df):
            return df.filter((F.col(eq_col) == eq) & (F.col(thr_col) > thr)).toArrow()

        return Op("read", f"{entity}:{eq}>{thr}", build, action, self.checked(sql),
                  rows=sum(v > thr for v in values))

    def agg_op(self, rng: random.Random) -> Op:
        entity = rng.choice(sorted(AGG_TARGETS))
        table, dim_sets, aggs = AGG_TARGETS[entity]
        dims = rng.choice(dim_sets)
        col, fn = rng.choice(aggs)
        agg_opt = f"{col} with {fn} as agg_value,$count as n"
        sql = (f"SELECT {', '.join(dims)}, {_DUCK_AGG[fn].format(c=col)} AS agg_value, "
               f"COUNT(*) AS n FROM {table} GROUP BY ALL")

        def build():
            return (self.reader(entity).option("groupby", ",".join(dims))
                    .option("aggregate", agg_opt).load())

        return Op("agg", f"{entity}:{','.join(dims)}:{fn}", build, lambda df: df.toArrow(),
                  self.checked(sql), rows=self.ctx.oracle.digest(sql)[0])

    def write_op(self, rng: random.Random) -> Op:
        self.writes += 1
        tag = f"w{self.ctx.seed}-{self.writes}"
        base = rng.randrange(1 << 40)
        rows = [
            {"id": base + i, "sku": f"SKU-{rng.randrange(100000):05d}",
             "qty": rng.randint(1, 50), "amount": rng.randrange(100, 10_000_000) / 100.0}
            for i in range(WRITE_ROWS)
        ]
        expected = (WRITE_ROWS, row_checksum(rows))
        spark = self.ctx.spark

        def build():
            return spark.createDataFrame(
                [(r["id"], r["sku"], r["qty"], r["amount"]) for r in rows],
                "id long, sku string, qty int, amount double",
            )

        def action(df):
            (df.write.format("rest").option("url", f"{self.ctx.service_url}/collect/{tag}")
             .option("write_batch_size", str(WRITE_BATCH)).mode("append").save())

        def check(_result, _delta) -> bool:
            got = self.ctx.service.stats()["collect"].get(tag)
            return tuple(got or ()) == self.ctx.expect(expected)

        return Op("write", tag, build, action, check, rows=WRITE_ROWS)

    def scan_op(self, _rng: random.Random) -> Op:
        n = self.ctx.orders_rows
        probe_page = min(n, PAGE_ROWS)

        # the noop sink returns nothing: check that every row was served
        # exactly once, plus the first page the connector's version probe
        # fetches (a connector that skips that probe passes too)
        def check(_result, delta) -> bool:
            return delta["rows_out"] - n in (0, probe_page) and delta["errors"] == 0

        return Op("scan", "Orders", lambda: self.reader("Orders").load(),
                  lambda df: df.write.format("noop").mode("overwrite").save(), check, rows=n)

    def deck(self, rng: random.Random) -> Iterator[Op]:
        """One deck: the fixed 6:2:1:2 mix in seeded order."""
        make = {"read": self.read_op, "agg": self.agg_op, "write": self.write_op,
                "scan": self.scan_op}
        kinds = list(self.DECK)
        rng.shuffle(kinds)
        for kind in kinds:
            yield make[kind](rng)

    def warm_up(self) -> None:
        rng = random.Random(0)
        op = self.read_op(rng)
        op.action(op.build())

    def verify(self) -> list[bool]:
        """Untimed, once per run (it also warms each path): the full-scan
        check plus one checked read, aggregation and write."""
        rng = random.Random(0)
        ok = [self.full_scan_check("Orders", "orders")]
        for op in (self.read_op(rng), self.agg_op(rng), self.write_op(rng)):
            ok.append(op.check(op.action(op.build()), {}))
        return ok


class Headline:
    """The registry's ``headline=True`` queries on local parquet, noop sink."""

    name = "headline"

    def __init__(self, ctx):
        from erpl_web_spark.operators import release_tracked, tracked_count
        from erpl_web_spark.suite import all_queries

        self.ctx = ctx
        self.queries = {n: q for n, q in sorted(all_queries().items()) if q.headline}
        if tuple(self.queries) != HEADLINE:
            raise RuntimeError(f"registry headline entries changed: {sorted(self.queries)}")
        self.release_tracked = release_tracked
        self.tracked_count = tracked_count

    def query_op(self, name: str) -> Op:
        q = self.queries[name]
        ctx = self.ctx

        def action(df):
            df.write.format("noop").mode("overwrite").save()
            persists = self.tracked_count()
            self.release_tracked()
            return persists

        # the noop sink returns nothing to check: each query's rows are
        # checked once per run, in verify()
        return Op("query", name, lambda: q.fn(ctx.spark, ctx.data_dir), action,
                  lambda _r, _d: True, rows=ctx.headline_rows.get(name, 0))

    def deck(self, rng: random.Random) -> Iterator[Op]:
        """One deck: every headline query once, in seeded order."""
        names = list(self.queries)
        rng.shuffle(names)
        for name in names:
            yield self.query_op(name)

    def warm_up(self) -> None:
        op = self.query_op("q01_pricing_summary")
        op.action(op.build())

    def verify(self) -> list[bool]:
        """Untimed, once per run: each query's rows against its oracle SQL
        (``dedup_minhash_lsh`` has none: its pairs must be the planted ones)."""
        ok, oracle = [], self.ctx.oracle
        for name, q in self.queries.items():
            table = q.fn(self.ctx.spark, self.ctx.data_dir).toArrow()
            self.release_tracked()
            self.ctx.headline_rows[name] = table.num_rows
            if q.oracle is not None:
                want = oracle.digest(q.oracle)
            else:
                table = table.select(["id_a", "id_b"])
                want = oracle.digest("SELECT id_a, id_b FROM planted_pairs")
            ok.append(oracle.digest_arrow(table) == self.ctx.expect(want))
        return ok


WORKLOADS = {w.name: w for w in (ODataMix, Headline)}
