"""Result checks against DuckDB on the same parquet files.

A result is compared by row count plus an order-insensitive hash, both
computed by DuckDB: every row is rendered to one string (columns in name
order, doubles to 12 significant digits so that a sum taken in another
order still matches, time-zone-aware timestamps as UTC wall time), hashed,
and the hashes are summed modulo 2^64. Spark results arrive as Arrow
tables, so both sides go through the same SQL.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Iterable

import duckdb

_FLOATS = ("DOUBLE", "FLOAT")


def _canon(name: str, dtype: str) -> str:
    col = f'"{name}"'
    if dtype in _FLOATS:
        expr = f"printf('%.12g', {col})"
    elif dtype.startswith("TIMESTAMP WITH TIME ZONE"):
        expr = f"CAST(CAST({col} AS TIMESTAMP) AS VARCHAR)"
    else:
        expr = f"CAST({col} AS VARCHAR)"
    return f"coalesce({expr}, 'NULL')"


class DuckOracle:
    """DuckDB views over the benchmark's parquet tables.

    The tables never change after generation, so the digest of each oracle
    query is kept in a cache file beside them and computed once. The file's
    name carries a hash of this module, so a change to how digests are
    taken starts a new cache.
    """

    def __init__(self, data_dir: str, tables: Iterable[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        with open(__file__, "rb") as fh:
            stamp = hashlib.sha256(fh.read()).hexdigest()[:12]
        self.cache_path = os.path.join(data_dir, f"oracle_cache-{stamp}.json")
        try:
            with open(self.cache_path) as fh:
                self.cache: dict[str, list[int]] = json.load(fh)
        except (OSError, ValueError):
            self.cache = {}
        self.dirty = False

    def digest(self, sql: str) -> tuple[int, int]:
        """(row count, order-insensitive 64-bit hash) of an oracle query."""
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.cache:
            self.cache[key] = list(self._digest(sql))
            self.dirty = True
        return tuple(self.cache[key])

    def _digest(self, sql: str) -> tuple[int, int]:
        rel = self.con.sql(sql)
        cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
        row = ", '|', ".join(_canon(n, t) for n, t in cols)
        n, h = self.con.sql(
            f"SELECT count(*), coalesce(sum(hash(concat({row}))), 0) FROM ({sql})"
        ).fetchone()
        return n, int(h) % (1 << 64)

    def digest_arrow(self, table) -> tuple[int, int]:
        """The same digest of an Arrow table (a Spark result)."""
        self.con.register("spark_result", table)
        try:
            return self._digest("SELECT * FROM spark_result")
        finally:
            self.con.unregister("spark_result")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()
        if self.dirty:
            tmp = f"{self.cache_path}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.cache_path)
