"""Oracle-checked query suite.

Every entry pairs a PySpark DataFrame program with an equivalent ANSI-SQL
string that DuckDB runs on the same parquet tables; the driver compares
row counts, schemas and order-insensitive value hashes (see
__spark_entry__.py). Conventions that keep the comparison byte-stable:

- Every computed column is aliased identically on both sides.
- Float aggregates go through ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS
  DOUBLE)`` so accumulation is exact and order-independent; per-row double
  arithmetic (products, differences, divisions) is IEEE-identical across
  engines and left as-is.
- Window orderings always include a unique tiebreaker column.
- Timestamps are naive (parquet isAdjustedToUTC=false -> Spark
  TIMESTAMP_NTZ, DuckDB TIMESTAMP); interval comparisons are used instead
  of epoch conversions so results are session-timezone independent.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> rows-only check (non-SQL-expressible)
    headline: bool = False  # include in bench.py


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name, fn, oracle, headline)
        return fn

    return deco


def _scan_bytes(path: str) -> int | None:
    """Total bytes under a local parquet path (file or directory);
    None for non-local URIs."""
    import os

    if "://" in path:
        return None
    if os.path.isfile(path):
        return os.path.getsize(path)
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )
    return None


def duckdb_parquet_src(path: str) -> str:
    """Quoted DuckDB source expression for a parquet path: driver
    testdata ships single files, locally-synthesized SFs (tools' sf1)
    are Spark-written part-file directories — glob those so DuckDB
    reads them too. Non-local URIs pass through as-is (os.path.isdir is
    False for them; DuckDB's httpfs handles globbing remotely). One
    shared helper so the oracle gate and the loopback OData server
    never diverge on the same layout."""
    import os

    return f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"


# load() plan memo: (applicationId, path, mtime_ns, size, spread) ->
# finished lazy DataFrame. Metadata-only (see load docstring); bounded
# by #tables x #sf_dirs per session.
_LOAD_MEMO: dict[tuple, DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, table: str, spread: bool = False) -> DataFrame:
    """Read one driver table. ``spread=True`` rebalances a too-coarse scan
    up to the session's default parallelism — the test parquet is a single
    row-group per table, which would otherwise serialize CPU-heavy per-row
    work (shingling, hashing, vector math) into one task. On real data
    (many files/row-groups) the scan already has enough splits and this is
    a no-op; results are partitioning-independent either way.

    The under-split decision uses the file size against
    ``spark.sql.files.maxPartitionBytes`` (driver-side arithmetic, no
    Spark job — the ``df.rdd`` partition probe costs ~100 ms of plan
    time per call); non-local paths fall back to the probe.

    PLAN memoization (r14, guide §1 "measure first" finding): a bare
    ``spark.read.parquet(path)`` costs ~75-90 ms of driver time per
    call — schema inference re-reads the footer and a fresh
    InMemoryFileIndex re-lists the path — and the bench pays it once
    per table per rep (q05 alone loads 6 tables: ~0.45 s/rep of pure
    re-inference). The finished lazy DataFrame for a (session, path,
    mtime, size, spread) key is therefore memoized and returned on
    later calls. This caches METADATA ONLY: the returned plan is lazy,
    every action re-reads the parquet bytes from disk (results never
    cached), and the file-identity key (mtime_ns, size — plus
    per-part-file identity for directory tables, whose own mtime does
    not change on an in-place part rewrite; ADVICE r14) drops the memo
    the moment the data changes. Self-joins of one memoized relation
    resolve exactly like any ``df.join(df, ...)`` — Spark's
    DeduplicateRelations rewrites the duplicate side (the suite's
    double-load queries use the documented ``.alias()`` pattern and are
    oracle-checked under the memo). Non-suite callers joining two
    load() results of the same table should ``.alias()`` the sides,
    exactly as with two references to one DataFrame."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    path = f"{sf_dir}/{table}.parquet"
    key = None
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # Directory-shaped table (ADVICE r14): an in-place rewrite
            # of a part file keeps the directory's own mtime/size, so
            # the identity key folds in the part files' (name, mtime,
            # size) — any rewrite, add, or delete changes the key and
            # drops the stale memoized file index.
            parts = []
            for r, _, fs in os.walk(path):
                for f in fs:
                    pst = os.stat(os.path.join(r, f))
                    parts.append((f, pst.st_mtime_ns, pst.st_size))
            ident: tuple = (st.st_mtime_ns, st.st_size, tuple(sorted(parts)))
        else:
            ident = (st.st_mtime_ns, st.st_size)
        key = (
            spark.sparkContext.applicationId,
            path,
            ident,
            spread,
        )
    except OSError:
        pass  # non-local URI or vanished file: build uncached
    if key is not None:
        hit = _LOAD_MEMO.get(key)
        if hit is not None:
            return hit
    df = spark.read.parquet(path)
    if spread:
        target = spark.sparkContext.defaultParallelism
        size = _scan_bytes(path)
        if size is not None:
            try:
                mpb = int(str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")).rstrip("b"))
            except ValueError:
                mpb = 128 << 20
            est_splits = max(1, size // mpb)
            if est_splits < target:
                df = df.repartition(target)
        elif df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    if table == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # TIMESTAMP(NANOS) parquet read as long via
        # spark.sql.legacy.parquet.nanosAsLong; truncate to microseconds —
        # exactly what DuckDB does reading the same file. `div` keeps the
        # arithmetic in exact integer space (doubles can't hold epoch-nanos).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if key is not None:
        _LOAD_MEMO[key] = df
    return df


# Re-export: suite entries build their collect-then-rebuild results
# through this (see core/localframe.py for the why).
from erpl_web_spark.core.localframe import local_rows  # noqa: E402, F401


def all_queries() -> dict[str, Query]:
    # Import side-effect registers everything.
    from erpl_web_spark.suite import (  # noqa: F401
        natural,
        pipeline,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
    )

    return dict(REGISTRY)
