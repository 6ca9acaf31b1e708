"""SparkSession helpers tuned for the engine.

Defaults are chosen for the local[32] test harness but the knobs are the
ones that matter on a real cluster: AQE (runtime re-planning + skew-join
handling), adaptive shuffle partition coalescing, and Arrow for every
Python<->JVM boundary. On a 1000-executor cluster only
``spark.sql.shuffle.partitions`` needs re-tuning (or leave AQE to coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_TUNED_CONF = {
    # Adaptive query execution: runtime re-plan, skew-join splitting,
    # shuffle-partition coalescing. Essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs / toPandas — the only sane Python boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Naive parquet timestamps (isAdjustedToUTC=false) must read as NTZ so
    # results are timezone-independent (matches DuckDB's naive TIMESTAMP).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Broadcast joins for small dims; AQE also converts at runtime.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Python Data Source filter pushdown (our OData connector translates
    # pushed filters into server-side $filter).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Deterministic, DuckDB-comparable timestamp semantics.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) columns (events.ts) read as long nanos;
    # suite.load converts to microsecond timestamps (matching DuckDB's
    # truncation of the same files).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` below every
    # explode(); in this engine the exploded array is ALWAYS a computed
    # expression (shingles/tokens from text), so the inferred filter is
    # pushed through the projection into the parquet scan where it (a)
    # evaluates the full array expression a second time and (b) runs it
    # inside the scan task — serial when the input is one row group
    # (measured: dedup_allpairs_prefix 18.5 -> 6.8 s warm at sf0.1 from
    # this exclusion alone). Semantically a no-op: explode() emits
    # nothing for empty or NULL arrays with or without the filter. On a
    # stored-array table the inference could prune I/O, but no engine
    # table stores arrays, so exclusion is the right engine-wide call.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def tuned_conf() -> dict[str, str]:
    return dict(_TUNED_CONF)


def get_spark(app_name: str = "erpl_web_spark", master: str | None = None) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
        if master is None:
            master = f"local[{cpus}]"
    builder = builder.master(master)
    # Shuffle partitions follow the local core count (r14): the driver
    # benches at several $SPARK_GRAFT_CPUS values, and a constant 32
    # means 4x task over-provisioning at 8 cores (pure scheduling
    # overhead on these data sizes). SPARK_GRAFT_SHUFFLE_PARTITIONS
    # still overrides for cluster tuning (a real cluster wants
    # 100MB-1GB-sized partitions, not a core count); AQE coalescing
    # remains the scale-side guard either way.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle_parts is None:
        m = master[6:-1] if master.startswith("local[") and master.endswith("]") else ""
        shuffle_parts = m if m.isdigit() else cpus
    builder = builder.config("spark.sql.shuffle.partitions", shuffle_parts)
    # Driver heap (r14): local-mode Spark defaults to a 1 GiB JVM heap,
    # which leaves ~0.4 GiB of unified execution+storage memory shared
    # by all $SPARK_GRAFT_CPUS task slots — measured here as spill + GC
    # pressure on every multi-MB shuffle and a broadcast-build OOM after
    # long sessions (localCheckpoint blocks accumulate). 8g is sized for
    # the harness (well under the sandbox's RAM even with the bench's
    # lower-core runs); real clusters size executor memory separately
    # and can override with SPARK_GRAFT_DRIVER_MEMORY. Static conf: only
    # honored when the session is built here (the builder conf reaches
    # the JVM launcher); an externally-owned session keeps its own.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g")
    )
    for k, v in _TUNED_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-owned session.

    The driver harness owns the SparkSession it passes to ``entry()`` /
    ``queries()``; we must not restart it, but runtime-mutable confs can
    still be aligned.

    ``spark.sql.shuffle.partitions`` is replaced by the session's default
    parallelism only while it reads 200, Spark's default. Caveat: the
    value alone cannot tell an untouched default from an owner who set
    200 on purpose, so a deliberate 200 is treated as untouched and
    replaced too (set ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` to pin it).
    """
    for k, v in _TUNED_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep whatever it has
    # Align shuffle width with the session's actual parallelism (r14):
    # an externally-owned session arrives with the 200-partition default,
    # which on a local[N] harness is pure task-scheduling overhead. Env
    # override wins, mirroring get_spark. Guard (ADVICE r14): only the
    # untouched 200 default is replaced — a session whose owner set a
    # deliberate value keeps it.
    try:
        env_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", env_parts)
        elif str(spark.conf.get("spark.sql.shuffle.partitions", "200")) == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    return spark
