"""Log-bucket quantile sketch — the third mergeable sketch family next
to HLL (distinct counts, ``text.hll_distinct``) and Count-Min (token
frequencies, ``text.countmin_sketch``): bounded-memory rank/quantile
estimates with a guaranteed relative-error bound, the summary a 100 TB
profiling pass keeps per column where an exact sort-based percentile
would shuffle the corpus.

The bucket map is the DDSketch idea (Masson, Rim & Lee, VLDB 2019 —
log-spaced buckets give RELATIVE-error quantiles) restricted to
non-negative integers and a power-of-two base so every step is integer
bit arithmetic, exact in any engine:

    bl   = bit length of v          (length of the binary string)
    s    = max(bl - 1 - sub_bits, 0)
    edge = (v >> s) << s            bucket lower edge, the estimate
    width = 1 << s                  bucket extent [edge, edge + width)

Values below ``2**(sub_bits+1)`` get singleton buckets (exact); larger
values keep their top ``sub_bits + 1`` bits, so the bucket's relative
width — and therefore the quantile estimate's relative error — is at
most ``2**-sub_bits`` (6.25% at the default 4). Bucket intervals are
disjoint and totally ordered, and ``edge`` alone identifies a bucket,
so the sketch is just ``(edge, width, cnt)`` rows: at most
``2**(sub_bits+1) + 63 * 2**sub_bits`` of them (~1 072 at the default)
REGARDLESS of corpus size, and the count aggregate combines map-side so
the shuffle carries at most that many rows per map task.

Merging sketches is a per-edge SUM (additive, like Count-Min and unlike
HLL's register max): the summed sketch is bit-identical to a single
pass over the concatenated corpus, which is what makes the incremental
on-disk index (``qsketch_index_apply`` et al., the ``cms_index``
protocol) lossless — and what makes its compaction unsafe under the
manifest compactor's double-visibility crash window, hence the same
refuse-compaction / rebuild-into-fresh-path posture.

Quantile extraction is pure integer arithmetic end to end: rank
``r = ceil(q_permille * n / 1000)`` via integer ceil-division, estimate
= the lower edge of the first bucket whose cumulative count reaches
``r``. No doubles anywhere, so a DuckDB oracle replays the whole
sketch bit-exactly (the countmin posture: the error CONTRACT is
value-hash-checked, not asserted).

Reference parity: the reference ships no sketch engine — this family
is part of the beyond-reference training-data-pipeline surface (the
HLL/CMS precedent, SURVEY.md §2 LLM-ops block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def logbucket_expr(value_col: str, sub_bits: int = 4):
    """(edge, width) column pair for ``value_col`` — the pure-integer
    bucket map documented in the module docstring. Input must be a
    non-negative BIGINT (filter/quantize first; ``logbucket_sketch``
    drops NULLs and raises-by-contract on negatives, whose two's-
    complement bit strings would bucket meaninglessly)."""
    s = f"greatest(length(bin({value_col})) - 1 - {sub_bits}, 0)"
    edge = F.expr(f"(({value_col} >> {s}) << {s})")
    width = F.expr(f"CAST(1 AS BIGINT) << {s}")
    return edge.alias("edge"), width.alias("width")


def logbucket_sketch(
    df: DataFrame,
    value_col: str,
    sub_bits: int = 4,
) -> DataFrame:
    """Sketch the non-NULL, non-negative values of ``value_col`` into
    ``(edge, width, cnt)`` bucket rows — at most ~2**(sub_bits+1) +
    63 * 2**sub_bits rows total, partial-aggregated map-side. NULLs
    are excluded (the SQL aggregate convention); negatives violate the
    contract and are excluded the same way — quantize signed data to
    a non-negative domain first (offset or absolute value, the
    caller's semantic choice, not the sketch's)."""
    edge, width = logbucket_expr(value_col, sub_bits)
    return (
        df.where(F.col(value_col).isNotNull() & (F.col(value_col) >= 0))
        .select(edge, width)
        .groupBy("edge", "width")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def logbucket_merge(*sketches: DataFrame) -> DataFrame:
    """Per-edge SUM of bucket counts: bit-identical to sketching the
    concatenated inputs in one pass (additivity — pytest-pinned on
    arbitrary splits)."""
    it = iter(sketches)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    return u.groupBy("edge", "width").agg(F.sum("cnt").alias("cnt"))


def logbucket_quantiles(
    sketch: DataFrame,
    qs_permille: list[int],
) -> DataFrame:
    """Quantile estimates from a :func:`logbucket_sketch`: for each
    q in ``qs_permille`` (integer thousandths — 500 = median), rank
    ``r = ceil(q * n / 1000)`` by integer ceil-division and the
    estimate is the lower edge of the first bucket whose cumulative
    count reaches r. Returns one row per q:

        (q_permille, rank_r, est_edge, bucket_width, n_below, n_through)

    where ``n_below`` (= cumulative count strictly before the chosen
    bucket) and ``n_through`` (= through it) carry the structural
    guarantee ``n_below < rank_r <= n_through``: the true rank-r value
    lies INSIDE [est_edge, est_edge + bucket_width), so the estimate's
    relative error is bounded by bucket_width / est_edge <=
    2**-sub_bits. All integers — cross-engine exact.

    The cumulative window runs over the SKETCH (~1k rows whatever the
    corpus size), so the single-partition Window here is config-scale,
    never corpus-scale — the corpus was reduced in the one map-side-
    combined groupBy that built the sketch."""
    spark = sketch.sparkSession
    w = Window.orderBy("edge").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        sketch.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy()))
    )
    from erpl_web_spark.core.localframe import local_rows

    qdf = local_rows(spark, [(int(q),) for q in qs_permille], "q_permille int")
    # integer ceil division: ceil(q*n/1000) = (q*n + 999) div 1000
    r = F.expr("(CAST(q_permille AS BIGINT) * n + 999) div 1000")
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .withColumn("rank_r", r)
        .where(F.col("cum") >= F.col("rank_r"))
        .groupBy("q_permille", "rank_r")
        .agg(F.min_by(
            F.struct("edge", "width", "cum", "cnt"), F.col("edge")
        ).alias("b"))
    )
    return hit.select(
        "q_permille",
        "rank_r",
        F.col("b.edge").alias("est_edge"),
        F.col("b.width").alias("bucket_width"),
        (F.col("b.cum") - F.col("b.cnt")).alias("n_below"),
        F.col("b.cum").alias("n_through"),
    )


# ---------------------------------------------------------------------------
# On-disk incremental index — the eighth incremental state family, the
# additive-index protocol shared with cms_index (operators.additive_index):
# per-batch bucket sketches committed as qsk=<batch_id>, merged by
# per-edge SUM, compaction refused, pruning via fresh-path rebuild.

_KIND = "qsk"
_KEYS = ["edge", "width"]
_GEOM = ["sub_bits"]


def read_qsketch_index(spark, path: str, before: int | None = None):
    """Merged (edge, width, cnt) sketch over every committed batch —
    per-edge SUM, bit-identical to one pass over everything — or None
    when the index is empty."""
    from erpl_web_spark.operators import additive_index as _ai

    return _ai.index_read(spark, path, _KIND, _KEYS, before=before)


def qsketch_index_apply(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    value_col: str = "v",
    sub_bits: int = 4,
) -> None:
    """foreachBatch sink: sketch this batch's values and commit them as
    ``qsk=<batch_id>``. Idempotent on replay; raises on a sub_bits
    mismatch with the existing index (buckets of different resolution
    must not be summed). Which column the values come from is the
    caller's semantic contract, like ``text_col`` in the CMS index."""
    from erpl_web_spark.operators import additive_index as _ai

    sk = logbucket_sketch(batch_df, value_col, sub_bits)
    _ai.index_apply(sk, batch_id, path, _KIND, {"sub_bits": sub_bits})


def qsketch_index_compact(spark, path: str, keep_latest: int = 1) -> int:
    """REFUSED, deliberately — the cms_index reasoning verbatim: bucket
    counts are ADDITIVE, and the manifest compactor's crash window
    shows merged-away rows TWICE, doubling sums. Accumulation is
    bounded (each batch adds at most ~1 072 rows at sub_bits=4); when
    pruning matters, use :func:`qsketch_index_rebuild`."""
    from erpl_web_spark.operators import additive_index as _ai

    _ai.index_refuse_compact(_KIND, "qsketch_index_rebuild")


def qsketch_index_rebuild(spark, path: str, dest_path: str) -> int:
    """Fresh-path rewrite collapsing every committed version into one
    (the additive-index rebuild contract: crash/replay-safe, refuses
    in-place and any dest holding foreign live versions). Returns the
    version id committed at ``dest_path``."""
    from erpl_web_spark.operators import additive_index as _ai

    return _ai.index_rebuild(spark, path, dest_path, _KIND, _KEYS, _GEOM)


def qsketch_index_quantiles(
    spark, path: str, qs_permille: list[int], before: int | None = None
):
    """Quantile estimates from the merged committed index (or None when
    empty) — :func:`logbucket_quantiles` over the per-edge SUM, which
    additivity makes identical to single-pass estimates over the whole
    corpus."""
    sk = read_qsketch_index(spark, path, before=before)
    if sk is None:
        return None
    return logbucket_quantiles(sk, qs_permille)


def logbucket_equidepth(
    sketch: DataFrame,
    n_buckets: int,
) -> DataFrame:
    """Equi-depth range-partition bounds from a :func:`logbucket_sketch`
    — the planner input for ``df.repartitionByRange(n, col)`` / a
    range-partitioned write, derived from ONE corpus pass instead of
    the sampling pass Spark's RangePartitioner would run: boundary k
    (k = 1..n-1) is the quantile estimate at rank ``ceil(k * N / n)``,
    and because boundaries are bucket lower edges, the ACHIEVED
    partition sizes are exact cumulative-count differences read off the
    same sketch — the balance audit costs nothing extra.

    Returns one row per resulting partition:

        (bucket, lo_edge, n_rows, ideal_rows, balance_permille)

    where partition ``bucket`` holds values in [lo_edge, next lo_edge)
    — bucket 0 starts at 0 (the sketch domain is non-negative by
    contract) and the last bucket is open above, so every column is
    NULL-free integers. ``n_rows`` is the EXACT row count that split
    would realize, ``ideal_rows = N div n`` and ``balance_permille =
    n_rows * 1000 div ideal_rows`` (1000 = perfectly balanced; kept
    positive-integer so floor division agrees across engines).
    Bucket-width granularity bounds the imbalance: a boundary can miss
    its ideal rank only by rows sharing the boundary bucket, i.e. by
    <= 2**-sub_bits of the local density.

    All integer arithmetic over the geometry-bounded sketch — the
    windows here touch <= ~1k + n rows, never the corpus.
    """
    if n_buckets < 2:
        raise ValueError("logbucket_equidepth: n_buckets must be >= 2")
    spark = sketch.sparkSession
    w = Window.orderBy("edge").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        sketch.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy()))
    )
    from erpl_web_spark.core.localframe import local_rows

    kdf = local_rows(spark, [(int(k),) for k in range(1, n_buckets)], "k int")
    bounds = (
        cum.crossJoin(F.broadcast(kdf))
        .where(
            F.col("cum")
            >= F.expr(f"(CAST(k AS BIGINT) * n + {n_buckets - 1}) div {n_buckets}")
        )
        .groupBy("k")
        .agg(
            F.min_by(F.struct("edge", "cum", "cnt", "n"), F.col("edge")).alias("b")
        )
        .select(
            "k",
            F.col("b.edge").alias("edge"),
            (F.col("b.cum") - F.col("b.cnt")).alias("n_below"),
            F.col("b.n").alias("n"),
        )
    )
    total = sketch.agg(F.sum("cnt").alias("n")).select(
        F.lit(n_buckets).cast("int").alias("k"),
        F.lit(0).cast("long").alias("edge"),  # unused sentinel row
        F.col("n").alias("n_below"),
        "n",
    )
    first = sketch.agg(F.sum("cnt").alias("n")).select(
        F.lit(0).cast("int").alias("k"),
        F.lit(0).cast("long").alias("edge"),
        F.lit(0).cast("long").alias("n_below"),
        "n",
    )
    allb = bounds.unionByName(first).unionByName(total)
    lw = Window.orderBy("k")
    out = (
        allb.withColumn("next_below", F.lead("n_below").over(lw))
        .where(F.col("k") < n_buckets)
        .select(
            F.col("k").alias("bucket"),
            F.col("edge").alias("lo_edge"),
            (F.col("next_below") - F.col("n_below")).alias("n_rows"),
            F.expr(f"n div {n_buckets}").alias("ideal_rows"),
            F.expr(
                f"(next_below - n_below) * 1000 div (n div {n_buckets})"
            ).alias("balance_permille"),
        )
    )
    return out
