"""Similarity search over embedding columns (array<float>).

- ``cosine_top_k`` — brute-force baseline: broadcast the probe set,
  JVM-side dot products (zip_with + aggregate), per-probe top-k via
  window. Exact; cost |corpus| × |probes|.
- ``lsh_bucket_candidates`` — the scale path: deterministic random-
  hyperplane signs (seeded xxhash64, no driver-side RNG state), bucket by
  sign bits, only compare within buckets. Sub-linear candidate generation
  for ANN at 100 TB; pair with ``cosine_top_k`` inside buckets.

All arithmetic is double-precision and strictly left-to-right
(F.aggregate folds sequentially) so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from erpl_web_spark.core.localframe import local_rows


def dot_expr(a: Column, b: Column, dim: int | None = None) -> Column:
    """Fold-ordered dot product. With ``dim`` given, the fold is
    unrolled into a left-associated chain of codegen arithmetic —
    bit-identical to the HOF fold (same 0.0 seed, same element order,
    same double adds) but without the per-pair array allocation and
    interpreted lambda of zip_with/aggregate, which dominate O(n²)
    pair frames (guide §4: keep hot expressions in codegen)."""
    if dim is not None:
        acc: Column = F.lit(0.0)
        for i in range(dim):
            acc = acc + a[i].cast("double") * b[i].cast("double")
        # Guard (ADVICE r14): a wrong ``dim`` would silently truncate
        # (vector longer) or NULL single terms (vector shorter) — make
        # the mismatch an unambiguous NULL result instead of a wrong
        # number. Cheap: two size() calls against codegen arithmetic.
        return F.when((F.size(a) == dim) & (F.size(b) == dim), acc)
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def with_vector_norm(df: DataFrame, vec_col: str = "embedding", out: str = "norm") -> DataFrame:
    return df.withColumn(out, norm_expr(F.col(vec_col)))


def cosine_top_k(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors in ``corpus`` for every probe row.

    The probe side is broadcast (small by construction); the corpus
    streams through a map-only stage, then a window takes top-k per probe.
    Returns (probe_id, neighbor_id, cosine, rank).
    """
    # Norms are computed once per row on each side (not once per pair —
    # that would triple the per-pair flops); the pair stage is dot/(na*nb).
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        norm_expr(F.col(vec_col)).alias("pnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        norm_expr(F.col(vec_col)).alias("cnorm"),
    )
    joined = c.crossJoin(F.broadcast(p))
    if not include_self:
        joined = joined.where(F.col("probe_id") != F.col("neighbor_id"))
    scored = joined.select(
        "probe_id",
        "neighbor_id",
        (dot_expr(F.col("probe_vec"), F.col("vec")) / (F.col("pnorm") * F.col("cnorm"))).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_top_k_blas(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
    shortlist_margin: int = 3,
    carry_vectors: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors, BLAS-accelerated: same contract and
    bit-identical output as ``cosine_top_k``, ~10-30x faster.

    Three stages, corpus scanned ONCE:

    1. Shortlist (Arrow-batched mapInPandas over the corpus): one numpy
       matmul per partition scores every corpus vector against the whole
       probe matrix and keeps the per-probe top ``k*shortlist_margin``
       WITHIN each partition — the map-side-combine shape, so candidate
       volume is n_partitions x n_probes x (k*margin) no matter how big
       the corpus is, and nothing quadratic ever shuffles. Candidates
       carry their ORIGINAL float vector, so no second corpus scan is
       needed to re-score.
    2. Global prune: a skinny window on the numpy score cuts candidates
       to k+3 per probe — the only shuffle, bounded by
       n_probes x (k+3) output rows.
    3. Exact re-score: survivors are scored with the same JVM fold
       expression as ``cosine_top_k`` (strict left-to-right
       ``F.aggregate`` over the carried original vectors), so emitted
       cosine values are IDENTICAL to the brute-force baseline — the
       BLAS pass only selects, never scores the output.

    The per-partition exact top-k union provably contains the global
    top-k; the margins cover numpy-vs-fold summation-order drift
    (~1e-15) around selection boundaries. The probe set is collected to
    the driver (bounded by contract — probes are the small broadcast
    side, exactly as in ``cosine_top_k``). Ids must be integral.

    ``carry_vectors`` sizes the candidate shuffle: True (default)
    ships each candidate's vector through the prune exchange —
    n_partitions x n_probes x m x vec_bytes, the right trade up to
    ~10^4 partitions because the corpus is scanned once. On a corpus
    with very many partitions (100 TB ≈ 10^6 splits) set False: the
    shuffle carries only (probe_id, neighbor_id, score) and the pruned
    survivors (n_probes x (k+3) rows) are re-joined against the corpus
    by id — a second scan, but a broadcast-hash join against a tiny
    build side. Both modes emit identical values (test-pinned).
    """
    import numpy as np
    import pandas as pd

    probe_rows = probes.select(
        F.col(id_col).cast("long"), F.col(vec_col)
    ).collect()
    if not probe_rows:
        raise ValueError("probe set is empty")
    pids = np.array([r[0] for r in probe_rows], dtype=np.int64)
    P = np.array([list(r[1]) for r in probe_rows], dtype=np.float64)
    pn = np.linalg.norm(P, axis=1)
    pn[pn == 0] = 1.0
    Pn = P / pn[:, None]
    m = max(k * shortlist_margin, k + 3)

    def shortlist(batches):
        cand_scores: list[np.ndarray] = []  # each (n_probes, <=m)
        cand_ids: list[np.ndarray] = []
        vecs_by_id: dict[int, object] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            nrm = np.linalg.norm(C, axis=1)
            nrm[nrm == 0] = 1.0
            S = (Pn @ (C / nrm[:, None]).T)  # (n_probes, batch)
            if not include_self:
                S[pids[:, None] == ids[None, :]] = -np.inf
            take = min(m, S.shape[1])
            part = np.argpartition(-S, take - 1, axis=1)[:, :take]
            cand_scores.append(np.take_along_axis(S, part, axis=1))
            cand_ids.append(ids[part])
            for row_i in set(part.ravel().tolist()):
                vecs_by_id[int(ids[row_i])] = pdf[vec_col].iloc[row_i]
        if not cand_scores:
            return
        S = np.concatenate(cand_scores, axis=1)  # (n_probes, total)
        I = np.concatenate(cand_ids, axis=1)
        out_p, out_n, out_s = [], [], []
        for pi in range(S.shape[0]):
            order = np.lexsort((I[pi], -S[pi]))[:m]
            keep = order[S[pi][order] > -np.inf]
            out_p.extend([pids[pi]] * len(keep))
            out_n.extend(I[pi][keep].tolist())
            out_s.extend(S[pi][keep].tolist())
        if not out_p:
            # every candidate in this partition was a masked self-match
            # (e.g. a small partition holding only probe vectors):
            # yielding an empty frame here would hand Arrow a FLOAT64
            # "vec" column (pandas' dtype for an empty list) that it
            # cannot convert to list<float> — skip the batch instead
            return
        out = {
            "probe_id": np.array(out_p, dtype=np.int64),
            "neighbor_id": np.array(out_n, dtype=np.int64),
            "qscore": np.array(out_s, dtype=np.float64),
        }
        if carry_vectors:
            out["vec"] = [vecs_by_id[n] for n in out_n]
        yield pd.DataFrame(out)

    dim_schema = "probe_id long, neighbor_id long, qscore double"
    if carry_vectors:
        dim_schema += ", vec array<float>"
    # Explicit projection: mapInPandas consumes every input column, so
    # without this the parquet scan would read the whole row width.
    cand = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(shortlist, dim_schema)

    wq = Window.partitionBy("probe_id").orderBy(
        F.col("qscore").desc(), F.col("neighbor_id").asc()
    )
    pruned = (
        cand.withColumn("__qr", F.row_number().over(wq))
        .where(F.col("__qr") <= k + 3)
        .drop("__qr", "qscore")
    )
    if not carry_vectors:
        # Re-join survivors against the corpus by id: broadcast the tiny
        # candidate set into the corpus scan (second scan, no big shuffle).
        c = corpus.select(
            F.col(id_col).cast("long").alias("neighbor_id"),
            F.col(vec_col).alias("vec"),
        )
        pruned = c.join(F.broadcast(pruned), "neighbor_id")
    p = probes.select(
        F.col(id_col).cast("long").alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        norm_expr(F.col(vec_col)).alias("pnorm"),
    )
    scored = pruned.join(F.broadcast(p), "probe_id").select(
        "probe_id",
        "neighbor_id",
        (dot_expr(F.col("probe_vec"), F.col("vec")) / (F.col("pnorm") * norm_expr(F.col("vec")))).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def matryoshka_audit(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 16,
) -> DataFrame:
    """Matryoshka-truncation retrieval audit: does the top-1 neighbor
    found with only the FIRST ``dims`` dimensions agree with the
    full-precision top-1? MRL-trained embeddings front-load
    information, so prefix truncation is the standard cheap shortlist
    (search truncated, re-rank full); this measures what that costs on
    an actual corpus, per probe::

        (probe_id, trunc_top1, full_top1, agree,
         full_cos_of_trunc_pick, full_cos_best)

    ``agree`` is 1 when the picks match; the two cosine columns bound
    the quality loss when they don't (regret = best - pick).

    ONE corpus scan: the broadcast probe cross-product computes the
    truncated AND full cosine per pair in the same projection (the
    truncated dot is a prefix fold — no second vector column is
    materialized), and ONE partial-aggregable groupBy picks both
    top-1s via ``min_by`` on a (negated-cosine, neighbor id) ordering
    struct (= cosine desc, id asc; ids of any orderable type)
    — no window, so no per-probe partition ever holds
    corpus-sized row sets: the shuffle carries n_partitions x
    n_probes pre-combined rows no matter how big the corpus is. Ties
    break on neighbor id, so the audit is deterministic.
    """
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pv"),
        norm_expr(F.col(vec_col)).alias("pn"),
        norm_expr(F.slice(F.col(vec_col), 1, dims)).alias("ptn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(F.col(vec_col)).alias("cn"),
        norm_expr(F.slice(F.col(vec_col), 1, dims)).alias("ctn"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            (dot_expr(F.col("pv"), F.col("cv")) / (F.col("pn") * F.col("cn"))).alias(
                "cos_full"
            ),
            (
                dot_expr(F.slice(F.col("pv"), 1, dims), F.slice(F.col("cv"), 1, dims))
                / (F.col("ptn") * F.col("ctn"))
            ).alias("cos_trunc"),
        )
    )
    # min_by on (negated cosine, neighbor id) = cosine desc, id asc.
    # Only the cosine (a double we computed) is negated — ids stay
    # untouched, so string/GUID-keyed corpora work too.
    agg = scored.groupBy("probe_id").agg(
        F.min_by(
            F.struct(
                F.col("neighbor_id").alias("nid"), F.col("cos_full").alias("cf")
            ),
            F.struct((-F.col("cos_trunc")).alias("c"), F.col("neighbor_id").alias("n")),
        ).alias("t"),
        F.min_by(
            F.struct(
                F.col("neighbor_id").alias("nid"), F.col("cos_full").alias("cf")
            ),
            F.struct((-F.col("cos_full")).alias("c"), F.col("neighbor_id").alias("n")),
        ).alias("f"),
    )
    return agg.select(
        "probe_id",
        F.col("t.nid").alias("trunc_top1"),
        F.col("f.nid").alias("full_top1"),
        (F.col("t.nid") == F.col("f.nid")).cast("int").alias("agree"),
        F.col("t.cf").alias("full_cos_of_trunc_pick"),
        F.col("f.cf").alias("full_cos_best"),
    )


def knn_label_eval(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """k-NN label classification eval — the standard intrinsic quality
    check for an embedding space (does cosine neighborhood structure
    recover the labels?): for each probe, the majority label among its
    ``k`` nearest corpus neighbors (self excluded) vs its own label.

    Returns (probe_id, true_label, pred_label, n_votes, correct).
    Ties break deterministically: highest vote count, then smallest
    label. Neighbor selection reuses :func:`cosine_top_k_blas` (corpus
    scanned once, BLAS shortlist, exact re-score), so the eval's scale
    posture is the shortlist path's; the vote is a (probe, label)
    count aggregation plus one struct-max — both partial-aggregable,
    no window.
    """
    top = cosine_top_k_blas(corpus, probes, id_col, vec_col, k=k)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel")
    )
    # Tie-break = (votes desc, label asc) via min_by on an ordering
    # struct that negates only the COUNT (our own int) — never the
    # label, which may be a string or any orderable type (a negated
    # label crashes ANSI sessions on non-numeric labels).
    votes = (
        top.join(labels, "neighbor_id")
        .groupBy("probe_id", "nlabel")
        .agg(F.count("*").cast("int").alias("votes"))
        .groupBy("probe_id")
        .agg(
            F.min_by(
                F.col("nlabel"),
                F.struct((-F.col("votes")).alias("nv"), F.col("nlabel").alias("l")),
            ).alias("pred_label"),
            F.max("votes").alias("n_votes"),
        )
    )
    truth = probes.select(
        F.col(id_col).alias("probe_id"), F.col(label_col).alias("true_label")
    )
    return truth.join(votes, "probe_id").select(
        "probe_id",
        "true_label",
        "pred_label",
        "n_votes",
        (F.col("true_label") == F.col("pred_label")).cast("int").alias("correct"),
    )


def _planes(
    spark, num_planes: int, dim: int, seed: int = 42, hash_mode: str = "xxhash64"
) -> DataFrame:
    """Deterministic ±1 hyperplane components as a tiny broadcastable table.

    Component sign for (plane p, dim j) = parity of xxhash64(seed, p, j) —
    reproducible on any cluster with no RNG state to ship.
    ``hash_mode="md5"``: parity of the engine-portable 48-bit md5 family
    instead (dedup._md5_long48 over 'seed:plane:dim'), so DuckDB can
    rebuild the plane table bit-identically (the oracle-twin pattern).
    """
    from erpl_web_spark.operators.dedup import _md5_long48

    grid = (
        spark.range(num_planes)
        .withColumnRenamed("id", "plane")
        .crossJoin(spark.range(dim).withColumnRenamed("id", "dim"))
    )
    if hash_mode == "md5":
        h = _md5_long48(F.lit(seed), F.col("plane"), F.col("dim"))
    else:
        h = F.xxhash64(F.lit(seed), F.col("plane"), F.col("dim"))
    return grid.select(
        "plane",
        "dim",
        (h.bitwiseAND(F.lit(1)) * 2 - 1).cast("double").alias("sign"),
    )


def lsh_bucket_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (sign-bit bucketing).

    posexplode → broadcast-join the tiny plane table → partial-agg sum →
    sign bits → bucket bigint. One shuffle on (id, plane); vectors in the
    same bucket are ANN candidates.
    Returns (id_col, bucket).

    ``dim`` (vector width) is taken from the argument when given —
    deriving it from the data would trigger a driver-side Spark job at
    plan-build time (and fail on empty input). The fallback probes one
    row and exists for interactive use only.

    ``hash_mode="md5"`` (the oracle twin mode) additionally quantizes
    each component to ``round(x * 1e8)`` BIGINT before the projection,
    so the per-plane sum is EXACT integer arithmetic: the sign bit —
    hence the bucket — cannot drift with summation order across
    engines (the repo's integer-scaled-moments idiom,
    embedding_centroid). The production path keeps the double sum.
    """
    spark = df.sparkSession
    if dim is None:
        first = df.select(vec_col).head(1)
        if not first:
            raise ValueError(
                f"cannot infer vector dim from empty input; pass dim= explicitly"
            )
        dim = len(first[0][0])
    comps = df.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "x"))
    planes = _planes(spark, num_planes, dim, seed, hash_mode=hash_mode)
    if hash_mode == "md5":
        term = (
            F.round(F.col("x").cast("double") * F.lit(100_000_000)).cast("bigint")
            * F.col("sign").cast("bigint")
        )
    else:
        term = F.col("x").cast("double") * F.col("sign")
    proj = (
        comps.join(F.broadcast(planes), "dim")
        .groupBy(id_col, "plane")
        .agg(F.sum(term).alias("proj"))
    )
    bits = proj.select(
        F.col(id_col),
        F.when(F.col("proj") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), CAST(plane AS INT))"))
        .otherwise(F.lit(0).cast("long"))
        .alias("bit"),
    )
    return bits.groupBy(id_col).agg(F.sum("bit").cast("long").alias("bucket"))


def ann_top_k_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Approximate all-pairs top-k: exact cosine ranking within LSH buckets.

    The self-join key is the bucket id, so cost is Σ bucket² rather than
    n²; recall is tuned by num_planes (fewer planes → bigger buckets).
    Pass ``dim`` (vector width) to keep plan building job-free.
    ``hash_mode="md5"``: engine-portable plane signs + exact integer
    projections (see :func:`lsh_bucket_candidates`) for the oracle twin.
    Returns (probe_id, neighbor_id, cosine, rank).
    """
    buckets = lsh_bucket_candidates(
        df, id_col, vec_col, num_planes, seed, dim=dim, hash_mode=hash_mode
    )
    v = (
        df.select(F.col(id_col), F.col(vec_col), norm_expr(F.col(vec_col)).alias("nrm"))
        .join(buckets, id_col)
    )
    a = v.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"),
        F.col("nrm").alias("pnorm"), F.col("bucket"),
    )
    b = v.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"),
        F.col("nrm").alias("cnorm"), F.col("bucket"),
    )
    scored = (
        a.join(b, "bucket")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            (dot_expr(F.col("probe_vec"), F.col("vec")) / (F.col("pnorm") * F.col("cnorm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# -- IVF (inverted-file) ANN — the coarse-quantizer scale path ---------------

def ivf_centroids(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", stride: int = 50
) -> DataFrame:
    """Deterministic coarse quantizer: every ``stride``-th vector by id is
    a centroid (cell id = vector id). Production systems train centroids
    offline (e.g. pyspark.ml KMeans) — any (cell, centroid_vec) table
    plugs into ``ivf_assign`` unchanged; the modulo rule keeps the whole
    pipeline deterministic and oracle-checkable.
    """
    return df.where(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid_vec")
    )


def ivf_train_centroids(
    df: DataFrame,
    n_cells: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    init_steps: int = 2,
    vec_dtype: str = "float",
) -> DataFrame:
    """Trained coarse quantizer: pyspark.ml KMeans over the embedding
    column, returning the same (cell, centroid_vec) contract that
    ``ivf_assign`` / ``ann_top_k_ivf`` consume. This is the production
    path ``ivf_centroids``'s docstring points at: trained cells track
    the data distribution, so cell sizes are balanced and near neighbors
    co-locate far more often than under the deterministic modulo rule
    (higher recall at the same nprobe). Seeded — results are reproducible
    for a fixed input; unlike the modulo quantizer the output depends on
    the KMeans implementation, so it is test-verified rather than
    DuckDB-oracle-checked. Distributed: Spark ML's KMeans is the
    standard scalable trainer (optionally call on ``df.sample(...)``
    to train on a fraction at 100 TB). ``init_steps`` is the k-means||
    oversampling round count (Spark default 2): each round samples
    ~2k candidates cost-weighted, so raising it drives the probability
    that some true cluster has NO init candidate toward zero — the
    knob the planted-centroid oracle entry uses to make convergence to
    the planted partition a certainty rather than a likelihood.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = df.sparkSession
    vecs = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, initSteps=init_steps).fit(vecs)
    center_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    # float matches the embeddings column dtype (the ANN search path);
    # "double" preserves the trainer's exact fp64 centroids (the
    # planted-centroid oracle entry needs the full mantissa).
    return local_rows(spark, center_rows, f"cell long, centroid_vec array<{vec_dtype}>")


def ivf_cell_profile(
    sample: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    radius_mult: float = 3.0,
) -> DataFrame:
    """Neighbor-radius profile of a corpus SAMPLE, for sizing an IVF
    quantizer (codifies SCALING.md r12's measured design rule: a
    quantizer that partitions finer than the data's neighbor radius
    splits true neighbors across sibling cells, so n_cells should be
    ~ corpus / average neighborhood, not a fixed stride).

    Method, all cosine-space: (1) each sample point's distance to its
    k-th nearest sample neighbor; (2) the neighbor radius r* =
    ``radius_mult`` x median(d_k) — in high dimensions intra-cluster
    distances concentrate, so a small multiple of d_k spans a cluster
    without bridging to the next (on the 20-planted-cluster check the
    suggestion plateaus at the true count for mult in [3, 4]: larger
    radii add nothing once the cluster is captured, until the
    inter-cluster separation scale); (3) each point's neighborhood
    fraction = |{sample points within r*}| / n_sample (self included);
    (4) suggested_cells = round(1 / mean fraction) — the cell count at
    which an average cell holds one average neighborhood. The fraction
    is scale-free, so the suggestion transfers from the sample to the
    corpus directly.

    Returns ONE row: (n_sample, dk_median_r, frac_mean_r,
    suggested_cells) — the aggregate of :func:`ivf_point_profile`. The
    sample must be config-scale (the profile is an n_sample^2 pair
    frame — a few thousand rows, exactly what one would sample from
    100 TB to choose n_cells) and needs n_sample > k. Deterministic
    and engine-portable: pure column arithmetic over the fold-ordered
    dot product, no RNG.
    """
    pts = ivf_point_profile(sample, id_col, vec_col, k, radius_mult)
    return pts.agg(
        F.count("*").cast("bigint").alias("n_sample"),
        F.round(F.expr("percentile(dk, 0.5)"), 6).alias("dk_median_r"),
        F.round(F.avg(F.col("n_within") / F.col("n_sample_d")), 6).alias(
            "frac_mean_r"
        ),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.round(
                F.lit(1.0) / F.avg(F.col("n_within") / F.col("n_sample_d"))
            ).cast("bigint"),
        ).alias("suggested_cells"),
    )


def ivf_point_profile(
    sample: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    radius_mult: float = 3.0,
    dim: int | None = None,
) -> DataFrame:
    """Per-point neighbor-radius profile — the row-level form of
    :func:`ivf_cell_profile` (same pair frame, same radius rule):
    one row per sample point with ``dk`` (cosine distance to its k-th
    nearest sample neighbor) and ``n_within`` (count of sample points,
    self included, within r* = radius_mult x median(dk)). Use it to
    inspect the cluster-size spectrum behind the scalar suggestion
    (e.g. skewed cluster populations show as multimodal n_within).
    Returns (id_col, dk, n_within, n_sample_d).

    The O(n^2) pair frame feeds three consumers (the k-NN window, the
    median, the radius count), so it is persisted for the duration of
    the plan — registry-tracked, released between suite queries —
    paying the quadratic cost once instead of three times."""
    from erpl_web_spark.operators._cache import track_persist

    # Norms are hoisted out of the pair frame: computed once per POINT
    # on each side instead of once per PAIR (2 of the 3 per-pair HOF
    # aggregates gone), and the remaining dot is unrolled when ``dim``
    # is known. Same expression tree per value — sqrt(Σx²) on a single
    # row then dot/(na*nb) — so every double is bit-identical to the
    # per-pair form; only where it is computed moves (guide §2.3:
    # shrink work before the quadratic stage, not inside it).
    a = sample.select(
        F.col(id_col).alias("__pi"),
        F.col(vec_col).alias("va"),
        norm_expr(F.col(vec_col)).alias("na"),
    )
    b = sample.select(
        F.col(id_col).alias("ib"),
        F.col(vec_col).alias("vb"),
        norm_expr(F.col(vec_col)).alias("nb"),
    )
    pairs = track_persist(
        a.crossJoin(F.broadcast(b))
        .where(F.col("__pi") != F.col("ib"))
        .select(
            "__pi",
            "ib",
            (
                F.lit(1.0)
                - dot_expr(F.col("va"), F.col("vb"), dim)
                / (F.col("na") * F.col("nb"))
            ).alias("d"),
        ),
        "ivf_point_profile",
    )
    w = Window.partitionBy("__pi").orderBy("d", "ib")
    dk = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == k)
        .select("__pi", F.col("d").alias("dk"))
    )
    med = dk.agg(F.expr("percentile(dk, 0.5)").alias("med"))
    ns = sample.agg(F.count("*").cast("double").alias("n_sample_d"))
    cnt = (
        pairs.crossJoin(F.broadcast(med))
        .groupBy("__pi")
        .agg(
            (
                F.lit(1)
                + F.sum((F.col("d") <= F.col("med") * radius_mult).cast("int"))
            )
            .cast("bigint")
            .alias("n_within"),
        )
    )
    return (
        cnt.join(dk, "__pi")
        .crossJoin(F.broadcast(ns))
        .select(F.col("__pi").alias(id_col), "dk", "n_within", "n_sample_d")
    )


def ivf_suggest_cells(
    sample: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    radius_mult: float = 3.0,
    max_sample: int = 4000,
) -> int:
    """Suggested IVF cell count from a corpus sample's neighbor-radius
    profile — see :func:`ivf_cell_profile`. On a corpus with ~C true
    clusters resolved by the sample this returns ~C (not the
    over-partitioned stride count the r12 sweep showed losing recall).
    Feed the result to :func:`ivf_train_centroids`'s ``n_cells``.

    The profile is quadratic in the sample, so the config-scale
    contract is enforced here, not just documented: a frame larger
    than ``max_sample`` is strided down deterministically (portable
    hash of the id — re-runs and repartitions pick the same rows)
    before profiling. The suggestion is a neighborhood FRACTION, so it
    is unchanged by uniform subsampling as long as clusters stay
    resolved (a few thousand points resolve any structure a quantizer
    can exploit)."""
    from erpl_web_spark.operators.dedup import lattice_index

    n = sample.count()
    if n > max_sample:
        # keep ~max_sample rows via a deterministic hash stride
        keep = max(1, int(round(4096 * max_sample / n)))
        sample = sample.where(
            lattice_index("ivfsample", id_col, "md5", 4096) < keep
        )
        n = sample.count()
    if n <= k:
        # no rank-k neighbor exists: the profile would average over
        # zero rows and greatest(1, NULL) would silently suggest 1
        raise ValueError(
            f"sample has {n} rows but the profile needs more than k={k}; "
            "pass a larger sample or a smaller k"
        )
    row = ivf_cell_profile(sample, id_col, vec_col, k, radius_mult).collect()[0]
    return int(row["suggested_cells"])


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell per vector (cosine; ties -> lowest cell id).

    Broadcast the centroid table, score map-side, then a single partial
    aggregation (max of (cosine, -cell) struct) — no window sort, so the
    only shuffle is the groupBy on the vector id. Row and centroid norms
    are each computed once, not per (vector, centroid) pair.
    Returns (id_col, vec_col, nrm, cell).
    """
    cents = centroids.select(
        "cell", "centroid_vec", norm_expr(F.col("centroid_vec")).alias("centroid_nrm")
    )
    scored = (
        df.select(F.col(id_col), F.col(vec_col), norm_expr(F.col(vec_col)).alias("nrm"))
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("nrm"),
            F.struct(
                (
                    dot_expr(F.col(vec_col), F.col("centroid_vec"))
                    / (F.col("nrm") * F.col("centroid_nrm"))
                ).alias("cos"),
                (-F.col("cell")).alias("neg_cell"),
            ).alias("sc"),
        )
    )
    best = scored.groupBy(id_col, vec_col, "nrm").agg(F.max("sc").alias("best"))
    return best.select(
        id_col, vec_col, "nrm", (-F.col("best.neg_cell")).cast("long").alias("cell")
    )


def ann_top_k_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    stride: int = 50,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest-centroid cell; each
    probe searches its ``nprobe`` nearest cells exactly.

    Cost ≈ |corpus|·C map-side (C = #centroids, broadcast) + within-cell
    exact scoring of |probes|·nprobe·avg_cell — sub-linear in corpus size
    per probe, vs |corpus|·|probes| brute force. Recall is tuned by
    nprobe/stride. Returns (probe_id, neighbor_id, cosine, rank).

    ``centroids``: any (cell, centroid_vec) table — pass the
    ``ivf_train_centroids`` output to run the search over the TRAINED
    quantizer (the production path: balanced cells, higher recall at
    the same nprobe). Default None keeps the deterministic modulo
    quantizer (``stride``).

    PROBE-SIZE CONTRACT: the probe set must fit in executor memory
    (x nprobe rows, each carrying its vector) — the per-probe cost
    model assumes it, and ``broadcast_probes=True`` (default) pins the
    cell join to a broadcast-hash join accordingly: the probe-side
    rank window hides the true size from Catalyst's estimator, which
    otherwise plans a SortMergeJoin that shuffles the CORPUS (observed
    in the r12 plan audit). An explicit hint bypasses
    ``autoBroadcastJoinThreshold``, so a caller running a corpus-scale
    probe set (a self-join-style all-vs-all sweep) must pass
    ``broadcast_probes=False`` to fall back to a shuffle join instead
    of OOMing executors.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, stride)
    )
    assigned = ivf_assign(corpus, cents, id_col, vec_col)

    probe_scored = (
        probes.select(F.col(id_col), F.col(vec_col), norm_expr(F.col(vec_col)).alias("pnorm"))
        .crossJoin(F.broadcast(cents.select(
            "cell", "centroid_vec", norm_expr(F.col("centroid_vec")).alias("centroid_nrm"))))
        .select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("probe_vec"),
            F.col("pnorm"),
            F.col("cell"),
            (
                dot_expr(F.col(vec_col), F.col("centroid_vec"))
                / (F.col("pnorm") * F.col("centroid_nrm"))
            ).alias("ccos"),
        )
    )
    w_cells = Window.partitionBy("probe_id").orderBy(F.col("ccos").desc(), F.col("cell").asc())
    probe_cells = (
        probe_scored.withColumn("crank", F.row_number().over(w_cells))
        .where(F.col("crank") <= nprobe)
        .select("probe_id", "probe_vec", "pnorm", "cell")
    )

    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"),
        F.col("nrm").alias("cnorm"), "cell",
    )
    # probes are the small side by contract (see docstring), but the
    # window above hides that from the size estimator — without the
    # hint the cell join plans as a SortMergeJoin that shuffles the
    # corpus side (observed in PLANS.md r12); broadcasting probe_cells
    # keeps the corpus map-side. Gated by broadcast_probes for the
    # rare corpus-scale probe set.
    pc = F.broadcast(probe_cells) if broadcast_probes else probe_cells
    scored = (
        pc.join(c, "cell")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            (dot_expr(F.col("probe_vec"), F.col("vec")) / (F.col("pnorm") * F.col("cnorm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# -- Class prototypes --------------------------------------------------------

def embedding_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean vector (class prototype), one output row per
    (label, dimension): ``idx`` is 1-based, ``centroid_val`` the mean of
    that dimension, ``n_vecs`` the class size.

    posexplode + groupBy(label, idx) is the scale path: partial
    aggregation combines map-side, the shuffle carries only
    labels x dims keys (not vectors), and no executor ever holds more
    than one (label, dim) accumulator pair. Elements are quantized to
    1e-8 integer units before summing, so the mean is exact,
    order-independent, and identical in any engine (float->decimal cast
    rounding differs across engines; round(double) half-away does not).
    """
    ex = df.select(F.col(label_col).alias("label"), F.posexplode(vec_col).alias("pos", "v"))
    units = F.round(F.col("v").cast("double") * F.lit(1e8)).cast("long")
    return ex.groupBy("label", (F.col("pos") + 1).cast("long").alias("idx")).agg(
        (F.sum(units).cast("double") / F.lit(1e8) / F.count("*")).alias("centroid_val"),
        F.count("*").alias("n_vecs"),
    )


# -- Quantization ------------------------------------------------------------

def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x| / 127``,
    ``q_i = clamp(round(x_i / scale), -127, 127)`` as ``array<tinyint>``;
    dequantize as ``q_i * scale``.

    The memory/bandwidth lever for ANN at corpus scale: a 4x smaller
    corpus-side vector (float32 -> int8) means 4x more vectors per
    executor page and a 4x cheaper shuffle when shortlists move; score
    shortlists with the dequantized dot product, then re-rank the top
    candidates against the full-precision vectors (the standard
    two-stage IVF recipe). All expressions are JVM-side HOFs — rounding
    is round-half-away (identical in DuckDB), so quantized values are
    engine-exact and oracle-checkable. Zero vectors get scale 0 and an
    all-zero code.
    """
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    with_scale = df.withColumn("_xd", xd).withColumn(
        scale_col, F.array_max(F.transform(F.col("_xd"), F.abs)) / F.lit(127.0)
    )
    clamped = lambda x: F.greatest(  # noqa: E731
        F.least(F.round(x / F.col(scale_col)), F.lit(127.0)), F.lit(-127.0)
    ).cast("tinyint")
    q = F.when(
        F.col(scale_col) > 0, F.transform(F.col("_xd"), clamped)
    ).otherwise(F.transform(F.col("_xd"), lambda x: F.lit(0).cast("tinyint")))
    return with_scale.withColumn(out_col, q).drop("_xd")


def dequantized_cosine_expr(qa: Column, sa: Column, qb: Column, sb: Column) -> Column:
    """Cosine of two int8-quantized vectors. The scales cancel in the
    cosine ratio, so this is integer dot / integer norms — cheap enough
    for a first-stage shortlist pass."""
    di = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    return di.cast("double") / (n(qa) * n(qb))


def ann_top_k_ivf_rerank(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    stride: int = 50,
    nprobe: int = 2,
    shortlist: int = 10,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Two-stage IVF ANN: int8-quantized shortlist, full-precision
    re-rank — the production recipe when the corpus no longer fits
    executor memory at float32. The probe-size contract and the
    ``broadcast_probes`` gate are :func:`ann_top_k_ivf`'s: the default
    broadcast hint assumes an executor-memory-sized probe set; pass
    ``broadcast_probes=False`` for a corpus-scale probe set.

    Stage 1 scores probes against the *quantized* corpus codes inside
    their ``nprobe`` nearest cells. The scoring is asymmetric (float
    probe x int8 code) and the per-vector scale cancels in the cosine
    ratio — dot(p, s*q) / (|p| * |s*q|) == dot(p, q) / (|p| * |q|) — so
    the stage-1 score needs no dequantization at all: integer-weighted
    dot products over a corpus 4x smaller in memory and shuffle bytes.
    Stage 2 re-scores only the per-probe ``shortlist`` survivors with
    exact float cosine. Recall loss vs plain IVF is bounded by int8
    rounding (cosine drift < ~0.02 at 32-64 dims, see tests) and
    recovered whenever the true top-k sit inside the shortlist.
    Deterministic end-to-end (ties break on neighbor_id), so fully
    value-hash oracle-checkable.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, stride)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    qasg = quantize_int8(assigned, id_col, vec_col)

    probe_scored = (
        probes.select(F.col(id_col), F.col(vec_col), norm_expr(F.col(vec_col)).alias("pnorm"))
        .crossJoin(F.broadcast(cents.select(
            "cell", "centroid_vec", norm_expr(F.col("centroid_vec")).alias("centroid_nrm"))))
        .select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("probe_vec"),
            F.col("pnorm"),
            F.col("cell"),
            (
                dot_expr(F.col(vec_col), F.col("centroid_vec"))
                / (F.col("pnorm") * F.col("centroid_nrm"))
            ).alias("ccos"),
        )
    )
    w_cells = Window.partitionBy("probe_id").orderBy(F.col("ccos").desc(), F.col("cell").asc())
    probe_cells = (
        probe_scored.withColumn("crank", F.row_number().over(w_cells))
        .where(F.col("crank") <= nprobe)
        .select("probe_id", "probe_vec", "pnorm", "cell")
    )

    qnorm = F.sqrt(
        F.aggregate(
            F.transform(F.col("q"), lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    c = qasg.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        F.col("nrm").alias("cnorm"),
        F.col("q"),
        qnorm.alias("qnrm"),
        "cell",
    )
    qdot = F.aggregate(
        F.zip_with(F.col("probe_vec"), F.col("q"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pc = F.broadcast(probe_cells) if broadcast_probes else probe_cells
    stage1 = (
        # probes are the small side by contract; see ann_top_k_ivf for
        # why the estimator can't see that through the rank window
        pc.join(c, "cell")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id", "probe_vec", "pnorm", "neighbor_id", "vec", "cnorm",
            (qdot / (F.col("pnorm") * F.col("qnrm"))).alias("qcos"),
        )
    )
    w1 = Window.partitionBy("probe_id").orderBy(F.col("qcos").desc(), F.col("neighbor_id").asc())
    short = stage1.withColumn("srank", F.row_number().over(w1)).where(
        F.col("srank") <= shortlist
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        short.select(
            "probe_id",
            "neighbor_id",
            (dot_expr(F.col("probe_vec"), F.col("vec")) / (F.col("pnorm") * F.col("cnorm"))).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )


# -- Covariance / PCA --------------------------------------------------------

def covariance_moments(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    unit_scale: int = 10_000,
) -> DataFrame:
    """Exact integerized covariance moments of an embedding column, in
    long format: rows ``(i=-1, j=-1, s=n)`` (count), ``(i, -1, s=Σq_i)``
    (element sums) and ``(i, j, s=Σq_i·q_j)`` for i <= j (product sums),
    where ``q = floor(x * unit_scale)`` as int64 — floor, not round, so
    the quantization has no tie case and any engine reproduces it
    bit-for-bit from the same floats.

    One Arrow pass: each partition reduces to at most 1 + dim +
    dim(dim+1)/2 skinny rows via numpy integer matmul (map-side
    combine), then ONE tiny groupBy sums partials exactly (int64) —
    the distributed-covariance shape whose shuffle is O(dim²) per
    partition, independent of corpus size. Int64 bounds: |q| <=
    ~unit_scale·max|x|, so Σq_iq_j stays exact past 10^12 rows for
    unit-ish embeddings at the default scale.
    """
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(dim)

    def partial(batches):
        n = 0
        s = np.zeros(dim, dtype=np.int64)
        P = np.zeros((dim, dim), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Q = np.floor(X * unit_scale).astype(np.int64)
            n += Q.shape[0]
            s += Q.sum(axis=0)
            P += Q.T @ Q
        if n == 0:
            return
        out_i = np.concatenate(([np.int32(-1)], np.arange(dim, dtype=np.int32), iu[0].astype(np.int32)))
        out_j = np.concatenate(([np.int32(-1)], np.full(dim, -1, dtype=np.int32), iu[1].astype(np.int32)))
        out_s = np.concatenate(([np.int64(n)], s, P[iu]))
        yield pd.DataFrame({"i": out_i, "j": out_j, "s": out_s})

    return (
        df.select(F.col(vec_col))
        .mapInPandas(partial, "i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").cast("long").alias("s"))
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    unit_scale: int = 10_000,
) -> DataFrame:
    """Pairwise covariance matrix of the embedding column as (i, j, n,
    cov) rows for i <= j: ``cov = (n·Σq_iq_j - Σq_i·Σq_j) / n² /
    unit_scale²`` over the floor-quantized values — integer arithmetic
    end-to-end with a fixed two-division double tail, so the result is
    deterministic and value-hash comparable across engines (streaming
    covar_pop aggregates round differently per engine and are not).

    The moment table is O(dim²) rows; the joins below are broadcast
    joins of that tiny table against itself — no corpus-sized shuffle.
    """
    m = covariance_moments(df, vec_col, dim, unit_scale)
    n_row = m.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("n")
    )
    sums = m.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i"), F.col("s").alias("si")
    )
    pairs = m.where(F.col("j") >= 0)
    return (
        pairs.join(F.broadcast(sums), "i")
        .join(
            F.broadcast(sums.select(F.col("i").alias("j"), F.col("si").alias("sj"))),
            "j",
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            "n",
            (
                (F.col("n") * F.col("s") - F.col("si") * F.col("sj")).cast("double")
                / (F.col("n") * F.col("n")).cast("double")
                / F.lit(float(unit_scale) * float(unit_scale))
            ).alias("cov"),
        )
    )


def pca_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 8,
    unit_scale: int = 10_000,
) -> DataFrame:
    """PCA projection of the embedding column onto its top-``k``
    principal components: (id, pc_0..pc_{k-1} double, rounded 6 dp).
    Scalar columns (not one array column) so order-insensitive row
    canonicalizers — which sort cell values — never see unhashable
    ndarray/list cells.

    Scale split done the principled way: the covariance reduction is
    distributed (``covariance_moments`` — one Arrow pass, O(dim²)
    shuffle), the eigendecomposition is DRIVER-side numpy ``eigh`` on
    the dim x dim matrix (O(dim³), independent of corpus size — the
    64x64 case is microseconds; no reason to distribute it), and the
    projection is a map-only numpy matmul per partition. Determinism:
    the covariance input is exact integers; eigenvectors are ordered by
    (eigenvalue desc, index) and sign-fixed so each component's
    largest-|loading| coordinate is positive; output rounded to 6 dp.
    Golden-fixture pinned (tests/fixtures/golden/embedding_pca_project
    .json); variance/orthonormality properties pinned in pytest.
    """
    import numpy as np
    import pandas as pd

    rows = covariance_moments(df, vec_col, dim, unit_scale).collect()  # O(dim²), bounded
    s = np.zeros(dim, dtype=np.int64)
    P = np.zeros((dim, dim), dtype=np.int64)
    n = 0
    for r in rows:
        if r["i"] == -1:
            n = int(r["s"])
        elif r["j"] == -1:
            s[r["i"]] = r["s"]
        else:
            P[r["i"], r["j"]] = r["s"]
            P[r["j"], r["i"]] = r["s"]
    if n == 0:
        raise ValueError("cannot run PCA on an empty input")
    mean_q = s / n
    C = (P / n - np.outer(mean_q, mean_q)) / (float(unit_scale) ** 2)
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(-evals, kind="stable")[:k]
    V = evecs[:, order]  # (dim, k)
    for c in range(V.shape[1]):
        pivot = int(np.argmax(np.abs(V[:, c])))
        if V[pivot, c] < 0:
            V[:, c] = -V[:, c]
    mean_x = mean_q / unit_scale

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            PC = np.round((X - mean_x) @ V, 6)
            cols = {"_id": pdf[id_col].to_numpy()}
            for c in range(PC.shape[1]):
                cols[f"pc_{c}"] = PC[:, c]
            yield pd.DataFrame(cols)

    pc_cols = ", ".join(f"pc_{c} double" for c in range(k))
    out_schema = f"_id long, {pc_cols}"
    return (
        df.select(F.col(id_col).cast("long").alias(id_col), F.col(vec_col))
        .mapInPandas(project, out_schema)
        .withColumnRenamed("_id", id_col)
    )


# -- Incremental semantic dedup index ---------------------------------------


def read_embedding_index(spark, path: str, before: int | None = None):
    """Union of manifest-committed semantic-index deltas
    (``path/batch=N``, ``N < before``), or None when empty. Schema:
    (id, vec, nrm, cell). Lists manifests only (``core.manifests``):
    torn delta writes are invisible and ``path`` may be on any
    Hadoop-visible filesystem."""
    from erpl_web_spark.core import manifests

    return manifests.read_committed_union(spark, path, "batch", before=before)


def embedding_index_apply(
    batch_df,
    batch_id: int,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    stride: int = 50,
) -> None:
    """foreachBatch SEMANTIC near-dup dedup against a persisted IVF
    index — the embedding twin of ``dedup.dedup_index_apply`` for
    continuously-arriving vector corpora: each micro-batch dedups
    within itself (IVF-cell-blocked cosine pairs -> connected
    components, keep the minimum id) and against every previously-kept
    vector, then appends only survivors as ``path/batch=<batch_id>``.

    The quantizer must be STABLE across batches or cell blocking breaks
    silently: batch 0 derives it (every ``stride``-th row of the first
    batch in id order — positional, so any non-empty batch yields
    centroids; swap in ``ivf_train_centroids`` output by writing it to
    ``path/centroids`` and committing it with
    ``core.manifests.commit_version(spark, path, "centroids", 0)``
    before the first batch) and persists it
    at ``path/centroids``; every later batch assigns against the stored
    table — the production contract of a fixed coarse quantizer with
    offline retrains. An empty first batch raises rather than
    persisting an empty (index-corrupting) quantizer.

    Index rows carry (id, vec, nrm, cell): the float vector is needed
    for the exact-cosine verify (``quantize_int8`` codes shrink this 4x
    when approximate verify is acceptable). Replay-safe like the
    lexical index: decisions for batch N read deltas strictly below N,
    and a replayed batch overwrites its own delta with identical
    content. Decisions land at ``path/decisions/batch=<batch_id>`` as
    (id, status 'kept'|'dup_in_batch'|'dup_of_index', dup_of).
    """
    import os

    from pyspark import StorageLevel
    from erpl_web_spark.operators.graph import connected_components

    from erpl_web_spark.core import manifests

    spark = batch_df.sparkSession
    cent_path = f"{path}/centroids"
    # Legacy probe FIRST, before any write: committing a quantizer below
    # creates ``_manifests/``, and once that marker exists every later
    # legacy check treats unmanifested ``batch=N/_SUCCESS`` dirs as torn
    # writes (invisible by design) — so a fully pre-manifest index dir
    # reached without this entry probe would get a fresh inconsistent
    # quantizer and have its whole delta history silently dropped.
    manifests.assert_no_legacy_state(spark, path, "batch")
    if manifests.committed_versions(spark, path, "centroids"):
        cents = spark.read.parquet(cent_path)
    else:
        fs, jvm, _ = manifests._fs(spark, path)
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{cent_path}/_SUCCESS")
        ) and (
            manifests.committed_versions(spark, path, "batch")
            # marker-ignoring probe: a partially-adopted dir already has
            # ``_manifests/`` yet its unmanifested _SUCCESS deltas are
            # still legacy history, not our torn writes — deriving a new
            # quantizer beside them corrupts the index the same way
            or manifests._legacy_versions(spark, path, "batch", ignore_marker=True)
        ):
            # a quantizer parquet without a manifest NEXT TO committed
            # deltas is pre-manifest legacy state: deriving a SECOND
            # quantizer would assign new vectors to cells inconsistent
            # with every existing delta — silent index corruption. (With
            # no committed deltas it is our own torn first write: the
            # positional derivation below reproduces it deterministically
            # and the overwrite+commit is safe.)
            raise RuntimeError(
                f"{cent_path} holds a pre-manifest quantizer (_SUCCESS "
                "present, manifest missing) beside committed deltas. Run "
                f"core.manifests.commit_version(spark, {path!r}, "
                "'centroids', 0) once."
            )
        # Derive the quantizer POSITIONALLY (every stride-th row in id
        # order), not by the id-modulo rule: a first batch whose ids
        # happen to avoid multiples of stride would otherwise persist an
        # EMPTY centroid table, silently dropping every future vector
        # from the index. Positional selection guarantees >= 1 centroid
        # for any non-empty batch; an empty first batch raises instead
        # of corrupting the index.
        from pyspark.sql.window import Window

        w = Window.orderBy(F.col(id_col))
        cents = (
            batch_df.select(id_col, vec_col)
            .withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") - 1) % stride == 0)
            .select(
                F.col(id_col).alias("cell"),
                F.col(vec_col).alias("centroid_vec"),
            )
        )
        if not cents.take(1):
            raise ValueError(
                "embedding_index_apply: cannot derive a quantizer from an "
                "empty first batch; write trained centroids to "
                f"{cent_path} before starting the stream"
            )
        cents.write.mode("overwrite").parquet(cent_path)
        manifests.commit_version(spark, path, "centroids", 0)
        cents = spark.read.parquet(cent_path)

    assigned = ivf_assign(batch_df, cents, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # (a) within-batch: in-cell cosine pairs -> components -> min id kept
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"), "cell",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"), "cell",
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= threshold
        )
        .select("id_a", "id_b")
    )
    in_batch_drops = (
        connected_components(pairs, "id_a", "id_b")
        .where(F.col("id") != F.col("component"))
        .select(F.col("id").alias(id_col), F.col("component").alias("dup_of"))
    )
    survivors = assigned.join(
        in_batch_drops.select(id_col), id_col, "left_anti"
    )

    # (b) against the index: shared-cell candidates, exact cosine verify
    index = read_embedding_index(spark, path, before=batch_id)
    if index is not None:
        nb = survivors.select(
            F.col(id_col).alias("new_id"), F.col(vec_col).alias("nv"),
            F.col("nrm").alias("nn"), "cell",
        )
        ob = index.select(
            F.col(id_col).alias("old_id"), F.col(vec_col).alias("ov"),
            F.col("nrm").alias("on"), "cell",
        )
        index_dups = (
            nb.join(ob, "cell")
            .where(
                dot_expr(F.col("nv"), F.col("ov")) / (F.col("nn") * F.col("on"))
                >= threshold
            )
            .groupBy("new_id")
            .agg(F.min("old_id").alias("dup_of"))
        )
    else:
        index_dups = local_rows(spark, [], "new_id long, dup_of long")
    index_dups = index_dups.persist(StorageLevel.MEMORY_AND_DISK)

    keepers = survivors.join(
        index_dups.select(F.col("new_id").alias(id_col)), id_col, "left_anti"
    )
    # replay guard + manifest-last commit + decisions: the shared tail
    from erpl_web_spark.operators.index_commit import commit_index_batch

    commit_index_batch(
        spark, path, batch_id, keepers,
        batch_df.select(id_col), in_batch_drops, index_dups, id_col,
    )
    assigned.unpersist()
    index_dups.unpersist()


def embedding_index_compact(spark, path: str, keep_latest: int = 1) -> int:
    """Bound the semantic index's delta-file count: generic whole-row
    manifest-redirect compaction (``core.manifests.compact_versions``)
    over the (id, vec, nrm, cell) deltas. The stored quantizer
    (``kind='centroids'``) is untouched — cell assignments in merged
    rows remain valid because the quantizer is stable by contract."""
    from erpl_web_spark.core import manifests

    return manifests.compact_versions(spark, path, "batch", keep_latest)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    max_rank: int = 10,
    top_k: int = 5,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of several per-query top-K lists — the standard hybrid-retrieval
    combiner for a lexical ranker (``text.bm25_topk``) plus a semantic
    one (``cosine_top_k`` / the ANN paths): a document's fused score is
    the sum over lists of ``1/(k + rank)``, which rewards appearing in
    MANY lists near the top without ever comparing incommensurable raw
    scores (BM25 logs vs cosines).

    INTEGER-exact: the canonical double ``1/(k+rank)`` sums in
    aggregation order, so two engines (or two partitionings) can
    disagree in the last ulp and flip a tie. Instead each occurrence
    contributes ``L // (k + rank)`` where L = lcm(k+1 .. k+max_rank) —
    exact BIGINT division by construction, order-insensitive addition,
    identical ranking to the real-valued RRF (a positive constant
    scaling). ``rrf_int / L`` recovers the textbook score when a
    comparable double is wanted.

    Each input must have (query_id, doc_id, rank) with
    1 <= rank <= max_rank (violations raise at plan build for the
    static bound; per-row enforcement is the producer's top-K
    contract). Output: (query_id, doc_id, rrf_int, n_lists, rank) —
    top ``top_k`` per query by (rrf_int DESC, doc_id ASC).

    Scale posture: inputs are top-K lists, so the union is
    queries x K x n_lists skinny rows — one groupBy on (query, doc)
    with map-side combine, one WindowGroupLimit per query. The corpus
    was reduced by the upstream rankers; fusion never touches it.
    """
    import math

    if max_rank < 1:
        raise ValueError("rrf_fuse: max_rank must be >= 1")
    scale = math.lcm(*range(k + 1, k + max_rank + 1))
    if scale * len(rankings) >= 2 ** 63:
        raise ValueError(
            f"rrf_fuse: lcm({k + 1}..{k + max_rank}) = {scale} cannot be "
            f"summed over {len(rankings)} lists in BIGINT — lower "
            f"max_rank or k"
        )
    it = iter(rankings)
    u = next(it).select("query_id", "doc_id", "rank")
    for r in it:
        u = u.unionByName(r.select("query_id", "doc_id", "rank"))
    contrib = u.select(
        "query_id",
        "doc_id",
        F.expr(f"CAST({scale} AS BIGINT) div (CAST({k} AS BIGINT) + rank)")
        .alias("c"),
    )
    fused = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c").alias("rrf_int"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_int").desc(), F.col("doc_id").asc()
    )
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).where(F.col("rank") <= top_k)
