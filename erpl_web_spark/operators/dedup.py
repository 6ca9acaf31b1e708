"""Deduplication operators: exact, fingerprint, MinHash+LSH, SimHash,
n-gram Jaccard.

Design for 100 TB:
- Exact dedup is a hash-groupBy (map-side-combinable, one shuffle on a
  16-byte digest — never on the raw text).
- MinHash/LSH: shingle explode → per-doc min over k seeded xxhash64
  values (one shuffle), band keys → self-join on (band, key) so candidate
  generation touches only hash-bucket collisions, never the full n².
- SimHash: 64-bit signature from token-hash bit votes; near-dup candidates
  via 16-bit band equality + popcount(xor) Hamming filter.
- n-gram Jaccard: exact pairwise score, but ONLY within blocking keys —
  the quadratic stays bounded per block. At scale the MinHash path is the
  default; this is the precise verifier.

Everything is built-in expressions (xxhash64, array ops, bit ops) —
deterministic across runs and cluster sizes, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from erpl_web_spark.core.localframe import local_rows
from erpl_web_spark.operators._cache import track_persist
from erpl_web_spark.operators.text import tokens_expr


def normalized_text_expr(text: Column | str) -> Column:
    """Lowercase + collapse whitespace — the canonical form for dedup."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


def exact_dedup_report(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (normalized) texts: digest, multiplicity, keeper id.

    Shuffles on md5 digest (fixed 32 chars), not the document body.
    """
    return (
        df.select(F.col(id_col), F.md5(normalized_text_expr(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def url_dedup_report(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """URL-keyed dedup election (CCNet/RefinedWeb stage 0): group rows
    whose URLs canonicalize identically (``text.canonicalize_url_expr``)
    and elect one keeper per canonical URL — the highest ``quality_col``
    (ties to the smaller id), or the smallest id when no quality column
    is given.

    Returns (canonical_url, n_dups, keep_id, best_quality?) — column
    order as produced. One partial-aggregable groupBy: the shuffle
    carries the canonical string + id + quality only (bodies never
    move), and the winner is elected with ``max_by`` over an ordering
    struct — NOT a per-group row_number window, which would
    concentrate every hot URL's copies in one task (the repo's
    recurring top-k-window lesson). PRECONDITION for the quality path:
    ``id_col`` must be NUMERIC — the tie-break negates it inside the
    ordering struct (never negate string/label columns; tie-break bug
    class). The no-quality path uses plain ``min`` and accepts any
    orderable id type.
    """
    from erpl_web_spark.operators.text import canonicalize_url_expr

    canon = canonicalize_url_expr(url_col).alias("canonical_url")
    if quality_col is None:
        return (
            df.select(canon, F.col(id_col))
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        )
    order = F.struct(F.col(quality_col), (-F.col(id_col)).alias("neg_id"))
    return (
        df.select(canon, F.col(id_col), F.col(quality_col))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.max_by(F.col(id_col), order).alias("keep_id"),
            F.max(quality_col).alias("best_quality"),
        )
    )


def fingerprint_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document fingerprints: md5 + sha256 of normalized text, plus a
    64-bit xxhash64 suitable as a shuffle/bucket key."""
    norm = normalized_text_expr(text_col)
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        F.sha2(norm.cast("binary"), 256).alias("fp_sha256"),
        F.xxhash64(norm).alias("fp_xxh64"),
    )


def grams_expr(text: Column | str, k: int = 3) -> Column:
    """Word k-gram shingles of the normalized text (with duplicates).

    Empty (not descending!) index range for texts shorter than k tokens:
    ``sequence(1, 0)`` counts DOWN in Spark, which would emit two bogus
    shingles at invalid slice offsets — guard explicitly.
    """
    toks = tokens_expr(text)
    n = F.size(toks)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # coalesce with the non-nullable empty-array literal (r14): the
    # CASE's VALUE is never null (null text fails the WHEN predicate
    # and takes the ELSE []), but over a nullable text column Catalyst
    # marks it statically nullable — and then a downstream comparison
    # on size(grams) makes InferFiltersFromConstraints synthesize
    # `isnotnull(size(<this whole expression>))`, which pushdown moves
    # INTO the parquet scan: the full shingle computation ran serially
    # inside the one-row-group scan task, then again post-spread
    # (measured: a 5.3 s single-task stage on every ngram-pair
    # consumer). The coalesce makes the non-nullness STATIC, so the
    # inferred filter constant-folds away. Values are bit-identical.
    return F.coalesce(grams, F.array().cast("array<string>"))


def shingles_expr(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of the normalized text."""
    return F.array_distinct(grams_expr(text, k))


def _md5_long48(*cols) -> Column:
    """48-bit bigint from md5 of the ':'-joined string renderings — the
    engine-portable hash (DuckDB: CAST('0x' || substring(md5(...), 1,
    12) AS BIGINT)). ~3x the cost of xxhash64, so the ORACLE mode, not
    the production default."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", *[
                    (F.col(c) if isinstance(c, str) else c).cast("string")
                    for c in cols
                ])
                .cast("binary")
            ),
            1, 12,
        ),
        16, 10,
    ).cast("bigint")


def lattice_index(
    seed: str,
    id_col: Column | str,
    hash_mode: str = "xxhash64",
    lattice: int = 4096,
) -> Column:
    """``j`` in [0, lattice) from the portable hash of (seed, id) — the
    ONE implementation of the seed->lattice idiom shared by the A-ES
    race keys, their threshold-calibration membership draw, and the
    IVF suggest-cells stride (previously three inline copies; a
    convention change applied to one would have silently decoupled the
    hash families the oracles replay). ``md5`` is the engine-portable
    oracle mode; xxhash64 the production default (pmod because
    xxhash64 is signed)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    if hash_mode == "md5":
        return _md5_long48(F.lit(seed), c) % lattice
    return F.pmod(F.xxhash64(F.lit(seed), c), F.lit(lattice))


def hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, hs: array<bigint>) — each distinct shingle hashed once.

    The expensive pass (tokenize → k-gram → concat → hash) happens here
    and ONLY here; both the signature stage and the exact-Jaccard verify
    stage run on the 64-bit hashes, never re-reading the text. Dedup is
    done once, on the 64-bit hashes (set-identical to string-level
    distinct up to xxhash64 collisions) — string-array distinct would be
    a second, more expensive pass over the same data.

    ``hash_mode="md5"`` swaps the shingle hash for the 48-bit md5
    derivation DuckDB reproduces bit-identically — the ORACLE mode that
    lets the full MinHash pipeline be value-hash-checked cross-engine
    (round-9 ``dedup_minhash_lsh_md5``); xxhash64 stays the production
    default (cheaper, 64-bit).
    """
    # Single parsed expression (r14): the Column-API/lambda formulation
    # cost ~0.25 s of py4j driver time per call; the SQL string is the
    # identical plan (A/B value-equality in tests; md5-twin oracles pin
    # the md5 family end-to-end).
    q_text = "`" + text_col.replace("`", "``") + "`"
    toks = f"filter(split(lower({q_text}), '\\\\s+'), t -> t != '')"
    grams = (
        f"CASE WHEN size({toks}) >= {shingle_k} THEN "
        f"transform(sequence(1, size({toks}) - {shingle_k - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {shingle_k}))) "
        "ELSE cast(array() as array<string>) END"
    )
    if hash_mode == "md5":
        inner = (
            "cast(conv(substring(md5(cast(concat_ws(':', cast(s as string)) "
            "as binary)), 1, 12), 16, 10) as bigint)"
        )
    else:
        inner = "xxhash64(s)"
    return df.select(
        F.col(id_col),
        F.expr(f"array_distinct(transform({grams}, s -> {inner})) AS hs"),
    )


def _signatures_from_hashes(
    hashed: DataFrame, id_col: str, num_hashes: int,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures from pre-hashed shingles: explode + k min-aggs.

    The k seeded hashes per shingle are derived by re-hashing the
    fixed-width base hash (seed as first xxhash64 argument) — 64 long
    hashes are far cheaper than 64 variable-length string hashes, and
    the exploded/shuffled column is a bigint, not the shingle text.
    ``hash_mode="md5"`` derives them as md5("<seed>:<hash>") instead
    (the DuckDB-replicable oracle mode, see :func:`hashed_shingles`).
    """
    sh = hashed.select(F.col(id_col), F.explode("hs").alias("h"))
    if hash_mode == "md5":
        # SQL rendering of _md5_long48(lit(str(i)), h): cast(i as string)
        # renders identically to the str(i) literal, so the seeded hash
        # family is byte-identical to the Column-API formulation
        # (value-equality asserted in tests/test_operators.py).
        seeded = [
            "min(cast(conv(substring(md5(cast(concat_ws(':', "
            f"cast({i} as string), cast(h as string)) as binary)), 1, 12), "
            "16, 10) as bigint))"
            for i in range(num_hashes)
        ]
    else:
        seeded = [f"min(xxhash64({i}, h))" for i in range(num_hashes)]
    # One parsed expression for all num_hashes aggregates: the
    # per-aggregate Column API costs ~18 ms of py4j/Catalyst driver time
    # per seed (~1.1 s at 64 hashes, paid per bench rep); a single
    # array(...) aggregate string resolves to the IDENTICAL plan for
    # ~0.01 s (r14 measurement, OPTIMIZATION_r14.md).
    return sh.groupBy(id_col).agg(
        F.expr("array(" + ", ".join(seeded) + ") as minhash")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: array<bigint> of length num_hashes."""
    return _signatures_from_hashes(
        hashed_shingles(df, id_col, text_col, shingle_k, hash_mode=hash_mode),
        id_col, num_hashes, hash_mode=hash_mode,
    )


def band_keys_expr(num_hashes: int, bands: int) -> Column:
    """array<bigint> of LSH band keys over a ``minhash`` column.

    One 64-bit key per band: the band index is hashed IN (first arg), so
    a single bigint equality replaces the (band, key) composite — a
    slimmer shuffle key and a simpler grouping.
    """
    rows_per_band = num_hashes // bands
    # Single parsed string (not per-band Column construction): identical
    # expression tree, ~0.5 s -> ~0.002 s of driver time per call (r14).
    keys = ", ".join(
        "xxhash64({}, {})".format(
            b,
            ", ".join(f"minhash[{b * rows_per_band + r}]" for r in range(rows_per_band)),
        )
        for b in range(bands)
    )
    return F.expr(f"array({keys})")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    broadcast_candidates: bool = True,
    cache_sink: list | None = None,
    hash_mode: str = "xxhash64",
    max_bucket: int | None = None,
    dropped_sink: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    ``hash_mode="md5"`` runs the IDENTICAL pipeline on the 48-bit
    md5-derived hash family DuckDB reproduces bit-identically, making
    the end-to-end output value-hash oracle-checkable
    (``dedup_minhash_lsh_md5``); band keys stay xxhash64 in both modes
    — they only group signature tuples, the oracle groups by the raw
    tuples, and a band-key collision can only ADD candidates that the
    exact verify then scores truthfully (same ~2^-64 acceptance as the
    shingle hashing).

    Candidate pairs come from band-key collisions. Rather than a
    two-sided self-join on the band hash, the banded table is grouped by
    band key ONCE (a single shuffle of skinny (bigint, id) rows — never
    the shingle sets, never the text) and within-bucket ordered pairs are
    expanded with array expressions. That is the same candidate set as
    the self-join at half the shuffle volume, and the only stage whose
    cost grows with corpus size. Candidates are then verified with exact
    Jaccard over the distinct 64-bit shingle-hash sets (identical to
    string-shingle Jaccard up to a ~2^-64 collision probability), so the
    output has no false positives; banding parameters control recall —
    MEASURED against the exact all-pairs ground truth
    (tools/lsh_recall.py, SCALING.md round 8): the default 64×16
    banding sits on the theoretical s-curve (0.80 recall in the
    0.5-Jaccard decile, 1.0 from 0.7 up); bands=32 reaches 1.0 across
    the spectrum at ~30× the false-candidate verify cost.
    Returns (id_a, id_b, jaccard), id_a < id_b.

    Documents are tokenized/shingled exactly ONCE: the (id, shingle-hash)
    table is persisted (memory-and-disk — strictly smaller than the raw
    text it replaces) and feeds both the signature stage and the verify
    stage. The candidate table is persisted because it feeds both verify
    joins. With ``broadcast_candidates`` (default), the verify stage
    broadcasts the candidate pairs and streams the persisted hash table
    through two map-side hash joins — zero additional shuffles. That is
    the right plan whenever candidates << corpus, which banding at
    dedup-grade thresholds guarantees for non-degenerate data; pass
    ``False`` to fall back to shuffle joins when candidate volume is
    itself cluster-scale. Skew note: a pathologically hot band key (a
    huge cluster of identical documents) concentrates in one bucket —
    run exact dedup first (as any production pipeline does); the exact
    stage removes identical texts and with them every degenerate bucket.

    ``max_bucket`` is the band-bucket cap — the ``scrub_max_df``
    pattern applied to banding: band keys with more than ``max_bucket``
    members are dropped BEFORE the posting lists are built (a map-side-
    combined count finds them; an anti-join removes them — the
    collect_list never buffers a hot bucket only to discard it), which
    bounds the within-bucket C(n,2) expansion that is otherwise
    unguarded on low-entropy corpora (measured ~quadratic pair density,
    SCALING.md r10). Recall tradeoff: a true pair is lost only if EVERY
    band the two documents agree on is hot — near-identical documents
    agree on most of their ``bands`` keys, so the cap prices exactly
    the boilerplate clusters it exists to bound (measured with the cap
    on in SCALING.md r11). ``dropped_sink`` (a list), when given,
    receives a lazy (band_key, n_members) DataFrame of the dropped
    buckets so callers can count and log what the cap cost — silent
    truncation is the anti-pattern. Default None keeps the exact
    semantics (the value-hash oracle entries run uncapped).
    """
    hashed = track_persist(
        hashed_shingles(df, id_col, text_col, shingle_k, hash_mode=hash_mode),
        "minhash_lsh_pairs",
        cache_sink,
    )
    sigs = _signatures_from_hashes(hashed, id_col, num_hashes, hash_mode=hash_mode)
    banded = sigs.select(
        F.col(id_col), F.explode(band_keys_expr(num_hashes, bands)).alias("band_key")
    )
    if max_bucket is not None:
        banded = track_persist(banded, "minhash_lsh_pairs", cache_sink)
        hot = (
            banded.groupBy("band_key")
            .agg(F.count("*").cast("bigint").alias("n_members"))
            .where(F.col("n_members") > max_bucket)
        )
        if dropped_sink is not None:
            dropped_sink.append(hot)
        banded = banded.join(hot.select("band_key"), "band_key", "left_anti")
    # Bucketize: sorted-distinct member ids per band key. sort+distinct
    # canonicalizes collect_list's nondeterministic order so the expanded
    # pairs are deterministic and strictly id_a < id_b.
    q_id = "`" + id_col.replace("`", "``") + "`"
    buckets = (
        banded.groupBy("band_key")
        .agg(F.expr(f"array_distinct(array_sort(collect_list({q_id}))) AS ids"))
        .where(F.size("ids") > 1)
    )
    # Ordered pairs within each bucket; bucket sizes are collision-bounded
    # so the interpreted lambda touches only actual candidate pairs.
    # (One parsed string — same plan as the nested-lambda Column form,
    # a fraction of its py4j construction cost; r14.)
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    cand = track_persist(
        buckets.select(F.expr(f"explode({pair_expr}) AS p"))
        .select("p.id_a", "p.id_b")
        .distinct(),
        "minhash_lsh_pairs",
        cache_sink,
    )
    ha = hashed.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"))
    hb = hashed.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"))
    if broadcast_candidates:
        # Stream the persisted hash table through two broadcast hash
        # joins: candidates (and candidates+hs_a, strictly smaller than
        # candidates x max set size) build the hash tables.
        with_a = ha.join(F.broadcast(cand), "id_a")
        joined = hb.join(F.broadcast(with_a), "id_b")
    else:
        # Cluster-scale candidate volume: semi-join prunes the hash table
        # to candidate ids, then shuffle joins attach both sets.
        cand_ids = (
            cand.select(F.col("id_a").alias(id_col))
            .union(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sets = hashed.join(cand_ids, id_col, "left_semi")
        with_a = cand.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a")), "id_a"
        )
        joined = with_a.join(
            sets.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b")), "id_b"
        )
    verified = joined.select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("hs_a", "hs_b"))
            / F.size(F.array_union("hs_a", "hs_b"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within the same block.

    The self-join key is the block — quadratic cost is confined per block,
    which is the standard way to keep exact pairwise dedup feasible.
    Returns (id_a, id_b, jaccard), id_a < id_b.

    Empty shingle sets (texts shorter than the shingle width) are
    dropped before the join: they cannot reach a positive threshold,
    and keeping them makes the Jaccard denominator 0 when BOTH members
    of a block pair are empty — an ANSI DIVIDE_BY_ZERO crash on real
    data (join predicates in degenerate single-block plans may evaluate
    the division before the id guard).

    Execution strategy (r14, guide §2.3/§3.1): the original formulation
    self-joined whole shingle ARRAYS on the block key and evaluated
    ``size(array_intersect)/size(array_union)`` per block pair — every
    block contributed |block|² array-op evaluations, and because the
    per-pair Jaccard lived in the JOIN CONDITION the chosen strategy set
    the constant factor (a stats-less input — union with a planted
    crossJoin, fresh generation — degraded to an interpreted
    SortMergeJoin, measured 10-20x slower per pair at sf1, and 124 s
    for dedup_keep_best at sf0.1). Now the shingles EXPLODE into skinny
    (id, block, n, shingle) rows and self-equi-join on (block, shingle):
    only pairs that actually SHARE a shingle are generated (Σ df² rows,
    df = per-block shingle document frequency — 0.45M at sf0.1 vs 2.7M
    array-op pairs), the join is a codegen hash/sort-merge equi-join on
    any input shape, and one partial-aggregated groupBy counts each
    pair's intersection. ``|union| = n_a + n_b - |∩|`` recovers the
    exact Jaccard from distinct-shingle counts (``shingles_expr`` is
    array_distinct), so output values are bit-identical to the array
    formulation: same integer operands, same double division. Pairs
    sharing zero shingles (Jaccard 0) cannot reach a positive
    threshold; a non-positive threshold keeps the quadratic array path
    since only that formulation emits zero-overlap pairs.
    """
    # The empty-set guard lives on the ARRAY path only: pushed-down
    # size(sh) > 0 evaluates the whole shingle expression inside the
    # scan task (serial on a one-row-group file, and a second full
    # evaluation besides the projection's). The equi-join path needs no
    # guard — explode() emits nothing for an empty array, so empty sets
    # never reach the join and every counted pair has n >= 1.
    base = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], shingles_expr(text_col, shingle_k).alias("sh")
    )
    if threshold <= 0:
        a = base.where(F.size("sh") > 0).alias("a")
        b = base.where(F.size("sh") > 0).alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        return (
            a.join(b, cond)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                (
                    F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
                    / F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
    ex = base.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.size("sh").alias("__n"),
        F.explode("sh").alias("__s"),
    )
    # shuffle_hash (r14, guide §3.1): Catalyst broadcast one side of
    # this self-join (the exploded table's size estimate is small) — a
    # SINGLE-THREADED multi-second hashed-relation build of a
    # corpus-sized side at sf0.1, and an OOM at real scale. As a
    # shuffled hash join both sides hash-partition on (block, shingle)
    # and — being the SAME subtree with the same partitioning — the
    # exchange is computed once and reused for both sides.
    a, b = ex.alias("a"), ex.hint("shuffle_hash").alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.__s") == F.col("b.__s")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col("a.__n").alias("__na"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("b.__n").alias("__nb"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return inter.select(
        "id_a",
        "id_b",
        (
            F.col("__inter")
            / (F.col("__na") + F.col("__nb") - F.col("__inter"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def allpairs_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    cache_sink: list | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard similarity join via prefix filtering
    (AllPairs / PPJoin family) — no blocking column, no approximation.

    MinHash-LSH (``minhash_lsh_pairs``) is the probabilistic scale path;
    ``ngram_jaccard_pairs`` is exact but quadratic inside caller-chosen
    blocks. This operator is the third point in the design space: exact
    AND globally scalable. Candidate generation exploits the prefix
    theorem: order every document's shingle set by a canonical global
    order (ascending document frequency, rarest first), take the first
    ``|d| - ceil(t*|d|) + 1`` shingles; any pair with Jaccard >= t MUST
    share at least one prefix shingle. The candidate join key is thus
    biased toward the RAREST shingles in the corpus — fan-out per key
    stays small by construction, the opposite of a Zipf-head join — and
    the frequent-shingle tail never enters the shuffle. A length filter
    (``min(|a|,|b|) >= t*max(|a|,|b|)``, implied by Jaccard >= t) prunes
    incompatible sizes inside the join condition before the exact
    verify.

    Shuffle posture: (1) shingle-frequency groupBy (partial-aggregable),
    (2) frequency join back on shingle + per-doc sort (one shuffle
    each), (3) skinny candidate self-join on (prefix shingle) carrying
    only (id, n), (4) exact verify joins the DISTINCT candidate pairs
    back to the cached shingle-set table — document bodies and full
    shingle arrays never enter the candidate shuffle. False-positive
    candidates are killed by the exact verify; false negatives are
    impossible (prefix theorem), so output == brute-force all-pairs at
    every scale. Shingle strings (not 64-bit hashes) are used as keys:
    hashing would narrow the shuffle rows but a hash collision can
    LOWER a pair's hash-set Jaccard below t and lose a true pair — with
    exactness as the contract, strings are the honest choice.

    Returns (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    Reference semantics: same exact-Jaccard contract as
    ``ngram_jaccard_pairs`` without its per-block confinement.
    """
    from pyspark.sql import Window

    # No size(sh) > 0 filter: explode() emits nothing for an empty
    # array, so the filter is semantically redundant — and harmful:
    # pushed into the parquet scan it evaluated the full shingle
    # expression INSIDE the single-file scan task (7.9 s serial at
    # sf0.1) before the spread repartition could parallelize anything.
    sh = df.select(
        F.col(id_col).alias("__id"), shingles_expr(text_col, shingle_k).alias("sh")
    )
    # The exploded skinny (id, n, shingle) table is the working surface
    # for BOTH candidate generation and the exact verify; the shingle
    # ARRAYS never leave this select. Persisting the exploded form (not
    # the array form) means the downstream joins/windows re-read cheap
    # skinny rows and the expensive shingles_expr computation runs once.
    ex = sh.select("__id", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    ex = track_persist(ex, "allpairs_jaccard_join", cache_sink)

    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # Canonical global shingle order = (document frequency, shingle).
    # row_number over the per-document window selects exactly the same
    # prefix rows as the former collect_list -> array_sort -> slice ->
    # explode chain ((df, s) is unique within a document because sh is
    # array_distinct), but stays in whole-stage codegen instead of an
    # ObjectHashAggregate materializing a struct array per document —
    # guide §4 (keep work in codegen) applied to a JVM-side boundary.
    prefix_len = F.col("n") - F.ceil(F.col("n") * F.lit(threshold)).cast("int") + F.lit(1)
    pre = (
        ex.join(freq, "s")
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("__id").orderBy("df", "s")),
        )
        .where(F.col("rk") <= prefix_len)
        .select("__id", "n", "s")
    )
    # both self-join sides read the prefix frame — without a persist the
    # whole explode -> frequency-join -> per-doc-rank chain executes
    # twice in the plan
    pre = track_persist(pre, "allpairs_jaccard_join", cache_sink)

    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.least(F.col("a.n"), F.col("b.n"))
                >= F.lit(threshold) * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .distinct()
    )

    # Exact verify WITHOUT shipping shingle arrays: |A ∩ B| is the row
    # count of the (id, shingle) equi-join restricted to the candidate
    # pairs, and |A ∪ B| = n_a + n_b - |A ∩ B| (sh is distinct, so set
    # sizes are exact). The former array verify joined the candidate
    # pairs back to the ARRAY table — at a 64 MB broadcast threshold
    # Spark shipped the full shingle-array corpus through TWO broadcast
    # builds (17-24 s each at sf0.1) and ran the array_intersect work on
    # the 2 AQE-coalesced candidate partitions; all three pathologies
    # disappear when only skinny (id, s) rows flow and the intersection
    # is a partial-aggregable count (guide §2.3/§3.1). Same integers,
    # same double division, bit-identical jaccard.
    ea = ex.select(F.col("__id").alias("id_a"), "s")
    eb = ex.select(F.col("__id").alias("id_b"), "s")
    return (
        cand.join(ea, "id_a")
        .join(eb, ["id_b", "s"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def substring_dup_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_docs: int = 2,
    cache_sink: list | None = None,
) -> DataFrame:
    """Per-document duplicated-substring report at token k-gram granularity.

    The substring-level complement to whole-document near-dup (the
    "exact substring dedup" family: long verbatim spans repeated across
    documents — boilerplate, quotes, licence headers — inflate memorized
    text even when whole-document similarity is low). A position's k-gram
    is *duplicated* when the identical k-token span occurs in at least
    ``min_docs`` distinct documents; repeats confined to a single
    document do not count. Returns per document::

        (id, n_grams, n_dup_grams, dup_frac)

    where ``n_grams`` counts all k-gram positions (with multiplicity),
    ``n_dup_grams`` those whose span is cross-document duplicated, and
    ``dup_frac = n_dup_grams / n_grams`` (0.0 for docs shorter than k
    tokens). Suffix-automaton approaches to this are single-machine; the
    distributed formulation is position hashing:

    - Map: explode k-gram positions, hash each span to 64 bits — the
      shuffled rows are (id, bigint), never span text.
    - One groupBy (id, h) with map-side combine yields per-doc instance
      counts; a groupBy h over that (rows already distinct per doc, so
      COUNT(*) = distinct docs) yields the cross-doc span set, which is
      tiny relative to the corpus — AQE broadcasts it back into the
      semi-join that flags duplicated instances.
    - Totals reuse the same instance table; only the zero-gram backfill
      re-touches the source, as a column-pruned id-only scan.

    The instance table is persisted (memory-and-disk; (id, bigint, long)
    rows, far smaller than the text they replace) because three
    consumers read it — the cross-doc span set, the flagged counts and
    the totals. Without it each consumer would re-run the
    tokenize→k-gram→hash pass from the source. A per-hash window would
    collapse this to one pipeline but concentrates any viral span in a
    single window partition AQE cannot split — groupBy+join keeps the
    skew splittable (same reasoning as text.boilerplate_ngrams).

    Identical to string-span grouping up to a ~2^-64 xxhash64 collision.
    """
    inst = track_persist(
        df.select(F.col(id_col), F.explode(grams_expr(text_col, k)).alias("g"))
        .select(F.col(id_col), F.xxhash64("g").alias("h"))
        .groupBy(id_col, "h")
        .agg(F.count("*").alias("cnt")),
        "substring_dup_report",
        cache_sink,
    )
    dup = (
        inst.groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("h")
    )
    flagged = (
        inst.join(dup, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.sum("cnt").alias("n_dup_grams"))
    )
    totals = inst.groupBy(id_col).agg(F.sum("cnt").alias("n_grams"))
    per_doc = (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(flagged, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0).cast("long")).alias("n_dup_grams"),
        )
    )
    return per_doc.withColumn(
        "dup_frac",
        F.when(
            F.col("n_grams") > 0, F.col("n_dup_grams") / F.col("n_grams")
        ).otherwise(F.lit(0.0)),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_docs: int = 2,
    cache_sink: list | None = None,
) -> DataFrame:
    """Scrub cross-document duplicated spans from each document.

    The actionable form of :func:`substring_dup_report`: rather than
    dropping whole documents, remove the token positions covered by any
    k-gram whose exact span occurs in >= ``min_docs`` distinct documents
    (training-data substring dedup removes the repeated span and keeps
    the unique remainder). Output text is in normalized token space
    (lowercased, single-spaced) — the same canonical form every dedup
    operator keys on. Returns (id, clean_text, n_tokens, n_removed).

    Distribution: gram positions explode to (id, pos, hash) rows; the
    cross-doc span set derives from one distinct+groupBy on the 64-bit
    hash; flagged start positions collect per doc (bounded by doc
    length) and a single array expression drops covered token indices —
    interval-union via EXISTS over flagged starts, no Python. The
    position table is persisted for its two consumers (span set,
    flagged starts). Identical to string-span grouping up to a ~2^-64
    xxhash64 collision.
    """
    gp = track_persist(
        df.select(
            F.col(id_col), F.posexplode(grams_expr(text_col, k)).alias("pos0", "g")
        ).select(
            F.col(id_col),
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("g").alias("h"),
        ),
        "scrub_duplicated_spans",
        cache_sink,
    )
    dup = (
        gp.select(id_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("h")
    )
    starts = (
        gp.join(dup, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("ss"))
    )
    base = df.select(F.col(id_col), tokens_expr(text_col).alias("t"))
    joined = base.join(starts, id_col, "left").select(
        F.col(id_col),
        F.col("t"),
        F.coalesce("ss", F.array().cast("array<int>")).alias("ss"),
    )
    idx = F.when(
        F.size("t") > 0, F.sequence(F.lit(1), F.size("t"))
    ).otherwise(F.array().cast("array<int>"))
    kept_idx = F.filter(
        idx,
        lambda i: ~F.exists(
            F.col("ss"), lambda s: (s <= i) & (i < s + F.lit(k))
        ),
    )
    kept = F.transform(kept_idx, lambda i: F.element_at(F.col("t"), i))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("t").alias("n_tokens"),
        (F.size("t") - F.size(kept)).alias("n_removed"),
    )


def winnow_targeted_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    char_k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
    token_k: int = 10,
    min_docs: int = 2,
    cache_sink: list | None = None,
) -> DataFrame:
    """Targeted span scrubbing: winnowing overlap candidates gate the
    substring scrubber — the reference-free MOSS workflow (detect local
    overlap with sparse fingerprints, then resolve it at full
    resolution only where detected).

    :func:`remove_duplicated_spans` builds its k-gram position table
    over the WHOLE corpus — exhaustive, but the posexplode is
    O(total tokens) even when duplication is rare. This composition
    runs :func:`~erpl_web_spark.operators.text.winnow_overlap_pairs`
    first (map-side fingerprints, ~2/(w+1) of the gram hashes, hot
    fingerprints pre-capped) and restricts the scrubber to the
    documents that participate in at least one flagged pair; every
    other document passes through untouched (normalized token space,
    ``n_removed = 0``, same output contract). At 100 TB with a few
    percent of documents sharing passages, the expensive position
    table materializes over that few percent only.

    Recall is bounded by the winnowing guarantee: a shared substring of
    length >= ``char_k + w - 1`` shares a fingerprint, so pairs below
    ``min_shared`` shared fingerprints (or diluted past ``max_df``) are
    not scrubbed — the documented tradeoff vs the corpus-wide table.
    Returns (id, clean_text, n_tokens, n_removed). ``cache_sink``
    collects the internal persisted frames (fingerprints, gram
    positions) so a materializing caller can release them.
    """
    from erpl_web_spark.operators.text import winnow_overlap_pairs

    pairs = winnow_overlap_pairs(
        df, id_col, text_col, k=char_k, w=w, min_shared=min_shared, max_df=max_df,
        cache_sink=cache_sink,
    )
    from erpl_web_spark.operators._cache import track_persist

    # `involved` is consumed TWICE (the semi-join gating the scrubber
    # and the anti-join selecting pass-through docs); unpersisted, each
    # consumer re-ran the whole winnowing pair pipeline (r14, guide
    # §2.1). The cached rows are one skinny id per flagged document.
    involved = track_persist(
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct(),
        "winnow_targeted_scrub",
        cache_sink,
    )
    flagged = df.join(involved, id_col, "left_semi")
    scrubbed = remove_duplicated_spans(
        flagged, id_col, text_col, token_k, min_docs, cache_sink=cache_sink
    )
    untouched = df.join(involved, id_col, "left_anti").select(
        F.col(id_col),
        F.concat_ws(" ", tokens_expr(text_col)).alias("clean_text"),
        F.size(tokens_expr(text_col)).alias("n_tokens"),
        F.lit(0).cast("int").alias("n_removed"),
    )
    return scrubbed.unionByName(untouched)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric containment pairs: |A∩B| / min(|A|,|B|) >= threshold.

    Jaccard misses the doc-inside-doc case — a short document quoted
    verbatim inside a much longer one scores |A|/|B| Jaccard (arbitrarily
    low) but containment 1.0. Containment of the smaller shingle set is
    the standard asymmetric complement (Broder's resemblance vs
    containment). Same blocked-quadratic posture as
    :func:`ngram_jaccard_pairs`: the self-join key is the block, so exact
    pairwise cost stays confined per block; at scale the MinHash path
    generates candidates and this is the precise verifier. Returns
    (id_a, id_b, containment, jaccard), id_a < id_b, ordered-pair safe.

    Empty shingle sets are dropped before the join: a SINGLE sub-width
    text in a block makes ``least(|a|,|b|)`` zero for every pair it
    joins into — an ANSI DIVIDE_BY_ZERO crash on real data — and an
    empty set cannot reach a positive containment threshold anyway.
    """
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        shingles_expr(text_col, shingle_k).alias("sh"),
    )
    if threshold <= 0:
        # Zero-overlap pairs are only emitted by the array formulation;
        # the guard also keeps least(|a|,|b|) > 0 (ANSI DIVIDE_BY_ZERO).
        a = base.where(F.size("sh") > 0).alias("a")
        b = base.where(F.size("sh") > 0).alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
        return (
            a.join(b, cond)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                (
                    inter
                    / F.least(F.size(F.col("a.sh")), F.size(F.col("b.sh")))
                ).alias("containment"),
                (
                    inter / F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
                ).alias("jaccard"),
            )
            .where(F.col("containment") >= threshold)
        )
    # r14 (guide §2.3/§3.1): same skinny shingle equi-join as
    # ngram_jaccard_pairs — explode to (id, block, n, shingle), self
    # equi-join on (block, shingle), count shared shingles per pair.
    # Only pairs sharing >= 1 shingle are generated (zero-overlap pairs
    # have containment 0 and cannot reach a positive threshold);
    # |A∪B| = n_a + n_b - |∩| and min(|A|,|B|) come from the exact
    # distinct-shingle counts, so containment and jaccard are the same
    # integer ratios in the same double division as the array form.
    ex = base.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.size("sh").alias("__n"),
        F.explode("sh").alias("__s"),
    )
    # shuffle_hash (r14, guide §3.1): Catalyst broadcast one side of
    # this self-join (the exploded table's size estimate is small) — a
    # SINGLE-THREADED multi-second hashed-relation build of a
    # corpus-sized side at sf0.1, and an OOM at real scale. As a
    # shuffled hash join both sides hash-partition on (block, shingle)
    # and — being the SAME subtree with the same partitioning — the
    # exchange is computed once and reused for both sides.
    a, b = ex.alias("a"), ex.hint("shuffle_hash").alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.__s") == F.col("b.__s")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col("a.__n").alias("__na"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("b.__n").alias("__nb"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
        .select(
            "id_a",
            "id_b",
            (F.col("__inter") / F.least(F.col("__na"), F.col("__nb"))).alias(
                "containment"
            ),
            (
                F.col("__inter")
                / (F.col("__na") + F.col("__nb") - F.col("__inter"))
            ).alias("jaccard"),
        )
        .where(F.col("containment") >= threshold)
    )


def simhash_documents(
    df: DataFrame, id_col: str, text_col: str, hash_mode: str = "xxhash64"
) -> DataFrame:
    """SimHash per document (token-occurrence weighted bit votes).

    ``hash_mode="xxhash64"`` (production): 64-bit token hashes, 64-bit
    simhash. ``hash_mode="md5"``: the engine-portable 48-bit md5 family
    (:func:`_md5_long48`) and a 48-bit simhash — DuckDB rebuilds every
    token hash, bit vote and sign bit-identically, so the md5-mode
    output is value-hash oracle-checkable (the minhash oracle-twin
    pattern, dedup_minhash_lsh_md5)."""
    n_bits = 64 if hash_mode == "xxhash64" else 48
    tok = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok"))
    h = F.xxhash64(F.col("tok")) if hash_mode == "xxhash64" else _md5_long48(F.col("tok"))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(n_bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(n_bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_mode: str = "xxhash64",
    max_bucket: int | None = None,
    dropped_sink: list | None = None,
    cache_sink: list | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Candidates via the band trick — ``max_hamming + 1`` chunks of the
    simhash with evenly-distributed widths (band c covers bits
    [c*n/b, (c+1)*n/b); pigeonhole: distance ≤ H ⇒ at least one of
    H+1 bands equal, so recall within the radius is GUARANTEED for any
    radius < n_bits, not probabilistic), then popcount(xor)
    verification — the join key is a band chunk, never full n².
    Default: 64-bit xxhash64 simhash, 4 bands of 16 bits for H=3.
    ``hash_mode="md5"``: the 48-bit engine-portable family (see
    :func:`simhash_documents`), 8 bands of 6 bits at H=7 — narrower
    bands mean more candidates per bucket, priced by the verify stage
    staying a skinny popcount join.
    Returns (id_a, id_b, hamming).

    ``max_bucket`` caps band-bucket sizes (the ``scrub_max_df``
    pattern): (chunk, key) buckets with more than ``max_bucket``
    members are counted map-side and anti-joined out of BOTH sides of
    the candidate self-join, bounding the within-bucket n² that a hot
    bucket on a low-entropy corpus otherwise produces (measured
    ~quadratic density, SCALING.md r10; capped re-measurement r11).
    The pigeonhole recall GUARANTEE weakens exactly this much: a true
    pair within the radius is lost only if every band the two hashes
    agree on is hot. ``dropped_sink`` receives a lazy (chunk, key,
    n_members) DataFrame of dropped buckets; ``cache_sink`` follows
    the repo's persist-lifetime convention (the banded table is
    persisted when the cap is on — it feeds the count pass and both
    self-join sides). Default None = exact pigeonhole semantics (the
    oracle entries run uncapped).
    """
    n_bits = 64 if hash_mode == "xxhash64" else 48
    if max_hamming >= n_bits:
        raise ValueError(f"max_hamming must be < {n_bits} for a {n_bits}-bit simhash")
    n_bands = max_hamming + 1
    bounds = [(c * n_bits) // n_bands for c in range(n_bands + 1)]
    sims = simhash_documents(df, id_col, text_col, hash_mode=hash_mode)
    def _band_key(c: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), bounds[c])
        width = bounds[c + 1] - bounds[c]
        if width == 64:  # full-hash band (max_hamming=0): mask literal
            return shifted  # would overflow a long; the shift is a no-op
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    chunks = F.array(
        *[
            F.struct(F.lit(c).alias("chunk"), _band_key(c).alias("key"))
            for c in range(n_bands)
        ]
    )
    banded = sims.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("ck")).select(
        F.col(id_col), F.col("simhash"), F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key")
    )
    # The banded table feeds BOTH sides of the candidate self-join (and
    # the hot-bucket count when capped): without a persist each side
    # recomputes the simhash aggregate — the token explode + 48/64-bit
    # vote pass over the whole corpus, the operator's dominant cost —
    # from scratch (r14; guide §2.1 double-compute). Persisted rows are
    # skinny (id, simhash, chunk, key) × n_bands per doc at any scale.
    from erpl_web_spark.operators._cache import track_persist

    banded = track_persist(banded, "simhash_near_dup_pairs", cache_sink)
    if max_bucket is not None:
        hot = (
            banded.groupBy("chunk", "key")
            .agg(F.count("*").cast("bigint").alias("n_members"))
            .where(F.col("n_members") > max_bucket)
        )
        if dropped_sink is not None:
            dropped_sink.append(hot)
        banded = banded.join(
            hot.select("chunk", "key"), ["chunk", "key"], "left_anti"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = 0.95,
    stride: int = 50,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by IVF cell.

    Semantic near-dup (the LLM-pipeline complement to the lexical
    MinHash/SimHash families): candidate pairs share a nearest-centroid
    cell (deterministic coarse quantizer, see operators.similarity), then
    exact cosine >= threshold keeps a pair. Quadratic cost stays inside
    cells (sum cell_i^2, not n^2); near-dups at high thresholds land in
    the same cell with high probability. Returns (left_id, right_id,
    cosine) with left_id < right_id.
    """
    from erpl_web_spark.operators.similarity import dot_expr, ivf_assign, ivf_centroids

    # Any (cell, centroid_vec) table plugs in — pass
    # similarity.ivf_train_centroids(...) output for the trained
    # quantizer (balanced cells, higher recall); default stays the
    # deterministic modulo rule so the suite query remains
    # oracle-checkable.
    from erpl_web_spark.operators._cache import track_persist

    cents = centroids if centroids is not None else ivf_centroids(df, id_col, vec_col, stride)
    # Both sides of the in-cell self-join read the assignment;
    # unpersisted, the nearest-centroid argmin over every vector ran
    # twice (r14, guide §2.1). Skinny add-on columns (cell, nrm) over
    # the input rows; released via the module registry.
    assigned = track_persist(
        ivf_assign(df, cents, id_col, vec_col), "embedding_near_dup_pairs"
    )
    a = assigned.select(
        F.col(id_col).alias("left_id"), F.col(vec_col).alias("lv"),
        F.col("nrm").alias("ln"), "cell",
    )
    b = assigned.select(
        F.col(id_col).alias("right_id"), F.col(vec_col).alias("rv"),
        F.col("nrm").alias("rn"), "cell",
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id",
            "right_id",
            (dot_expr(F.col("lv"), F.col("rv")) / (F.col("ln") * F.col("rn"))).alias("cosine"),
        )
    )
    # threshold=None returns every in-cell pair unfiltered (threshold
    # sweeps) — an exact no-op, not a >= -1.0 sentinel that could drop
    # NaN cosines or rounding-below--1 pairs
    return pairs if threshold is None else pairs.where(
        F.col("cosine") >= threshold
    )


# -- Incremental dedup index -------------------------------------------------

def read_dedup_index(spark, path: str, before: int | None = None):
    """Union of manifest-committed index deltas (``path/batch=N``,
    ``N < before``), or None when the index is empty. Schema: (doc_id,
    hs, band_keys). Only the manifest listing is consulted
    (``core.manifests``): a delta directory whose manifest never
    committed (torn write) is invisible, and ``path`` may be on any
    Hadoop-visible filesystem."""
    from erpl_web_spark.core import manifests

    return manifests.read_committed_union(spark, path, "batch", before=before)


def dedup_index_apply(
    batch_df,
    batch_id: int,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> None:
    """foreachBatch near-dup dedup against a persisted index — the
    production shape for continuously-arriving corpora: each micro-batch
    is deduplicated (a) within itself (exact digests, then MinHash-LSH
    pairs -> connected components, keep the minimum id per cluster) and
    (b) against every previously-kept document, then ONLY the surviving
    keepers are appended to the index as ``path/batch=<batch_id>``.

    The index stores per-kept-doc (doc_id, hs: distinct shingle hashes,
    band_keys: LSH band keys) — no text. Cross-batch candidates come
    from an equi-join of exploded band keys (skinny (bigint, id) rows,
    the same one-shuffle posture as ``minhash_lsh_pairs``), verified
    with exact Jaccard over the stored hash sets, so false positives are
    zero and index growth is bounded by the keeper rate.

    Replay-safe like ``merge_to_parquet_snapshots``: decisions for batch
    N read only deltas with id < N, and a replayed batch deterministically
    overwrites its own ``batch=N`` directory with identical content.
    Decisions are recorded at ``path/decisions/batch=<batch_id>`` as
    (doc_id, status 'kept'|'dup_in_batch'|'dup_of_index', dup_of).
    """
    from erpl_web_spark.operators.graph import connected_components

    spark = batch_df.sparkSession
    pair_sink: list = []   # minhash-internal caches (released early on success)
    own: list = []         # this function's persisted frames
    try:
        hashed = hashed_shingles(batch_df, id_col, text_col, shingle_k).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        own.append(hashed)
        sigs = _signatures_from_hashes(hashed, id_col, num_hashes)
        new = (
            hashed.join(
                sigs.select(
                    F.col(id_col), band_keys_expr(num_hashes, bands).alias("band_keys")
                ),
                id_col,
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        own.append(new)

        # (a) within-batch: exact digests first (hot-bucket guard), then
        # LSH pairs -> components; keep the minimum id per cluster.
        exact_keep = (
            batch_df.groupBy(F.md5(normalized_text_expr(text_col)).alias("__d"))
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
        in_batch = batch_df.join(exact_keep, id_col, "left_semi")
        # connected_components is eager, so the pair operator's internal
        # caches are fully consumed when it returns — released early
        # (below) so they don't sit through the index join, and again
        # in the finally for the exception path
        pairs = minhash_lsh_pairs(
            in_batch, id_col, text_col, num_hashes, bands, shingle_k, threshold,
            cache_sink=pair_sink,
        )
        near_drop = (
            connected_components(pairs, "id_a", "id_b")
            .where(F.col("id") != F.col("component"))
            .select(
                F.col("id").alias(id_col), F.col("component").alias("dup_of")
            )
        )
        for cached in pair_sink:
            cached.unpersist()
        batch_ids = batch_df.select(id_col)
        in_batch_drops = (
            batch_ids.join(exact_keep, id_col, "left_anti")
            .join(
                batch_df.groupBy(F.md5(normalized_text_expr(text_col)).alias("__d"))
                .agg(F.min(id_col).alias("dup_of"))
                .join(
                    batch_df.select(
                        F.col(id_col), F.md5(normalized_text_expr(text_col)).alias("__d")
                    ),
                    "__d",
                )
                .select(id_col, "dup_of"),
                id_col,
                "left",
            )
            .select(id_col, "dup_of")
            .unionByName(near_drop)
        )

        survivors = new.join(in_batch_drops.select(id_col), id_col, "left_anti")

        # (b) against the index: band-key equi-join, exact Jaccard verify.
        index = read_dedup_index(spark, path, before=batch_id)
        if index is not None:
            nb = survivors.select(
                F.col(id_col).alias("new_id"),
                F.col("hs").alias("hs_new"),
                F.explode("band_keys").alias("band_key"),
            )
            ob = index.select(
                F.col(id_col).alias("old_id"),
                F.col("hs").alias("hs_old"),
                F.explode("band_keys").alias("band_key"),
            )
            cand = (
                nb.join(ob, "band_key")
                .select("new_id", "hs_new", "old_id", "hs_old")
                .dropDuplicates(["new_id", "old_id"])
            )
            index_dups = (
                cand.select(
                    "new_id",
                    "old_id",
                    (
                        F.size(F.array_intersect("hs_new", "hs_old"))
                        / F.size(F.array_union("hs_new", "hs_old"))
                    ).alias("jaccard"),
                )
                .where(F.col("jaccard") >= threshold)
                .groupBy("new_id")
                .agg(F.min("old_id").alias("dup_of"))
            )
        else:
            index_dups = local_rows(spark, [], "new_id long, dup_of long")

        index_dups = index_dups.persist(StorageLevel.MEMORY_AND_DISK)
        own.append(index_dups)
        keepers = survivors.join(
            index_dups.select(F.col("new_id").alias(id_col)), id_col, "left_anti"
        )
        # replay guard + manifest-last commit + decisions: the shared tail
        from erpl_web_spark.operators.index_commit import commit_index_batch

        commit_index_batch(
            spark, path, batch_id, keepers, batch_ids, in_batch_drops, index_dups,
            id_col,
        )

    finally:
        # exception-safe release: a failed micro-batch (non-convergent
        # components, a dying executor, a write error) must not leak
        # cached frames on a long-lived streaming driver — unpersist is
        # a no-op on frames already released in the happy path above
        for cached in (*own, *pair_sink):
            cached.unpersist()


def dedup_index_compact(spark, path: str, keep_latest: int = 1) -> int:
    """Merge old index deltas into one directory to keep the read-side
    file count bounded as batches accumulate.

    All committed deltas EXCEPT the ``keep_latest`` newest are unioned
    and rewritten into the oldest surviving batch-id directory among
    them, then the merged-away directories are removed. Batch ids never
    move FORWARD (the merge target is a batch id that already existed
    and is older than everything kept), so the replay guard — a replayed
    batch N reads deltas strictly below N — still sees exactly the same
    documents: Spark can only replay the newest uncommitted batch, and
    that batch's delta is never part of a compaction with
    ``keep_latest >= 1``. Returns the number of directories merged.

    Crash-safe by manifest redirection, never by deletion order: the
    merged rows land in a NEW generation directory, the target
    version's manifest is re-pointed at it (one atomic manifest
    replace), and only then are the merged-away versions retracted and
    stale directories removed. No crash point loses a committed
    document — the worst case (die between the redirect commit and the
    retractions) leaves the merged-away deltas still committed, i.e.
    their rows appear TWICE in the union until the next compaction;
    the merge therefore de-duplicates full rows, making a re-run
    self-healing. Index semantics tolerate the transient duplicates
    (candidate verification is per-pair). Delegates to the generic
    ``core.manifests.compact_versions`` (the crash-ordering analysis
    above lives with that implementation; the semantic and media
    indexes share it).
    """
    from erpl_web_spark.core import manifests

    return manifests.compact_versions(spark, path, "batch", keep_latest)
