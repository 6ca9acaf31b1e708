"""Multimodal (image/audio/video) column plumbing.

Media is carried as an opaque ``binary`` payload plus a typed metadata
struct — the same shape the reference uses for binary HTTP content
(src/http_client.cpp:875-900 tags binary bodies instead of decoding
them). ``decode_stub=True`` produces a deterministic fake feature
vector derived from the bytes (works everywhere, oracle-checkable);
``decode_stub=False`` uses the real Pillow image kernel when Pillow is
importable and raises NotImplementedError otherwise (this container
ships no media libraries — the kernel test skips here and runs wherever
Pillow exists). The Spark-side plumbing — schema, Arrow batching via
mapInPandas, partition-parallel execution — is real and tested either
way.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from erpl_web_spark.core.localframe import local_rows

MEDIA_META_TYPE = StructType(
    [
        StructField("media_type", StringType()),  # image | audio | video
        StructField("format", StringType()),      # png, wav, mp4, ...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType()),
        StructField("meta", MEDIA_META_TYPE),
    ]
)

FEATURE_DIM = 8

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("byte_len", LongType()),
        StructField("sha256", StringType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def documents_as_media(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    media_type: str = "image",
) -> DataFrame:
    """Wrap a text table into the media schema (payload = utf-8 bytes).

    Stands in for real image/audio/video ingest so the binary-column
    plumbing is exercised end-to-end on the available test data. As
    ``media_type='video'`` the fake duration is 10 ms per byte, giving
    frame sampling something deterministic to fan out over.
    """
    duration = (
        (F.length(text_col) * 10).cast("long")
        if media_type in ("video", "audio")
        else F.lit(None).cast("long")
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit("fake").alias("format"),
            F.length(text_col).cast("int").alias("width"),
            F.lit(1).alias("height"),
            duration.alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_feature(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder's feature vector: bytes of
    the sha256 digest scaled to [0, 1)."""
    digest = hashlib.sha256(payload).digest()
    return [b / 256.0 for b in digest[:FEATURE_DIM]]


def pillow_available() -> bool:
    """True when Pillow is importable (not shipped in every deployment;
    the decode kernel upgrades itself when it is)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _pillow_feature(payload: bytes) -> list[float]:
    """Real image feature kernel (runs on executors when Pillow is
    present): decode, grayscale, resize to a 4x2 thumbnail, emit the 8
    pixel intensities in [0, 1) row-major — a deterministic, library-
    backed replacement for the hash stub with the same FEATURE_DIM.
    Undecodable payloads fall back to the hash stub so one corrupt blob
    never kills a 100-TB decode pass."""
    import io

    from PIL import Image

    try:
        with Image.open(io.BytesIO(payload)) as im:
            thumb = im.convert("L").resize((4, 2), Image.BILINEAR)
            return [px / 256.0 for px in thumb.getdata()]
    except Exception:
        return _fake_feature(payload)


def decode_media(df: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Decode/feature-extract media payloads via Arrow-batched mapInPandas.

    Partition-parallel: each Arrow batch is decoded inside the executor
    with zero driver involvement. ``decode_stub=True`` (default) uses
    the deterministic sha256-derived fake feature — the oracle-checkable
    path that works in any environment. ``decode_stub=False`` uses the
    real Pillow image kernel (``_pillow_feature``, detected at call
    time) and raises NotImplementedError when Pillow is not installed;
    both kernels emit the same DECODED_SCHEMA, so downstream plumbing is
    identical.
    """
    if not decode_stub and not pillow_available():
        raise NotImplementedError(
            "Real media decoding requires Pillow, not available in this "
            "environment. Use decode_stub=True for the deterministic fake."
        )
    feature_fn = _fake_feature if decode_stub else _pillow_feature

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": [len(p) for p in payloads],
                    "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
                    "feature": [feature_fn(p) for p in payloads],
                }
            )

    return df.mapInPandas(batches, schema=DECODED_SCHEMA)


def _stub_gray_grid(payload: bytes, cells: int = 72) -> list[int]:
    """Deterministic stand-in for decode->grayscale->resize: the first
    ``cells`` bytes of sha256(payload||'0') || sha256(payload||'1') ||
    ... — same idea as ``_fake_feature``, DuckDB-reproducible
    (sha256 over the utf-8 payload plus one ASCII suffix byte)."""
    out: list[int] = []
    i = 0
    while len(out) < cells:
        out.extend(hashlib.sha256(payload + str(i).encode()).digest())
        i += 1
    return out[:cells]


def _pillow_gray_grid(payload: bytes, w: int = 9, h: int = 8) -> tuple[list[int], bool]:
    """Real perceptual grid (executors with Pillow): decode, grayscale,
    resize to w x h, row-major intensities; returns (grid, decoded).
    Undecodable payloads fall back to the hash stub with
    ``decoded=False`` (one corrupt blob must not kill the pass, but the
    degradation is SURFACED — a stub-hashed corrupt image can never
    match its true near-duplicates, so callers need the flag to exclude
    or audit those rows rather than trust a pseudo-random hash)."""
    import io

    from PIL import Image

    try:
        with Image.open(io.BytesIO(payload)) as im:
            return (
                list(im.convert("L").resize((w, h), Image.BILINEAR).getdata()),
                True,
            )
    except Exception:
        return _stub_gray_grid(payload, w * h), False


def dhash_media(
    df: DataFrame, decode_stub: bool = True, with_decoded: bool = False
) -> DataFrame:
    """64-bit difference-hash (dHash) per media payload — the standard
    perceptual image fingerprint: grayscale 9x8 grid, bit k (row r,
    col c) set when grid[r][c+1] > grid[r][c]; near-identical images
    (recompression, small crops/resizes) land within a few bits.

    Returns (media_id, dhash_hi, dhash_lo): the 64 bits packed as two
    unsigned 32-bit halves in BIGINT columns — avoids signed-overflow
    edge cases and keeps the value cross-engine hashable. Kernel runs
    in Arrow-batched ``mapInPandas`` (zero driver involvement);
    ``decode_stub=True`` derives the grid from sha256 (deterministic,
    oracle-checkable anywhere), ``decode_stub=False`` uses the real
    Pillow decode and raises where Pillow is absent — both emit the
    same schema, so downstream dedup plumbing is identical.

    ``with_decoded=True`` appends a ``decoded`` boolean: True only when
    a real image library produced the grid. On the Pillow path an
    undecodable payload falls back to the stub grid — a pseudo-random
    hash that can never match the image's true near-duplicates — and
    the flag lets callers exclude or audit those rows instead of
    silently treating them as perceptual hashes. On the stub path the
    flag is False for every row (nothing was decoded). Default off to
    keep the 3-column schema the dedup plumbing and oracles pin.
    """
    if not decode_stub and not pillow_available():
        raise NotImplementedError(
            "Real perceptual hashing requires Pillow, not available in "
            "this environment. Use decode_stub=True for the stub grid."
        )
    if decode_stub:
        grid_fn = lambda p: (_stub_gray_grid(p), False)  # noqa: E731
    else:
        grid_fn = _pillow_gray_grid

    def hash_one(payload: bytes) -> tuple[int, int, bool]:
        g, ok = grid_fn(payload)
        hi = lo = 0
        for r in range(8):
            for c in range(8):
                k = r * 8 + c
                bit = 1 if g[r * 9 + c + 1] > g[r * 9 + c] else 0
                if k < 32:
                    hi |= bit << k
                else:
                    lo |= bit << (k - 32)
        return hi, lo, ok

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            hashes = [hash_one(p) for p in payloads]
            out = {
                "media_id": pdf["media_id"],
                "dhash_hi": [h[0] for h in hashes],
                "dhash_lo": [h[1] for h in hashes],
            }
            if with_decoded:
                out["decoded"] = [h[2] for h in hashes]
            yield pd.DataFrame(out)

    schema = "media_id long, dhash_hi long, dhash_lo long"
    if with_decoded:
        schema += ", decoded boolean"
    return df.mapInPandas(batches, schema=schema)


def _band_frame(hashes: DataFrame) -> DataFrame:
    """Explode (media_id, dhash_hi, dhash_lo) into four 16-bit band
    rows (media_id, dhash_hi, dhash_lo, band, val) — the equi-join key
    frame shared by the self-join pair generator and the cross-set
    index lookup."""
    return hashes.select(
        F.col("media_id"),
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(
                            F.col("dhash_hi" if b < 2 else "dhash_lo"),
                            16 * (b % 2),
                        ).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("media_id", "dhash_hi", "dhash_lo", "bk.band", "bk.val")


def dhash_dup_pairs(hashes: DataFrame, max_distance: int = 3) -> DataFrame:
    """Near-duplicate media pairs by dHash hamming distance — the
    image twin of SimHash text near-dup, same scale posture: the 64
    bits split into four 16-bit bands; by pigeonhole, any pair within
    ``max_distance`` <= 3 bits shares at least one identical band, so
    candidates come from four band-keyed equi-joins (bucketized
    groupBy shape — never an all-pairs join) and the exact hamming
    verify (``bit_count(xor)`` on each 32-bit half, pure JVM) runs on
    candidates only. Returns (id_a, id_b, hamming), id_a < id_b.

    ``max_distance`` 4..7 switches to 1-bit MULTI-PROBE on the same
    four 16-bit bands: if every band differed in >= 2 bits the total
    would be >= 8, so any pair within 7 bits has a band differing in
    AT MOST 1 bit — probing each band key plus its 16 one-bit flips
    (17 keys, probe side only; flips are symmetric so one direction
    suffices) recovers exactly those pairs while keeping the 16-bit
    key selectivity that eight 8-bit bands would destroy (256 distinct
    values saturate into quadratic buckets almost immediately). Cost:
    17x probe-side rows of skinny (id, band, key) — candidate volume
    still tracks duplicate density while distinct band values exceed
    corpus size; past ~2^16 media per band value, widen the hash (the
    64-bit dHash itself saturates there) rather than the probe radius.
    """
    if not 0 <= max_distance <= 7:
        raise ValueError(
            "band pigeonhole (with 1-bit multi-probe) holds for "
            "max_distance in [0, 7]"
        )
    bands = _band_frame(hashes)
    if max_distance <= 3:
        a = bands.select(
            F.col("media_id").alias("id_a"), F.col("dhash_hi").alias("ha"),
            F.col("dhash_lo").alias("la"), "band", "val",
        )
    else:
        a = bands.select(
            F.col("media_id").alias("id_a"), F.col("dhash_hi").alias("ha"),
            F.col("dhash_lo").alias("la"), "band",
            F.explode(
                F.array(
                    F.col("val"),
                    *[
                        F.col("val").bitwiseXOR(F.lit(1 << k))
                        for k in range(16)
                    ],
                )
            ).alias("val"),
        )
    b = bands.select(
        F.col("media_id").alias("id_b"), F.col("dhash_hi").alias("hb"),
        F.col("dhash_lo").alias("lb"), "band", "val",
    )
    return (
        a.join(b, ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_distance)
        .distinct()
    )


def detect_media_format_expr(payload) -> F.Column:
    """Magic-byte media-format detection on a ``binary`` column —
    pure JVM expression (substring + binary equality, whole-stage
    codegen), no Python per row. The column analogue of the HTTP
    layer's ``sniff_binary`` (reference pattern_matcher.cpp:11-50):
    trust the bytes, not whatever metadata claims.
    """
    c = F.col(payload) if isinstance(payload, str) else payload

    def head(n: int):
        return F.substring(c, 1, n)

    return (
        F.when(head(3) == F.lit(b"\xff\xd8\xff"), "jpeg")
        .when(head(4) == F.lit(b"\x89PNG"), "png")
        .when(head(4) == F.lit(b"GIF8"), "gif")
        .when(head(4) == F.lit(b"RIFF"), "riff")  # wav/webp/avi
        .when(F.substring(c, 5, 4) == F.lit(b"ftyp"), "mp4")
        .when(head(4) == F.lit(b"OggS"), "ogg")
        .when(head(4) == F.lit(b"fLaC"), "flac")
        .when(head(4) == F.lit(b"\x1a\x45\xdf\xa3"), "matroska")
        .when(head(4) == F.lit(b"%PDF"), "pdf")
        .when(head(3) == F.lit(b"ID3"), "mp3")
        .otherwise("unknown")
    )


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emit one row per sampled
    frame index based on metadata duration. The frame extraction itself is
    the stubbed decode; the row fan-out (explode over a JVM-computed
    sequence — no Python) is the real distributed shape.
    """
    n_frames = F.greatest(
        (F.coalesce(F.col("meta.duration_ms"), F.lit(0)) / every_ms).cast("int"), F.lit(1)
    )
    return df.select(
        "media_id",
        "meta",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


def audio_chunks(
    df: DataFrame, window_ms: int = 30000, stride_ms: int | None = None
) -> DataFrame:
    """Windowed-chunk plumbing for audio payloads: one row per
    fixed-duration window over the metadata duration, with overlap when
    ``stride_ms`` < ``window_ms`` (the speech-model preprocessing shape:
    30 s windows, hop-size stride). The final window is ragged
    (dur_ms < window_ms) rather than zero-padded — padding belongs to
    the (stubbed) decode kernel.

    ``stride_ms`` > ``window_ms`` is sparse sampling (gaps between
    windows); chunk starts are capped to the media duration so no
    window starts past the end. Media with zero or NULL
    ``meta.duration_ms`` yields no chunks (a phantom zero-length window
    would hand downstream decoders an empty slice).

    Same design as ``sample_frames``/``tile_grid``: the fan-out is an
    explode over a JVM-computed sequence keyed on metadata only — no
    Python per row, payload bytes untouched until a decoder needs the
    window."""
    stride = stride_ms if stride_ms is not None else window_ms
    if stride <= 0 or window_ms <= 0:
        raise ValueError("window_ms and stride_ms must be positive")
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    # cover formula, capped so every start stays < duration (the cap is
    # what bites under sparse sampling, stride > window)
    n = F.least(
        F.greatest(
            F.ceil((dur - window_ms) / float(stride)).cast("int") + 1, F.lit(1)
        ),
        F.greatest(F.ceil(dur / float(stride)).cast("int"), F.lit(1)),
    )
    return (
        df.select(
            "media_id",
            "meta",
            F.explode(F.sequence(F.lit(0), n - 1)).alias("chunk_idx"),
        )
        .select(
            "media_id",
            "chunk_idx",
            (F.col("chunk_idx") * stride).cast("long").alias("start_ms"),
            F.least(
                F.lit(window_ms).cast("long"),
                F.coalesce(F.col("meta.duration_ms"), F.lit(0))
                - F.col("chunk_idx") * stride,
            ).alias("dur_ms"),
        )
        .where(F.col("dur_ms") > 0)
    )


def tile_grid(
    df: DataFrame, tile_w: int = 16, tile_h: int = 16, stride: int | None = None
) -> DataFrame:
    """Patch-grid plumbing for image payloads: one row per (tile_x,
    tile_y) patch position, ceil-covering the metadata width x height
    (final ragged tiles included — a ViT-style preprocessor pads them).

    Like ``sample_frames`` this is the distributed *shape* of the
    operation: a 2-D explode over a JVM-computed cross sequence, zero
    Python per row, with the pixel crop living in the (stubbed) decode
    kernel. ``stride`` < tile size gives overlapping patches.
    """
    sx = stride or tile_w
    sy = stride or tile_h
    nx = F.greatest(F.ceil((F.col("meta.width") - tile_w) / sx).cast("int") + 1, F.lit(1))
    ny = F.greatest(F.ceil((F.col("meta.height") - tile_h) / sy).cast("int") + 1, F.lit(1))
    return (
        df.select(
            "media_id",
            "meta",
            F.explode(F.sequence(F.lit(0), nx - 1)).alias("tile_x"),
            ny.alias("__ny"),
        )
        .select(
            "media_id",
            "meta",
            "tile_x",
            F.explode(F.sequence(F.lit(0), F.col("__ny") - 1)).alias("tile_y"),
        )
        .select(
            "media_id",
            "tile_x",
            "tile_y",
            (F.col("tile_x") * sx).alias("px_x"),
            (F.col("tile_y") * sy).alias("px_y"),
            F.least(F.lit(tile_w), F.col("meta.width") - F.col("tile_x") * sx).alias("px_w"),
            F.least(F.lit(tile_h), F.col("meta.height") - F.col("tile_y") * sy).alias("px_h"),
        )
    )


def read_media_index(spark, path: str, before: int | None = None):
    """Union of manifest-committed media-index deltas
    (``path/batch=N``, ``N < before``), or None when empty. Schema:
    (media_id, dhash_hi, dhash_lo). Lists manifests only
    (``core.manifests``): torn delta writes are invisible and ``path``
    may be on any Hadoop-visible filesystem."""
    from erpl_web_spark.core import manifests

    return manifests.read_committed_union(spark, path, "batch", before=before)


def media_index_apply(
    batch_df,
    batch_id: int,
    path: str,
    max_distance: int = 3,
    decode_stub: bool = True,
) -> None:
    """foreachBatch PERCEPTUAL near-dup dedup against a persisted dHash
    index — the media twin of the lexical (``dedup.dedup_index_apply``)
    and semantic (``similarity.embedding_index_apply``) incremental
    indexes, completing the triple for continuously-arriving corpora.
    ``batch_df`` must carry the media schema columns (media_id,
    payload); each micro-batch dedups within itself (band-pigeonhole
    pairs -> connected components, keep the minimum id) and against
    every previously-kept item (band equi-join vs the stored hashes,
    exact ``bit_count(xor)`` hamming verify), then appends only
    survivors as ``path/batch=<batch_id>``.

    Index rows carry only the two 32-bit hash halves — 16 bytes per
    kept item, no payloads: at 10^9 media items the index is ~16 GB of
    parquet, and the cross-batch lookup shuffles skinny (band, val,
    id) rows, never payload bytes. Replay-safe like the other indexes:
    decisions for batch N read deltas strictly below N, and a replayed
    batch overwrites its own delta with identical content. The legacy
    probe runs at FUNCTION ENTRY, before any write can create the
    ``_manifests/`` marker. Decisions land at
    ``path/decisions/batch=<batch_id>`` as
    (media_id, status 'kept'|'dup_in_batch'|'dup_of_index', dup_of).
    """
    from pyspark import StorageLevel

    from erpl_web_spark.core import manifests
    from erpl_web_spark.operators.graph import connected_components

    spark = batch_df.sparkSession
    manifests.assert_no_legacy_state(spark, path, "batch")
    hashes = dhash_media(
        batch_df.select("media_id", "payload"), decode_stub=decode_stub
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # (a) within-batch: banded pairs -> components -> min id kept
    pairs = dhash_dup_pairs(hashes, max_distance).select("id_a", "id_b")
    in_batch_drops = (
        connected_components(pairs, "id_a", "id_b")
        .where(F.col("id") != F.col("component"))
        .select(F.col("id").alias("media_id"), F.col("component").alias("dup_of"))
    )
    survivors = hashes.join(
        in_batch_drops.select("media_id"), "media_id", "left_anti"
    )

    # (b) against the index: shared-band candidates, exact hamming
    index = read_media_index(spark, path, before=batch_id)
    if index is not None:
        nb = _band_frame(survivors).select(
            F.col("media_id").alias("new_id"), F.col("dhash_hi").alias("nh"),
            F.col("dhash_lo").alias("nl"), "band", "val",
        )
        ob = _band_frame(index).select(
            F.col("media_id").alias("old_id"), F.col("dhash_hi").alias("oh"),
            F.col("dhash_lo").alias("ol"), "band", "val",
        )
        index_dups = (
            nb.join(ob, ["band", "val"])
            .where(
                F.bit_count(F.col("nh").bitwiseXOR(F.col("oh")))
                + F.bit_count(F.col("nl").bitwiseXOR(F.col("ol")))
                <= max_distance
            )
            .groupBy("new_id")
            .agg(F.min("old_id").alias("dup_of"))
        )
    else:
        index_dups = local_rows(spark, [], "new_id long, dup_of long")
    index_dups = index_dups.persist(StorageLevel.MEMORY_AND_DISK)

    keepers = survivors.join(
        index_dups.select(F.col("new_id").alias("media_id")), "media_id", "left_anti"
    )
    from erpl_web_spark.operators.index_commit import commit_index_batch

    commit_index_batch(
        spark, path, batch_id, keepers,
        batch_df.select("media_id"), in_batch_drops, index_dups, "media_id",
    )
    hashes.unpersist()
    index_dups.unpersist()


def media_index_compact(spark, path: str, keep_latest: int = 1) -> int:
    """Bound the media index's delta-file count: generic whole-row
    manifest-redirect compaction (``core.manifests.compact_versions``)
    over the (media_id, dhash_hi, dhash_lo) deltas — same replay guard
    and crash-ordering story as the lexical index's compaction."""
    from erpl_web_spark.core import manifests

    return manifests.compact_versions(spark, path, "batch", keep_latest)
