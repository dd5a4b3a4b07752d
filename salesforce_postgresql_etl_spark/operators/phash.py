"""Perceptual image hashing (pHash) — near-dup detection for the
IMAGE half of a multimodal corpus.

Exact dedup (sha256 content_id) misses re-encoded copies: the same
picture saved as PNG and as JPEG-q85 shares zero payload bytes. The
classic answer is a DCT perceptual hash (public algorithm — the
pHash/ImageHash family): luma → 32×32 resample → 2D DCT-II → keep the
8×8 low-frequency block → threshold each coefficient at the block
median → 64-bit signature. Re-encodes, mild quantization noise and
nearest-neighbor rescales move few bits; different pictures differ in
~32.

100 TB story: the payload crosses into Python ONCE (Arrow-batched
mapInPandas — decode + hash, emitting 8 bytes per image; payload bytes
never shuffle). The pair search then reuses the EXACT pigeonhole
banding already built for SimHash (``dedup.hamming_pairs``): split the
64-bit signature into ``max_hamming+1`` bands, equi-join on (band,
bits), verify with JVM-side ``bit_count(sig_a ^ sig_b)`` — no
probabilistic miss, no O(n²) pair space, shuffle keys are (band, bits)
buckets only. One banding implementation serves text AND images.

Decoding leans on the pure-Python codecs in ``operators/multimodal``
(BMP / PPM / PNG / baseline JPEG / GIF-first-frame via
``_pixel_codec``) and follows their fake/strict stub contract.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_SIZE = 32  # DCT grid (the resample target)
_LOW = 8  # low-frequency block kept → 64 bits

# DCT-II basis, plain (unnormalized) form: per-coefficient scale
# factors cancel in the compare-to-median threshold step, so the
# orthonormal alphas are omitted — same choice the public pHash
# implementations make.
_COS = [
    [math.cos((2 * x + 1) * u * math.pi / (2 * _SIZE)) for x in range(_SIZE)]
    for u in range(_SIZE)
]


def phash64(pixels: list[list[tuple[int, int, int]]]) -> int:
    """64-bit perceptual hash of rows-of-(r,g,b) pixels (the shared
    decoder output shape). Deterministic: integer luma, fixed
    summation order, no randomness. Returned unsigned in [0, 2^64)."""
    h, w = len(pixels), len(pixels[0])
    # Integer BT.601 luma + nearest-neighbor resample to 32×32 in one
    # pass (same y*h//H index rule as multimodal._resize_payload).
    gray = [
        [
            (
                299 * pixels[y * h // _SIZE][x * w // _SIZE][0]
                + 587 * pixels[y * h // _SIZE][x * w // _SIZE][1]
                + 114 * pixels[y * h // _SIZE][x * w // _SIZE][2]
            )
            / 1000.0
            for x in range(_SIZE)
        ]
        for y in range(_SIZE)
    ]
    # Separable 2D DCT-II; only the first _LOW coefficients of each
    # pass are ever read, so compute just those (32·8·32 + 8·8·32
    # multiplies per image).
    row_t = [
        [sum(row[x] * _COS[u][x] for x in range(_SIZE)) for u in range(_LOW)]
        for row in gray
    ]
    block = [
        [sum(row_t[y][u] * _COS[v][y] for y in range(_SIZE)) for u in range(_LOW)]
        for v in range(_LOW)
    ]
    flat = [block[v][u] for v in range(_LOW) for u in range(_LOW)]
    ac = sorted(flat[1:])  # median EXCLUDES the DC term (classic pHash)
    median = ac[len(ac) // 2]
    bits = 0
    for i, coeff in enumerate(flat):
        if coeff > median:
            bits |= 1 << i
    return bits


def _to_signed64(u: int) -> int:
    """Unsigned 64-bit value → the bigint Spark stores (two's
    complement); banding shift-and-mask recovers the raw bits."""
    return u - (1 << 64) if u >= 1 << 63 else u


def _phash_payload(payload: bytes, fake: bool) -> int | None:
    """One payload → signed-64 pHash, honoring the codec stub
    contract: decodable → real hash; magic-but-corrupt → fake falls
    back to the pseudo-hash, strict re-raises ValueError; no codec →
    fake pseudo-hash, strict NotImplementedError. The pseudo-hash is
    the first 8 sha256 bytes — deterministic and content-addressed,
    so exact duplicates still collide (Hamming 0) in fake mode."""
    from .multimodal import _pixel_codec

    payload = bytes(payload)
    codec = _pixel_codec(payload)
    if codec is not None:
        try:
            return _to_signed64(phash64(codec[0](payload)["pixels"]))
        except ValueError:
            if not fake:
                raise
    if not fake:
        raise NotImplementedError(
            "perceptual hashing beyond the BMP/PPM/PNG/baseline-JPEG/GIF "
            "codecs requires an imaging library not present in this "
            "environment; pass fake=True for the deterministic stub"
        )
    return _to_signed64(
        int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    )


_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("phash", LongType(), False),
    ]
)


def image_phash(media: DataFrame, fake: bool = True) -> DataFrame:
    """(media_id, phash) for every IMAGE row of a MEDIA_SCHEMA frame
    (non-image rows produce no output — kind gates the dispatch, same
    rule as ``extract_features``). One Arrow crossing; the 100 TB
    plan never moves payload bytes again after this projection."""
    from ..session import configure_runtime

    configure_runtime(media.sparkSession)

    def batches(it: Iterator):
        import pandas as pd

        for pdf in it:
            ids, hashes = [], []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "image":
                    continue
                ids.append(mid)
                hashes.append(_phash_payload(payload, fake))
            yield pd.DataFrame({"media_id": ids, "phash": hashes})

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, _PHASH_SCHEMA
    )


def phash_neardup(
    media: DataFrame,
    max_hamming: int = 3,
    fake: bool = True,
    strategy: str = "banded",
    persist: bool = True,
) -> DataFrame:
    """All image pairs (media_a < media_b) whose perceptual hashes are
    within ``max_hamming`` bits — the re-encode/rescale near-dup set
    exact content_id dedup cannot see. Returns (media_a, media_b,
    hamming). 64 bits must divide by max_hamming+1 (3 → four 16-bit
    bands). Pair search = ``dedup.hamming_pairs`` (exact pigeonhole
    guarantee; see its docstring for the shuffle story).

    ``persist`` (default True) checkpoints the 16-byte (id, hash)
    table before the self-join so every payload decodes exactly ONCE —
    without it the join's two sides each run the decode lineage
    (measured on the lazy form's final plan: two MapInPandas nodes, zero
    ReusedExchange — at 100 TB that is a second full decode pass of
    the corpus)."""
    from .dedup import hamming_pairs

    sigs = image_phash(media, fake=fake).select(
        F.col("media_id").alias("doc_id"), F.col("phash").alias("sig")
    )
    pairs = hamming_pairs(sigs, 64, max_hamming, strategy, persist=persist)
    return pairs.select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        "hamming",
    )


def video_phash(
    media: DataFrame, n_frames: int = 3, fake: bool = True
) -> DataFrame:
    """(media_id, frame_idx, phash) — one perceptual hash per sampled
    frame of every VIDEO row. Composes the two real pipelines:
    ``multimodal.sample_frames`` demuxes GIF/AVI/Y4M clips into PNG
    frames, and each frame rides the image hash above. Two Arrow
    crossings total (the sample fan-out, then an 8-byte-per-frame
    projection); payload bytes never shuffle past the sampler."""
    from .multimodal import sample_frames

    frames = sample_frames(media, n_frames=n_frames, fake=fake)

    @F.pandas_udf(LongType())
    def _hash(col):
        return col.map(lambda b: _phash_payload(b, fake))

    return frames.select(
        "media_id", "frame_idx", _hash("frame").alias("phash")
    )


def video_neardup(
    media: DataFrame,
    max_hamming: int = 3,
    n_frames: int = 3,
    fake: bool = True,
    strategy: str = "banded",
    persist: bool = True,
) -> DataFrame:
    """All video pairs (media_a < media_b) where EVERY sampled frame,
    aligned by position, is within ``max_hamming`` bits — the
    cross-CONTAINER duplicate set: the same clip stored as an animated
    GIF and as a DIB or MJPEG AVI lands here with zero shared payload
    bytes. Returns (media_a, media_b, hamming) with hamming = the
    worst aligned-frame distance.

    Exactness carries over from the image case: per aligned frame the
    pigeonhole banding (keys extended to (frame_idx, band, bits))
    finds every within-radius pair, and the all-frames conjunction is
    a plain post-aggregation — so banded ≡ brute, pytest-pinned.
    Scale shape: shuffle keys are (frame_idx, band, bits) buckets of
    8-byte signatures; the conjunction aggregates n_frames rows per
    candidate pair, never the frame images."""
    bands = max_hamming + 1
    if 64 % bands != 0:
        raise ValueError(f"64 must be divisible by max_hamming+1={bands}")
    width = 64 // bands
    sigs = video_phash(media, n_frames=n_frames, fake=fake)
    if persist:
        # Same decode-once rule as phash_neardup: both join sides
        # reference the signature lineage, and the lineage here is the
        # EXPENSIVE one (demux + per-frame decode + hash). 24 bytes/row
        # checkpointed vs a second demux pass of every clip.
        sigs = sigs.localCheckpoint(eager=True)

    a = sigs.select(
        F.col("media_id").alias("media_a"),
        "frame_idx",
        F.col("phash").alias("sig_a"),
    )
    b = sigs.select(
        F.col("media_id").alias("media_b"),
        "frame_idx",
        F.col("phash").alias("sig_b"),
    )
    if strategy == "brute":
        pairs = a.join(b, "frame_idx").where(F.col("media_a") < F.col("media_b"))
    elif strategy == "banded":
        mask = (1 << width) - 1
        band_rows = sigs.select(
            "media_id",
            "frame_idx",
            "phash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.expr(f"(phash >> {i * width}) & {mask}").alias(
                                "bits"
                            ),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("media_id", "frame_idx", "phash", "bb.band", "bb.bits")
        ca = band_rows.select(
            F.col("media_id").alias("media_a"),
            "frame_idx",
            F.col("phash").alias("sig_a"),
            "band",
            "bits",
        )
        cb = band_rows.select(
            F.col("media_id").alias("media_b"),
            "frame_idx",
            F.col("phash").alias("sig_b"),
            "band",
            "bits",
        )
        pairs = (
            ca.join(cb, ["frame_idx", "band", "bits"])
            .where(F.col("media_a") < F.col("media_b"))
            .select("media_a", "media_b", "frame_idx", "sig_a", "sig_b")
            .distinct()
        )
    else:
        raise ValueError(f"unknown strategy: {strategy!r}")

    per_frame = pairs.withColumn(
        "hamming", F.bit_count(F.expr("sig_a ^ sig_b")).cast("int")
    ).where(F.col("hamming") <= max_hamming)
    return (
        per_frame.groupBy("media_a", "media_b")
        .agg(
            F.countDistinct("frame_idx").alias("n_near"),
            F.max("hamming").alias("hamming"),
        )
        .where(F.col("n_near") == n_frames)
        .select("media_a", "media_b", "hamming")
    )
