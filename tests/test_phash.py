"""Perceptual image hash (operators/phash.py): pure-fn properties,
codec invariance/robustness, the Spark projection, and banded≡brute
pair-search equivalence on the shared Hamming banding."""

from __future__ import annotations

import math

import pytest

from salesforce_postgresql_etl_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    encode_bmp,
    encode_png,
    encode_ppm,
)
from salesforce_postgresql_etl_spark.operators.phash import (
    _phash_payload,
    _to_signed64,
    image_phash,
    phash64,
    phash_neardup,
)


def _scene(seed: int, w: int = 64, h: int = 64):
    """Deterministic SMOOTH image (sums of sinusoids): perceptual
    hashing is a low-frequency statement, so fixtures need real
    low-frequency content — white noise would be hash-unstable under
    JPEG by construction, not by bug."""
    fx, fy = 1 + seed % 3, 2 + seed % 4
    return [
        [
            (
                int(127 + 120 * math.sin((fx * x + fy * y) / 9.0 + seed)),
                int(127 + 120 * math.sin((x - fy * y) / 7.0 + 2 * seed)),
                int(127 + 120 * math.cos((fx * x * y) / 151.0 + 3 * seed)),
            )
            for x in range(w)
        ]
        for y in range(h)
    ]


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_phash_deterministic_uint64():
    px = _scene(1)
    h1, h2 = phash64(px), phash64(px)
    assert h1 == h2
    assert 0 <= h1 < 1 << 64


def test_phash_uniform_image_keeps_dc():
    # Flat image: the AC terms are float residuals of ~1e-13 (the
    # basis sums are zero only in exact math), so their above-median
    # pattern is degenerate noise — but it is DETERMINISTIC noise,
    # and the DC coefficient always dominates the median.
    px = [[(100, 100, 100)] * 16 for _ in range(16)]
    h = phash64(px)
    assert h == phash64(px)
    assert h & 1  # DC bit survives any flat field


def test_phash_lossless_encoding_invariant():
    # The SAME picture through three lossless codecs → identical hash
    # (sha256 content_ids all differ — this is what pHash adds).
    px = _scene(2)
    payloads = [encode_bmp(px), encode_ppm(px), encode_png(px)]
    hashes = {_phash_payload(p, fake=False) for p in payloads}
    assert len(hashes) == 1


def test_phash_nearest_neighbor_upscale_exact():
    # 2× nearest-neighbor upscale resamples back to the identical
    # 32×32 grid (y*2h//32 indexes the copied pixels), so the hash is
    # EXACTLY equal — pinned as an invariant, not a tolerance.
    px = _scene(3)
    up = [[px[y // 2][x // 2] for x in range(128)] for y in range(128)]
    assert phash64(px) == phash64(up)


def test_phash_jpeg_reencode_is_near():
    from salesforce_postgresql_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    for seed in range(4):
        px = _scene(seed)
        recompressed = decode_jpeg(encode_jpeg(px, quality=90))["pixels"]
        d = _ham(phash64(px), phash64(recompressed))
        assert d <= 6, f"seed {seed}: hamming {d} after JPEG q90"


def test_phash_discriminates_different_scenes():
    hashes = [phash64(_scene(s)) for s in range(6)]
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = _ham(hashes[i], hashes[j])
            assert d >= 16, f"scenes {i},{j}: hamming {d}"


def test_phash_payload_contract():
    # No codec claims it: fake → deterministic pseudo-hash (stable,
    # content-addressed), strict → NotImplementedError.
    junk = b"\x00\x01rawbytes-not-an-image" * 3
    a, b = _phash_payload(junk, fake=True), _phash_payload(junk, fake=True)
    assert a == b
    with pytest.raises(NotImplementedError):
        _phash_payload(junk, fake=False)
    # Magic-but-corrupt: fake falls back, strict surfaces ValueError.
    corrupt = encode_bmp(_scene(0, 8, 8))[:20]
    assert isinstance(_phash_payload(corrupt, fake=True), int)
    with pytest.raises(ValueError):
        _phash_payload(corrupt, fake=False)


def test_to_signed64_roundtrips_bits():
    for u in (0, 1, (1 << 63) - 1, 1 << 63, (1 << 64) - 1):
        s = _to_signed64(u)
        assert -(1 << 63) <= s < 1 << 63
        assert s & ((1 << 64) - 1) == u


def test_image_phash_spark_projection(spark):
    px = _scene(4, 16, 12)
    rows = [
        (0, "image", encode_bmp(px), (None, None, None, "bmp")),
        (1, "image", encode_png(px), (None, None, None, "png")),
        (2, "audio", b"RIFFnot-really", (None, None, 16000, "pcm")),
        (3, "image", b"unknown-format-payload", (None, None, None, "raw")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r.phash for r in image_phash(media, fake=True).collect()}
    # audio row dropped; bmp == png (lossless invariance through Spark)
    assert set(out) == {0, 1, 3}
    assert out[0] == out[1]
    with pytest.raises(Exception, match="NotImplementedError|imaging library"):
        image_phash(media, fake=False).collect()


def test_phash_neardup_banded_equals_brute(spark):
    from salesforce_postgresql_etl_spark.operators.jpeg import encode_jpeg

    rows = []
    mid = 0
    for seed in range(4):
        px = _scene(seed)
        for payload in (
            encode_bmp(px),
            encode_png(px),
            encode_jpeg(px, quality=90),
        ):
            rows.append((mid, "image", payload, (None, None, None, "img")))
            mid += 1
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    # max_hamming=7 → eight 8-bit bands (64 must divide by bands).
    banded = {
        (r.media_a, r.media_b, r.hamming)
        for r in phash_neardup(media, max_hamming=7, fake=False).collect()
    }
    brute = {
        (r.media_a, r.media_b, r.hamming)
        for r in phash_neardup(
            media, max_hamming=7, fake=False, strategy="brute"
        ).collect()
    }
    assert banded == brute
    # every same-scene trio is fully recovered (3 pairs per scene),
    # and no cross-scene pair sneaks under the radius
    scene_of = {m: m // 3 for m in range(12)}
    for a, b, d in banded:
        assert scene_of[a] == scene_of[b]
    per_scene = {}
    for a, b, _ in banded:
        per_scene.setdefault(scene_of[a], set()).add((a, b))
    assert all(len(v) == 3 for v in per_scene.values())


def test_phash_neardup_persist_equivalence(spark):
    """persist=True (decode-once checkpoint, the default) and
    persist=False (lazy lineage, decoded per join side) are the same
    operator — identical pair sets. The difference is plan shape only:
    measured on the final plans, the lazy form ran TWO MapInPandas
    decode nodes with zero ReusedExchange."""
    rows = [
        (mid, "image", encode_bmp(_scene(mid // 2)), (None, None, None, "bmp"))
        for mid in range(8)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    kw = dict(max_hamming=3, fake=False)
    eager = {
        (r.media_a, r.media_b, r.hamming)
        for r in phash_neardup(media, persist=True, **kw).collect()
    }
    lazy = {
        (r.media_a, r.media_b, r.hamming)
        for r in phash_neardup(media, persist=False, **kw).collect()
    }
    assert eager == lazy
    assert {(a, b) for a, b, _ in eager} == {(2 * s, 2 * s + 1) for s in range(4)}
    # Structural pin of decode-once: with persist=True the pair-search
    # plan reads the checkpointed signature table — the decode crossing
    # (MapInPandas) must NOT appear in it at all (it already ran, once,
    # inside the eager checkpoint job). The lazy form embeds it twice.
    eager_plan = phash_neardup(
        media, persist=True, **kw
    )._jdf.queryExecution().executedPlan().toString()
    lazy_plan = phash_neardup(
        media, persist=False, **kw
    )._jdf.queryExecution().executedPlan().toString()
    assert eager_plan.count("MapInPandas") == 0
    assert lazy_plan.count("MapInPandas") == 2


# ---------------------------------------------------------------------------
# Video: per-sampled-frame pHash → cross-container clip near-dup
# ---------------------------------------------------------------------------
def _vframe(seed: int, t: int, w: int = 48, h: int = 32):
    """Low-color (8-palette) block scene — encode_gif caps at 256
    distinct colors, and per-seed block geometry keeps different
    clips ≥30 bits apart (measured) while JPEG re-encode moves ≤2."""
    bx, by = 4 + 2 * (seed % 3), 3 + (seed % 4)
    pal = [
        ((37 * seed + 61 * k) % 256, (91 * seed + 43 * k) % 256, (29 * seed + 83 * k) % 256)
        for k in range(8)
    ]
    if seed % 2:
        return [[pal[((x // bx) * (y // by) + t) % 8] for x in range(w)] for y in range(h)]
    return [[pal[((x // bx) + (y // by) + t) % 8] for x in range(w)] for y in range(h)]


def _vclip(seed: int):
    return [_vframe(seed, t) for t in range(4)]


def test_video_phash_cross_container_exact(spark):
    from salesforce_postgresql_etl_spark.operators.avi import encode_avi
    from salesforce_postgresql_etl_spark.operators.gif import encode_gif
    from salesforce_postgresql_etl_spark.operators.phash import video_phash

    frames = _vclip(0)
    rows = [
        (0, "video", encode_gif(frames), (None, None, None, "gif")),
        (1, "video", encode_avi(frames, codec="dib"), (None, None, None, "avi")),
        (2, "image", encode_bmp(_scene(0, 8, 8)), (None, None, None, "bmp")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = video_phash(media, n_frames=3, fake=False).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, {})[r.frame_idx] = r.phash
    # image row produces nothing; GIF and DIB-AVI frames decode to the
    # SAME pixels, so the per-frame hashes are identical, not merely near
    assert set(by_id) == {0, 1}
    assert by_id[0] == by_id[1]
    assert len(by_id[0]) == 3


def test_video_neardup_banded_equals_brute(spark):
    from salesforce_postgresql_etl_spark.operators.avi import encode_avi
    from salesforce_postgresql_etl_spark.operators.gif import encode_gif
    from salesforce_postgresql_etl_spark.operators.phash import video_neardup

    rows = []
    mid = 0
    for seed in range(4):
        frames = _vclip(seed)
        for payload in (
            encode_gif(frames),
            encode_avi(frames, codec="dib"),
            encode_avi(frames, codec="mjpeg", quality=90),
        ):
            rows.append((mid, "video", payload, (None, None, None, "vid")))
            mid += 1
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    banded = {
        (r.media_a, r.media_b, r.hamming)
        for r in video_neardup(media, max_hamming=3, n_frames=3, fake=False).collect()
    }
    brute = {
        (r.media_a, r.media_b, r.hamming)
        for r in video_neardup(
            media, max_hamming=3, n_frames=3, fake=False, strategy="brute"
        ).collect()
    }
    assert banded == brute
    clip_of = {m: m // 3 for m in range(12)}
    for a, b, _ in banded:
        assert clip_of[a] == clip_of[b]
    per_clip = {}
    for a, b, _ in banded:
        per_clip.setdefault(clip_of[a], set()).add((a, b))
    # each clip's GIF/DIB/MJPEG trio fully recovered
    assert all(len(v) == 3 for v in per_clip.values())
