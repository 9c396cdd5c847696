"""Multimodal binary-column plumbing: metadata expressions, byte-budget
partitioning, Arrow-batched decode stage (stubbed kernel), frame sampling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from emdatapipelines_spark.llmdata.multimodal import (
    attach_media_metadata,
    decode_and_featurize,
    frame_sample_plan,
    partition_by_bytes,
)


def _media(spark):
    rows = [
        (0, "image/png", b"\x89PNG-fake-bytes-0"),
        (1, "video/mp4", b"ftyp-fake-bytes-1"),
        (2, "audio/wav", b"RIFF-fake-bytes-22"),
        (3, "image/png", None),
    ]
    return spark.createDataFrame(rows, "media_id long, mime_type string, payload binary")


def test_metadata_is_expression_only(spark):
    m = attach_media_metadata(_media(spark))
    got = {r["media_id"]: (r["byte_size"], r["content_hash"]) for r in m.collect()}
    assert got[0][0] == 17 and got[3][0] is None
    # deterministic content hash
    again = {r["media_id"]: r["content_hash"] for r in attach_media_metadata(_media(spark)).collect()}
    assert {k: v[1] for k, v in got.items()} == again


def test_partition_by_bytes(spark):
    m = attach_media_metadata(_media(spark))
    out = partition_by_bytes(m, "byte_size", target_partition_bytes=16)
    assert out.rdd.getNumPartitions() >= 2
    assert out.count() == 4


def test_decode_stage_deterministic_and_null_safe(spark):
    m = _media(spark)
    f1 = decode_and_featurize(m, feature_dim=8, kernel="stub").collect()
    f2 = decode_and_featurize(m, feature_dim=8, kernel="stub").collect()
    by_id = {r["media_id"]: r for r in f1}
    assert all(len(r["feature"]) == 8 for r in f1 if r["feature"] is not None)
    # stubbed kernel is deterministic run-to-run
    assert {r["media_id"]: r["feature"] for r in f1} == {r["media_id"]: r["feature"] for r in f2}
    # null payload → flagged, not failed
    assert by_id[3]["decode_status"] == "decode_unavailable" and by_id[3]["feature"] is None
    assert by_id[0]["decode_status"] == "ok"


def test_frame_sample_plan_counts(spark):
    m = spark.createDataFrame(
        [(1, "video/mp4", 3500), (2, "video/mp4", 999), (3, "image/png", 5000)],
        "media_id long, mime_type string, duration_ms int",
    )
    plan = frame_sample_plan(m, every_ms=1000)
    counts = {r["media_id"]: r["n"] for r in plan.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    # samples at 0,1000,2000,3000 for 3500ms; just 0 for sub-interval clips
    assert counts == {1: 4, 2: 1}


def test_resize_stage_stub_semantics(spark):
    from emdatapipelines_spark.llmdata.multimodal import resize_images

    out = {r["media_id"]: r for r in resize_images(_media(spark), 64, 32, kernel="stub").collect()}
    budget = (64 * 32) // 8
    assert out[0]["resize_status"] == "ok"
    assert len(out[0]["payload"]) == budget
    assert (out[0]["width"], out[0]["height"]) == (64, 32)
    # non-image rows pass through untouched
    assert out[1]["resize_status"] == "skipped_not_image"
    assert bytes(out[1]["payload"]) == b"ftyp-fake-bytes-1"
    assert out[1]["width"] is None
    # null payload flagged, not failed
    assert out[3]["resize_status"] == "decode_unavailable" and out[3]["payload"] is None
    # deterministic run-to-run
    again = {r["media_id"]: r for r in resize_images(_media(spark), 64, 32, kernel="stub").collect()}
    assert {k: bytes(v["payload"]) if v["payload"] is not None else None for k, v in out.items()} == {
        k: bytes(v["payload"]) if v["payload"] is not None else None for k, v in again.items()
    }


def _ppm_bytes(w=8, h=6):
    """Gradient P6 image, no external libs."""
    import numpy as np

    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    rgb[..., 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
    rgb[..., 1] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
    rgb[..., 2] = 7
    return b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes(), rgb


def _bmp_bytes(w=4, h=3, color=(200, 10, 10)):
    """Minimal bottom-up 24-bit BI_RGB BMP."""
    row = (bytes(color[::-1]) * w) + b"\x00" * ((4 - (w * 3) % 4) % 4)
    pixel_data = row * h
    offset = 54
    size = offset + len(pixel_data)
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00" + offset.to_bytes(4, "little")
        + (40).to_bytes(4, "little") + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
        + len(pixel_data).to_bytes(4, "little") + b"\x00" * 16
    )
    return header + pixel_data


def test_pure_kernel_decodes_ppm_and_bmp(spark):
    """Real (non-stub) pixel decode without PIL: PPM/BMP payloads must come
    back `ok_pure` with the actual grayscale histogram of their pixels."""
    import numpy as np

    from emdatapipelines_spark.llmdata.multimodal import _gray_histogram

    ppm, rgb = _ppm_bytes()
    bmp = _bmp_bytes()
    rows = [
        (1, "image/x-portable-pixmap", bytearray(ppm)),
        (2, "image/bmp", bytearray(bmp)),
        (3, "image/png", bytearray(b"\x89PNG-not-really")),
    ]
    m = spark.createDataFrame(rows, "media_id long, mime_type string, payload binary")
    out = {r["media_id"]: r for r in decode_and_featurize(m, 8, kernel="auto").collect()}
    assert out[1]["decode_status"] == "ok_pure"
    assert out[2]["decode_status"] == "ok_pure"
    # feature equals the histogram computed directly from the known pixels
    assert out[1]["feature"] == _gray_histogram(rgb, 8)
    assert abs(sum(out[1]["feature"]) - 1.0) < 1e-9
    # red BMP: every luma value lands in one bin
    assert max(out[2]["feature"]) == 1.0
    # undecodable codec format falls back to the stub path, never fails
    assert out[3]["decode_status"] in ("ok", "decode_failed")


def test_pure_kernel_resize_roundtrip(spark):
    """Resize through the pure path: output re-encodes as PPM at the target
    dims and decodes back to the expected pixel array shape."""
    from emdatapipelines_spark.llmdata.multimodal import _decode_ppm, resize_images

    ppm, _ = _ppm_bytes(16, 12)
    m = spark.createDataFrame(
        [(1, "image/x-portable-pixmap", bytearray(ppm))],
        "media_id long, mime_type string, payload binary",
    )
    out = {r["media_id"]: r for r in resize_images(m, 8, 6, kernel="auto").collect()}
    assert out[1]["resize_status"] == "ok_pure"
    assert (out[1]["width"], out[1]["height"]) == (8, 6)
    decoded = _decode_ppm(bytes(out[1]["payload"]))
    assert decoded is not None and decoded.shape == (6, 8, 3)
    # constant-channel plane survives the resample exactly
    assert (decoded[..., 2] == 7).all()


def _make_wav(freq=440, rate=8000, seconds=0.5, amp=0.5, bits=16, channels=1):
    import math
    import struct

    n = int(rate * seconds)
    frames = bytearray()
    for i in range(n):
        v = amp * math.sin(2 * math.pi * freq * i / rate)
        for _ in range(channels):
            if bits == 16:
                frames += struct.pack("<h", int(v * 32767))
            else:
                frames += struct.pack("<B", int(v * 127) + 128)
    byte_rate = rate * channels * bits // 8
    block = channels * bits // 8
    hdr = b"RIFF" + struct.pack("<I", 36 + len(frames)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate, block, bits)
    hdr += b"data" + struct.pack("<I", len(frames))
    return bytes(hdr + frames)


def test_audio_features_real_wav_decode(spark):
    """Real RIFF/PCM decode: a 440 Hz sine at 8 kHz must yield RMS ≈
    amp/sqrt(2), ZCR ≈ 2·f/rate, and the right duration; garbage bytes
    surface as a status, never a failed job."""
    from emdatapipelines_spark.llmdata.multimodal import audio_features

    wav = _make_wav(freq=440, rate=8000, seconds=0.5, amp=0.5)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not audio at all"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in audio_features(df).collect()}
    ok = rows[1]
    assert ok["decode_status"] == "ok_pure"
    assert ok["sample_rate"] == 8000 and ok["n_samples"] == 4000
    assert abs(ok["duration_ms"] - 500.0) < 1e-6
    assert abs(ok["rms"] - 0.5 / 2**0.5) < 0.01
    assert abs(ok["zero_crossing_rate"] - 2 * 440 / 8000) < 0.005
    assert 0.49 < ok["peak"] <= 0.5
    assert rows[2]["decode_status"] == "decode_unavailable"
    assert rows[2]["rms"] is None


def test_audio_features_stereo_8bit(spark):
    """8-bit stereo path: channels average to mono; amplitude survives."""
    from emdatapipelines_spark.llmdata.multimodal import audio_features

    wav = _make_wav(freq=100, rate=4000, seconds=0.25, amp=0.8, bits=8, channels=2)
    df = spark.createDataFrame([(7, bytearray(wav))], "media_id long, payload binary")
    r = audio_features(df).collect()[0]
    assert r["decode_status"] == "ok_pure"
    assert r["sample_rate"] == 4000 and r["n_samples"] == 1000
    assert abs(r["rms"] - 0.8 / 2**0.5) < 0.02


def test_phash_batch_kernel_matches_rowwise():
    """r15 (guide §4.2): the shape-grouped batch kernel must be
    BIT-IDENTICAL to the rowwise `_phash64` on every image — arbitrary
    shapes (incl. non-square, 1-pixel-tall, larger-than-32), gradients,
    constants and random content. No Spark needed: pure numpy pin."""
    import numpy as np

    from emdatapipelines_spark.llmdata.multimodal import _phash64, _phash64_batch

    rng = np.random.default_rng(42)
    shapes = [(8, 8), (24, 24), (17, 5), (1, 64), (40, 33), (64, 64)]
    for shape in shapes:
        imgs = []
        h, w = shape
        imgs.append(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
        imgs.append(np.zeros((h, w, 3), dtype=np.uint8))          # constant
        grad = np.linspace(0, 255, h * w, dtype=np.uint8).reshape(h, w)
        imgs.append(np.repeat(grad[..., None], 3, axis=2))        # gradient
        imgs.append(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
        want = [_phash64(im) for im in imgs]
        lumas = np.stack(
            [
                (
                    (
                        im[..., 0].astype(np.uint32) * 299
                        + im[..., 1].astype(np.uint32) * 587
                        + im[..., 2].astype(np.uint32) * 114
                    )
                    // 1000
                ).astype(np.uint8)
                for im in imgs
            ]
        )
        got = _phash64_batch(lumas).tolist()
        assert got == want, f"batch kernel diverged at shape {shape}"


def test_phash_batch_kernel_independent_of_batch_mates():
    """A plane's hash must not depend on how many same-shape planes share
    its stack: `image_phash` forms one stack per shape per Arrow batch, so
    a batch-size-dependent hash splits exact duplicates that land in
    different batches. Noise-level blocks (constant planes, 1-pixel-tall
    planes) are the ones whose bits a different GEMM summation order
    flips. Pure numpy."""
    import numpy as np

    from emdatapipelines_spark.llmdata.multimodal import _phash64, _phash64_batch

    rng = np.random.default_rng(7)
    planes = [
        np.full((8, 8), 77, dtype=np.uint8),
        np.full((1, 64), 77, dtype=np.uint8),
        rng.integers(0, 256, size=(1, 64), dtype=np.uint8),
    ]
    for plane in planes:
        want = _phash64(np.repeat(plane[..., None], 3, axis=2))
        # a mix of random and identical batch-mates of the same shape
        mates = [rng.integers(0, 256, size=plane.shape, dtype=np.uint8), plane]
        for n in (1, 2, 3, 5, 8):
            stack = np.stack([plane] + [mates[i % 2] for i in range(n - 1)])
            got = int(_phash64_batch(stack)[0])
            assert got == want, f"shape {plane.shape}, stack of {n}"


def test_phash_invariances(spark):
    """pHash: identical → distance 0; global brightness shift → small
    distance (DCT AC coefficients unchanged-ish); unrelated noise → large
    distance. Runs the real decode + DCT kernel on PPM payloads."""
    import numpy as np

    from emdatapipelines_spark.llmdata.multimodal import (
        _encode_ppm,
        _phash64,
        image_phash,
        phash_near_dup,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 200, size=(24, 24, 3), dtype=np.uint8)
    bright = np.clip(base.astype(np.int32) + 40, 0, 255).astype(np.uint8)
    speckled = base.copy()                        # a few pixels nudged
    for i, j in rng.integers(0, 24, size=(8, 2)):
        speckled[i, j] = np.clip(speckled[i, j].astype(int) + 60, 0, 255)
    other = rng.integers(0, 255, size=(24, 24, 3), dtype=np.uint8)

    h_base, h_bright, h_other = (_phash64(x) for x in (base, bright, other))
    assert h_base == h_bright                     # brightness-invariant (AC bits only)
    assert bin(h_base ^ h_other).count("1") >= 16  # sensitive to content

    rows = [
        (1, bytearray(_encode_ppm(base))),
        (2, bytearray(_encode_ppm(base))),       # exact duplicate of 1
        (3, bytearray(_encode_ppm(speckled))),   # near-dup of 1 (small hamming)
        (4, bytearray(_encode_ppm(other))),      # unrelated
        (5, bytearray(b"not an image")),         # undecodable
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hashed = image_phash(df)
    st = {r["media_id"]: r["phash_status"] for r in hashed.collect()}
    assert st[5] == "undecodable" and st[1] == "ok"

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup(hashed, max_hamming=8).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 8
    assert (1, 4) not in pairs and (2, 4) not in pairs
