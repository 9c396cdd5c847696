"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video travel as ``binary`` columns with a typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. Three kernel tiers: pure-Python numpy decoders for
PPM/BMP (REAL pixel decode, runs anywhere, status ``ok_pure``), PIL-backed
kernels for codec formats when PIL is importable (``ok_pil``, gated), and a
deterministic stub for everything else (the codec libraries are not in this
container — marked clearly below). The Spark-side contract — schema, batch
shape, partition sizing, UDF signature — is identical across tiers and
tested.

Scale notes: binary payloads dominate partition size, so the pipeline
repartitions by byte budget before the Python stage (`partition_by_bytes`),
and metadata-only operations (filtering by width/duration/mime) stay
column-expression-only so Catalyst prunes the binary column out of the scan
when it isn't needed.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

try:  # optional dependency: real image kernels activate when PIL is present
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - sandbox has no PIL
    _PILImage = None
    HAS_PIL = False

#: canonical multimodal record schema
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime_type", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("byte_size", LongType(), True),
    ]
)


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Metadata derivable without decoding: byte size + a deterministic
    content hash. Pure expressions — the binary column is only read, never
    shipped to Python."""
    return df.withColumn("byte_size", F.length(F.col(payload_col)).cast("long")).withColumn(
        "content_hash", F.md5(F.col(payload_col))
    )


def partition_by_bytes(df: DataFrame, byte_size_col: str, target_partition_bytes: int = 256 * 1024 * 1024) -> DataFrame:
    """Repartition so each partition carries ~``target_partition_bytes`` of
    payload — keeps Arrow batches bounded in the Python stage."""
    total = df.agg(F.sum(byte_size_col)).first()[0] or 0
    n = max(1, int(total // target_partition_bytes) + 1)
    return df.repartition(n)


FEATURE_SCHEMA = "media_id long, mime_type string, feature array<double>, decode_status string"


def _pil_feature(payload: bytes, dim: int) -> list | None:
    """Real image feature: decode, grayscale, ``dim``-bin normalized
    histogram. Deterministic for a given payload. None on undecodable."""
    import io

    try:
        with _PILImage.open(io.BytesIO(payload)) as im:
            g = np.asarray(im.convert("L"), dtype=np.uint8)
        hist, _ = np.histogram(g, bins=dim, range=(0, 256))
        total = max(int(hist.sum()), 1)
        return (hist / total).astype(np.float64).tolist()
    except Exception:
        return None


def _pil_resize(payload: bytes, w: int, h: int) -> bytes | None:
    """Real resize kernel: decode → bilinear resample → PNG re-encode."""
    import io

    try:
        with _PILImage.open(io.BytesIO(payload)) as im:
            out = io.BytesIO()
            im.convert("RGB").resize((w, h)).save(out, format="PNG")
            return out.getvalue()
    except Exception:
        return None


# -- pure-Python decoders (no image library required) -----------------------
# PPM (P6) and uncompressed 24-bit BMP are simple enough to decode with
# numpy alone, so these two formats get a REAL decode path in any
# environment — the `ok_pure` status below is an actual pixel decode, not
# the stub. Formats needing a codec (PNG/JPEG/...) still require PIL.


def _decode_ppm(data: bytes) -> "np.ndarray | None":
    """Binary PPM (P6, maxval 255) → HxWx3 uint8 array, else None."""
    if not data[:2] == b"P6":
        return None
    try:
        tokens: list[bytes] = []
        i = 2
        while len(tokens) < 3 and i < len(data):
            while i < len(data) and data[i : i + 1].isspace():
                i += 1
            if data[i : i + 1] == b"#":  # comment runs to end of line
                while i < len(data) and data[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < len(data) and not data[j : j + 1].isspace():
                j += 1
            tokens.append(data[i:j])
            i = j
        w, h, maxval = (int(t) for t in tokens)
        i += 1  # exactly one whitespace byte after maxval, then raster
        if maxval != 255 or w <= 0 or h <= 0:
            return None
        need = w * h * 3
        if len(data) - i < need:
            return None
        return np.frombuffer(data, dtype=np.uint8, count=need, offset=i).reshape(h, w, 3)
    except (ValueError, IndexError):
        return None


def _decode_bmp(data: bytes) -> "np.ndarray | None":
    """Uncompressed 24-bit BMP (BI_RGB) → HxWx3 uint8 RGB array, else None."""
    if data[:2] != b"BM" or len(data) < 54:
        return None
    try:
        offset = int.from_bytes(data[10:14], "little")
        w = int.from_bytes(data[18:22], "little", signed=True)
        h = int.from_bytes(data[22:26], "little", signed=True)
        bpp = int.from_bytes(data[28:30], "little")
        compression = int.from_bytes(data[30:34], "little")
        if bpp != 24 or compression != 0 or w <= 0 or h == 0:
            return None
        bottom_up = h > 0
        h = abs(h)
        row_bytes = (w * 3 + 3) // 4 * 4  # rows pad to 4-byte alignment
        if len(data) - offset < row_bytes * h:
            return None
        rows = np.frombuffer(
            data, dtype=np.uint8, count=row_bytes * h, offset=offset
        ).reshape(h, row_bytes)
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        rgb = bgr[:, :, ::-1]
        return rgb[::-1] if bottom_up else rgb
    except (ValueError, IndexError):
        return None


def _decode_pure(payload: bytes) -> "np.ndarray | None":
    """Sniff-and-decode via the pure-Python paths (PPM then BMP)."""
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    return None


def _encode_ppm(rgb: "np.ndarray") -> bytes:
    h, w = rgb.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(rgb, dtype=np.uint8).tobytes()


def _bilinear_resize(img: "np.ndarray", w: int, h: int) -> "np.ndarray":
    """Pixel-center-aligned bilinear resample (the standard convention PIL
    and OpenCV use), vectorized with numpy gather — no Python pixel loop."""
    src_h, src_w = img.shape[:2]
    x = (np.arange(w) + 0.5) * src_w / w - 0.5
    y = (np.arange(h) + 0.5) * src_h / h - 0.5
    x0 = np.clip(np.floor(x).astype(np.int64), 0, src_w - 1)
    y0 = np.clip(np.floor(y).astype(np.int64), 0, src_h - 1)
    x1 = np.minimum(x0 + 1, src_w - 1)
    y1 = np.minimum(y0 + 1, src_h - 1)
    wx = np.clip(x - x0, 0.0, 1.0)[None, :, None]
    wy = np.clip(y - y0, 0.0, 1.0)[:, None, None]
    p = img.astype(np.float64)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    return np.clip(np.rint(top * (1 - wy) + bot * wy), 0, 255).astype(np.uint8)


def _gray_histogram(rgb: "np.ndarray", dim: int) -> list:
    """ITU-R 601-2 luma (PIL's convert("L") formula) → ``dim``-bin normalized
    histogram — the same feature contract as the PIL kernel."""
    g = (
        rgb[..., 0].astype(np.uint32) * 299
        + rgb[..., 1].astype(np.uint32) * 587
        + rgb[..., 2].astype(np.uint32) * 114
    ) // 1000
    hist, _ = np.histogram(g.astype(np.uint8), bins=dim, range=(0, 256))
    total = max(int(hist.sum()), 1)
    return (hist / total).astype(np.float64).tolist()


def with_stub_f0(
    df: DataFrame, payload_col: str = "payload", out_col: str = "f0_expected"
) -> DataFrame:
    """Attach a JVM-side recomputation of the STUB kernel's FIRST feature
    — an independent cross-check of the Arrow `decode_and_featurize`
    path (r10 VERDICT #5: make the rows-only multimodal query
    self-proving).

    Mirrors `_fake_decode_batch` for idx=1 exactly: seed = first 8
    payload bytes little-endian (zero-padded), x = seed + GOLDEN,
    x ^= x >>> 30, x *= M1, x ^= x >>> 27, f0 = (x >>> 11) / 2^53.
    Spark 4 ANSI mode throws on bigint overflow, so the uint64 wrap
    numpy gets for free is spelled out in exact DECIMAL(38,0) mod-2^64
    arithmetic over 32-bit limbs; XOR and logical shifts run on the
    signed-bigint two's-complement form (same 64 bits). Each step is a
    NAMED column — nesting them as one expression duplicates subtrees
    exponentially and OOMs the analyzer."""
    two64 = str(1 << 64)
    dec = "decimal(38,0)"
    golden = 0x9E3779B97F4A7C15
    m1 = 0xBF58476D1CE4E5B9

    def byte_at(k: int) -> str:  # 1-based, 0 when past payload end
        return (
            f"COALESCE(CAST(CONV(HEX(SUBSTRING({payload_col}, {k}, 1)), 16, 10)"
            f" AS BIGINT), CAST(0 AS BIGINT))"
        )

    # little-endian 32-bit limbs of the seed (each < 2^32 — no overflow)
    lo = " + ".join(f"{byte_at(k + 1)} * {1 << (8 * k)}" for k in range(4))
    hi = " + ".join(f"{byte_at(k + 5)} * {1 << (8 * k)}" for k in range(4))
    steps = {
        "__seed_u": f"CAST({lo} AS {dec}) + CAST({hi} AS {dec}) * CAST(4294967296 AS {dec})",
        # x1 = (seed + GOLDEN) mod 2^64, as unsigned decimal
        "__x1_u": f"PMOD(__seed_u + CAST({golden} AS {dec}), CAST({two64} AS {dec}))",
        # to signed bigint for XOR/shift
        "__x1": f"CAST(CASE WHEN __x1_u >= CAST({1 << 63} AS {dec})"
                f" THEN __x1_u - CAST({two64} AS {dec}) ELSE __x1_u END AS BIGINT)",
        "__x2": "__x1 ^ SHIFTRIGHTUNSIGNED(__x1, 30)",
        # back to unsigned limbs for the mod-2^64 multiply by M1
        "__x2_u": f"CASE WHEN __x2 < 0 THEN CAST(__x2 AS {dec}) + CAST({two64} AS {dec})"
                  f" ELSE CAST(__x2 AS {dec}) END",
        "__a_lo": f"PMOD(__x2_u, CAST(4294967296 AS {dec}))",
        "__a_hi": f"CAST((__x2_u - __a_lo) / CAST(4294967296 AS {dec}) AS {dec})",
        "__mid": f"PMOD(__a_lo * CAST({m1 >> 32} AS {dec})"
                 f" + __a_hi * CAST({m1 & 0xFFFFFFFF} AS {dec}),"
                 f" CAST(4294967296 AS {dec}))",
        "__x3_u": f"PMOD(__a_lo * CAST({m1 & 0xFFFFFFFF} AS {dec})"
                  f" + __mid * CAST(4294967296 AS {dec}), CAST({two64} AS {dec}))",
        "__x3": f"CAST(CASE WHEN __x3_u >= CAST({1 << 63} AS {dec})"
                f" THEN __x3_u - CAST({two64} AS {dec}) ELSE __x3_u END AS BIGINT)",
        "__x4": "__x3 ^ SHIFTRIGHTUNSIGNED(__x3, 27)",
        out_col: f"CAST(SHIFTRIGHTUNSIGNED(__x4, 11) AS DOUBLE) / {float(1 << 53)!r}",
    }
    for name, expr in steps.items():
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*[c for c in steps if c != out_col])


def decode_and_featurize(df: DataFrame, feature_dim: int = 8, kernel: str = "auto") -> DataFrame:
    """Decode + feature-extract stage over media batches.

    ``kernel='auto'`` uses the REAL PIL grayscale-histogram kernel for
    ``image/*`` rows when PIL is importable on the executors (gated like
    the Kafka integration test — see ``tests/test_multimodal_pil.py``)
    and falls back to the deterministic stub otherwise. ``'stub'`` forces
    the fallback: a pseudo-feature mixed from the payload bytes so the
    full distributed path — Arrow batch in, feature rows out — is
    exercised in environments without image libraries. Either way the
    batch shape, schema, and failure contract (status column, never a
    failed job) are identical.
    """
    use_pil = kernel == "pil" or (kernel == "auto" and HAS_PIL)

    def _fake_decode_batch(payloads: list, dim: int) -> tuple[list, list]:
        # Deterministic fake decode, vectorized over the whole Arrow batch
        # (NOT a real decode — a real kernel would also be batch-shaped:
        # stacked tensors in, feature matrix out). Per-payload seed = first 8
        # bytes; features from a splitmix64-style mix, one numpy pass.
        seeds = np.array(
            [
                0 if p is None else int.from_bytes(p[:8].ljust(8, b"\0"), "little")
                for p in payloads
            ],
            dtype=np.uint64,
        )
        idx = np.arange(1, dim + 1, dtype=np.uint64)
        x = seeds[:, None] + idx[None, :] * np.uint64(0x9E3779B97F4A7C15)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        feats_mat = (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)
        feats, status = [], []
        for i, p in enumerate(payloads):
            if p is None:
                # real kernels raise NotImplementedError per unsupported
                # payload; surfaced as a status column, never a failed job
                feats.append(None)
                status.append("decode_unavailable")
            else:
                feats.append(feats_mat[i].tolist())
                status.append("ok")
        return feats, status

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, status = _fake_decode_batch(list(pdf["payload"]), feature_dim)
            if kernel != "stub":
                # pure-Python real decode for PPM/BMP payloads — runs in any
                # environment, takes precedence over PIL (deterministic,
                # library-free)
                for i, payload in enumerate(pdf["payload"]):
                    if payload is None:
                        continue
                    rgb = _decode_pure(bytes(payload))
                    if rgb is not None:
                        feats[i] = _gray_histogram(rgb, feature_dim)
                        status[i] = "ok_pure"
            if use_pil:
                for i, (mime, payload) in enumerate(zip(pdf["mime_type"], pdf["payload"])):
                    if status[i] == "ok_pure":
                        continue
                    if payload is not None and isinstance(mime, str) and mime.startswith("image/"):
                        real = _pil_feature(bytes(payload), feature_dim)
                        if real is not None:
                            feats[i], status[i] = real, "ok_pil"
                        else:
                            feats[i], status[i] = None, "decode_failed"
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime_type": pdf["mime_type"],
                    "feature": feats,
                    "decode_status": status,
                }
            )

    return df.select("media_id", "mime_type", "payload").mapInPandas(run, FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "media_id long, mime_type string, payload binary, "
    "width int, height int, resize_status string"
)


def resize_images(
    df: DataFrame, target_width: int = 224, target_height: int = 224, kernel: str = "auto"
) -> DataFrame:
    """Resize stage for image rows — same distributed shape as
    ``decode_and_featurize``: Arrow batches in, resized rows out.

    ``kernel='auto'`` runs the REAL kernel (PIL decode → bilinear resample
    → PNG re-encode) when PIL is importable, else the stand-in: a
    deterministic payload — the source bytes cycled to the target byte
    budget (``target_width * target_height // 8``, capped) — so output
    sizes scale with the target dims and the pipeline downstream of
    resize (batching, re-partitioning, writes) is exercised with
    realistic row weights.

    Non-image rows pass through unchanged (``skipped_not_image``); null /
    undecodable payloads are flagged, never failed — one corrupt object
    must not kill a 100 TB job.
    """
    budget = max(1, (target_width * target_height) // 8)
    use_pil = kernel == "pil" or (kernel == "auto" and HAS_PIL)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload, widths, heights, status = [], [], [], []
            for mime, payload in zip(pdf["mime_type"], pdf["payload"]):
                is_image = isinstance(mime, str) and mime.startswith("image/")
                if not is_image:
                    out_payload.append(payload)
                    widths.append(None)
                    heights.append(None)
                    status.append("skipped_not_image")
                elif payload is None:
                    out_payload.append(None)
                    widths.append(None)
                    heights.append(None)
                    status.append("decode_unavailable")
                elif kernel != "stub" and (rgb := _decode_pure(bytes(payload))) is not None:
                    # pure-Python real kernel: decode → bilinear → PPM re-encode
                    out_payload.append(
                        _encode_ppm(_bilinear_resize(rgb, target_width, target_height))
                    )
                    widths.append(target_width)
                    heights.append(target_height)
                    status.append("ok_pure")
                elif use_pil:
                    real = _pil_resize(bytes(payload), target_width, target_height)
                    out_payload.append(real)
                    widths.append(target_width if real is not None else None)
                    heights.append(target_height if real is not None else None)
                    status.append("ok_pil" if real is not None else "decode_failed")
                else:
                    reps = budget // max(len(payload), 1) + 1
                    out_payload.append((bytes(payload) * reps)[:budget])
                    widths.append(target_width)
                    heights.append(target_height)
                    status.append("ok")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime_type": pdf["mime_type"],
                    "payload": out_payload,
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "resize_status": status,
                }
            )

    return df.select("media_id", "mime_type", "payload").mapInPandas(run, RESIZE_SCHEMA)


def _decode_wav(data: bytes) -> "tuple[np.ndarray, int] | None":
    """Pure-Python RIFF/WAVE PCM decoder (8- and 16-bit integer PCM, any
    channel count; channels are averaged to mono float64 in [-1, 1]).
    Returns ``(samples, sample_rate)`` or None for anything that is not a
    well-formed PCM WAV — the same library-free real-decode posture as the
    PPM/BMP image kernels."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        return None
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or channels < 1 or rate <= 0:
        return None
    if bits == 16:
        x = np.frombuffer(pcm[: len(pcm) - (len(pcm) % 2)], dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(pcm, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        return None
    n = len(x) - (len(x) % channels)
    if n == 0:
        return None
    mono = x[:n].reshape(-1, channels).mean(axis=1)
    return mono, rate


AUDIO_SCHEMA = (
    "media_id long, sample_rate int, n_samples long, duration_ms double, "
    "rms double, zero_crossing_rate double, peak double, decode_status string"
)


def audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode + feature-extract stage for audio rows: real pure-Python
    RIFF/PCM WAV decode, then the standard signal summary (RMS energy,
    zero-crossing rate, peak amplitude, duration) — the cheap audio-quality
    triage features a speech-corpus pipeline filters on (silence, clipping,
    truncation) before any expensive model runs.

    Same distributed shape as the image kernels: Arrow-batched
    ``mapInPandas``, per-row numpy, undecodable payloads surface as a
    status value — never a failed job. Feature doubles are rounded to 8 dp
    so results are partition-layout-independent."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "sample_rate": [], "n_samples": [], "duration_ms": [],
                "rms": [], "zero_crossing_rate": [], "peak": [], "decode_status": [],
            }
            for payload in pdf[payload_col]:
                dec = _decode_wav(bytes(payload)) if payload is not None else None
                if dec is None:
                    for k in ("sample_rate", "n_samples", "duration_ms", "rms",
                              "zero_crossing_rate", "peak"):
                        out[k].append(None)
                    out["decode_status"].append("decode_unavailable")
                    continue
                mono, rate = dec
                n = len(mono)
                zc = int(np.count_nonzero(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_ms"].append(round(1000.0 * n / rate, 8))
                out["rms"].append(round(float(np.sqrt(np.mean(mono * mono))), 8))
                out["zero_crossing_rate"].append(round(zc / max(n - 1, 1), 8))
                out["peak"].append(round(float(np.max(np.abs(mono))), 8))
                out["decode_status"].append("ok_pure")
            yield pd.DataFrame(out)

    return df.select("media_id", payload_col).mapInPandas(run, AUDIO_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video rows: explode the sample timeline from
    metadata only (no decode): one row per (media_id, sample_ts_ms). The
    actual frame grab would run in `decode_and_featurize`."""
    return df.filter(F.col("mime_type").startswith("video/")).select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
        ).alias("sample_ts_ms"),
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (pHash, DCT variant) + near-duplicate pairing
# ---------------------------------------------------------------------------

_DCT32 = None


def _dct_basis(n: int = 32) -> "np.ndarray":
    """Orthonormal DCT-II basis matrix (n x n), cached — the standard pHash
    transform, computed with numpy only."""
    global _DCT32
    if _DCT32 is None or _DCT32.shape[0] != n:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.cos(np.pi * (2 * i + 1) * k / (2 * n))
        m[0] *= 1 / np.sqrt(2)
        _DCT32 = m * np.sqrt(2 / n)
    return _DCT32


def _phash64(rgb: "np.ndarray") -> int:
    """64-bit DCT perceptual hash: luma → 32x32 bilinear → 2D DCT-II → the
    8x8 low-frequency block → bit i = coeff_i > median (DC excluded from
    the median, the published convention). Robust to resize/brightness,
    sensitive to content. The DCT operand is a C-ordered float64 plane:
    that layout is part of the reference, since the GEMM's summation order
    (and so the noise-level bits) depends on it."""
    g = (
        rgb[..., 0].astype(np.uint32) * 299
        + rgb[..., 1].astype(np.uint32) * 587
        + rgb[..., 2].astype(np.uint32) * 114
    ) // 1000
    small = _bilinear_resize(
        np.repeat(g.astype(np.uint8)[..., None], 3, axis=2), 32, 32
    )[..., 0].astype(np.float64, order="C")
    m = _dct_basis(32)
    coef = m @ small @ m.T
    block = coef[:8, :8].flatten()
    med = np.median(block[1:])
    bits = (block > med).astype(np.uint64)
    return int(bits.dot(np.uint64(1) << np.arange(64, dtype=np.uint64)))


def _phash64_batch(gs: "np.ndarray") -> "np.ndarray":
    """pHash for a stack of SAME-SHAPE luma planes ``(N, H, W)`` — one
    vectorized resize + one broadcast DCT for the whole stack (guide §4.2:
    hand whole batches to native code instead of looping rows in Python).
    Element-for-element the same arithmetic as :func:`_phash64`: the
    bilinear gather, rint/clip quantization, ``m @ small @ m.T``,
    63-coefficient median and bit-pack are all elementwise or per-slice
    identical, which ``test_phash_batch_kernel_matches_rowwise`` pins
    bit-for-bit. The stacked matmul runs the same per-slice GEMM as the
    2-D one only when the operand layouts match: the gathered stack's
    strides depend on ``N``, and a different layout takes a different BLAS
    path with a different summation order. Both paths therefore pass
    C-ordered planes, so a hash depends neither on the batch size nor on
    the batch-mates. Returns ``(N,)`` uint64."""
    n, src_h, src_w = gs.shape
    # inline single-channel _bilinear_resize to 32x32 (the rowwise path
    # resizes a 3x-repeated gray plane and slices channel 0 — channels are
    # independent and identical, so the 2-D arithmetic is the same floats)
    w = h = 32
    x = (np.arange(w) + 0.5) * src_w / w - 0.5
    y = (np.arange(h) + 0.5) * src_h / h - 0.5
    x0 = np.clip(np.floor(x).astype(np.int64), 0, src_w - 1)
    y0 = np.clip(np.floor(y).astype(np.int64), 0, src_h - 1)
    x1 = np.minimum(x0 + 1, src_w - 1)
    y1 = np.minimum(y0 + 1, src_h - 1)
    wx = np.clip(x - x0, 0.0, 1.0)[None, None, :]
    wy = np.clip(y - y0, 0.0, 1.0)[None, :, None]
    p = gs.astype(np.float64)
    top = p[:, y0][:, :, x0] * (1 - wx) + p[:, y0][:, :, x1] * wx
    bot = p[:, y1][:, :, x0] * (1 - wx) + p[:, y1][:, :, x1] * wx
    small = (
        np.clip(np.rint(top * (1 - wy) + bot * wy), 0, 255)
        .astype(np.uint8)
        .astype(np.float64, order="C")
    )
    m = _dct_basis(32)
    coef = np.matmul(np.matmul(m, small), m.T)
    block = coef[:, :8, :8].reshape(n, 64)
    med = np.median(block[:, 1:], axis=1)
    bits = (block > med[:, None]).astype(np.uint64)
    return bits @ (np.uint64(1) << np.arange(64, dtype=np.uint64))


def image_phash(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Per-image 64-bit perceptual hash via the pure-Python decoders
    (PPM/BMP) — Arrow-batched ``mapInPandas``, one row out per row in;
    undecodable payloads get a null hash + status, never a failed job.

    r15 (guide §4.2): decoded images are grouped by pixel shape within
    each Arrow batch and each shape group runs ONE vectorized
    luma→resize→DCT→median pass (`_phash64_batch`) instead of a Python
    loop of ~30 small numpy calls per image — the operator stays
    shape-generic (mixed-shape batches just form several groups), and the
    batch kernel is pinned bit-identical to the rowwise `_phash64`."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    id_field = df.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("phash", LongType(), True),
            StructField("phash_status", StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_rows = len(pdf)
            out_h: list = [None] * n_rows
            out_s: list = ["undecodable"] * n_rows
            by_shape: dict[tuple[int, int], tuple[list[int], list]] = {}
            for pos, p in enumerate(pdf[payload_col]):
                rgb = None if p is None else _decode_pure(bytes(p))
                if rgb is None:
                    continue
                g = (
                    rgb[..., 0].astype(np.uint32) * 299
                    + rgb[..., 1].astype(np.uint32) * 587
                    + rgb[..., 2].astype(np.uint32) * 114
                ) // 1000
                idxs, planes = by_shape.setdefault(g.shape, ([], []))
                idxs.append(pos)
                planes.append(g.astype(np.uint8))
            for idxs, planes in by_shape.values():
                hashes = _phash64_batch(np.stack(planes))
                for pos, h64 in zip(idxs, hashes.tolist()):
                    # two's-complement into int64 for a LongType column
                    out_h[pos] = h64 - (1 << 64) if h64 >= (1 << 63) else h64
                    out_s[pos] = "ok"
            yield pd.DataFrame(
                {id_col: pdf[id_col], "phash": pd.array(out_h, dtype="Int64"),
                 "phash_status": out_s}
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema)


def phash_near_dup(
    hashed: DataFrame, max_hamming: int = 6, id_col: str = "media_id"
) -> DataFrame:
    """Near-duplicate image pairs by pHash Hamming distance, found with the
    same banded-LSH shape as SimHash text dedup: split the 64-bit hash into
    4 x 16-bit bands — any pair within Hamming distance 3 shares at least
    one exact band (pigeonhole), and at distance <= 6 the probability all
    differing bits concentrate outside every shared band is high enough
    that the 4-band index is the standard recall/cost point. Candidates
    from the band equi-join are verified exactly with ``bit_count(xor)``.
    One shuffle keyed by (band, value); never all-pairs."""
    h = hashed.filter(F.col("phash").isNotNull())
    bands = h.select(
        F.col(id_col).alias("id"),
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("phash", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "phash", F.col("bb.band").alias("band"), F.col("bb.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .distinct()
    )
