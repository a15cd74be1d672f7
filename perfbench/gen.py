"""Seeded, vectorized input generators for the benchmark.

Every generator is a pure function of (seed, size): the same seed gives
bit-identical tables. Nothing here touches Spark; tables are written as
parquet with pyarrow and read back through the engine's normal path.

* uniform points  — (id long, x double, y double) in [0, 1)^2
* image table     — the BASELINE schema (image_id string, bytes binary,
                    w int, h int, fmt string, caption string, phash long),
                    raw RGB, sides 8..32, in families of ~8 exact or near
                    duplicates (pixels and captions), phash from this
                    module's own average hash
* embeddings      — (vec_id long, embedding array<float>) drawn from a
                    fixed Gaussian mixture
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIN_SIDE, MAX_SIDE = 8, 32
FAMILY_MEAN = 8
CAPTION_WORDS = 16
VOCAB = 4096


def _rng(seed: int | tuple[int, ...], stream: int) -> np.random.Generator:
    """``seed`` is a run's seed, or (seed, draw) for its later draws."""
    parts = seed if isinstance(seed, tuple) else (seed,)
    return np.random.default_rng([*(int(p) for p in parts), stream])


def write_parquet(table: pa.Table, path: str, files: int = 4) -> None:
    """Write ``table`` as ``files`` parquet parts under directory ``path``
    (several parts so a Spark read starts with parallel splits)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i, lo in enumerate(range(0, n, step)):
        pq.write_table(table.slice(lo, step), os.path.join(path, f"part-{i:03d}.parquet"))


# ------------------------------------------------------------------ points


def uniform_points(seed: int | tuple[int, ...], n: int) -> pa.Table:
    rng = _rng(seed, 1)
    xy = rng.random((2, n))
    ids = rng.permutation(n).astype(np.int64) + 1
    return pa.table({"id": ids, "x": xy[0], "y": xy[1]})


# ------------------------------------------------------------------ images


def average_hash(pixels: np.ndarray) -> np.ndarray:
    """(r, h, w, 3) uint8 -> (r,) int64 64-bit average hash.

    Grayscale is the channel mean; the 8x8 grid samples rows
    ``arange(8) * h // 8`` and columns ``arange(8) * w // 8``; bit i
    (row-major, least significant first) is set when cell i is brighter
    than the mean of the 64 samples."""
    r, h, w = pixels.shape[:3]
    gray = pixels.astype(np.float64).mean(axis=3)
    ys = np.arange(8) * h // 8
    xs = np.arange(8) * w // 8
    g8 = gray[:, ys][:, :, xs].reshape(r, 64)
    bits = (g8 > g8.mean(axis=1)[:, None]).astype(np.uint64)
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    return (bits * weights).sum(axis=1, dtype=np.uint64).view(np.int64)


def _binary_array(flat: np.ndarray, lengths: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(lengths), [None, pa.py_buffer(offsets), pa.py_buffer(flat)]
    ).cast(pa.binary())


def image_table(seed: int | tuple[int, ...], n: int) -> pa.Table:
    """``n`` images in duplicate families.

    Family sizes are 1 + Poisson(FAMILY_MEAN - 1); a family shares one
    size and one base picture. Half of the non-first members are exact
    copies, the rest add +-2 noise to every channel (near duplicates
    whose hash usually, not always, equals the base's). Captions: a
    family shares a CAPTION_WORDS-word caption; near-duplicate members
    change its last word (word-3-gram Jaccard 13/15 with the base)."""
    rng = _rng(seed, 2)
    sizes: list[int] = []
    while sum(sizes) < n:
        sizes.extend((1 + rng.poisson(FAMILY_MEAN - 1, 1024)).tolist())
    fam_sizes = np.array(sizes, dtype=np.int64)
    fam_sizes = fam_sizes[: np.searchsorted(np.cumsum(fam_sizes), n) + 1]
    fam_sizes[-1] -= fam_sizes.sum() - n
    n_fam = len(fam_sizes)
    fam_of = np.repeat(np.arange(n_fam), fam_sizes)
    first = np.zeros(n, dtype=bool)
    first[np.concatenate([[0], np.cumsum(fam_sizes)[:-1]])] = True
    near = ~first & (rng.random(n) < 0.5)

    fam_w = rng.integers(MIN_SIDE, MAX_SIDE + 1, n_fam)
    fam_h = rng.integers(MIN_SIDE, MAX_SIDE + 1, n_fam)
    w, h = fam_w[fam_of], fam_h[fam_of]
    lengths = (w * h * 3).astype(np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    flat = np.empty(offsets[-1], dtype=np.uint8)
    phash = np.empty(n, dtype=np.int64)
    # one vectorized pass per (w, h) shape: base pictures are smooth
    # gradients plus noise (so the hash is not dominated by noise), members
    # copy their family's base and near duplicates add small noise
    shape_key = w * 64 + h
    for key in np.unique(shape_key):
        rows = np.nonzero(shape_key == key)[0]
        sw, sh = int(key // 64), int(key % 64)
        fams, inv = np.unique(fam_of[rows], return_inverse=True)
        gy, gx = np.mgrid[0:sh, 0:sw]
        coef = rng.uniform(-4.0, 4.0, (len(fams), 1, 1, 3, 2))
        base = (
            128.0
            + coef[..., 0] * gx[None, :, :, None]
            + coef[..., 1] * gy[None, :, :, None]
            + rng.normal(0.0, 24.0, (len(fams), sh, sw, 3))
        )
        pix = np.clip(base, 0, 255).astype(np.int16)[inv]
        noisy = near[rows]
        pix[noisy] += rng.integers(-2, 3, (int(noisy.sum()), sh, sw, 3), dtype=np.int16)
        pix = np.clip(pix, 0, 255).astype(np.uint8)
        phash[rows] = average_hash(pix)
        span = sw * sh * 3
        dst = offsets[rows][:, None] + np.arange(span)[None, :]
        flat[dst.ravel()] = pix.reshape(len(rows), span).ravel()

    vocab = np.array([f"w{v:04d}" for v in range(VOCAB)])
    words = rng.integers(0, VOCAB, (n_fam, CAPTION_WORDS))[fam_of]
    words[near, -1] = (words[near, -1] + 1 + rng.integers(0, VOCAB - 1, int(near.sum()))) % VOCAB
    text = vocab[words]
    captions = text[:, 0]
    for j in range(1, CAPTION_WORDS):
        captions = np.char.add(np.char.add(captions, " "), text[:, j])

    image_ids = np.char.add("img_", np.char.zfill(np.arange(n).astype(str), 12))
    return pa.table(
        {
            "image_id": pa.array(image_ids.tolist(), pa.string()),
            "bytes": _binary_array(flat, lengths),
            "w": pa.array(w.astype(np.int32)),
            "h": pa.array(h.astype(np.int32)),
            "fmt": pa.array(["raw"] * n, pa.string()),
            "caption": pa.array(captions.tolist(), pa.string()),
            "phash": pa.array(phash),
        }
    )


def polygons(
    seed: int | tuple[int, ...], count: int = 4, vertices: int = 12
) -> list[list[tuple[float, float]]]:
    """Star-shaped (possibly concave) rings inside [0, 1)^2, open (the
    closing edge is implied)."""
    rng = _rng(seed, 3)
    rings = []
    for _ in range(count):
        cx, cy = rng.uniform(0.25, 0.75, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, vertices))
        rad = rng.uniform(0.05, 0.2, vertices)
        rings.append(
            [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a))) for a, r in zip(ang, rad)]
        )
    return rings


# -------------------------------------------------------------- embeddings


def embeddings(seed: int | tuple[int, ...], n: int, dim: int = 64, components: int = 32) -> pa.Table:
    """The mixture itself is fixed — centers from a fixed stream, and
    component j holding a share of the rows proportional to 1/sqrt(j+1) —
    and the seed draws the points from it. With seeded centers and weights
    the exact top-k's work, and so its time, differed by up to 1.7x from
    one seed to another."""
    centers = _rng(0, 5).normal(0.0, 4.0, (components, dim))
    rng = _rng(seed, 4)
    weights = 1.0 / np.sqrt(np.arange(1, components + 1))
    bounds = np.cumsum(weights) / weights.sum()
    comp = rng.permutation(np.searchsorted(bounds, (np.arange(n) + 0.5) / n))
    vecs = (centers[comp] + rng.normal(0.0, 1.0, (n, dim))).astype(np.float32)
    offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs.ravel()))
    return pa.table({"vec_id": np.arange(1, n + 1, dtype=np.int64), "embedding": emb})
