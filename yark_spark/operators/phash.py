"""Perceptual image hashing (round 11) — DCT pHash for image-native
near-duplicate detection, from scratch over numpy.

The dedup family covers text (MinHash/SimHash/substring/lines) and
embeddings (cosine/SemDeDup), but nothing hashed the PIXELS: two
thumbnails that are the same picture at different compression settings
have different bytes, different texts, and no embedding here. pHash is
the standard answer (the classic DCT-mean hash used by pHash.org-style
libraries, re-derived from the published recipe): downscale, 2-D DCT,
keep the low-frequency 8x8 block, threshold against its median →
64-bit signature whose Hamming distance tracks perceptual similarity
and survives recompression.

Pure numpy, self-contained; the DCT is
the same orthonormal construction as operators/jpeg's. No SQL oracle
can reproduce a DCT median threshold, so the registry key is
rows-only, governed by the invariance contracts in
tests/test_phash.py (recompression-stable, distinct-image-distant,
brightness-shift-stable) — the same pattern as the sketch keys.
"""

from __future__ import annotations

import numpy as np

__all__ = ["phash64", "hamming64"]

_HASH_EDGE = 8  # low-frequency block kept (64-bit hash)
_RESIZE = 32  # conventional pHash working size


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos((2 * x + 1) * k * np.pi / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


def _resize_area(gray: np.ndarray, size: int) -> np.ndarray:
    """Box (area-average) resample to size x size — deterministic, no
    image library; upscale replicates, downscale averages whole boxes
    via the integral image so non-divisible shapes stay exact."""
    h, w = gray.shape
    # integral image: S[i, j] = sum of gray[:i, :j]
    s = np.zeros((h + 1, w + 1), dtype=np.float64)
    s[1:, 1:] = np.cumsum(np.cumsum(gray.astype(np.float64), axis=0), axis=1)

    def _boxes(n: int) -> tuple[np.ndarray, np.ndarray]:
        start = np.minimum((np.arange(size) * n) // size, n - 1)
        end = np.minimum(-(-(np.arange(1, size + 1) * n) // size), n)
        return start, np.maximum(end, start + 1)

    ys, ye = _boxes(h)
    xs, xe = _boxes(w)
    out = np.empty((size, size), dtype=np.float64)
    for i in range(size):
        y0, y1 = ys[i], ye[i]
        for j in range(size):
            x0, x1 = xs[j], xe[j]
            area = (y1 - y0) * (x1 - x0)
            out[i, j] = (s[y1, x1] - s[y0, x1] - s[y1, x0] + s[y0, x0]) / area
    return out


def phash64(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash of an image array (gray ``(h, w)`` or
    ``(h, w, 3/4)`` — channels average to luma; alpha ignored)."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, :3].mean(axis=2)
    if a.ndim != 2 or a.shape[0] < 1 or a.shape[1] < 1:
        raise ValueError("phash64 wants a non-empty 2-D or 3-D image array")
    small = _resize_area(a, _RESIZE)
    d = _dct_matrix(_RESIZE)
    coeffs = d @ small @ d.T
    block = coeffs[:_HASH_EDGE, :_HASH_EDGE].copy().reshape(-1)
    block[0] = 0.0  # drop DC: brightness-shift invariance
    med = np.median(block[1:])
    bits = block > med
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")
