"""Deterministic image codec (pure numpy) for the `bytes` tile column.

Two formats per BASELINE input_hint / FIXTURES.md T1:

* ``raw``  — lossless: the uint8 pixel array's bytes, row-major.  Used for
  bitfield bands (WOfS-style flags) where any loss would corrupt flags.
* ``dct``  — lossy: 8x8 block DCT-II + uniform quantisation (step Q=2) +
  int16 coefficient serialisation.  Deterministic; reconstruction satisfies
  PSNR >= 40 dB on natural-ish images (checked by tests, per the per-row
  invariant in BASELINE.json input_hint).

``phash64`` is the integrity hash carried in the ``phash`` column.
"""

from __future__ import annotations

import hashlib

import numpy as np

_Q = 2.0  # quantisation step for the dct path (high quality -> PSNR >= 40dB)


def _dct_mat(n: int = 8) -> np.ndarray:
    k = np.arange(n)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m *= np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


_D = _dct_mat(8)


def _blockify(a: np.ndarray) -> np.ndarray:
    h, w = a.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        a = np.pad(a, ((0, ph), (0, pw)), mode="edge")
    H, W = a.shape
    return a.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3), (h, w)


def _unblockify(b: np.ndarray, shape) -> np.ndarray:
    nbh, nbw = b.shape[:2]
    out = b.transpose(0, 2, 1, 3).reshape(nbh * 8, nbw * 8)
    return out[: shape[0], : shape[1]]


def encode(arr: np.ndarray, fmt: str = "raw") -> bytes:
    """uint8 (h, w) array -> bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    if fmt == "raw":
        return arr.tobytes()
    if fmt == "dct":
        blocks, shape = _blockify(arr.astype(np.float64) - 128.0)
        coef = np.einsum("ij,bcjk,lk->bcil", _D, blocks, _D)
        q = np.round(coef / _Q).astype(np.int16)
        return q.tobytes()
    raise ValueError(f"unknown fmt: {fmt}")


def decode(data: bytes, h: int, w: int, fmt: str = "raw") -> np.ndarray:
    """bytes -> uint8 (h, w) array."""
    if fmt == "raw":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w)
    if fmt == "dct":
        H, W = h + ((-h) % 8), w + ((-w) % 8)
        q = np.frombuffer(data, dtype=np.int16).reshape(H // 8, W // 8, 8, 8)
        coef = q.astype(np.float64) * _Q
        blocks = np.einsum("ji,bcjk,kl->bcil", _D, coef, _D)
        out = _unblockify(blocks, (h, w)) + 128.0
        return np.clip(np.round(out), 0, 255).astype(np.uint8)
    raise ValueError(f"unknown fmt: {fmt}")


def encode_bands(bands: dict, spec: list) -> bytes:
    """Multiband tile encoding (fmt='multiraw'): concatenated row-major
    planes per the band spec ``[(name, dtype_str), ...]`` — e.g. a WIT
    stack of one uint8 bitfield + six int16 reflectance + three uint8
    fractional-cover planes."""
    out = []
    for name, dt in spec:
        out.append(np.ascontiguousarray(bands[name], dtype=np.dtype(dt))
                   .tobytes())
    return b"".join(out)


def decode_bands(data: bytes, h: int, w: int, spec: list) -> dict:
    """Inverse of :func:`encode_bands`."""
    out = {}
    off = 0
    for name, dt in spec:
        dtype = np.dtype(dt)
        n = h * w * dtype.itemsize
        out[name] = np.frombuffer(data[off:off + n], dtype=dtype).reshape(h, w)
        off += n
    if off != len(data):
        raise ValueError(f"band spec mismatch: consumed {off} of {len(data)}")
    return out


def band_planes(stack: np.ndarray, size: int, spec: list) -> dict:
    """Batch :func:`decode_bands` without a copy: ``{name: (T, size)
    view}`` over a (T, n) uint8 stack of T :func:`encode_bands` payloads
    of ``size`` pixels each (n must be the spec's full byte length)."""
    out = {}
    off = 0
    for name, dt in spec:
        n = size * np.dtype(dt).itemsize
        out[name] = stack[:, off:off + n].view(dt)
        off += n
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 ** 2 / mse))


def phash64(arr: np.ndarray) -> int:
    """Deterministic 64-bit content hash of the *decoded* pixels (signed
    int64 so it fits a Spark LongType column)."""
    d = hashlib.blake2b(np.ascontiguousarray(arr, dtype=np.uint8).tobytes(),
                        digest_size=8).digest()
    v = int.from_bytes(d, "big", signed=False)
    return v - (1 << 64) if v >= (1 << 63) else v


def ahash64(arr: np.ndarray) -> int:
    """Perceptual 64-bit average-hash: 8x8 block means thresholded at
    their global mean (signed int64 for a Spark LongType column).

    Unlike :func:`phash64` (a cryptographic content hash where one
    flipped pixel flips ~32 bits), this is ROBUST to small
    perturbations — a near-identical image lands within a small hamming
    distance — which is what image near-duplicate detection needs
    (multimodal analogue of SimHash over documents)."""
    a = np.asarray(arr, dtype=np.float64)
    h, w = a.shape
    bh, bw = max(1, h // 8), max(1, w // 8)
    b = a[:bh * 8, :bw * 8].reshape(8, bh, 8, bw).mean(axis=(1, 3))
    bits = (b > b.mean()).ravel()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v
