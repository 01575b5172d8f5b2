"""Perceptual image hashing (pHash) + near-duplicate image pairing.

The image-side analogue of the text dedup family: a 64-bit DCT-based
perceptual hash per image (robust to re-encoding, format conversion, and
mild quality changes), then hamming-bucketed candidate pairing through
``dedup.hamming_pairs``, the pigeonhole join ``dedup.simhash_buckets``
also uses — images within hamming distance 3 share at least one 16-bit
chunk, so candidates come from an equi-join, never a cross join, and
each pair is emitted once without a dedup exchange.

pHash recipe (public, standard): luminance → 32×32 box-mean resample
(integral image) → 2-D DCT-II → keep the low-frequency 8×8 corner →
bit b = coefficient > median.  Decode+hash runs inside one Arrow stage
(``transport.map_pages``); the pairing is pure DataFrame ops on 64-bit
longs.

Stability caveat (inherent to pHash): images whose low-frequency
spectrum is nearly empty (flat/ultra-smooth synthetic content) leave
many coefficients at the median, where the bit is sign-of-noise; real
photographs and document scans have textured spectra and re-encode to
hamming 0–4.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField

from ..transport import map_pages
from .dedup import hamming_pairs

_N = 32
_D32 = np.zeros((_N, _N))
for _k in range(_N):
    for _n in range(_N):
        _D32[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / (2 * _N)) * (
            np.sqrt(1.0 / _N) if _k == 0 else np.sqrt(2.0 / _N)
        )


def _resize32(lum: np.ndarray) -> np.ndarray:
    """Box-mean resample to 32×32 via an integral image (exact block
    averages, no interpolation kernel to disagree about)."""
    h, w = lum.shape
    if h < _N or w < _N:  # upscale tiny images so every bin is non-empty
        lum = np.repeat(
            np.repeat(lum, -(-_N // h), axis=0), -(-_N // w), axis=1
        )
        h, w = lum.shape
    ye = (np.arange(_N + 1) * h) // _N
    xe = (np.arange(_N + 1) * w) // _N
    c = np.zeros((h + 1, w + 1))
    c[1:, 1:] = lum.cumsum(0).cumsum(1)
    s = (
        c[ye[1:], :][:, xe[1:]]
        - c[ye[:-1], :][:, xe[1:]]
        - c[ye[1:], :][:, xe[:-1]]
        + c[ye[:-1], :][:, xe[:-1]]
    )
    areas = (ye[1:] - ye[:-1])[:, None] * (xe[1:] - xe[:-1])[None, :]
    return s / areas


def phash64(arr: np.ndarray) -> int:
    """uint8 (h, w, 3) image → 64-bit perceptual hash (python int,
    signed-long range for Spark)."""
    lum = (
        0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    )
    small = _resize32(lum)
    coefs = _D32 @ small @ _D32.T
    block = coefs[:8, :8].reshape(-1)
    med = np.median(block)
    bits = block > med
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_phash(
    df: DataFrame, payload_col: str = "payload", key_cols: tuple = ("url",)
) -> DataFrame:
    """Decode + pHash inside one Arrow stage; undecodable payloads emit
    no row (they can't be perceptually compared)."""
    from .multimodal import decode_pixels

    def kernel(payload):
        arr = decode_pixels(payload)
        return [] if arr is None else [(phash64(arr),)]

    return map_pages(
        df, kernel, [payload_col], [StructField("phash", LongType(), True)],
        keep=key_cols,
    )


def phash_near_dup_pairs(
    df: DataFrame,
    hash_col: str = "phash",
    id_col: str = "url",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Candidate pairing on (64/n_chunks)-bit chunks — the pigeonhole
    guarantees every pair within hamming ≤ n_chunks−1 shares a chunk —
    then exact hamming verify via bit_count(xor).  The join is
    ``dedup.hamming_pairs``, the one SimHash uses: a SHUFFLE_HASH
    equi-join that emits each pair once from its first agreeing chunk.
    Precondition: one signature per id.

    Radius/scale tradeoff: wider radii need more (smaller) chunks, and
    bucket occupancy grows ~n/2^chunk_bits — 16-bit chunks (radius 3)
    stay sparse at corpus scale, 8-bit chunks (radius 7) are for bounded
    collections or pre-blocked corpora."""
    if 64 % n_chunks:
        raise ValueError("n_chunks must divide 64")
    bpc = 64 // n_chunks
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"{n_chunks}x{bpc}-bit pigeonhole guarantees only "
            f"hamming <= {n_chunks - 1}"
        )
    sigs = df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("sig"))
    return hamming_pairs(sigs, 64, n_chunks).where(
        F.col("hamming") <= max_hamming
    )


def video_phash_summary(frames_hashes) -> Optional[int]:
    """Frame-pHash sequence → one 64-bit video signature: split the
    frames into 4 temporal quarters; for each quarter, majority-vote the
    frame hashes bit-wise and keep the low 16 bits of the result as that
    quarter's chunk.  The signature therefore carries temporal structure
    (a re-ordered video differs) while tolerating frame jitter, and
    pairs through the same 4×16-bit pigeonhole join as image pHash."""
    if not frames_hashes:
        return None
    bits = np.array(
        [
            [(int(h) >> b) & 1 for b in range(64)]
            for h in frames_hashes
        ],
        dtype=np.int64,
    )
    q = max(1, len(bits) // 4)
    out = 0
    for qi in range(4):
        chunk = bits[qi * q : (qi + 1) * q] if qi < 3 else bits[3 * q :]
        if len(chunk) == 0:
            chunk = bits[-1:]
        maj = (chunk.sum(axis=0) * 2 >= len(chunk)).astype(np.int64)
        code = int((maj[:16] * (1 << np.arange(16))).sum())
        out |= code << (16 * qi)
    return out - (1 << 64) if out >= (1 << 63) else out


def video_phash(
    df: DataFrame,
    payload_col: str = "payload",
    key_cols: tuple = ("url",),
    n_frames: int = 8,
) -> DataFrame:
    """MJPEG-AVI / animated-GIF payload → 64-bit video signature built
    from evenly-sampled frame pHashes (decode + hash in one Arrow
    stage).  Near-dup pairing: ``phash_near_dup_pairs(out,
    hash_col="vhash")``."""
    from .multimodal import frame_source, sample_indices

    def kernel(payload):
        src = None if payload is None else frame_source(payload)
        if src is None:
            return []
        total, get = src
        frames = (get(i)[0] for i in sample_indices(total, n_frames))
        sig = video_phash_summary(
            [phash64(arr) for arr in frames if arr is not None]
        )
        return [] if sig is None else [(sig,)]

    return map_pages(
        df, kernel, [payload_col], [StructField("vhash", LongType(), True)],
        keep=key_cols,
    )
