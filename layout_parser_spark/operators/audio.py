"""Audio-typed binary columns: real RIFF/WAVE PCM decode (numpy-only,
public WAV format) plus Arrow-batched feature extraction.

Mirrors the image path in ``multimodal.py``: the decode runs INSIDE the
Arrow stage, ``transport.map_pages`` (at 100 TB the payload bytes must
never leave the executor as anything but features), formats beyond PCM
WAV return None so callers can fall back to metadata-only.  The
reference has no audio support — this is part of the
LLM-training-pipeline surface the engine adds on top (same contract as
image decode: opaque binary + typed metadata + batch feature UDFs)."""

from __future__ import annotations

import struct
from typing import Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..transport import map_pages


def decode_wav(payload: bytes) -> Optional[Tuple[int, int, np.ndarray]]:
    """RIFF/WAVE bytes → (sample_rate, n_channels, float64 samples in
    [-1, 1], shape (n_frames, n_channels)) or None.

    Handles PCM (format 1: u8 / i16 / i32) and IEEE float (format 3:
    f32) sample formats; walks chunks properly so fmt/data need not be
    adjacent (LIST/INFO chunks in crawled files are common)."""
    if payload is None or len(payload) < 44:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body_at = pos + 8
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, body_at)
        elif cid == b"data":
            data = payload[body_at : body_at + size]
        pos = body_at + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, channels, rate, _brate, _align, bits = fmt
    if channels < 1 or rate < 1 or bits < 8:
        return None
    data = data[: len(data) - (len(data) % (bits // 8))]  # truncated tail
    if audio_fmt == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif audio_fmt == 1 and bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif audio_fmt == 1 and bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    elif audio_fmt == 3 and bits == 32:
        x = np.frombuffer(data, dtype="<f4").astype(np.float64)
    else:
        return None
    frames = len(x) // channels
    return rate, channels, x[: frames * channels].reshape(frames, channels)


def encode_wav(
    samples: np.ndarray, sample_rate: int = 16000
) -> bytes:
    """float samples in [-1, 1] (n_frames,) or (n_frames, n_channels) →
    16-bit PCM WAV bytes — the test-suite twin of decode_wav."""
    if samples.ndim == 1:
        samples = samples[:, None]
    ch = samples.shape[1]
    pcm = np.clip(np.rint(samples * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


AUDIO_FEATURES = StructType(
    [
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", DoubleType(), True),
        StructField("zero_cross_rate", DoubleType(), True),
    ]
)


def audio_features(payload: bytes) -> Optional[dict]:
    """Decode + the standard quality-filter features (duration, RMS
    loudness, peak, zero-crossing rate on the channel mean) — the audio
    analogue of the text quality scores used for corpus filtering."""
    dec = decode_wav(payload)
    if dec is None:
        return None
    rate, ch, x = dec
    if x.shape[0] == 0:
        return {
            "sample_rate": rate,
            "channels": ch,
            "duration_s": 0.0,
            "rms": 0.0,
            "peak": 0.0,
            "zero_cross_rate": 0.0,
        }
    mono = x.mean(axis=1)
    zc = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if len(mono) > 1 else 0.0
    return {
        "sample_rate": rate,
        "channels": ch,
        "duration_s": x.shape[0] / rate,
        "rms": float(np.sqrt(np.mean(x * x))),
        "peak": float(np.abs(x).max()),
        "zero_cross_rate": zc,
    }


def extract_audio_features(
    df: DataFrame, payload_col: str = "payload", out_col: str = "audio"
) -> DataFrame:
    """Feature extraction over WAV binary payloads in one Arrow stage;
    same batch shape as the image path (one python worker per core,
    ~2k-row chunks).  A NULL or non-WAV payload gets a NULL struct."""
    return map_pages(
        df, lambda p: [(audio_features(p),)], [payload_col],
        [StructField(out_col, AUDIO_FEATURES, True)], keep=df.columns,
    )


# --- audio fingerprinting (Haitsma-Kalker style, public recipe) ----------

_FP_FRAME = 2048
_FP_HOP = 1024
_FP_BANDS = 17  # 17 edges -> 16 band energies -> 15 difference bits
_FP_LO, _FP_HI = 300.0, 3000.0


def audio_fingerprint(payload: bytes):
    """WAV bytes → (frame_bits list[15-bit ints], summary int64) or
    None.  Per frame: FFT magnitude → 16 log-spaced band energies in
    300–3000 Hz → bit b = sign of the time- and band-difference
    (E[t,b]−E[t,b+1]) − (E[t−1,b]−E[t−1,b+1]) — the classic robust
    fingerprint, invariant to uniform gain and PCM re-quantization.

    The 64-bit summary majority-votes each of the 15 bits over 4
    temporal quarters (temporal structure survives, frame jitter does
    not), so near-dup pairing reuses the same 4×16-bit pigeonhole
    equi-join as ``phash.phash_near_dup_pairs``.

    Scope: the summary pairs exact and mild re-encodes (gain changes,
    16/32-bit requantization) at hamming ≤ 3.  HEAVY transcodes (8-bit
    PCM at −48 dB noise floor, lossy codecs) flip bits in quiet frames
    and need BER-tolerant matching over the per-frame code sequence
    (Chromaprint-style), which is why the frame codes are returned
    alongside the summary."""
    dec = decode_wav(payload)
    if dec is None:
        return None
    rate, _ch, x = dec
    mono = x.mean(axis=1)
    n_frames = (len(mono) - _FP_FRAME) // _FP_HOP + 1
    if n_frames < 2:
        return None
    edges = np.exp(
        np.linspace(np.log(_FP_LO), np.log(_FP_HI), _FP_BANDS)
    )
    bins = np.clip(
        (edges * _FP_FRAME / rate).astype(int), 1, _FP_FRAME // 2
    )
    win = np.hanning(_FP_FRAME)
    energies = np.empty((n_frames, _FP_BANDS - 1))
    for t in range(n_frames):
        seg = mono[t * _FP_HOP : t * _FP_HOP + _FP_FRAME] * win
        mag = np.abs(np.fft.rfft(seg)) ** 2
        for b in range(_FP_BANDS - 1):
            energies[t, b] = mag[bins[b] : max(bins[b] + 1, bins[b + 1])].sum()
    d = np.diff(energies, axis=1)          # E[t,b] - E[t,b+1]  (15 diffs)
    dd = d[1:] - d[:-1]                    # minus previous frame's
    bits = (dd > 0).astype(np.int64)       # (n_frames-1, 15)
    frame_bits = [
        int((row * (1 << np.arange(row.size))).sum()) for row in bits
    ]
    # summary: majority vote per bit over 4 temporal quarters
    q = max(1, len(bits) // 4)
    summary = 0
    for qi in range(4):
        chunk = bits[qi * q : (qi + 1) * q] if qi < 3 else bits[3 * q :]
        if len(chunk) == 0:
            chunk = bits[-1:]
        maj = (chunk.sum(axis=0) * 2 >= len(chunk)).astype(np.int64)
        code = int((maj * (1 << np.arange(maj.size))).sum())
        summary |= code << (16 * qi)
    if summary >= (1 << 63):
        summary -= 1 << 64
    return frame_bits, summary


def extract_audio_fingerprints(
    df: DataFrame, payload_col: str = "payload", key_cols: tuple = ("url",)
) -> DataFrame:
    """Decode + fingerprint inside one Arrow stage → (keys, afp int64,
    codes array<int>); non-WAV/too-short payloads emit no row.  Summary
    near-dup pairing: ``phash.phash_near_dup_pairs(out, hash_col="afp",
    id_col=...)``; the per-frame codes are the input for BER-tolerant
    sequence matching of heavy transcodes."""

    def kernel(payload):
        fp = audio_fingerprint(payload)
        return [] if fp is None else [(fp[1], fp[0])]

    fields = [
        StructField("afp", LongType(), True),
        StructField("codes", ArrayType(IntegerType()), True),
    ]
    return map_pages(df, kernel, [payload_col], fields, keep=key_cols)


def audio_sequence_pairs(
    df,
    codes_col: str = "codes",
    id_col: str = "url",
    summary_col: str = "afp",
    max_ber: float = 0.25,
    n_chunks: int = 8,
) -> "DataFrame":
    """BER-tolerant audio matching for HEAVY transcodes (the
    Haitsma-Kalker acceptance test): candidates from the summary-hash
    pigeonhole (same equi-join as ``phash.phash_near_dup_pairs``), then
    verify by the mean bit-error-rate over the ALIGNED per-frame
    32-bit code sequences — Haitsma & Kalker 2002 accept at BER < 0.35
    over the aligned block; the doc-level hamming path alone misses
    transcodes that flip >7 summary bits but keep frame structure.

    Returns (id_a, id_b, ber DOUBLE, n_frames) for pairs with
    ber <= max_ber.  The BER fold is columnar (zip_with + bit_count +
    aggregate) — no Python in the verify stage."""
    from pyspark.sql import functions as F

    from .phash import phash_near_dup_pairs

    sigs = df.select(
        F.col(id_col).alias("id"),
        F.col(summary_col).alias("sig"),
        F.col(codes_col).alias("cd"),
    )
    # candidate ids from the widest pigeonhole radius the chunking allows
    cand = phash_near_dup_pairs(
        sigs, hash_col="sig", id_col="id",
        max_hamming=n_chunks - 1, n_chunks=n_chunks,
    ).select("id_a", "id_b")
    a = sigs.select(F.col("id").alias("id_a"), F.col("cd").alias("ca"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("cd").alias("cb"))
    joined = cand.join(a, on="id_a").join(b, on="id_b")
    n = F.least(F.size("ca"), F.size("cb"))
    # align to the common prefix; zip_with would null-pad the tail
    xa = F.slice(F.col("ca"), 1, F.greatest(n, F.lit(1)))
    xb = F.slice(F.col("cb"), 1, F.greatest(n, F.lit(1)))
    bits = F.aggregate(
        F.zip_with(
            xa, xb,
            lambda x, y: F.bit_count(
                x.cast("long").bitwiseXOR(y.cast("long"))
                .bitwiseAND(F.lit(0xFFFFFFFF))
            ),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    out = joined.select(
        "id_a", "id_b",
        F.when(n > 0, F.round(bits / (32.0 * n), 6))
        .otherwise(F.lit(1.0)).alias("ber"),
        n.cast("long").alias("n_frames"),
    )
    return out.where(F.col("ber") <= max_ber)
