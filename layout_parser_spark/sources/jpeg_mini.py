"""Minimal pure-python/numpy JPEG codec (public ITU-T.81 spec).

Decoder: baseline/extended sequential DCT (SOF0/SOF1) AND progressive
DCT (SOF2 — spectral selection + successive approximation, EOBRUN,
multi-scan coefficient accumulation), 8-bit samples, grayscale or YCbCr
with integer-ratio chroma subsampling (4:4:4 / 4:2:2 / 4:2:0), restart
markers, byte-stuffed entropy stream.  Arithmetic coding, 12-bit and
hierarchical modes return ``None`` so the caller can fall back (PIL when
installed, else metadata-only).

The hot math (dequantize + 2-D IDCT + plane assembly) is vectorized over
ALL blocks at once with numpy matrix products; only the Huffman walk is
per-symbol python, accelerated by a 16-bit prefix lookup table per
Huffman table (one dict-free array index per symbol).

Encoder: baseline 8-bit grayscale or YCbCr (4:4:4 or 4:2:0) with the
Annex-K example quantization/Huffman tables and libjpeg's quality
scaling.  It exists so the engine can re-encode crops and so the test
suite can roundtrip real JPEG bytes without any external imaging
library; decoder and encoder are independent code paths (the decoder
reads every table from the bitstream, never from these constants).

This backs the JPEG path of ``operators/multimodal.decode_pixels`` — the
reference consumes pre-decoded numpy images (layout-parser
elements/layout_elements.py crop_image slices ``image[y1:y2, x1:x2]``);
at 100 TB the decode itself must run inside the Arrow batch stage, which
is exactly where decode_pixels is called from.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Tuple

import numpy as np

# --- shared constants ----------------------------------------------------

# zigzag scan: position k in the scan order -> (row, col) in the 8x8 block
_ZIGZAG: List[Tuple[int, int]] = [
    rc
    for s in range(15)
    for rc in sorted(
        [(r, s - r) for r in range(max(0, s - 7), min(8, s + 1))],
        reverse=(s % 2 == 0),
    )
]
_ZZ_ROWS = np.array([r for r, _ in _ZIGZAG])
_ZZ_COLS = np.array([c for _, c in _ZIGZAG])

# orthonormal DCT-II basis: pixels = C.T @ coefs @ C
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _idct2_all(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficients -> (n, 8, 8) float pixels
    (still centered on 0; +128 and clip is the caller's job)."""
    return np.matmul(np.matmul(_C.T, blocks), _C)


# --- Huffman tables ------------------------------------------------------


class _HuffLUT:
    """Canonical Huffman table compiled to a 16-bit prefix lookup:
    ``sym[peek16]`` / ``length[peek16]`` resolve any code in one index."""

    __slots__ = ("sym", "length")

    def __init__(self, counts: List[int], values: bytes):
        self.sym = np.zeros(1 << 16, dtype=np.int16)
        self.length = np.zeros(1 << 16, dtype=np.uint8)
        code = 0
        vi = 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                lo = code << (16 - ln)
                hi = lo + (1 << (16 - ln))
                self.sym[lo:hi] = values[vi]
                self.length[lo:hi] = ln
                code += 1
                vi += 1
            code <<= 1


class _BitReader:
    """MSB-first reader over the de-stuffed entropy segments; ``restart``
    jumps to the next RST-delimited segment (byte aligned, per spec)."""

    __slots__ = ("segments", "seg", "data", "nbits", "pos")

    def __init__(self, segments: List[bytes]):
        self.segments = segments
        self.seg = 0
        self._load(0)

    def _load(self, i: int) -> None:
        self.seg = i
        # pad so peek16 near the end never runs out (spec: pad with 1-bits)
        self.data = self.segments[i] + b"\xff\xff\xff"
        self.nbits = (len(self.segments[i])) * 8
        self.pos = 0

    def restart(self) -> None:
        self._load(self.seg + 1)

    def peek16(self) -> int:
        byteoff = self.pos >> 3
        v = int.from_bytes(self.data[byteoff : byteoff + 4], "big")
        return (v >> (16 - (self.pos & 7))) & 0xFFFF

    def skip(self, n: int) -> None:
        self.pos += n

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        v = self.peek16() >> (16 - n)
        self.pos += n
        return v


def _extend(v: int, s: int) -> int:
    """DIFF/AC value extension (T.81 F.2.2.1): s-bit magnitude v is
    negative when its top bit is 0."""
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


# --- decoder -------------------------------------------------------------


def jpeg_dimensions(payload: bytes) -> Optional[Tuple[int, int]]:
    """(height, width) from the first SOFn marker, no entropy decode —
    the cheap path for metadata extraction over binary columns."""
    if payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            pos += 2
            continue
        (length,) = struct.unpack_from(">H", payload, pos + 2)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack_from(">HH", payload, pos + 5)
            return h, w
        pos += 2 + length
    return None


def decode_jpeg(payload: bytes) -> Optional[np.ndarray]:
    """Baseline JPEG bytes -> uint8 (h, w, 3) RGB array, or None when the
    stream is not baseline-decodable here."""
    try:
        return _decode_jpeg_inner(payload)
    except (
        IndexError,
        ValueError,
        KeyError,
        AttributeError,  # scan referencing a never-defined huffman table
        TypeError,
        struct.error,
        ZeroDivisionError,
    ):
        return None


def _huff(br: "_BitReader", lut: _HuffLUT) -> int:
    """One Huffman symbol via the 16-bit prefix LUT; raises ValueError on
    an invalid code (caught by decode_jpeg's blanket handler)."""
    p = br.peek16()
    ln = int(lut.length[p])
    if ln == 0:
        raise ValueError("invalid huffman code")
    br.skip(ln)
    return int(lut.sym[p])


def _decode_block_seq(br, coef, dc_lut, ac_lut, pred: int) -> int:
    """Sequential (baseline) block: DC diff + AC run-length, band 0-63."""
    s = _huff(br, dc_lut)
    if s:
        pred += _extend(br.read(s), s)
    coef[0] = pred
    k = 1
    while k < 64:
        rs = _huff(br, ac_lut)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:
                break  # EOB
            k += 16
        else:
            k += r
            coef[k] = _extend(br.read(s), s)
            k += 1
    return pred


def _decode_ac_first(br, coef, ac_lut, ss, se, al, eobrun: int) -> int:
    """Progressive AC initial scan (T.81 G.1.2.2): band ss..se at
    precision al, with EOB-run codes spanning blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff(br, ac_lut)
        r, s = rs >> 4, rs & 15
        if s:
            k += r
            if k > se:
                break
            coef[k] = _extend(br.read(s), s) << al
            k += 1
        else:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read(r)
                break
            k += 16
    return eobrun


def _decode_ac_refine(br, coef, ac_lut, ss, se, al, eobrun: int) -> int:
    """Progressive AC refinement scan (T.81 G.1.2.3): correction bits for
    already-significant coefficients, newly-significant ±2^al inserts,
    EOB-runs carrying correction bits."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff(br, ac_lut)
            r, s = rs >> 4, rs & 15
            val = 0
            if s:
                val = p1 if br.read(1) else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += br.read(r)
                break  # remainder handled by the eobrun section below
            # advance: correction bits over nonzero history, counting r
            # zero-history positions
            while k <= se:
                if coef[k] != 0:
                    if br.read(1) and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                coef[k] = val
            k += 1
    if eobrun > 0:
        # correction bits apply only to nonzero-history coefficients —
        # jump straight to them instead of walking the whole band (the
        # common EOB'd-block case is ALL-zero: one numpy scan, no loop)
        for k2 in np.flatnonzero(coef[k : se + 1]) + k:
            if br.read(1) and (coef[k2] & p1) == 0:
                coef[k2] += p1 if coef[k2] >= 0 else m1
        eobrun -= 1
    return eobrun


def _decode_scan(
    grids, segments, scan_comps, ss, se, ah, al,
    restart_interval, mcus_x, mcus_y, progressive,
    h, w, hmax, vmax,
):
    """Decode one entropy-coded scan into the coefficient grids.
    ``scan_comps``: [(cid, hs, vs, dc_lut, ac_lut)].  Interleaved scans
    traverse the MCU grid; single-component scans traverse that
    component's own block grid (T.81 A.2.2)."""
    br = _BitReader(segments)
    preds = {sc[0]: 0 for sc in scan_comps}
    eobrun = 0
    interleaved = len(scan_comps) > 1
    if interleaved:
        units = mcus_x * mcus_y
    else:
        cid, hs, vs, _dc, _ac = scan_comps[0]
        comp_w = -(-w * hs // hmax)  # ceil — component's own resolution
        comp_h = -(-h * vs // vmax)
        wb = -(-comp_w // 8)  # blocks per row in this component
        hb = -(-comp_h // 8)
        units = wb * hb
    for u in range(units):
        if restart_interval and u and u % restart_interval == 0:
            br.restart()
            preds = {c: 0 for c in preds}
            eobrun = 0
        if interleaved:
            my, mx = divmod(u, mcus_x)
            for cid, hs, vs, dc_lut, ac_lut in scan_comps:
                grid = grids[cid]
                for by in range(vs):
                    for bx in range(hs):
                        coef = grid[my * vs + by, mx * hs + bx]
                        if not progressive:
                            preds[cid] = _decode_block_seq(
                                br, coef, dc_lut, ac_lut, preds[cid]
                            )
                        elif ah == 0:  # DC first (ss == 0 interleaved)
                            s = _huff(br, dc_lut)
                            if s:
                                preds[cid] += _extend(br.read(s), s)
                            coef[0] = preds[cid] << al
                        else:  # DC refinement: one bit per block
                            if br.read(1):
                                coef[0] |= 1 << al
        else:
            cid, hs, vs, dc_lut, ac_lut = scan_comps[0]
            by, bx = divmod(u, wb)
            coef = grids[cid][by, bx]
            if not progressive:
                preds[cid] = _decode_block_seq(
                    br, coef, dc_lut, ac_lut, preds[cid]
                )
            elif ss == 0:  # non-interleaved DC scan
                if ah == 0:
                    s = _huff(br, dc_lut)
                    if s:
                        preds[cid] += _extend(br.read(s), s)
                    coef[0] = preds[cid] << al
                elif br.read(1):
                    coef[0] |= 1 << al
            elif ah == 0:
                eobrun = _decode_ac_first(
                    br, coef, ac_lut, ss, se, al, eobrun
                )
            else:
                eobrun = _decode_ac_refine(
                    br, coef, ac_lut, ss, se, al, eobrun
                )


def _entropy_segments(payload: bytes, pos: int):
    """Split the entropy stream starting at ``pos`` into RST-delimited,
    de-stuffed segments; returns (segments, position of next marker)."""
    n = len(payload)
    segments: List[bytes] = []
    buf = bytearray()
    while pos < n:
        b = payload[pos]
        if b != 0xFF:
            buf.append(b)
            pos += 1
            continue
        m = payload[pos + 1] if pos + 1 < n else 0xD9
        if m == 0x00:
            buf.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            segments.append(bytes(buf))
            buf = bytearray()
            pos += 2
        else:
            break
    segments.append(bytes(buf))
    return segments, pos


def _decode_jpeg_inner(payload: bytes) -> Optional[np.ndarray]:
    if payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    n = len(payload)
    qtables: Dict[int, np.ndarray] = {}
    huff: Dict[Tuple[int, int], _HuffLUT] = {}  # (class 0=DC/1=AC, id)
    frame = None  # (h, w, comps) where comps = [(id, hs, vs, tq)]
    progressive = False
    restart_interval = 0
    grids: Dict[int, np.ndarray] = {}
    hmax = vmax = mcus_x = mcus_y = 0
    got_scan = False

    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        (length,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + length]
        pos += length
        if marker == 0xDB:  # DQT — possibly several tables, zigzag order
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                off += 1
                if pq == 0:
                    qtables[tq] = np.frombuffer(
                        body, np.uint8, 64, off
                    ).astype(np.int32)
                    off += 64
                else:
                    qtables[tq] = np.frombuffer(
                        body, ">u2", 64, off
                    ).astype(np.int32)
                    off += 128
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog
            progressive = marker == 0xC2
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                return None
            # allocation bound vs corrupt headers: absolute cap plus a
            # payload-proportional one (a real scan spends >= ~3 bits per
            # 64-pixel block, so pixels <= 256*bytes covers even solid-
            # color extremes while rejecting flipped-dim garbage cheaply)
            if h * w > (1 << 26) or h * w > 256 * len(payload):
                return None
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (h, w, comps)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            for cid, hs, vs, _tq in comps:
                grids[cid] = np.zeros(
                    (mcus_y * vs, mcus_x * hs, 64), dtype=np.int32
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            return None  # lossless / arithmetic / differential
        elif marker == 0xC4:  # DHT — possibly several tables
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 15
                counts = list(body[off + 1 : off + 17])
                nv = sum(counts)
                values = body[off + 17 : off + 17 + nv]
                huff[(tc, th)] = _HuffLUT(counts, values)
                off += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — decode one scan, keep walking
            if frame is None:
                return None
            h, w, comps = frame
            ns = body[0]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah_al = body[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 15
            by_id = {c[0]: c for c in comps}
            scan_comps = []
            for i in range(ns):
                cid = body[1 + 2 * i]
                td, ta = body[2 + 2 * i] >> 4, body[2 + 2 * i] & 15
                _, hs, vs, _tq = by_id[cid]
                # a DC-only or DC-refine scan may reference an absent AC
                # table; a refine scan may reference an absent DC table
                dc_lut = huff.get((0, td))
                ac_lut = huff.get((1, ta))
                scan_comps.append((cid, hs, vs, dc_lut, ac_lut))
            segments, pos = _entropy_segments(payload, pos)
            _decode_scan(
                grids, segments, scan_comps, ss, se, ah, al,
                restart_interval, mcus_x, mcus_y, progressive,
                h, w, hmax, vmax,
            )
            got_scan = True
        # APPn / COM / others: skipped by length

    if frame is None or not got_scan:
        return None
    h, w, comps = frame

    # dequantize + IDCT + assemble, vectorized per component
    planes: Dict[int, np.ndarray] = {}
    for cid, hs, vs, tq in comps:
        zz = grids[cid].reshape(-1, 64) * qtables[tq][None, :]
        blocks = np.zeros((zz.shape[0], 8, 8))
        blocks[:, _ZZ_ROWS, _ZZ_COLS] = zz
        pix = _idct2_all(blocks) + 128.0
        by, bx = grids[cid].shape[:2]
        plane = (
            pix.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        # upsample to full resolution (integer ratios only)
        if hmax % hs or vmax % vs:
            return None
        plane = np.repeat(np.repeat(plane, vmax // vs, 0), hmax // hs, 1)
        planes[cid] = plane[:h, :w]

    if len(comps) == 1:
        y = np.clip(np.rint(planes[comps[0][0]]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    if len(comps) != 3:
        return None
    y = planes[comps[0][0]]
    cb = planes[comps[1][0]] - 128.0
    cr = planes[comps[2][0]] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=2,
    )
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# --- encoder -------------------------------------------------------------

# Annex K example tables (public spec); DQT payloads are zigzag-ordered.
_Q_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ]
)
_Q_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ]
)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    bytes(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    bytes(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    bytes(
        [
            0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
            0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
            0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
            0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
            0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
            0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
            0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
            0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
            0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
            0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
            0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
            0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
            0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
            0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
            0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
            0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
            0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
            0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
            0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
            0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
            0xF9, 0xFA,
        ]
    ),
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    bytes(
        [
            0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
            0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
            0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
            0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
            0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
            0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
            0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
            0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
            0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
            0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
            0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
            0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
            0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
            0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
            0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
            0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
            0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
            0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
            0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
            0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
            0xF9, 0xFA,
        ]
    ),
)


def _prog_ac_table() -> Tuple[List[int], bytes]:
    """AC Huffman table for progressive scans: the Annex-K sequential
    tables lack the EOBn symbols (r<<4, r=1..14), so progressive encoders
    must ship their own table (libjpeg generates optimized ones).  Flat
    9-bit codes for every symbol we can emit — valid canonical Huffman,
    read back from DHT by any decoder."""
    syms = sorted(
        set(
            [r << 4 for r in range(15)]
            + [0xF0]
            + [(r << 4) | s for r in range(16) for s in range(1, 11)]
        )
    )
    counts = [0] * 16
    counts[8] = len(syms)  # all codes 9 bits long
    return counts, bytes(syms)


_AC_PROG = _prog_ac_table()


def _huff_codes(counts: List[int], values: bytes) -> Dict[int, Tuple[int, int]]:
    """symbol -> (code, length) canonical assignment."""
    out: Dict[int, Tuple[int, int]] = {}
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            out[values[vi]] = (code, ln)
            code += 1
            vi += 1
        code <<= 1
    return out


class _BitWriter:
    __slots__ = ("out", "acc", "nacc")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nacc += length
        while self.nacc >= 8:
            self.nacc -= 8
            b = (self.acc >> self.nacc) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nacc:
            pad = 8 - self.nacc
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _magnitude(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(
    bw: _BitWriter,
    qblock_zz: np.ndarray,
    pred: int,
    dc: Dict[int, Tuple[int, int]],
    ac: Dict[int, Tuple[int, int]],
) -> int:
    dcval = int(qblock_zz[0])
    diff = dcval - pred
    s = _magnitude(diff)
    code, ln = dc[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(qblock_zz)[0])) if np.any(qblock_zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(qblock_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = _magnitude(v)
        code, ln = ac[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac[0x00]  # EOB
        bw.write(code, ln)
    return dcval


class _ScanWriter:
    """One entropy-coded scan: bit writer + restart-marker emission +
    progressive EOB-run state (with buffered correction bits)."""

    def __init__(self, out: bytearray, restart_interval: int):
        self.out = out
        self.ri = restart_interval
        self.bw = _BitWriter()
        self.rst = 0
        self.eobrun = 0
        self.be_bits: List[int] = []

    def sym(self, table: Dict[int, Tuple[int, int]], s: int) -> None:
        code, ln = table[s]
        self.bw.write(code, ln)

    def flush_eobrun(self, ac: Dict[int, Tuple[int, int]]) -> None:
        if self.eobrun > 0:
            nb = self.eobrun.bit_length() - 1
            self.sym(ac, nb << 4)
            if nb:
                self.bw.write(self.eobrun & ((1 << nb) - 1), nb)
            for b in self.be_bits:
                self.bw.write(b, 1)
            self.be_bits = []
            self.eobrun = 0

    def maybe_restart(self, unit: int, ac=None) -> bool:
        """Emit RSTn at a restart boundary; True if preds must reset."""
        if not (self.ri and unit and unit % self.ri == 0):
            return False
        if ac is not None:
            self.flush_eobrun(ac)
        self.bw.flush()
        self.out += bytes(self.bw.out)
        self.bw = _BitWriter()
        self.out += bytes([0xFF, 0xD0 + self.rst])
        self.rst = (self.rst + 1) & 7
        return True

    def finish(self, ac=None) -> None:
        if ac is not None:
            self.flush_eobrun(ac)
        self.bw.flush()
        self.out += bytes(self.bw.out)


def _enc_ac_first_block(sw: _ScanWriter, coef, ss, se, al, ac) -> None:
    r = 0
    for k in range(ss, se + 1):
        v = int(coef[k])
        t = (v if v >= 0 else -v) >> al
        if t == 0:
            r += 1
            continue
        sw.flush_eobrun(ac)
        while r > 15:
            sw.sym(ac, 0xF0)  # ZRL
            r -= 16
        nb = t.bit_length()
        sw.sym(ac, (r << 4) | nb)
        sw.bw.write(t if v >= 0 else (1 << nb) - 1 - t, nb)
        r = 0
    if r > 0:
        sw.eobrun += 1
        if sw.eobrun == 0x7FFF:
            sw.flush_eobrun(ac)


def _enc_ac_refine_block(sw: _ScanWriter, coef, ss, se, al, ac) -> None:
    """libjpeg encode_mcu_AC_refine structure: newly-significant coefs
    emitted with run lengths; already-significant coefs contribute
    buffered correction bits; trailing zeros fold into the EOB run."""
    absv = [(abs(int(coef[k])) >> al) for k in range(ss, se + 1)]
    eob = 0
    for i, t in enumerate(absv):
        if t == 1:
            eob = ss + i
    r = 0
    br_bits: List[int] = []
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            sw.flush_eobrun(ac)
            sw.sym(ac, 0xF0)
            r -= 16
            for b in br_bits:
                sw.bw.write(b, 1)
            br_bits = []
        if t > 1:  # already significant: correction bit only
            br_bits.append(t & 1)
            continue
        sw.flush_eobrun(ac)
        sw.sym(ac, (r << 4) | 1)
        sw.bw.write(1 if int(coef[k]) >= 0 else 0, 1)
        for b in br_bits:
            sw.bw.write(b, 1)
        br_bits = []
        r = 0
    if r > 0 or br_bits:
        sw.eobrun += 1
        sw.be_bits.extend(br_bits)
        if sw.eobrun == 0x7FFF or len(sw.be_bits) > 900:
            sw.flush_eobrun(ac)


def _sos(scan_comps: List[Tuple[int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS header bytes; scan_comps = [(component id, td<<4|ta)]."""
    body = bytes([len(scan_comps)])
    for cid, tdta in scan_comps:
        body += bytes([cid, tdta])
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body


def _scaled_q(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _quantize_plane(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(h, w) float plane -> (by, bx, 64) zigzag quantized ints; h and w
    must already be multiples of 8 (caller edge-pads)."""
    h, w = plane.shape
    by, bx = h // 8, w // 8
    blocks = (
        plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coefs = np.matmul(np.matmul(_C, blocks), _C.T)
    zz = coefs[:, _ZZ_ROWS, _ZZ_COLS]
    return np.rint(zz / q[None, :]).astype(np.int32).reshape(by, bx, 64)


def _pad_to(plane: np.ndarray, h8: int, w8: int) -> np.ndarray:
    return np.pad(
        plane,
        ((0, h8 - plane.shape[0]), (0, w8 - plane.shape[1])),
        mode="edge",
    )


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """uint8 (h, w, 3) RGB or (h, w) grayscale -> JFIF bytes.

    ``subsampling``: '4:4:4' or '4:2:0' (color only).  A non-zero
    ``restart_interval`` emits DRI + RSTn every that many MCUs (blocks,
    for non-interleaved progressive scans).  ``progressive=True`` emits
    SOF2 with the scan script: interleaved DC first (Al=1) + DC refine,
    then per-component AC 1-63 first (Al=1) + AC refine — exercising
    spectral selection, successive approximation, and EOB-runs."""
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    qy = _scaled_q(_Q_LUMA[_ZZ_ROWS, _ZZ_COLS], quality)
    qc = _scaled_q(_Q_CHROMA[_ZZ_ROWS, _ZZ_COLS], quality)
    dcl = _huff_codes(*_DC_LUMA)
    dcc = _huff_codes(*_DC_CHROMA)
    if progressive:  # sequential tables lack the EOBn symbols
        acl = acc = _huff_codes(*_AC_PROG)
    else:
        acl = _huff_codes(*_AC_LUMA)
        acc = _huff_codes(*_AC_CHROMA)

    if gray:
        comps = [(1, 1, 1, 0)]
        hmax = vmax = 1
        y = arr.astype(np.float64)
        planes = {1: y}
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "4:2:0":
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            hmax = vmax = 2
            # 2x2 box average on an edge-padded even grid
            cbp = _pad_to(cb, (h + 1) & ~1, (w + 1) & ~1)
            crp = _pad_to(cr, (h + 1) & ~1, (w + 1) & ~1)
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(
                axis=(1, 3)
            )
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(
                axis=(1, 3)
            )
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            hmax = vmax = 1
        planes = {1: y, 2: cb, 3: cr}

    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    qgrids = {}
    for cid, hs, vs, tq in comps:
        plane = planes[cid]
        qgrids[cid] = _quantize_plane(
            _pad_to(plane, mcus_y * vs * 8, mcus_x * hs * 8),
            qy if tq == 0 else qc,
        )

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for tq, q in ((0, qy),) + (() if gray else ((1, qc),)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(int(v) for v in q)
    out += (b"\xff\xc2" if progressive else b"\xff\xc0") + struct.pack(
        ">HBHHB", 8 + 3 * len(comps), 8, h, w, len(comps)
    )
    for cid, hs, vs, tq in comps:
        out += struct.pack(">BBB", cid, (hs << 4) | vs, tq)
    ac_tbl = _AC_PROG if progressive else _AC_LUMA
    hts = [(0, 0, _DC_LUMA), (1, 0, ac_tbl)]
    if not gray:
        hts += [(0, 1, _DC_CHROMA), (1, 1, _AC_PROG if progressive else _AC_CHROMA)]
    for tc, th, (counts, values) in hts:
        out += (
            b"\xff\xc4"
            + struct.pack(">HB", 19 + len(values), (tc << 4) | th)
            + bytes(counts)
            + values
        )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    mcus = mcus_y * mcus_x
    if progressive:
        dc_ids = [(cid, (0 if tq == 0 else 1) << 4) for cid, _h, _v, tq in comps]
        # scan 1: DC first, interleaved, Al=1 (arithmetic point transform)
        out += _sos(dc_ids, 0, 0, 0, 1)
        sw = _ScanWriter(out, restart_interval)
        preds = {cid: 0 for cid, _, _, _ in comps}
        for u in range(mcus):
            if sw.maybe_restart(u):
                preds = {c: 0 for c in preds}
            my, mx = divmod(u, mcus_x)
            for cid, hs, vs, tq in comps:
                dc = dcl if tq == 0 else dcc
                for by in range(vs):
                    for bx in range(hs):
                        v = int(qgrids[cid][my * vs + by, mx * hs + bx][0]) >> 1
                        diff = v - preds[cid]
                        preds[cid] = v
                        s = _magnitude(diff)
                        sw.sym(dc, s)
                        if s:
                            sw.bw.write(
                                diff if diff >= 0 else diff + (1 << s) - 1, s
                            )
        sw.finish()
        # scan 2: DC refinement (Ah=1, Al=0) — one raw bit per block
        out += _sos(dc_ids, 0, 0, 1, 0)
        sw = _ScanWriter(out, restart_interval)
        for u in range(mcus):
            sw.maybe_restart(u)
            my, mx = divmod(u, mcus_x)
            for cid, hs, vs, _tq in comps:
                for by in range(vs):
                    for bx in range(hs):
                        sw.bw.write(
                            int(qgrids[cid][my * vs + by, mx * hs + bx][0]) & 1, 1
                        )
        sw.finish()
        # AC scans, per component: first pass at Al=1, then refinement
        for ah in (0, 1):
            for cid, hs, vs, tq in comps:
                ac = acl if tq == 0 else acc
                comp_w = -(-w * hs // hmax)
                comp_h = -(-h * vs // vmax)
                wb = -(-comp_w // 8)
                hb = -(-comp_h // 8)
                out += _sos(
                    [(cid, 0 if tq == 0 else 1)], 1, 63, ah, 1 - ah
                )
                sw = _ScanWriter(out, restart_interval)
                for u in range(wb * hb):
                    sw.maybe_restart(u, ac)
                    by, bx = divmod(u, wb)
                    block = qgrids[cid][by, bx]
                    if ah == 0:
                        _enc_ac_first_block(sw, block, 1, 63, 1, ac)
                    else:
                        _enc_ac_refine_block(sw, block, 1, 63, 0, ac)
                sw.finish(ac)
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for cid, _hs, _vs, tq in comps:
        td_ta = 0 if tq == 0 else 0x11
        out += struct.pack(">BB", cid, td_ta)
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0

    bw = _BitWriter()
    preds = {cid: 0 for cid, _, _, _ in comps}
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            mcu_i = my * mcus_x + mx
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.flush()
                out += bytes(bw.out)
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                preds = {cid: 0 for cid in preds}
            for cid, hs, vs, tq in comps:
                dc = dcl if tq == 0 else dcc
                ac = acl if tq == 0 else acc
                for by in range(vs):
                    for bx in range(hs):
                        preds[cid] = _encode_block(
                            bw,
                            qgrids[cid][my * vs + by, mx * hs + bx],
                            preds[cid],
                            dc,
                            ac,
                        )
    bw.flush()
    out += bytes(bw.out)
    out += b"\xff\xd9"  # EOI
    return bytes(out)
