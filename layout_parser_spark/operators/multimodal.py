"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata.

Decode support, in order of preference:

* REAL pixel decode for headerless-simple formats — binary PPM/PGM (P6/
  P5) and uncompressed BI_RGB BMP (24/32-bit) — implemented here in
  numpy from the public format specs, no external libraries.  This backs
  a real ``crop_image`` (reference layout_elements.py:443-445: numpy
  slice ``img[y1:y2, x1:x2]``) over distributed binary columns.
* PIL when installed (gated import) for JPEG/PNG.
* otherwise the deterministic fake (``_fake_decode``) keeps the plumbing
  (schema, Arrow batch shape, kernel signatures) testable.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..transport import map_pages

MEDIA_META = StructType(
    [
        StructField("media_type", StringType(), True),
        StructField("byte_len", IntegerType(), True),
        StructField("digest", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)

try:  # gated optional dependency — not present in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False


def media_metadata(payload: Column, media_type: str = "image") -> Column:
    """Typed metadata struct for an opaque binary payload — pure
    expressions (length, md5 digest), no decode."""
    return F.struct(
        F.lit(media_type).alias("media_type"),
        F.length(payload).cast("int").alias("byte_len"),
        F.md5(payload).alias("digest"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )


def image_dimensions(payload: bytes) -> Optional[tuple]:
    """(height, width) from the format header alone — no pixel decode.
    Covers PNG (IHDR), BMP, binary PNM, and JPEG (SOFn scan).  This is
    the 100 TB metadata pass: at scale you want width/height for every
    payload without paying entropy decode for any of them."""
    if payload is None or len(payload) < 16:
        return None
    hw = None
    try:
        if payload.startswith(_PNG_SIG):
            w, h = struct.unpack_from(">II", payload, 16)
            hw = (h, w)
        elif payload[:2] == b"BM":
            w, h = struct.unpack_from("<ii", payload, 18)
            hw = (abs(h), w)
        elif payload[:2] in (b"P6", b"P5"):
            arr_hdr = _decode_pnm_header(payload)
            if arr_hdr is not None:
                w, h, _maxval, _pos = arr_hdr
                hw = (h, w)
        elif payload[:2] == b"\xff\xd8":
            from ..sources.jpeg_mini import jpeg_dimensions

            hw = jpeg_dimensions(payload)
        elif payload[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack_from("<HH", payload, 6)
            hw = (h, w)
    except Exception:  # untrusted crawl bytes: unparseable == no dims
        return None
    # a zeroed/degenerate header is no more useful than no header
    return hw if hw is not None and hw[0] > 0 and hw[1] > 0 else None


def _classify(raw: bytes):
    """(media_type, (h, w) or None) from format headers only."""
    dims = image_dimensions(raw)
    if dims:
        return "image", dims
    if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
        return "audio", None
    if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
        from ..sources.avi_mini import probe_avi

        p = probe_avi(raw)
        return "video", (p[0], p[1]) if p else None
    return "binary", None


def _media_meta(payload):
    """One payload → the ``MEDIA_META`` dict (None for NULL)."""
    import hashlib

    if payload is None:
        return None
    mtype, dims = _classify(payload)
    return {
        "media_type": mtype,
        "byte_len": len(payload),
        "digest": hashlib.md5(payload).hexdigest(),
        "width": dims[1] if dims else None,
        "height": dims[0] if dims else None,
    }


def media_metadata_decoded(
    df: DataFrame, payload_col: str = "payload", out_col: str = "meta"
) -> DataFrame:
    """`media_metadata` with real width/height filled from the format
    headers — one Arrow stage, header parse only (no pixel decode), so
    the per-row cost is O(header) not O(pixels)."""
    return map_pages(
        df, lambda p: [(_media_meta(p),)], [payload_col],
        [StructField(out_col, MEDIA_META, True)], keep=df.columns,
    )


def _fake_decode(payload: bytes):
    """Deterministic stand-in for an image decode: derives a (h, w) and a
    16-bin byte histogram feature from the payload bytes.  Replace with
    PIL.Image.open when available."""
    if payload is None:
        return None, None, None
    h = 1 + (len(payload) % 480)
    w = 1 + ((len(payload) * 7) % 640)
    hist = [0] * 16
    for by in payload[:4096]:
        hist[by >> 4] += 1
    total = max(1, sum(hist))
    return h, w, [v / total for v in hist]


def _decode_pnm_header(payload: bytes) -> Optional[tuple]:
    """Parse a binary PPM/PGM header → (w, h, maxval, data_pos): ASCII
    tokens (magic, width, height, maxval; '#' comments) then raw
    samples."""
    pos = 2
    tokens = []
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    if len(tokens) < 3:
        return None
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    return w, h, maxval, pos


def _decode_pnm(payload: bytes) -> Optional[np.ndarray]:
    """Binary PPM (P6) / PGM (P5) → uint8 array (h, w, 3)."""
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        return None
    hdr = _decode_pnm_header(payload)
    if hdr is None:
        return None
    w, h, maxval, pos = hdr
    if maxval > 255:
        return None
    nchan = 3 if magic == b"P6" else 1
    raw = np.frombuffer(payload, dtype=np.uint8, count=w * h * nchan, offset=pos)
    arr = raw.reshape(h, w, nchan)
    if nchan == 1:
        arr = np.repeat(arr, 3, axis=2)
    return arr


def _decode_bmp(payload: bytes) -> Optional[np.ndarray]:
    """Uncompressed BI_RGB 24/32-bit BMP → uint8 array (h, w, 3) in RGB.
    Public BITMAPFILEHEADER/BITMAPINFOHEADER layout; rows are bottom-up
    and padded to 4 bytes."""
    if payload[:2] != b"BM" or len(payload) < 54:
        return None
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        return None
    h = abs(h_signed)
    nb = bpp // 8
    # Dimension/allocation guard: reject non-positive dims and apply the
    # same absolute + payload-proportional pixel caps as the PNG/GIF/JPEG
    # decoders — a crafted 54-byte header must not drive a giant loop/alloc.
    if w <= 0 or h <= 0:
        return None
    if w * h > (1 << 26) or w * h > 1024 * len(payload):
        return None
    stride = (w * nb + 3) & ~3
    need = data_off + h * stride
    if data_off < 0 or need > len(payload):
        return None
    # One bounded frombuffer + strided reshape instead of a per-row loop.
    raw = np.frombuffer(payload, dtype=np.uint8, count=h * stride, offset=data_off)
    arr = raw.reshape(h, stride)[:, : w * nb].reshape(h, w, nb)
    if h_signed > 0:  # bottom-up storage
        arr = arr[::-1]
    # BGR(A) → RGB
    return np.ascontiguousarray(arr[:, :, 2::-1])


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, off: int, hh: int, stride: int, bpp: int):
    """Unfilter ``hh`` scanlines of ``stride`` bytes starting at ``off``
    (each prefixed by its filter byte): filters 0–4, Sub via per-lane
    uint8 cumsum, Average/Paeth via a python-list loop (faster than
    per-item numpy indexing).  Returns ((hh, stride) array, next off)."""
    out = np.empty((hh, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(hh):
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        off += stride + 1
        if ftype == 0:
            cur = line.copy()
        elif ftype == 2:  # Up
            cur = line + prev
        elif ftype == 1:  # Sub
            cur = np.cumsum(
                line.reshape(-1, bpp), axis=0, dtype=np.uint8
            ).reshape(-1)
        else:  # Average/Paeth
            lin = line.tolist()
            pre = prev.tolist()
            cur_l = [0] * stride
            if ftype == 3:
                for i in range(stride):
                    a = cur_l[i - bpp] if i >= bpp else 0
                    cur_l[i] = (lin[i] + ((a + pre[i]) >> 1)) & 0xFF
            else:  # Paeth
                for i in range(stride):
                    a = cur_l[i - bpp] if i >= bpp else 0
                    b = pre[i]
                    c = pre[i - bpp] if i >= bpp else 0
                    pa = b - c if b >= c else c - b
                    pb = a - c if a >= c else c - a
                    t = a + b - 2 * c
                    pc = t if t >= 0 else -t
                    p = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur_l[i] = (lin[i] + p) & 0xFF
            cur = np.asarray(cur_l, dtype=np.uint8)
        out[r] = cur
        prev = cur
    return out, off


#: Adam7 pass geometry: (x_start, x_step, y_start, y_step)
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _decode_png(payload: bytes) -> Optional[np.ndarray]:
    """PNG → uint8 (h, w, 3): 8-bit RGB/RGBA/gray(+alpha), palette
    (color 3) at 1/2/4/8-bit, sub-8-bit grayscale, 16-bit samples (high
    byte kept), and Adam7 interlacing for ≥8-bit depths.  Public PNG
    spec: IHDR/PLTE/IDAT chunks, zlib inflate, per-scanline filters 0–4
    (the left-reference offset is the spec's per-pixel byte count bpp,
    min 1)."""
    import zlib

    if not payload.startswith(_PNG_SIG):
        return None
    pos = 8
    w = h = None
    depth = color = 0
    nchan = 0
    palette = None
    idat = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if interlace not in (0, 1) or depth not in (1, 2, 4, 8, 16):
                return None
            # allocation bound: absolute cap + payload-proportional one
            # (zlib expands at most ~1032x, so legit pixels stay within
            # ~1024 bytes-of-payload x expansion even for solid images)
            if w * h > (1 << 26) or w * h > 1024 * len(payload):
                return None
            if interlace == 1 and depth < 8:
                return None  # sub-byte Adam7: rare, out of scope
            adam7 = interlace == 1
            nchan = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
            if nchan is None:
                return None
            if depth < 8 and color not in (0, 3):
                return None  # sub-byte only for gray/palette per spec
            if depth == 16 and color == 3:
                return None  # invalid combination
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if not idat or w is None or (color == 3 and palette is None):
        return None
    raw = zlib.decompress(b"".join(idat))
    bpp = max(1, nchan * depth // 8)  # left-reference byte offset (spec)
    if not adam7:
        stride = (w * nchan * depth + 7) // 8
        if len(raw) < h * (stride + 1):
            return None
        out, _ = _png_unfilter(raw, 0, h, stride, bpp)
    else:
        # Adam7: 7 independently-filtered sub-images scattered onto the
        # final grid by (start, step) geometry; depth >= 8 guaranteed
        pxb = nchan * depth // 8
        expected = sum(
            ph * (pw * pxb + 1)
            for x0, dx, y0, dy in _ADAM7
            for pw, ph in [((w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy)]
            if pw > 0 and ph > 0
        )
        if len(raw) < expected:
            # corrupt dims would otherwise drive a giant allocation below
            return None
        out = np.zeros((h, w * pxb), dtype=np.uint8)
        full = out.reshape(h, w, pxb)
        off = 0
        for x0, dx, y0, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, off = _png_unfilter(raw, off, ph, pw * pxb, bpp)
            full[y0::dy, x0::dx] = sub.reshape(ph, pw, pxb)

    if depth == 16:  # keep the high byte of each big-endian sample
        arr = out.reshape(h, w * nchan, 2)[:, :, 0].reshape(h, w, nchan)
    elif depth < 8:  # sub-byte gray or palette indices, MSB-first packing
        bits = np.unpackbits(out, axis=1)[:, : w * depth]
        vals = bits.reshape(h, w, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        idx = (vals * weights).sum(axis=2).astype(np.uint8)
        if color == 3:
            arr = palette[np.minimum(idx, len(palette) - 1)]
            return np.ascontiguousarray(arr)
        # grayscale: expand to full 0-255 range per spec sample scaling
        arr = (idx.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
            np.uint8
        )[:, :, None]
    else:
        arr = out.reshape(h, w, nchan)
    if color == 3:  # 8-bit palette indices
        return np.ascontiguousarray(
            palette[np.minimum(arr[:, :, 0], len(palette) - 1)]
        )
    if arr.shape[2] == 1:
        arr = np.repeat(arr, 3, axis=2)
    elif arr.shape[2] == 2:  # gray+alpha
        arr = np.repeat(arr[:, :, :1], 3, axis=2)
    elif arr.shape[2] == 4:
        arr = arr[:, :, :3]
    return np.ascontiguousarray(arr)


def decode_pixels(payload: bytes) -> Optional[np.ndarray]:
    """Image payload → uint8 pixel array (h, w, 3), or None if the format
    is not one of the natively-supported formats (PPM/PGM/BMP/
    non-interlaced 8-bit PNG/baseline+progressive JPEG/GIF) and PIL is
    unavailable.  The native decoders always run first and PIL reads only
    what they return None for, so the pixels (and pHash, features, crops)
    of the same bytes do not depend on whether PIL is installed."""
    if payload is None:
        return None
    # untrusted crawl bytes: ANY decoder exception means "not decodable
    # here" — this is the single choke point where that contract holds
    try:
        arr = _decode_pnm(payload)
        if arr is None:
            arr = _decode_bmp(payload)
        if arr is None:
            arr = _decode_png(payload)
        if arr is None and payload[:2] == b"\xff\xd8":
            from ..sources.jpeg_mini import decode_jpeg

            arr = decode_jpeg(payload)
        if arr is None and payload[:6] in (b"GIF87a", b"GIF89a"):
            from ..sources.gif_mini import decode_gif

            arr = decode_gif(payload)
        if arr is None and HAVE_PIL:  # only what no native decoder reads
            import io as _io

            img = Image.open(_io.BytesIO(payload)).convert("RGB")
            arr = np.asarray(img)
    except Exception:
        return None
    return arr


def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 (h, w, 3) → binary PPM (P6) bytes — the re-encode used for
    crop outputs so downstream stages get self-describing binaries."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def decode_image(payload: bytes):
    """Decode an image payload → (height, width, feature_vector).

    Real pixels for PPM/PGM/BMP (and anything PIL handles when
    installed): features = 16-bin luminance histogram.  Unsupported
    formats fall back to the deterministic fake so the plumbing stays
    total."""
    if payload is None:
        return None, None, None
    arr = decode_pixels(payload)
    if arr is None:
        return _fake_decode(payload)
    lum = (
        0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    ).astype(np.uint8)
    hist = np.bincount(lum.reshape(-1) >> 4, minlength=16).astype("float64")
    hist /= max(1.0, hist.sum())
    return int(arr.shape[0]), int(arr.shape[1]), [float(v) for v in hist]


IMAGE_FEATURES = StructType(
    [
        StructField("height", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)


def _image_features(payload):
    """One payload → the ``IMAGE_FEATURES`` dict (None for NULL)."""
    if payload is None:
        return None
    h, w, vec = decode_image(payload)
    return {"height": h, "width": w, "features": vec}


def extract_image_features(
    df: DataFrame, payload_col: str = "payload", out_col: str = "img"
) -> DataFrame:
    """Feature extraction over binary payloads in one Arrow stage — the
    batch shape (Arrow chunks of ~2k rows, one python worker per core)
    is the production layout for decode-heavy stages."""
    return map_pages(
        df, lambda p: [(_image_features(p),)], [payload_col],
        [StructField(out_col, IMAGE_FEATURES, True)], keep=df.columns,
    )


def warp_perspective(
    img: np.ndarray, M: np.ndarray, out_w: int, out_h: int
) -> np.ndarray:
    """Numpy twin of cv2.warpPerspective(img, M, (w, h)) with bilinear
    sampling and constant-0 border — inverse-maps every output pixel
    through M⁻¹ fully vectorized."""
    Minv = np.linalg.inv(M)
    xs, ys = np.meshgrid(np.arange(out_w), np.arange(out_h))
    pts = np.stack(
        [xs.reshape(-1), ys.reshape(-1), np.ones(out_w * out_h)]
    )
    src = Minv @ pts
    sx = src[0] / src[2]
    sy = src[1] / src[2]
    h, w = img.shape[:2]
    x0 = np.floor(sx).astype(np.int64)
    y0 = np.floor(sy).astype(np.int64)
    fx = (sx - x0)[:, None]
    fy = (sy - y0)[:, None]

    def pix(yy, xx):
        valid = (xx >= 0) & (xx < w) & (yy >= 0) & (yy < h)
        out = np.zeros((xx.shape[0], img.shape[2]))
        out[valid] = img[yy[valid], xx[valid]]
        return out

    val = (
        pix(y0, x0) * (1 - fx) * (1 - fy)
        + pix(y0, x0 + 1) * fx * (1 - fy)
        + pix(y0 + 1, x0) * (1 - fx) * fy
        + pix(y0 + 1, x0 + 1) * fx * fy
    )
    return (
        np.clip(np.rint(val), 0, 255)
        .astype(np.uint8)
        .reshape(out_h, out_w, img.shape[2])
    )


CROP_SCHEMA_FIELDS = [
    StructField("block_id", IntegerType(), True),
    StructField("crop_w", IntegerType(), True),
    StructField("crop_h", IntegerType(), True),
    StructField("crop", BinaryType(), True),
]


def _crop_block(arr: np.ndarray, bd: dict) -> np.ndarray:
    """One block dict → its crop of ``arr`` (see ``crop_image_blocks``)."""
    h, w = arr.shape[:2]
    pts = bd.get("points")
    crop = None
    if (
        bd.get("block_type") == "quadrilateral"
        and pts is not None
        and len(pts) == 8
    ):
        from ..functions.perspective import (
            _mapped_rectangle_points,
            perspective_matrices,
        )

        qpts = np.asarray(pts, dtype="float64").reshape(1, 4, 2)
        xs, ys = qpts[0, :, 0], qpts[0, :, 1]
        qw = float(xs.max() - xs.min())
        qh = float(ys.max() - ys.min())
        dst = _mapped_rectangle_points(qpts, np.array([qw]), np.array([qh]))
        M, ok = perspective_matrices(qpts, dst)
        try:
            if not ok[0]:
                crop = None  # degenerate quad → bbox below
            elif int(qw) > 0 and int(qh) > 0:
                crop = warp_perspective(arr, M[0], int(qw), int(qh))
            else:
                crop = arr[0:0, 0:0]
        except np.linalg.LinAlgError:
            crop = None  # singular M → bbox below
        x1, y1, x2, y2 = xs.min(), ys.min(), xs.max(), ys.max()
    else:
        x1, y1 = bd.get("x_1") or 0, bd.get("y_1") or 0
        x2, y2 = bd.get("x_2") or 0, bd.get("y_2") or 0
    if crop is None:
        # reference slices with raw int() coords; numpy clamps
        # negative/overflow indices like cv2 images
        crop = arr[
            max(0, int(y1)) : max(0, min(h, int(y2))),
            max(0, int(x1)) : max(0, min(w, int(x2))),
        ]
    return crop


def crop_image_blocks(
    df: DataFrame,
    payload_col: str = "payload",
    blocks_col: str = "blocks",
    key_cols: tuple = ("url",),
    encode_fmt: str = "ppm",
) -> DataFrame:
    """Distributed ``crop_image``: rectangles/intervals slice
    ``img[int(y_1):int(y_2), int(x_1):int(x_2)]`` (reference
    layout_elements.py:443-445, 764-766); quadrilaterals WARP by the
    quad's perspective matrix to an (int(width), int(height)) canvas
    (reference :1104-1117, cv2.warpPerspective — here the numpy twin with
    bilinear sampling; a degenerate quad falls back to its bbox crop).
    One output row per (document, block), cropped pixels re-encoded as
    ``encode_fmt`` ('ppm' exact, or 'jpeg' quality-85 for the compact
    form a training pipeline stores); decode+crop+encode run inside one
    Arrow stage.  An undecodable payload emits no row."""
    if encode_fmt not in ("ppm", "jpeg"):
        raise ValueError(f"encode_fmt must be 'ppm' or 'jpeg', got {encode_fmt!r}")
    if encode_fmt == "jpeg":
        from ..sources.jpeg_mini import encode_jpeg

        enc = lambda a: encode_jpeg(a, quality=85)  # noqa: E731
    else:
        enc = encode_ppm

    def kernel(payload, blocks):
        arr = decode_pixels(payload)
        if arr is None:
            return []
        crops = ((bd.get("id"), _crop_block(arr, bd)) for bd in blocks or [])
        return [
            (bid, int(c.shape[1]), int(c.shape[0]), enc(c) if c.size else None)
            for bid, c in crops
        ]

    return map_pages(
        df, kernel, [payload_col, blocks_col], CROP_SCHEMA_FIELDS,
        keep=key_cols,
    )


FRAME_SAMPLE_FIELDS = [
    StructField("frame_idx", IntegerType(), True),
    StructField("ts_s", DoubleType(), True),
    StructField("height", IntegerType(), True),
    StructField("width", IntegerType(), True),
    StructField("features", ArrayType(DoubleType()), True),
]


def frame_source(payload: bytes):
    """(n_frames, get(i) -> (pixels|None, ts_s|None)) for an animated
    GIF or MJPEG-AVI payload, or None for anything else.  Only the
    frames asked for are decoded (AVI frames are independent JPEGs; GIF
    frames composite, so the canvas chain is materialized)."""
    from ..sources.avi_mini import decode_avi_frames
    from ..sources.gif_mini import decode_gif_frames
    from ..sources.jpeg_mini import decode_jpeg

    if payload[:6] in (b"GIF87a", b"GIF89a"):
        dec = decode_gif_frames(payload)
        if dec is None:
            return None
        frames, delays = dec
        ts = np.concatenate([[0.0], np.cumsum(delays)[:-1]])
        return len(frames), lambda i: (frames[i], float(ts[i]))
    dec = decode_avi_frames(payload)
    if dec is None:
        return None
    fps, jpegs = dec
    return len(jpegs), lambda i: (
        decode_jpeg(jpegs[i]),
        (i / fps) if fps else None,
    )


def sample_indices(total: int, n_frames: int) -> list:
    """``min(n_frames, total)`` evenly spaced frame indices over
    ``total`` frames, first and last included, duplicates dropped."""
    k = min(n_frames, total)
    idxs = (round(i * (total - 1) / max(1, k - 1)) for i in range(k))
    return list(dict.fromkeys(idxs))


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    n_frames: int = 4,
    key_cols: tuple = ("url",),
) -> DataFrame:
    """REAL frame sampling for MJPEG-AVI and animated-GIF payloads: walk
    the container (``frame_source``), pick ``n_frames`` evenly spaced
    frames, decode only what the sample needs, and emit one row per
    sampled frame with dims + the 16-bin luminance histogram.  Other
    codecs produce no rows (callers keep the digest-based
    ``sample_frames`` as the opaque fallback).  The explode shape (one
    input row → k frame rows) and the decode-inside-the-Arrow-stage rule
    are the production layout for video at scale."""

    def kernel(payload):
        src = None if payload is None else frame_source(payload)
        if src is None:
            return []
        total, get = src
        rows = []
        for fi in sample_indices(total, n_frames):
            arr, ts_s = get(fi)
            if arr is None:
                continue
            lum = (
                0.299 * arr[:, :, 0]
                + 0.587 * arr[:, :, 1]
                + 0.114 * arr[:, :, 2]
            ).astype(np.uint8)
            hist = np.bincount(lum.reshape(-1) >> 4, minlength=16).astype(
                "float64"
            )
            hist /= max(1.0, hist.sum())
            rows.append(
                (
                    int(fi),
                    ts_s,
                    int(arr.shape[0]),
                    int(arr.shape[1]),
                    [float(v) for v in hist],
                )
            )
        return rows

    return map_pages(
        df, kernel, [payload_col], FRAME_SAMPLE_FIELDS, keep=key_cols
    )


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    n_frames: int = 4,
    out_col: str = "frames",
) -> DataFrame:
    """Deterministic 'frame sampling' plumbing for video-typed payloads:
    splits the byte stream into n_frames equal windows and emits one digest
    per window (stand-in for decoded frames).  Demonstrates the
    one-row→many-frames explode shape."""
    win = F.floor(F.length(F.col(payload_col)) / n_frames)
    frames = F.array(
        *[
            F.md5(
                F.substring(
                    F.col(payload_col), (i * 1000) + 1, 1000
                )
            )
            for i in range(n_frames)
        ]
    )
    return df.withColumn(out_col, frames).withColumn(
        "frame_window_bytes", win.cast("int")
    )
