"""Multimodal binary-column operators: REAL pixel decode (PPM/PGM/BMP,
numpy-only) + distributed crop_image (reference layout_elements.py:443-445
numpy-slice semantics), plus the metadata/feature plumbing."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from layout_parser_spark.operators.multimodal import (
    crop_image_blocks,
    decode_image,
    decode_pixels,
    encode_ppm,
    extract_image_features,
    media_metadata,
)


def _grad(h, w):
    """Deterministic RGB gradient image."""
    y = np.arange(h, dtype=np.uint8)[:, None]
    x = np.arange(w, dtype=np.uint8)[None, :]
    return np.stack(
        [np.broadcast_to(x, (h, w)), np.broadcast_to(y, (h, w)),
         np.broadcast_to((x + y) % 256, (h, w))],
        axis=2,
    ).astype(np.uint8)


def _bmp_bytes(arr):
    """Encode (h, w, 3) as bottom-up 24-bit BI_RGB BMP."""
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = []
    for r in range(h - 1, -1, -1):
        row = arr[r, :, ::-1].tobytes()  # RGB→BGR
        rows.append(row + b"\x00" * (stride - len(row)))
    pix = b"".join(rows)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 0, 0, 0, 0)
    return header + info + pix


def test_ppm_roundtrip():
    arr = _grad(17, 23)
    assert np.array_equal(decode_pixels(encode_ppm(arr)), arr)


def test_pgm_decode():
    g = (np.arange(12, dtype=np.uint8) * 20).reshape(3, 4)
    payload = b"P5\n# comment\n4 3\n255\n" + g.tobytes()
    out = decode_pixels(payload)
    assert out.shape == (3, 4, 3)
    assert np.array_equal(out[:, :, 0], g)


def test_bmp_decode():
    arr = _grad(9, 10)  # odd width exercises row padding
    assert np.array_equal(decode_pixels(_bmp_bytes(arr)), arr)


def test_decode_image_real_histogram():
    arr = np.full((4, 4, 3), 255, dtype=np.uint8)
    h, w, feats = decode_image(encode_ppm(arr))
    assert (h, w) == (4, 4)
    assert feats[15] == 1.0 and sum(feats) == pytest.approx(1.0)


def test_native_decoders_run_before_pil(monkeypatch):
    """JPEG and GIF bytes decode to the same pixels whether or not PIL is
    installed: the native decoders run first, PIL reads only what they
    return None for."""
    import layout_parser_spark.operators.multimodal as mm
    from layout_parser_spark.sources.gif_mini import decode_gif, encode_gif
    from layout_parser_spark.sources.jpeg_mini import decode_jpeg, encode_jpeg

    other = np.zeros((2, 2, 3), dtype=np.uint8)

    class _StubImage:
        @staticmethod
        def open(_buf):
            return _StubImage()

        def convert(self, _mode):
            return other

    monkeypatch.setattr(mm, "HAVE_PIL", True)
    monkeypatch.setattr(mm, "Image", _StubImage, raising=False)
    img = _grad(16, 24)
    jpeg, gif = encode_jpeg(img, quality=90), encode_gif((img >> 6) << 6)
    assert np.array_equal(decode_pixels(jpeg), decode_jpeg(jpeg))
    assert np.array_equal(decode_pixels(gif), decode_gif(gif))
    # bytes no native decoder reads still go to PIL
    assert np.array_equal(decode_pixels(b"\x00not an image"), other)


def test_decode_image_falls_back_on_unknown_format():
    h, w, feats = decode_image(b"\x89PNG\r\n\x1a\nnot really")
    assert h is not None and len(feats) == 16  # deterministic fake


def test_crop_image_blocks_distributed(spark):
    arr = _grad(40, 60)
    blocks = [
        {"block_type": "rectangle", "x_1": 5.0, "y_1": 10.0, "x_2": 25.0,
         "y_2": 30.0, "id": 0},
        # axis-aligned quad: the perspective warp (reference :1104-1117,
        # cv2.warpPerspective by the quad's matrix) degenerates to a pure
        # translation → pixel-identical to the bbox slice
        {"block_type": "quadrilateral",
         "points": [30.0, 2.0, 52.0, 2.0, 52.0, 20.0, 30.0, 20.0], "id": 1},
        # out-of-canvas coords clamp like numpy slicing on the reference
        {"block_type": "rectangle", "x_1": -5.0, "y_1": 35.0, "x_2": 999.0,
         "y_2": 999.0, "id": 2},
        # skewed quad: warped onto an (int(w), int(h)) canvas
        {"block_type": "quadrilateral",
         "points": [30.0, 2.0, 50.0, 4.0, 52.0, 20.0, 31.0, 18.0], "id": 3},
    ]
    from layout_parser_spark.schema import TEXTBLOCK

    rows = [("u1", bytearray(encode_ppm(arr)),
             [{f.name: b.get(f.name) for f in TEXTBLOCK.fields} for b in blocks])]
    from pyspark.sql.types import (ArrayType, BinaryType, StringType,
                                   StructField, StructType)

    df = spark.createDataFrame(
        rows,
        StructType([
            StructField("url", StringType()),
            StructField("payload", BinaryType()),
            StructField("blocks", ArrayType(TEXTBLOCK)),
        ]),
    )
    out = {r.block_id: r for r in crop_image_blocks(df).collect()}
    assert set(out) == {0, 1, 2, 3}
    c0 = decode_pixels(bytes(out[0].crop))
    assert np.array_equal(c0, arr[10:30, 5:25])
    assert (out[0].crop_w, out[0].crop_h) == (20, 20)
    c1 = decode_pixels(bytes(out[1].crop))
    assert np.array_equal(c1, arr[2:20, 30:52])
    c2 = decode_pixels(bytes(out[2].crop))
    assert np.array_equal(c2, arr[35:40, 0:60])
    # skewed quad: bbox-extent canvas, corner pixel maps from the quad's
    # first point (30, 2)
    c3 = decode_pixels(bytes(out[3].crop))
    assert (out[3].crop_w, out[3].crop_h) == (22, 18)
    assert np.array_equal(c3[0, 0], arr[2, 30])


def test_media_metadata_and_features(spark):
    arr = _grad(8, 8)
    df = spark.createDataFrame(
        [("a", bytearray(encode_ppm(arr)))], "k string, payload binary"
    ).withColumn("meta", media_metadata(F.col("payload")))
    feat = extract_image_features(df).collect()[0]
    assert feat.meta.byte_len == len(encode_ppm(arr))
    assert feat.img.height == 8 and feat.img.width == 8
    assert len(feat.img.features) == 16


def _png_bytes(arr, filter_type=0, color=2):
    """Forward-encode (h, w, 3|4) as a PNG using one filter type for all
    rows (the test applies the spec's forward filter so decode must
    invert it)."""
    import struct as _struct
    import zlib as _zlib

    h, w = arr.shape[:2]
    nchan = arr.shape[2]
    raw = bytearray()
    prev = np.zeros(w * nchan, dtype=np.int32)
    for r in range(h):
        line = arr[r].reshape(-1).astype(np.int32)
        f = np.empty_like(line)
        for i in range(len(line)):
            a = int(line[i - nchan]) if i >= nchan else 0
            b = int(prev[i])
            c = int(prev[i - nchan]) if i >= nchan else 0
            if filter_type == 0:
                p = 0
            elif filter_type == 1:
                p = a
            elif filter_type == 2:
                p = b
            elif filter_type == 3:
                p = (a + b) // 2
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                p = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            f[i] = (int(line[i]) - p) & 0xFF
        raw.append(filter_type)
        raw.extend(f.astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype, data):
        return (_struct.pack(">I", len(data)) + ctype + data
                + _struct.pack(">I", _zlib.crc32(ctype + data)))

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_decode_all_filters(ftype):
    arr = _grad(13, 9)
    assert np.array_equal(decode_pixels(_png_bytes(arr, ftype)), arr)


def test_png_decode_rgba_drops_alpha():
    rgb = _grad(6, 7)
    rgba = np.concatenate(
        [rgb, np.full((6, 7, 1), 128, dtype=np.uint8)], axis=2
    )
    out = decode_pixels(_png_bytes(rgba, filter_type=4, color=6))
    assert np.array_equal(out, rgb)


def _png_chunks(ihdr_fields, extra_chunks, raw_rows):
    """Assemble a PNG from raw (already filtered) scanline bytes."""
    import struct as _s
    import zlib as _z

    def chunk(t, d):
        return _s.pack(">I", len(d)) + t + d + _s.pack(">I", _z.crc32(t + d))

    ihdr = _s.pack(">IIBBBBB", *ihdr_fields)
    body = b"".join(chunk(*c) for c in extra_chunks)
    idat = _z.compress(b"".join(b"\x00" + r for r in raw_rows))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + body
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


def test_png_palette_8bit():
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 7, 7]], np.uint8)
    idx = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 1], [1, 1, 2, 2, 3]], np.uint8)
    png = _png_chunks((5, 3, 8, 3, 0, 0, 0), [(b"PLTE", pal.tobytes())],
                      [idx[r].tobytes() for r in range(3)])
    assert np.array_equal(decode_pixels(png), pal[idx])


def test_png_palette_4bit():
    pal = np.array([[10, 20, 30], [40, 50, 60], [70, 80, 90]], np.uint8)
    idx = np.array([[0, 1, 2], [2, 1, 0]], np.uint8)  # odd width: pad bits
    rows = [bytes([(r[0] << 4) | r[1], r[2] << 4]) for r in idx]
    png = _png_chunks((3, 2, 4, 3, 0, 0, 0), [(b"PLTE", pal.tobytes())], rows)
    assert np.array_equal(decode_pixels(png), pal[idx])


def test_png_gray_1bit():
    bits = np.array([[1, 0, 1, 1, 0, 0, 1, 0, 1, 1]], np.uint8)  # w=10
    rows = [np.packbits(bits[0]).tobytes()]
    png = _png_chunks((10, 1, 1, 0, 0, 0, 0), [], rows)
    out = decode_pixels(png)
    assert out.shape == (1, 10, 3)
    assert np.array_equal(out[0, :, 0], bits[0] * 255)


def test_png_rgb_16bit():
    arr = _grad(4, 6)
    # value = (v << 8) | noise, stored big-endian (shift in native first:
    # numpy ops return native-endian regardless of input byte order)
    hi = ((arr.astype(np.uint16) << 8) | 0x37).astype(">u2")
    rows = [hi[r].tobytes() for r in range(4)]
    png = _png_chunks((6, 4, 16, 2, 0, 0, 0), [], rows)
    assert np.array_equal(decode_pixels(png), arr)


def test_png_adam7_interlaced():
    from layout_parser_spark.operators.multimodal import _ADAM7

    arr = _grad(13, 11)  # non-multiple-of-8 dims exercise partial passes
    rows = []
    for x0, dx, y0, dy in _ADAM7:
        sub = arr[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        rows.extend(sub[r].tobytes() for r in range(sub.shape[0]))
    png = _png_chunks((11, 13, 8, 2, 0, 0, 1), [], rows)
    assert np.array_equal(decode_pixels(png), arr)
