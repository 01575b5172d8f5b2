"""PDF token source (SURVEY §2.6; reference ``io/pdf.py``).

``load_pdf`` in the reference runs pdfplumber ``extract_words`` per page
(x_tolerance=1.5, y_tolerance=2, use_text_flow=True — io/pdf.py:45-53),
clips coords to the page box (:60-65), renames x0/x1/top/bottom →
x_1/x_2/y_1/y_2, maps **fontname → type** (:67-79), assigns id = index and
records page width/height/index in page_data (:199-201).

Token source: pdfplumber when importable (reference-exact); otherwise the
vendored pure-python extractor ``pdf_mini`` (classic-xref + FlateDecode +
simple-font subset of the public PDF spec) with the same word-dict
contract — the source is UNGATED either way.  Validated against the
reference fixtures example.pdf (1 page, 3 font types,
tests/test_io.py:72-81) and empty.pdf (1 page, 0 tokens) in
tests/test_pdf.py.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

from ..schema import FIELD_NAMES, LAYOUT, PAGE_DATA
from ..transport import map_pages

try:
    import pdfplumber  # noqa: F401

    HAVE_PDFPLUMBER = True
except ImportError:
    HAVE_PDFPLUMBER = False

#: reference defaults (io/pdf.py:45-53)
X_TOLERANCE = 1.5
Y_TOLERANCE = 2


def words_to_blocks(words: List[dict], page_w: float, page_h: float) -> List[dict]:
    """pdfplumber word dicts → TEXTBLOCK rows with the reference's
    clip/rename/font-type semantics (io/pdf.py:60-79)."""
    rows = []
    for i, w in enumerate(words):
        x_1 = min(max(float(w["x0"]), 0.0), page_w)
        x_2 = min(max(float(w["x1"]), 0.0), page_w)
        y_1 = min(max(float(w["top"]), 0.0), page_h)
        y_2 = min(max(float(w["bottom"]), 0.0), page_h)
        row = {n: None for n in FIELD_NAMES}
        row.update(
            block_type="rectangle",
            x_1=x_1,
            y_1=y_1,
            x_2=x_2,
            y_2=y_2,
            text=w.get("text"),
            id=i,
            type=w.get("fontname"),  # fontname → type (io/pdf.py:76)
        )
        rows.append(row)
    return rows


def extract_pdf_pages(payload: bytes) -> List[tuple]:
    """One PDF binary → [(page_index, page_w, page_h, blocks)].

    Token source: pdfplumber when installed (reference-exact,
    io/pdf.py:45-53); otherwise the vendored pure-python extractor
    (``pdf_mini``) with the same word-dict contract — validated against
    the reference fixtures example.pdf / empty.pdf in tests/test_pdf.py."""
    if HAVE_PDFPLUMBER:
        import io as _io

        out = []
        with pdfplumber.open(_io.BytesIO(payload)) as pdf:
            for idx, page in enumerate(pdf.pages):
                words = page.extract_words(
                    x_tolerance=X_TOLERANCE,
                    y_tolerance=Y_TOLERANCE,
                    keep_blank_chars=False,
                    use_text_flow=True,
                )
                out.append(
                    (
                        idx,
                        float(page.width),
                        float(page.height),
                        words_to_blocks(
                            words, float(page.width), float(page.height)
                        ),
                    )
                )
        return out

    from .pdf_mini import extract_pdf_words

    return [
        (idx, w, h, words_to_blocks(words, w, h))
        for idx, w, h, words in extract_pdf_words(
            payload, x_tolerance=X_TOLERANCE, y_tolerance=Y_TOLERANCE
        )
    ]


PDF_PAGES_SCHEMA = StructType(
    [
        StructField("page_data", PAGE_DATA, True),
        StructField("blocks", LAYOUT["blocks"].dataType, True),
    ]
)

#: the rendered-page columns ``load_pdf_pages_with_images`` adds
_IMAGE_FIELDS = [
    StructField("image", BinaryType(), True),
    StructField("image_w", IntegerType(), True),
    StructField("image_h", IntegerType(), True),
]


def _pdf_page_rows(extract, renderer=None, dpi: int = 72):
    """The one PDF page loop: a kernel mapping one payload to a
    (page_data, blocks) row per page, plus (image, image_w, image_h)
    when ``renderer`` is given.  A NULL or malformed PDF (non-dict page
    node, non-numeric MediaBox, truncated xref …) yields no rows for
    that document instead of killing the whole task; a renderer that
    raises leaves that page's image columns NULL."""

    def kernel(payload):
        if payload is None:
            return []
        try:
            pages = extract(payload)
        except Exception:
            return []
        rows = []
        for idx, w, h, blocks in pages:
            row = ({"width": w, "height": h, "index": idx}, blocks)
            if renderer is not None:
                try:
                    img, iw, ih = renderer(payload, idx, w, h, dpi)
                except Exception:
                    img, iw, ih = None, None, None
                row += (img, iw, ih)
            rows.append(row)
        return rows

    return kernel


def load_pdf_pages(
    df: DataFrame,
    payload_col: str = "payload",
    key_cols: tuple = ("url",),
    extractor=None,
) -> DataFrame:
    """(key…, payload BINARY) → one row per PDF PAGE with (page_data,
    blocks) — the distributed ``lp.load_pdf``.  ``extractor`` defaults to
    the pdfplumber path; tests inject a deterministic fake with the same
    signature."""
    kernel = _pdf_page_rows(extractor or extract_pdf_pages)
    return map_pages(
        df, kernel, [payload_col], PDF_PAGES_SCHEMA.fields, keep=key_cols
    )


def synthetic_page_renderer(payload: bytes, page_index: int,
                            page_w: float, page_h: float, dpi: int):
    """Deterministic stand-in for pdf2image/poppler: a white PPM canvas at
    the pdftoppm raster dims ``round(pts · dpi/72)``.  Real rendering of
    page CONTENT needs poppler (absent here); the reference branch's
    observable effect on the LAYOUT (io/pdf.py:205-224) is purely the
    image DIMENSIONS, which this reproduces exactly."""
    import numpy as np

    from ..operators.multimodal import encode_ppm

    iw = max(1, round(page_w * dpi / 72.0))
    ih = max(1, round(page_h * dpi / 72.0))
    if iw * ih > (1 << 26):  # same canvas cap as the decoders
        raise ValueError(f"render canvas {iw}x{ih} over pixel cap")
    img = np.full((ih, iw, 3), 255, dtype=np.uint8)
    return encode_ppm(img), iw, ih


def load_pdf_pages_with_images(
    df: DataFrame,
    payload_col: str = "payload",
    key_cols: tuple = ("url",),
    dpi: int = 72,
    renderer=None,
    extractor=None,
) -> DataFrame:
    """The distributed ``lp.load_pdf(load_images=True)`` (reference
    io/pdf.py:205-224): per page, render an image at ``dpi`` and — when
    the image dims differ from the layout's PDF-point dims — scale every
    block by ``(image_w/width, image_h/height)`` and overwrite page_data
    with the image dims, exactly the reference's rescale branch.

    Output: (key…, page_data, blocks, image BINARY, image_w, image_h).

    Distributed shape: extraction + rendering share ONE Arrow stage (the
    payload crosses the Python boundary once and dies there); the rescale
    itself is JVM-side — a columnar ``transform(blocks, scale)`` in
    whole-stage codegen, no second Python hop.  ``renderer`` is
    pdf2image when importable (reference-exact), else the deterministic
    synthetic raster above — either way the (payload, page_index, w, h,
    dpi) → (png/ppm bytes, iw, ih) contract is identical."""
    from ..functions.transforms import scale as scale_block

    if renderer is None:
        try:
            import pdf2image  # noqa: F401

            def renderer(payload, idx, w, h, _dpi):
                import io as _io

                img = pdf2image.convert_from_bytes(
                    payload, dpi=_dpi, first_page=idx + 1, last_page=idx + 1
                )[0]
                buf = _io.BytesIO()
                img.save(buf, format="PPM")
                return buf.getvalue(), img.size[0], img.size[1]

        except ImportError:
            renderer = synthetic_page_renderer

    kernel = _pdf_page_rows(extractor or extract_pdf_pages, renderer, dpi)
    staged = map_pages(
        df, kernel, [payload_col], PDF_PAGES_SCHEMA.fields + _IMAGE_FIELDS,
        keep=key_cols,
    )
    # JVM-side rescale: only when dims differ (io/pdf.py:216-223).
    # _needs/_sx/_sy are STAGED as columns before the projection that
    # re-aliases "page_data": referencing F.col("page_data") in a later
    # item of that same select list would lateral-alias-resolve against
    # the NEW (already rescaled) struct, silently turning the blocks
    # branch into a no-op (sx=1) — a real Spark 4 LCA footgun.
    pd_col = F.col("page_data")
    staged = staged.withColumns(
        {
            "_needs": F.col("image_w").isNotNull()
            & (
                (F.col("image_w").cast("double") != pd_col["width"])
                | (F.col("image_h").cast("double") != pd_col["height"])
            ),
            "_sx": F.col("image_w").cast("double") / pd_col["width"],
            "_sy": F.col("image_h").cast("double") / pd_col["height"],
        }
    )
    scaled_blocks = F.transform(
        F.col("blocks"),
        lambda b: scale_block(b, F.col("_sx"), F.col("_sy")),
    )
    scaled_pd = F.struct(
        F.col("image_w").cast("double").alias("width"),
        F.col("image_h").cast("double").alias("height"),
        pd_col["index"].alias("index"),
    )
    return staged.select(
        *key_cols,
        F.when(F.col("_needs"), scaled_pd).otherwise(pd_col).alias("page_data"),
        F.when(F.col("_needs"), scaled_blocks)
        .otherwise(F.col("blocks"))
        .alias("blocks"),
        "image", "image_w", "image_h",
    )
