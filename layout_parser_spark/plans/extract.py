"""The flagship extraction pipeline (north rule): pages → main-content text.

Stage layout (one narrow Arrow stage; shuffle only for the optional salt
repartition):

1. [optional] salted repartition ``pmod(xxhash64(url, 0), S)`` — defuses
   host-level skew before the Arrow stage (BASELINE.json north_rule).
2. one ``mapInArrow`` kernel (``transport.map_pages``) that, per page, runs
   a. segment: html → page size + flat block arrays
      (``segment.parse_page_arrays``);
   b. boilerplate drop (``keep_block``):
      - typed boilerplate: type ∈ {Header, Footer, Nav, Aside, Figure};
      - link-dense blocks: score < 1 − link_density_max (nav/ads);
      - full-width top/bottom bands: width ≥ 90% of page AND within the
        top or bottom 12% of the page;
      - geometric figure containment: center-point ``is_in`` any Figure
        region (the reference recipe's ``b.is_in(b_fig)`` drop,
        docs/example/deep_layout_parsing);
   c. reading order: XY-cut permutation (plans/reading_order.py);
   d. text assembly: ``' '.join`` of the non-empty texts in order — the
      Tesseract space-join rule (ocr/tesseract_agent.py:157
      ``str.cat(sep=" ")``); block texts were whitespace-normalized at
      segmentation, so per-url output is byte-deterministic.

The same keep policy is also a Column predicate, ``keep_main_block``: the
only form that runs on a struct ``blocks`` column (``drop_boilerplate``
over ``segment_pages`` or detector output).  Both read the constants
below; their agreement is pinned by tests/test_extract.py.

The per-url invariant (BASELINE.json input_hint): extracted_text is
byte-identical to what the reference's semantics produce — enforced by
tests/test_extract.py against an independent oracle AND by the driver's
DuckDB check (the synthetic pages encode the document's own tokens, so the
oracle is ``SELECT doc_id, text FROM documents``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField

from ..sources.charset import decode_payload
from ..transport import map_pages
from .reading_order import join_in_reading_order
from .segment import parse_page_arrays

#: types that the boilerplate stage drops outright (figures go too, and
#: so do the blocks centred inside a figure)
BOILERPLATE_TYPES = ("Header", "Footer", "Nav", "Aside")
LINK_DENSITY_MAX = 0.5
BAND_FRAC = 0.12
BAND_WIDTH_FRAC = 0.9

_DROPPED_TYPES = (*BOILERPLATE_TYPES, "Figure")


def keep_main_block(
    b: Column, figures: Column, page_w: Column, page_h: Column
) -> Column:
    """Boolean keep-predicate for one block (see module doc, step 2b).

    The figure-containment test is the rectangle×rectangle center case of
    the general ``is_in(b, f, center=True)`` predicate
    (layout_elements.py:636-641), specialized here because segmentation
    emits rectangles only: higher-order lambdas are evaluated interpreted
    (no whole-stage codegen), so the full 3×3 shape-dispatch tree would run
    per (block × figure) pair in the hot path.  ``functions.predicates
    .is_in`` remains the general API (tested equivalent on rectangles in
    tests/test_extract.py)."""
    typed_ok = ~b["type"].isin(*_DROPPED_TYPES)
    link_ok = b["score"] >= (1.0 - LINK_DENSITY_MAX)
    w = b["x_2"] - b["x_1"]
    is_band = (w >= BAND_WIDTH_FRAC * page_w) & (
        (b["y_2"] <= BAND_FRAC * page_h) | (b["y_1"] >= (1 - BAND_FRAC) * page_h)
    )
    cx = (b["x_1"] + b["x_2"]) / 2.0
    cy = (b["y_1"] + b["y_2"]) / 2.0
    in_figure = F.exists(
        figures,
        lambda f: (f["x_1"] <= cx)
        & (cx <= f["x_2"])
        & (f["y_1"] <= cy)
        & (cy <= f["y_2"]),
    )
    return typed_ok & link_ok & ~is_band & ~in_figure


def keep_block(box, type_, score, figures, page_w, page_h) -> bool:
    """``keep_main_block`` for one parsed block: ``box`` is its
    (x_1, y_1, x_2, y_2), ``figures`` the page's Figure boxes.  A page
    without an ``<html>`` tag has no size (``page_w`` None); there the
    Column predicate's band test is NULL, so no block is kept."""
    if type_ in _DROPPED_TYPES or score < 1.0 - LINK_DENSITY_MAX:
        return False
    if page_w is None:
        return False
    x1, y1, x2, y2 = box
    if x2 - x1 >= BAND_WIDTH_FRAC * page_w and (
        y2 <= BAND_FRAC * page_h or y1 >= (1 - BAND_FRAC) * page_h
    ):
        return False
    cx = (x1 + x2) / 2.0
    cy = (y1 + y2) / 2.0
    return not any(
        fx1 <= cx <= fx2 and fy1 <= cy <= fy2 for fx1, fy1, fx2, fy2 in figures
    )


def drop_boilerplate(df: DataFrame) -> DataFrame:
    """blocks → main_blocks (columnar higher-order-function filtering)."""
    figures = F.filter(F.col("blocks"), lambda b: b["type"] == "Figure")
    df = df.withColumn("figures", figures)
    page_w = F.col("page_data.width")
    page_h = F.col("page_data.height")
    main = F.filter(
        F.col("blocks"),
        lambda b: keep_main_block(b, F.col("figures"), page_w, page_h),
    )
    return df.withColumn("main_blocks", main)


def _extract_page(payload):
    """One html payload (NULL reads as the empty page) → one row
    (extracted_text, n_blocks)."""
    html = "" if payload is None else decode_payload(payload)
    w, h, (x1, y1, x2, y2, texts, types, _, scores) = parse_page_arrays(html)
    boxes = list(zip(x1, y1, x2, y2))
    figures = [b for b, t in zip(boxes, types) if t == "Figure"]
    kept = [
        i
        for i, (b, t, s) in enumerate(zip(boxes, types, scores))
        if keep_block(b, t, s, figures, w, h)
    ]
    cols = ([a[i] for i in kept] for a in (x1, y1, x2, y2, texts))
    return [(join_in_reading_order(*cols), len(kept))]


_EXTRACT_FIELDS = [
    StructField("extracted_text", StringType()),
    StructField("n_blocks", IntegerType()),
]


def extract_main_text(
    pages: DataFrame,
    salt_partitions: Optional[int] = None,
) -> DataFrame:
    """pages(url, warc_ts, html, …) → (url, …, extracted_text, n_blocks).

    ``salt_partitions`` adds the explicit salted repartition
    ``pmod(xxhash64(url, 0), S)`` before the Arrow stage — on a
    real cluster this spreads hot hosts across executors; leave None for
    single-stage narrow execution when the input is already well
    partitioned (e.g. Iceberg ``bucket(N, url)``).
    """
    df = pages
    if salt_partitions:
        df = df.repartition(
            salt_partitions,
            F.pmod(
                F.xxhash64(F.col("url"), F.lit(0)),
                F.lit(salt_partitions),
            ),
        )
    return map_pages(df, _extract_page, ["html"], _EXTRACT_FIELDS)
