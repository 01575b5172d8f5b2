"""The flagship extraction pipeline (north rule): pages → main-content text.

Stage layout (one narrow Arrow stage + expressions; shuffle only for the
optional salt repartition):

1. [optional] salted repartition ``pmod(xxhash64(url, salt), S)`` — defuses
   host-level skew before the heavy UDF stage (BASELINE.json north_rule).
2. segment: html → page_data + blocks (plans/segment.py, Arrow UDF).
3. boilerplate drop — ALL columnar expressions (Catalyst-optimized):
   a. typed boilerplate: type ∈ {Header, Footer, Nav, Aside, Figure};
   b. link-dense blocks: score < 1 − link_density_max (nav/ads);
   c. full-width top/bottom bands: width ≥ 90% of page AND within the top
      or bottom 12% of the page;
   d. geometric figure containment: center-point ``is_in`` any Figure
      region (the reference recipe's ``b.is_in(b_fig)`` drop,
      docs/example/deep_layout_parsing) — an EXISTS over the per-page
      figure regions using the engine's is_in predicate.
4. reading order: XY-cut permutation (plans/reading_order.py).
5. text assembly: ``concat_ws(' ', texts-in-order)`` — the Tesseract
   space-join rule (ocr/tesseract_agent.py:157 ``str.cat(sep=" ")``); block
   texts were whitespace-normalized at segmentation, so per-url output is
   byte-deterministic.

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

from .reading_order import reading_order_columnar, xy_cut_joined
from .segment import BOILERPLATE_TYPES

LINK_DENSITY_MAX = 0.5
BAND_FRAC = 0.12
BAND_WIDTH_FRAC = 0.9


def keep_main_block(
    b: Column, figures: Column, page_w: Column, page_h: Column
) -> Column:
    """Boolean keep-predicate for one block (see module doc, step 3).

    The figure-containment test is the rectangle×rectangle center case of
    the general ``is_in(b, f, center=True)`` predicate
    (layout_elements.py:636-641), specialized here because segmentation
    emits rectangles only: higher-order lambdas are evaluated interpreted
    (no whole-stage codegen), so the full 3×3 shape-dispatch tree would run
    per (block × figure) pair in the hot path.  ``functions.predicates
    .is_in`` remains the general API (tested equivalent on rectangles in
    tests/test_extract.py)."""
    typed_ok = ~b["type"].isin(*BOILERPLATE_TYPES, "Figure")
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


def _extract_lean(df: DataFrame, reading_order: str) -> DataFrame:
    """Hot-path extraction over the FLAT segmentation arrays — identical
    semantics to the struct path (pinned by the byte-identity tests), but
    the per-block structs are 8 fields zipped once instead of 19-field
    TEXTBLOCKs with null casts; the struct API path (`drop_boilerplate` on
    `blocks`) remains the public surface for layout processing."""
    z = F.arrays_zip(
        F.col("_bx1").alias("x_1"),
        F.col("_by1").alias("y_1"),
        F.col("_bx2").alias("x_2"),
        F.col("_by2").alias("y_2"),
        F.col("_btext").alias("text"),
        F.col("_btype").alias("type"),
        F.col("_bscore").alias("score"),
    )
    df = df.withColumn("_z", z)
    figs = F.filter(F.col("_z"), lambda r: r["type"] == "Figure")
    df = df.withColumn("_figs", figs)
    page_w, page_h = F.col("page_w"), F.col("page_h")
    df = df.withColumn(
        "_main",
        F.filter(
            F.col("_z"),
            lambda r: keep_main_block(r, F.col("_figs"), page_w, page_h),
        ),
    )
    if reading_order == "columnar":
        ordered = reading_order_columnar(F.col("_main"), page_w)
        texts = F.filter(
            F.transform(ordered, lambda r: r["text"]),
            lambda t: t.isNotNull() & (t != ""),
        )
        df = df.withColumn("extracted_text", F.concat_ws(" ", texts))
    else:
        df = df.withColumn(
            "extracted_text",
            xy_cut_joined(
                F.transform(F.col("_main"), lambda r: r["x_1"]),
                F.transform(F.col("_main"), lambda r: r["y_1"]),
                F.transform(F.col("_main"), lambda r: r["x_2"]),
                F.transform(F.col("_main"), lambda r: r["y_2"]),
                F.transform(F.col("_main"), lambda r: r["text"]),
            ),
        )
    df = df.withColumn("n_blocks", F.size("_main"))
    from .segment import _ARRAY_COLS

    return df.drop(
        "_z", "_figs", "_main", "page_w", "page_h",
        *[n for n, _ in _ARRAY_COLS],
    )


def extract_main_text(
    pages: DataFrame,
    salt_partitions: Optional[int] = None,
    salt_round: int = 0,
    reading_order: str = "xy_cut",
) -> DataFrame:
    """pages(url, warc_ts, html, …) → (url, …, extracted_text, n_blocks).

    ``salt_partitions`` adds the explicit salted repartition
    ``pmod(xxhash64(url, salt_round), S)`` before the UDF stage — on a real
    cluster this spreads hot hosts across executors; leave None for
    single-stage narrow execution when the input is already well
    partitioned (e.g. Iceberg ``bucket(N, url)``).
    """
    df = pages
    if salt_partitions:
        df = df.repartition(
            salt_partitions,
            F.pmod(
                F.xxhash64(F.col("url"), F.lit(salt_round)),
                F.lit(salt_partitions),
            ),
        )
    from .segment import segment_pages_arrays

    df = segment_pages_arrays(df)
    return _extract_lean(df, reading_order)
