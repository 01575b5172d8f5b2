"""Page segmentation: html BINARY → LAYOUT struct (page_data + blocks).

This is UDF slot #1 of the engine (SURVEY §2.11): the Spark re-expression of
the reference's detection backends — ``Detectron2LayoutModel.detect`` etc.
(models/detectron2/layoutmodel.py:121-168) all return
``Layout[TextBlock(Rectangle, type=label, score)]`` from an image.  Here the
"detector" is a deterministic DOM walk over the html payload (the graft
replaces DL inference with DOM+layout segmentation, same output contract):
every element carrying a ``data-box`` attribute becomes one TEXTBLOCK with

* rectangle coords from the attribute,
* ``type`` from the tag (header→Header, nav→Nav, footer→Footer,
  aside→Aside, figure→Figure, h1/h2/h3→Title, table→Table, li/ul→List,
  else Text) — the analogue of the reference's ``label_map`` application
  (models/detectron2/layoutmodel.py:137-141),
* ``text`` = whitespace-normalized own text (excluding nested data-box
  children),
* ``score`` = 1 − link_density (fraction of text characters inside <a>),
  i.e. a content-confidence score in the detector-score slot,
* ``id`` = document-order index, ``parent`` = enclosing data-box block id.

A ``data-box`` that is not 4 finite numbers opens no block, and a
``data-w``/``data-h`` that is not a finite number reads as 0.0: crawled
html is outside input, and one bad attribute must not fail a Spark task.

The page kernels — ``segment_pages_arrays`` here and the extraction
kernel in plans/extract.py — cross Arrow through ``transport.map_pages``,
the engine's one ``mapInArrow`` stage for per-row Python; each kernel
decodes its own payload (``decode_payload``).
"""

from __future__ import annotations

from math import isfinite
from typing import List

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
)

from ..sources.charset import decode_payload
from ..transport import map_pages

TAG_TYPE = {
    "header": "Header",
    "footer": "Footer",
    "nav": "Nav",
    "aside": "Aside",
    "figure": "Figure",
    "h1": "Title",
    "h2": "Title",
    "h3": "Title",
    "table": "Table",
    "ul": "List",
    "li": "List",
}


def _dim(value) -> float:
    """``data-w``/``data-h`` → float; missing, non-numeric or non-finite
    reads as 0.0."""
    try:
        v = float(value)
    except (TypeError, ValueError):
        return 0.0
    return v if isfinite(v) else 0.0


def _box(value):
    """``data-box`` → 4 finite floats, or None: the element opens no
    block.  Non-finite values are refused because Spark orders NaN above
    every number while Python comparisons with NaN are false, so the
    Python and Column keep predicates would disagree on them."""
    try:
        x1, y1, x2, y2 = map(float, value.split(","))
    except ValueError:  # not a number, or not exactly 4 of them
        return None
    if isfinite(x1) and isfinite(y1) and isfinite(x2) and isfinite(y2):
        return x1, y1, x2, y2
    return None


class _Block:
    __slots__ = ("box", "type", "parent", "chunks", "link_chars", "order")

    def __init__(self, box, type_, parent, order):
        self.box = box
        self.type = type_
        self.parent = parent
        self.order = order
        self.chunks: List[str] = []
        self.link_chars = 0


import re as _re

# attribute body may contain '>' inside quoted values (legal HTML, and
# html.parser handles it) — the tokenizer skips quoted runs instead of
# cutting the tag at the first '>'
_TAG_RE = _re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>"
)


def _attr_re(name: str):
    # double-quoted, single-quoted, or unquoted attribute value
    return _re.compile(name + r"""=(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""")


_BOX_RE = _attr_re("data-box")
_W_RE = _attr_re("data-w")
_H_RE = _attr_re("data-h")


def _attr_val(m) -> str:
    # first non-None of the 3 alternation groups; explicit is-None tests
    # (not `or`) so an EMPTY quoted value ("") is returned, and no
    # generator frame on this hot path
    a, b, c = m.groups()
    if a is not None:
        return a
    if b is not None:
        return b
    return c
_STRUCTURAL = frozenset(
    (
        "p", "div", "header", "footer", "nav", "aside", "figure",
        "h1", "h2", "h3", "table", "ul", "li", "span",
    )
)


class _FastParser:
    """Hand-rolled tag tokenizer with the event semantics of an
    html.parser walk (a data-box element opens a block, a structural end
    tag closes the innermost one, text goes to the innermost open block,
    text inside <a> counts as link text), ~4× faster than html.parser on
    these pages.  Entities in text are unescaped lazily (only when '&'
    present).  Parity with html.parser is pinned by tests/test_extract.py
    against the independent oracle ``oracle_blocks``."""

    __slots__ = ("page_w", "page_h", "blocks", "_stack", "_a_depth")

    def __init__(self):
        self.page_w = None
        self.page_h = None
        self.blocks = []
        self._stack = []
        self._a_depth = 0

    def feed(self, html: str) -> None:
        # Hot loop (the whole-corpus CPU bottleneck — BENCH/PLANS.md r5):
        # instance/state lookups are hoisted into locals, the three match
        # groups come from ONE .groups() call, and the end-tag rule is
        # inlined at both call sites (parity pinned by the
        # engine==HTMLParser-oracle tests).
        from html import unescape

        if "<!--" in html:  # comments are not tags; drop them up front
            html = _re.sub(r"<!--.*?-->", "", html, flags=_re.S)
        pos = 0
        stack = self._stack
        blocks = self.blocks
        a_depth = self._a_depth
        structural = _STRUCTURAL
        tag_type = TAG_TYPE
        box_search = _BOX_RE.search
        for m in _TAG_RE.finditer(html):
            start = m.start()
            if start > pos and stack:  # html[pos:start] is non-empty
                text = html[pos:start]
                if "&" in text:
                    text = unescape(text)
                blk = blocks[stack[-1]]
                blk.chunks.append(text)
                if a_depth > 0:
                    blk.link_chars += len(text)
            pos = m.end()
            closing, tag, attrs = m.groups()
            tag = tag.lower()
            if closing:
                if tag == "a":  # the end-tag rule, on the hoisted locals
                    if a_depth > 0:
                        a_depth -= 1
                elif stack and tag in structural:
                    stack.pop()
                continue
            if tag == "html":
                w = _W_RE.search(attrs)
                h = _H_RE.search(attrs)
                self.page_w = _dim(_attr_val(w)) if w else 0.0
                self.page_h = _dim(_attr_val(h)) if h else 0.0
                continue
            if tag == "a":
                a_depth += 1
            box = box_search(attrs)
            coords = _box(_attr_val(box)) if box is not None else None
            if coords is not None:
                parent = stack[-1] if stack else None
                blk = _Block(
                    coords, tag_type.get(tag, "Text"), parent, len(blocks)
                )
                blocks.append(blk)
                stack.append(blk.order)
            # self-closing: HTMLParser fires starttag then endtag
            if attrs.rstrip().endswith("/"):
                if tag == "a":  # the end-tag rule, on the hoisted locals
                    if a_depth > 0:
                        a_depth -= 1
                elif stack and tag in structural:
                    stack.pop()
        self._a_depth = a_depth


def parse_page_arrays(html: str):
    """Parse one page → (page_w, page_h, column lists): the segmentation
    walk of the page kernels (``segment_pages_arrays`` and the extraction
    kernel), on the fast tag tokenizer.  page_w/page_h are None when the
    page has no <html> tag."""
    p = _FastParser()
    p.feed(html)
    x1, y1, x2, y2 = [], [], [], []
    texts, types, parents, scores = [], [], [], []
    for blk in p.blocks:
        raw = "".join(blk.chunks)
        text = " ".join(raw.split())
        total = len(raw.strip())
        link_density = (blk.link_chars / total) if total else 0.0
        x1.append(blk.box[0])
        y1.append(blk.box[1])
        x2.append(blk.box[2])
        y2.append(blk.box[3])
        texts.append(text)
        types.append(blk.type)
        parents.append(blk.parent)
        scores.append(1.0 - link_density)
    return p.page_w, p.page_h, (x1, y1, x2, y2, texts, types, parents, scores)


_ARRAY_COLS = [
    ("_bx1", DoubleType()),
    ("_by1", DoubleType()),
    ("_bx2", DoubleType()),
    ("_by2", DoubleType()),
    ("_btext", StringType()),
    ("_btype", StringType()),
    ("_bparent", LongType()),
    ("_bscore", DoubleType()),
]

_SEGMENT_FIELDS = [
    StructField("page_w", DoubleType()),
    StructField("page_h", DoubleType()),
] + [StructField(n, ArrayType(t)) for n, t in _ARRAY_COLS]


def _segment_page(payload):
    """One html payload (NULL reads as the empty page) → one row of
    ``_SEGMENT_FIELDS``."""
    w, h, arrays = parse_page_arrays(
        "" if payload is None else decode_payload(payload)
    )
    return [(w, h, *arrays)]


def segment_pages_arrays(pages_df, html_col: str = "html") -> "DataFrame":
    """pages(…, html) → (all columns except html) + page_w/page_h + 8 flat
    primitive block arrays.  One narrow Arrow stage (``map_pages``).

    Why flat arrays instead of ARRAY<TEXTBLOCK>: converting per-block
    python dicts into Arrow nested structs costs more than the HTML parse
    itself at scale (~5M dict objects per 400k docs).  Primitive lists
    convert near-memcpy-fast; the TEXTBLOCK structs are then assembled
    JVM-side by ``attach_blocks`` inside whole-stage codegen."""
    return map_pages(pages_df, _segment_page, [html_col], _SEGMENT_FIELDS)


def attach_blocks(df) -> "DataFrame":
    """flat block arrays → (page_data STRUCT, blocks ARRAY<TEXTBLOCK>),
    built entirely JVM-side (zip + per-element struct construction in
    codegen).  ``id`` is the document-order index (= zip position)."""
    from .. import schema as S

    z = F.arrays_zip(
        F.col("_bx1").alias("x1"),
        F.col("_by1").alias("y1"),
        F.col("_bx2").alias("x2"),
        F.col("_by2").alias("y2"),
        F.col("_btext").alias("text"),
        F.col("_btype").alias("type"),
        F.col("_bparent").alias("parent"),
        F.col("_bscore").alias("score"),
    )
    idx = F.sequence(
        F.lit(0), F.greatest(F.size(F.col("_bx1")) - 1, F.lit(0))
    )
    zipped = F.zip_with(
        z,
        idx,
        lambda r, i: S.make_block(
            block_type="rectangle",
            x_1=r["x1"],
            y_1=r["y1"],
            x_2=r["x2"],
            y_2=r["y2"],
            text=r["text"],
            type=r["type"],
            parent=r["parent"],
            score=r["score"],
            id=i,
        ),
    )
    # zero-block pages: sequence(0, greatest(-1, 0)) above still yields [0]
    # and zip_with null-pads — guard so an empty page maps to an empty
    # Layout (reference returns Layout([]) for block-less pages), not one
    # phantom all-NULL block
    blocks = F.when(F.size(F.col("_bx1")) > 0, zipped).otherwise(
        F.array().cast(ArrayType(S.TEXTBLOCK))
    )
    page_data = F.struct(
        F.col("page_w").alias("width"),
        F.col("page_h").alias("height"),
        F.lit(0).alias("index"),
    )
    out = df.withColumn("page_data", page_data).withColumn("blocks", blocks)
    return out.drop("page_w", "page_h", *[n for n, _ in _ARRAY_COLS])


def segment_pages(pages_df, html_col: str = "html") -> "DataFrame":
    """pages(url, …, html) → (all columns except html) + (page_data,
    blocks).  One narrow Arrow stage (mapInArrow) + JVM-side struct
    assembly, no shuffle.

    Implemented as ``mapInArrow`` rather than a scalar struct-returning
    pandas UDF for two reasons: (1) the fat ``html`` payload column is
    dropped AT the Arrow boundary instead of being carried through the
    plan; (2) the stage output is a fresh set of plain attributes, so
    downstream higher-order expressions + the XY-cut UDF never end up with
    this UDF embedded in their argument trees (Spark's Python-UDF
    extraction mishandles chained UDFs through nested lambdas —
    'Cannot evaluate expression' — when projections collapse)."""
    return attach_blocks(segment_pages_arrays(pages_df, html_col))
