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

One ``mapInArrow`` stage (per-row python inside an Arrow batch — the
sanctioned vectorized pattern; never a row-at-a-time Spark UDF).
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import List, Optional

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from ..schema import FIELD_NAMES
from ..sources.charset import decode_payload

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

#: types that the boilerplate stage drops outright
BOILERPLATE_TYPES = ("Header", "Footer", "Nav", "Aside")


class _Block:
    __slots__ = ("box", "type", "parent", "chunks", "link_chars", "order")

    def __init__(self, box, type_, parent, order):
        self.box = box
        self.type = type_
        self.parent = parent
        self.order = order
        self.chunks: List[str] = []
        self.link_chars = 0


class _SegmentParser(HTMLParser):
    """Collect data-box elements; text accrues to the NEAREST enclosing
    data-box element; anchor text counts toward link density."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.page_w: Optional[float] = None
        self.page_h: Optional[float] = None
        self.blocks: List[_Block] = []
        self._stack: List[int] = []  # indices into self.blocks
        self._a_depth = 0

    def handle_starttag(self, tag, attrs):
        d = dict(attrs)
        if tag == "html":
            self.page_w = float(d.get("data-w") or 0)
            self.page_h = float(d.get("data-h") or 0)
            return
        if tag == "a":
            self._a_depth += 1
        box = d.get("data-box")
        if box is not None:
            coords = tuple(float(v) for v in box.split(","))
            parent = self._stack[-1] if self._stack else None
            blk = _Block(coords, TAG_TYPE.get(tag, "Text"), parent,
                         len(self.blocks))
            self.blocks.append(blk)
            self._stack.append(blk.order)

    def handle_endtag(self, tag):
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
            return
        # close the innermost open data-box element for structural tags
        if self._stack and tag in (
            "p", "div", "header", "footer", "nav", "aside", "figure",
            "h1", "h2", "h3", "table", "ul", "li", "span",
        ):
            self._stack.pop()

    def handle_data(self, data):
        if not self._stack:
            return
        blk = self.blocks[self._stack[-1]]
        blk.chunks.append(data)
        if self._a_depth > 0:
            blk.link_chars += len(data)


def parse_page(html: str):
    """Parse one page → (page_w, page_h, [block rows])."""
    p = _SegmentParser()
    p.feed(html)
    rows = []
    for blk in p.blocks:
        raw = "".join(blk.chunks)
        text = " ".join(raw.split())
        total = len(raw.strip())
        link_density = (blk.link_chars / total) if total else 0.0
        x1, y1, x2, y2 = blk.box
        row = {n: None for n in FIELD_NAMES}
        row.update(
            block_type="rectangle",
            x_1=x1,
            y_1=y1,
            x_2=x2,
            y_2=y2,
            text=text,
            id=blk.order,
            type=blk.type,
            parent=blk.parent,
            score=1.0 - link_density,
        )
        rows.append(row)
    return p.page_w, p.page_h, rows


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
    """Hand-rolled tag tokenizer with the exact event semantics the
    segmentation relies on (same push/pop/text/anchor accounting as
    ``_SegmentParser``), ~4× faster than html.parser on these pages.
    Entities in text are unescaped lazily (only when '&' present).
    Parity with the HTMLParser path is pinned by
    tests/test_extract.py (engine == independent HTMLParser oracle)."""

    __slots__ = ("page_w", "page_h", "blocks", "_stack", "_a_depth")

    def __init__(self):
        self.page_w = None
        self.page_h = None
        self.blocks = []
        self._stack = []
        self._a_depth = 0

    def _endtag(self, tag: str) -> None:
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        elif self._stack and tag in _STRUCTURAL:
            self._stack.pop()

    def feed(self, html: str) -> None:
        # Hot loop (the whole-corpus CPU bottleneck — BENCH/PLANS.md r5):
        # instance/state lookups are hoisted into locals, the three match
        # groups come from ONE .groups() call, and _endtag is inlined at
        # both call sites; semantics are byte-identical to the method
        # form (pinned by the engine==HTMLParser-oracle parity tests).
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
                if tag == "a":  # == _endtag, on the hoisted locals
                    if a_depth > 0:
                        a_depth -= 1
                elif stack and tag in structural:
                    stack.pop()
                continue
            if tag == "html":
                w = _W_RE.search(attrs)
                h = _H_RE.search(attrs)
                self.page_w = float(_attr_val(w)) if w else 0.0
                self.page_h = float(_attr_val(h)) if h else 0.0
                continue
            if tag == "a":
                a_depth += 1
            box = box_search(attrs)
            if box is not None:
                coords = tuple(map(float, _attr_val(box).split(",")))
                parent = stack[-1] if stack else None
                blk = _Block(
                    coords, tag_type.get(tag, "Text"), parent, len(blocks)
                )
                blocks.append(blk)
                stack.append(blk.order)
            # self-closing: HTMLParser fires starttag then endtag
            if attrs.rstrip().endswith("/"):
                if tag == "a":  # == _endtag, on the hoisted locals
                    if a_depth > 0:
                        a_depth -= 1
                elif stack and tag in structural:
                    stack.pop()
        self._a_depth = a_depth


def parse_page_arrays(html: str):
    """Parse one page → (page_w, page_h, column lists).  The flat-array
    twin of ``parse_page`` used by the hot path (see ``segment_pages``),
    on the fast tag tokenizer; ``parse_page`` runs the same walk on
    html.parser."""
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
    ("_bx1", "array<double>"),
    ("_by1", "array<double>"),
    ("_bx2", "array<double>"),
    ("_by2", "array<double>"),
    ("_btext", "array<string>"),
    ("_btype", "array<string>"),
    ("_bparent", "array<bigint>"),
    ("_bscore", "array<double>"),
]


def _segment_batch(payloads):
    """Parse one Arrow batch's html payloads → (page_w list, page_h list,
    {array_col: list-of-lists})."""
    cols = {n: [] for n, _ in _ARRAY_COLS}
    ws, hs = [], []
    for payload in payloads:
        if payload is None:
            ws.append(None)
            hs.append(None)
            for (n, _t) in _ARRAY_COLS:
                cols[n].append([])
            continue
        if isinstance(payload, (bytes, bytearray)):
            payload = decode_payload(payload)
        w, h, arrs = parse_page_arrays(payload)
        ws.append(w)
        hs.append(h)
        for (n, _t), arr in zip(_ARRAY_COLS, arrs):
            cols[n].append(arr)
    return ws, hs, cols


def segment_pages_arrays(pages_df, html_col: str = "html") -> "DataFrame":
    """pages(…, html) → (all columns except html) + page_w/page_h + 8 flat
    primitive block arrays.  One narrow Arrow stage (mapInArrow).

    Why flat arrays instead of ARRAY<TEXTBLOCK>: converting per-block
    python dicts into Arrow nested structs costs more than the HTML parse
    itself at scale (~5M dict objects per 400k docs).  Primitive lists
    convert near-memcpy-fast; the TEXTBLOCK structs are then assembled
    JVM-side by ``attach_blocks`` inside whole-stage codegen.

    Why ``mapInArrow`` rather than ``mapInPandas`` (r5): the output
    lists cross to the JVM as directly-built ``pyarrow`` ListArrays
    instead of pandas object columns (which pay a per-row
    python-object→Arrow conversion) — measured 18% off the whole
    segmentation stage at sf0.1, bit-identical output."""
    from pyspark.sql.types import _parse_datatype_string

    passthrough = [f for f in pages_df.schema.fields if f.name != html_col]
    out_schema = StructType(
        passthrough
        + [
            StructField("page_w", DoubleType(), True),
            StructField("page_h", DoubleType(), True),
        ]
        + [
            StructField(n, _parse_datatype_string(t), True)
            for n, t in _ARRAY_COLS
        ]
    )
    names = [f.name for f in passthrough]

    def gen(batches):
        import pyarrow as pa

        pa_types = {
            "array<string>": pa.list_(pa.string()),
            "array<double>": pa.list_(pa.float64()),
            "array<bigint>": pa.list_(pa.int64()),
        }
        for b in batches:
            payloads = b.column(b.schema.get_field_index(html_col)).to_pylist()
            ws, hs, cols = _segment_batch(payloads)
            arrays = [b.column(b.schema.get_field_index(n)) for n in names]
            arrays.append(pa.array(ws, pa.float64()))
            arrays.append(pa.array(hs, pa.float64()))
            for n, t in _ARRAY_COLS:
                arrays.append(pa.array(cols[n], pa_types[t]))
            yield pa.RecordBatch.from_arrays(
                arrays, names + ["page_w", "page_h"] + [n for n, _ in _ARRAY_COLS]
            )

    return pages_df.mapInArrow(gen, schema=out_schema)


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
