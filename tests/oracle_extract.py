"""Independent pure-Python oracle for the extraction pipeline.

Mirrors the REFERENCE semantics directly (scalar, per-document, list-based
— the way layoutparser itself would run the README pipeline), sharing NO
code with the engine's Spark implementation:

* its own HTML walk (flat regex-free event parser with different
  bookkeeping than plans/segment.py),
* reference-style scalar geometry (Rectangle.is_in center test,
  layout_elements.py:620-657),
* the DOCUMENTED 2-column recipe for reading order (Interval(0, w/2*1.05,
  'x') + filter_by(center=True) + per-column y-sort,
  docs/example/deep_layout_parsing) — NOT the engine's generalized XY-cut,
* the Tesseract space-join text rule (ocr/tesseract_agent.py:157).

Byte-equality of engine output vs this oracle is the north-rule gate.
"""

from __future__ import annotations

import math
from html.parser import HTMLParser
from typing import List, Optional


class _Tok(HTMLParser):
    """Event recorder: flat (kind, payload) stream."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.events = []

    def handle_starttag(self, tag, attrs):
        self.events.append(("open", tag, dict(attrs)))

    def handle_endtag(self, tag):
        self.events.append(("close", tag, None))

    def handle_data(self, data):
        self.events.append(("text", data, None))


_TYPES = {
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
_STRUCTURAL = {
    "p", "div", "header", "footer", "nav", "aside", "figure",
    "h1", "h2", "h3", "table", "ul", "li", "span",
}


def _finite(value) -> Optional[float]:
    """An attribute value as a finite float, else None."""
    try:
        v = float(value)
    except (TypeError, ValueError):
        return None
    return v if math.isfinite(v) else None


def oracle_blocks(html: str):
    """The segmentation reference: html → (page_w, page_h, blocks), each
    block a dict of box, type, parent, text and score (1 − link density);
    a block's id is its list index.  page_w/page_h are None without an
    <html> tag, and a data-w/data-h that is not a finite number reads as
    0.0; a data-box that is not 4 finite numbers opens no block."""
    t = _Tok()
    t.feed(html)

    page_w = page_h = None
    blocks = []  # dicts: box, type, parent, text chunks, link chars
    stack: List[int] = []
    a_depth = 0
    for kind, a, b in t.events:
        if kind == "open":
            if a == "html":
                w, h = _finite(b.get("data-w")), _finite(b.get("data-h"))
                page_w = 0.0 if w is None else w
                page_h = 0.0 if h is None else h
                continue
            if a == "a":
                a_depth += 1
            box = [_finite(v) for v in (b.get("data-box") or "").split(",")]
            if len(box) == 4 and None not in box:
                blocks.append(
                    {
                        "box": tuple(box),
                        "type": _TYPES.get(a, "Text"),
                        "parent": stack[-1] if stack else None,
                        "chunks": [],
                        "link": 0,
                    }
                )
                stack.append(len(blocks) - 1)
        elif kind == "close":
            if a == "a":
                a_depth = max(0, a_depth - 1)
            elif a in _STRUCTURAL and stack:
                stack.pop()
        else:  # text
            if stack:
                blk = blocks[stack[-1]]
                blk["chunks"].append(a)
                if a_depth:
                    blk["link"] += len(a)

    # finalize text + link density
    for blk in blocks:
        raw = "".join(blk.pop("chunks"))
        blk["text"] = " ".join(raw.split())
        total = len(raw.strip())
        blk["score"] = 1.0 - (blk.pop("link") / total if total else 0.0)
    return page_w, page_h, blocks


def oracle_extract(html: str) -> str:
    page_w, page_h, blocks = oracle_blocks(html)
    page_w, page_h = page_w or 0.0, page_h or 0.0

    figures = [blk for blk in blocks if blk["type"] == "Figure"]

    def center_in(blk, region) -> bool:
        # Rectangle.is_in(other, center=True): two interval tests on the
        # center point (layout_elements.py:636-641)
        cx = (blk["box"][0] + blk["box"][2]) / 2.0
        cy = (blk["box"][1] + blk["box"][3]) / 2.0
        rx1, ry1, rx2, ry2 = region["box"]
        return rx1 <= cx <= rx2 and ry1 <= cy <= ry2

    main = []
    for blk in blocks:
        if blk["type"] in ("Header", "Footer", "Nav", "Aside", "Figure"):
            continue
        if blk["score"] < 0.5:
            continue
        x1, y1, x2, y2 = blk["box"]
        if (x2 - x1) >= 0.9 * page_w and (
            y2 <= 0.12 * page_h or y1 >= 0.88 * page_h
        ):
            continue
        if any(center_in(blk, f) for f in figures):
            continue
        main.append(blk)

    # the documented 2-column recipe: Interval(0, w/2*1.05, 'x'),
    # filter_by(center=True)
    boundary = page_w / 2.0 * 1.05
    left = [m for m in main if (m["box"][0] + m["box"][2]) / 2.0 <= boundary]
    right = [m for m in main if (m["box"][0] + m["box"][2]) / 2.0 > boundary]
    left.sort(key=lambda m: (m["box"][1], m["box"][0]))
    right.sort(key=lambda m: (m["box"][1], m["box"][0]))

    texts = [m["text"] for m in left + right if m["text"]]
    return " ".join(texts)
