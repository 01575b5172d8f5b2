"""Synthetic Common-Crawl-style page source.

Generates the input table of BASELINE.json's ``input_hint`` —
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)`` —
deterministically from the driver-provided ``documents`` parquet (doc_id,
text, lang).  No external data; every derived value is a pure function of
(doc_id, text), so generation is identical at any parallelism.

Page layout (pixel geometry encoded as ``data-box="x1,y1,x2,y2"``
attributes, the deterministic stand-in for a DL layout detector — same
output contract as the reference's Detectron2 path,
models/detectron2/layoutmodel.py:124-144):

* header band (0,0,1280,80), tag <header>              — typed boilerplate
* breadcrumb band (0,84,1280,112), untyped <div>       — dropped only by the
  full-width top-band layout heuristic
* nav sidebar (0,120,220,H-80), tag <nav>, all links   — typed boilerplate
* main paragraphs in TWO columns (left 240..740, right 760..1260), filled
  newspaper-style: XY-cut reading order must recover original token order
* a <figure> below the left column + a caption <p> INSIDE it — caption is
  dropped by the geometric is_in(figure) rule
* an ad <div> below the right column, all-anchor text — dropped by the
  link-density rule
* footer band (0,H-60,1280,H), tag <footer>

Because the main paragraphs partition the document's tokens in order, the
extraction pipeline must return EXACTLY the original ``text`` (byte
identical) — that is the oracle contract used by tests and the driver's
DuckDB check.
"""

from __future__ import annotations

import math
from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField

from ..transport import map_pages

#: 2024-01-01T00:00:00Z in unix seconds: ``warc_ts`` of doc_id 0
_EPOCH_2024 = 1704067200

PAGE_W = 1280
COL_L = (240, 740)
COL_R = (760, 1260)
TOP_Y = 120
PARA_GAP = 16
LINE_H = 24
TOKENS_PER_LINE = 6


def _paragraphs(tokens: List[str], doc_id: int) -> List[List[str]]:
    """Deterministic chunking: 8..12 tokens per paragraph by doc_id."""
    c = 8 + (doc_id % 5)
    return [tokens[i : i + c] for i in range(0, len(tokens), c)]


def _para_height(n_tokens: int) -> int:
    return LINE_H * max(1, math.ceil(n_tokens / TOKENS_PER_LINE))


def layout_boxes(doc_id: int, tokens: List[str]):
    """Compute the deterministic geometry: returns (paras, H) where paras is
    a list of (x1, y1, x2, y2, token_list) in reading order, plus the page
    height H and the figure/ad boxes."""
    paras = _paragraphs(tokens, doc_id)
    m = len(paras)
    k = math.ceil(m / 2)  # left column gets the first k paragraphs

    boxes = []
    y = TOP_Y
    for p in paras[:k]:
        h = _para_height(len(p))
        boxes.append((COL_L[0], y, COL_L[1], y + h, p))
        y = y + h + PARA_GAP
    left_bottom = y
    y = TOP_Y
    for p in paras[k:]:
        h = _para_height(len(p))
        boxes.append((COL_R[0], y, COL_R[1], y + h, p))
        y = y + h + PARA_GAP
    right_bottom = y

    fig = (COL_L[0], left_bottom, COL_L[1], left_bottom + 160)
    caption = (COL_L[0] + 20, left_bottom + 120, COL_L[1] - 20, left_bottom + 150)
    ad = (COL_R[0], right_bottom, COL_R[1], right_bottom + 80)

    bottom = max(fig[3], ad[3])
    H = 1000 if bottom <= 800 else math.ceil(1.25 * bottom)
    return boxes, fig, caption, ad, H


def render_page_html(doc_id: int, text: str) -> str:
    """Render one deterministic page.  Shared by the Spark source and the
    pytest oracle (the oracle re-PARSES independently; only the renderer is
    shared)."""
    tokens = text.split(" ")
    boxes, fig, caption, ad, H = layout_boxes(doc_id, tokens)

    # Deterministic link targets (doc_id arithmetic ONLY — the DuckDB
    # oracle for the web-graph operators re-derives this exact set in
    # SQL; keep the two in sync with __spark_entry__._sql_host_links):
    # header/nav link within the host, the ad box links out to the ad
    # host.  Anchor TEXT is unchanged, so extraction byte-identity and
    # link-density scoring are unaffected.
    host_root = f"https://site{doc_id % 97}.example.com"
    links = {
        "home": f"{host_root}/",
        "about": f"{host_root}/about",
        "contact": f"{host_root}/contact",
        "index": page_url(doc_id - doc_id % 10),
        "prev": page_url(max(doc_id - 1, 0)),
        "next": page_url(doc_id + 1),
        "top": page_url((doc_id * 13 + 7) % 9973),
        "buy": f"https://ads.example.net/c/{doc_id % 3}",
    }
    parts = [f'<html data-w="{PAGE_W}" data-h="{H}">']
    parts.append(
        f'<header data-box="0,0,{PAGE_W},80">Example Domain {doc_id % 7} '
        f'<a href="{links["home"]}">home</a> '
        f'<a href="{links["about"]}">about</a> '
        f'<a href="{links["contact"]}">contact</a></header>'
    )
    parts.append(
        f'<div data-box="0,84,{PAGE_W},112">home docs section{doc_id % 11} '
        f"page {doc_id}</div>"
    )
    parts.append(
        f'<nav data-box="0,120,220,{H - 80}">'
        f'<a href="{links["index"]}">index</a> '
        f'<a href="{links["prev"]}">prev</a> '
        f'<a href="{links["next"]}">next</a> '
        f'<a href="{links["top"]}">top{doc_id % 5}</a></nav>'
    )
    for (x1, y1, x2, y2, p) in boxes:
        parts.append(
            f'<p data-box="{x1},{y1},{x2},{y2}">{" ".join(p)}</p>'
        )
    parts.append(
        f'<figure data-box="{fig[0]},{fig[1]},{fig[2]},{fig[3]}">'
        f'<p data-box="{caption[0]},{caption[1]},{caption[2]},{caption[3]}">'
        f"figure caption {doc_id} illustrating nothing</p></figure>"
    )
    parts.append(
        f'<div data-box="{ad[0]},{ad[1]},{ad[2]},{ad[3]}">'
        f'<a>click</a> <a>here</a> '
        f'<a href="{links["buy"]}">buy{doc_id % 3}</a> <a>now</a></div>'
    )
    parts.append(
        f'<footer data-box="0,{H - 60},{PAGE_W},{H}">copyright example '
        f"domain {doc_id % 7} all rights reserved</footer>"
    )
    parts.append("</html>")
    return "".join(parts)


def page_url(doc_id: int) -> str:
    # 97 hosts → deliberately skewed host distribution at scale (the salted
    # repartition in plans/extract.py exists to defuse exactly this)
    return f"https://site{doc_id % 97}.example.com/page/{doc_id}"


def _page_row(doc_id: int, text: str):
    """One document → its (url, html) row (``synth_pages``' kernel)."""
    return [(page_url(doc_id), render_page_html(doc_id, text).encode("utf-8"))]


def synth_pages(documents: DataFrame, replicate: int = 1) -> DataFrame:
    """documents(doc_id, text, lang, …) → pages(url, warc_ts, html BINARY,
    text, lang, doc_id).

    ``replicate`` > 1 tiles the corpus deterministically (rep index changes
    the url + doc_id, not the content) for bench-scale inputs.  url and
    html come from one narrow Arrow stage (``transport.map_pages``);
    ``warc_ts`` is 2024-01-01T00:00:00Z plus doc_id seconds.  No shuffle.
    """
    base = documents.select("doc_id", "text", "lang")
    if replicate > 1:
        n_docs = 10_000_000  # doc_id namespace stride per replica
        base = base.crossJoin(
            base.sparkSession.range(replicate).select(
                F.col("id").alias("rep")
            )
        ).select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            "text",
            "lang",
        )
    pages = map_pages(
        base, _page_row, ["doc_id", "text"],
        [StructField("url", StringType()), StructField("html", BinaryType())],
        keep=("text", "lang", "doc_id"),
    )
    return pages.select(
        "url",
        F.timestamp_seconds(F.col("doc_id") + _EPOCH_2024).alias("warc_ts"),
        "html",
        "text",
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
    )
