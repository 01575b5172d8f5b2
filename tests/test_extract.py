"""North-rule gate: byte-identical extracted text per url.

Three-way agreement on the sf0.001 documents corpus:
engine (Spark pipeline) == independent oracle (reference-style scalar
implementation) == the original document text (the synthetic page embeds
the document's own tokens as main content)."""

import os

import pytest
from pyspark.sql import functions as F

from layout_parser_spark.plans import extract_main_text, xy_cut_indices
from layout_parser_spark.sources import render_page_html, synth_pages
from oracle_extract import oracle_blocks, oracle_extract

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_oracle_vs_renderer_roundtrip():
    """Pure-python sanity: oracle on a rendered page returns the original
    text (no Spark)."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron pi rho sigma tau upsilon"
    for doc_id in (0, 1, 7, 42, 123456):
        html = render_page_html(doc_id, text)
        assert oracle_extract(html) == text, doc_id


def test_segmentation_parses_blocks():
    html = render_page_html(3, "one two three four five six seven eight "
                               "nine ten eleven twelve")
    w, h, rows = oracle_blocks(html)
    assert w == 1280 and h >= 1000
    types = [r["type"] for r in rows]
    assert "Header" in types and "Footer" in types and "Nav" in types
    assert "Figure" in types
    # caption block has parent set to the figure block id
    fig_id = types.index("Figure")
    caption = [r for r in rows if r["parent"] == fig_id]
    assert len(caption) == 1
    # ad block: all-anchor text → score 0
    ad = [r for r in rows if r["score"] < 0.5]
    assert len(ad) >= 2  # nav + ad
    from layout_parser_spark.plans.segment import parse_page_arrays

    assert parse_page_arrays(html) == _page_columns(html)


def test_xy_cut_two_columns():
    # two columns, two blocks each; xy-cut must read left column first
    import numpy as np

    x1 = np.array([240.0, 240.0, 760.0, 760.0])
    y1 = np.array([120.0, 300.0, 120.0, 300.0])
    x2 = np.array([740.0, 740.0, 1260.0, 1260.0])
    y2 = np.array([260.0, 420.0, 260.0, 420.0])
    assert xy_cut_indices(x1, y1, x2, y2) == [0, 1, 2, 3]
    # interleave input order; permutation must still read columns
    perm = [2, 0, 3, 1]  # block i of the above placed at position perm[i]
    xx1 = x1[perm]
    assert xy_cut_indices(xx1, y1[perm], x2[perm], y2[perm]) == [1, 3, 0, 2]


def test_extract_byte_identical(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = synth_pages(docs)
    out = extract_main_text(pages).select(
        "doc_id", "text", "extracted_text", "n_blocks"
    )
    rows = out.collect()
    assert len(rows) == docs.count()
    mismatches = [
        (r.doc_id, r.text, r.extracted_text)
        for r in rows
        if r.extracted_text != r.text
    ]
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[:2]}"
    assert all(r.n_blocks >= 1 for r in rows)


def test_engine_matches_independent_oracle(spark):
    """Engine vs oracle on the html itself (not just vs original text)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    pages = synth_pages(docs).select("doc_id", "url", "html")
    engine = {
        r.doc_id: r.extracted_text
        for r in extract_main_text(pages).select(
            "doc_id", "extracted_text"
        ).collect()
    }
    local = pages.select("doc_id", "html").collect()
    for r in local:
        expected = oracle_extract(bytes(r.html).decode("utf-8"))
        assert engine[r.doc_id] == expected, r.doc_id


def test_specialized_fig_predicate_equals_is_in(ev):
    """extract.keep_main_block's rect×rect center test must equal the
    general is_in(center=True) predicate on rectangles."""
    from layout_parser_spark import schema as S
    from layout_parser_spark.functions import is_in

    cases = [
        ((240, 500, 740, 660), (240, 500, 740, 660)),  # self
        ((260, 620, 720, 650), (240, 500, 740, 660)),  # caption in figure
        ((0, 0, 10, 10), (240, 500, 740, 660)),        # far outside
        ((230, 490, 250, 510), (240, 500, 740, 660)),  # center on edge
    ]
    exprs = []
    for i, (bb, ff) in enumerate(cases):
        b = S.rectangle(*map(float, bb))
        f = S.rectangle(*map(float, ff))
        general = is_in(b, f, center=True)
        cx = (b["x_1"] + b["x_2"]) / 2.0
        cy = (b["y_1"] + b["y_2"]) / 2.0
        special = (
            (f["x_1"] <= cx) & (cx <= f["x_2"])
            & (f["y_1"] <= cy) & (cy <= f["y_2"])
        )
        exprs.append(general.alias(f"g{i}"))
        exprs.append(special.alias(f"s{i}"))
    row = ev(*exprs)
    d = row.asDict()
    for i in range(len(cases)):
        assert d[f"g{i}"] == d[f"s{i}"], (i, d)


def test_zero_block_page_yields_empty_layout(spark):
    """A page with no data-box elements must produce an EMPTY blocks array
    (reference returns Layout([])), not one phantom all-NULL block."""
    from layout_parser_spark.plans.segment import segment_pages

    pages = spark.createDataFrame(
        [
            (0, '<html data-w="800" data-h="600"><body></body></html>'),
            (1, '<html data-w="800" data-h="600">'
                '<p data-box="10,10,100,30">hello world</p></html>'),
        ],
        "doc_id long, html string",
    )
    rows = {r.doc_id: r for r in segment_pages(pages).collect()}
    assert rows[0].blocks == []
    assert len(rows[1].blocks) == 1
    assert rows[1].blocks[0].text == "hello world"


def test_fast_parser_quoted_gt_in_attribute():
    """Attribute values containing '>' (legal in quoted HTML) must not cut
    the tag short or leak attribute text into block content."""
    html = (
        '<html data-w="800" data-h="600">'
        '<p data-alt="a > b" data-box="10,10,100,30">clean text</p>'
        "<p data-box='20,40,120,60' data-note='x>y'>second</p></html>"
    )
    w, h, (x1, y1, x2, y2, texts, types, parents, scores) = (
        __import__(
            "layout_parser_spark.plans.segment", fromlist=["parse_page_arrays"]
        ).parse_page_arrays(html)
    )
    assert w == 800.0 and h == 600.0
    assert texts == ["clean text", "second"]
    assert (x1, y2) == ([10.0, 20.0], [30.0, 60.0])


def test_xy_cut_deep_nesting_no_recursion_error():
    """Deeply nested alternating x/y gap structure must not blow the
    Python recursion limit (explicit work stack)."""
    import numpy as np

    n = 5000
    # staircase: each block strictly right of and below the previous with
    # gaps on both axes → alternating cuts, depth ~ n
    base = np.arange(n, dtype="float64") * 10.0
    x1, y1 = base, base
    x2, y2 = base + 5.0, base + 5.0
    assert xy_cut_indices(x1, y1, x2, y2) == list(range(n))


def test_lang_filter_pushed_to_scan(spark, tmp_path):
    """A native Column filter placed before the UDF stage must reach the
    parquet scan as a pushed filter (no html decode for skipped rows)."""
    import re
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    src = str(tmp_path / "pages")
    synth_pages(docs).write.parquet(src)
    pages = spark.read.parquet(src).where(F.col("lang") == "en")
    plan = extract_main_text(pages)._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("Scan parquet"):]
    assert re.search(r"PushedFilters: \[.*(EqualTo\(lang,en\)|lang).*\]", scan), scan[:500]


def test_charset_sniffing_in_segmentation(spark):
    """Non-UTF-8 crawl payloads decode via the sniffed charset: a
    shift_jis page with a meta declaration and an undeclared
    windows-1252 page both segment with correct text (a hard utf-8
    decode would mojibake or replace)."""
    from layout_parser_spark.plans.segment import segment_pages

    sj = (
        '<html data-w="100" data-h="100">'
        '<meta charset="shift_jis">'
        '<p data-box="0,0,50,50">こんにちは 世界</p></html>'
    ).encode("shift_jis")
    cp = (
        b'<html data-w="100" data-h="100">'
        b'<p data-box="0,0,50,50">caf\xe9 cr\xe8me</p></html>'
    )  # bare latin-1/cp1252 bytes, NOT valid utf-8, no declaration
    df = spark.createDataFrame(
        [("sj", bytearray(sj)), ("cp", bytearray(cp))],
        "url string, html binary",
    )
    out = {r.url: r.blocks for r in segment_pages(df).collect()}
    assert out["sj"][0].text == "こんにちは 世界"
    assert out["cp"][0].text == "café crème"


def test_charset_utf8_payloads_unchanged(spark):
    """Valid UTF-8 (the overwhelming common case) still decodes
    identically — the sniff must not perturb the flagship contract."""
    from layout_parser_spark.plans.segment import segment_pages

    html = (
        '<html data-w="100" data-h="100">'
        '<p data-box="0,0,50,50">héllo wörld</p></html>'
    ).encode("utf-8")
    df = spark.createDataFrame(
        [("u", bytearray(html))], "url string, html binary"
    )
    out = segment_pages(df).collect()[0]
    assert out.blocks[0].text == "héllo wörld"


#: outside-input attribute values that must neither raise nor open a block
MALFORMED_PAGES = [
    '<html data-w="" data-h="600"><p data-box="1,2,30,40">empty width</p></html>',
    "<html data-w=abc data-h='inf'><p data-box='1,2,30,40'>bad dims</p></html>",
    '<html data-w="nan" data-h="-inf"><p data-box="1,2,30,40">nan dims</p></html>',
    '<html data-w="800" data-h="600"><p data-box="0,0,1">three</p>'
    '<p data-box="5,5,50,50">kept</p></html>',
    '<html data-w="800" data-h="600"><p data-box="0,0,1,z">letter</p></html>',
    '<html data-w="800" data-h="600"><p data-box="">empty box</p></html>',
    '<html data-w="800" data-h="600"><p data-box="0,0,1,2,3">five</p></html>',
    '<html data-w="800" data-h="600"><p data-box="0,nan,10,20">nan</p>'
    '<p data-box="inf,0,10,20">inf</p></html>',
    '<html data-w="800" data-h="600"><div data-box="10,100,400,300">outer '
    '<span data-box="1,2">inner</span> tail</div></html>',
]


def _page_columns(html):
    """``oracle_blocks`` output in ``parse_page_arrays``' column layout."""
    w, h, rows = oracle_blocks(html)
    boxes = [[r["box"][i] for r in rows] for i in range(4)]
    keys = ("text", "type", "parent", "score")
    return w, h, tuple(boxes + [[r[k] for r in rows] for k in keys])


def test_malformed_attributes_parse_like_html_parser():
    """A non-numeric or non-finite data-w/data-h reads as 0.0 and a
    data-box that is not 4 finite numbers opens no block, in the engine's
    tokenizer as in the html.parser reference (``oracle_blocks``)."""
    from layout_parser_spark.plans.segment import parse_page_arrays

    for html in MALFORMED_PAGES:
        assert parse_page_arrays(html) == _page_columns(html), html
    w, h, cols = parse_page_arrays(MALFORMED_PAGES[0])
    assert (w, h, cols[4]) == (0.0, 600.0, ["empty width"])
    w, h, cols = parse_page_arrays(MALFORMED_PAGES[2])
    assert (w, h) == (0.0, 0.0)
    assert parse_page_arrays(MALFORMED_PAGES[3])[2][4] == ["kept"]
    assert parse_page_arrays(MALFORMED_PAGES[7])[2][0] == []


def test_malformed_attributes_keep_every_row(spark):
    """One bad page must not fail the Spark task: every url of the
    batch comes back."""
    pages = spark.createDataFrame(
        [(f"u{i}", html) for i, html in enumerate(MALFORMED_PAGES)],
        "url string, html string",
    )
    urls = [r.url for r in extract_main_text(pages).collect()]
    assert sorted(urls) == sorted(f"u{i}" for i in range(len(MALFORMED_PAGES)))


def _edge_pages():
    """Hand-built pages on the boundaries of every keep rule."""
    head = '<html data-w="1000" data-h="1000">'
    return [
        # width exactly 0.9*w: band at y_2 == 0.12*h and y_1 == 0.88*h,
        # plus the same width mid-page and one narrower band
        head + '<p data-box="0,0,900,120">top band</p>'
        '<p data-box="0,880,900,1000">bottom band</p>'
        '<p data-box="0,400,900,500">wide middle</p>'
        '<p data-box="0,0,899,120">narrow top</p>'
        '<p data-box="0,0,900,121">deep top</p></html>',
        # score exactly 0.5 (half the characters inside an anchor)
        head + '<p data-box="10,300,500,340">ab<a href="x">cd</a></p>'
        '<p data-box="10,400,500,440">a<a href="x">bcd</a></p></html>',
        # caption centres on each figure edge, and just outside it
        head + '<figure data-box="100,200,500,600">'
        '<p data-box="450,300,550,340">on right edge</p></figure>'
        '<p data-box="50,150,150,250">on corner</p>'
        '<p data-box="451,300,551,340">past edge</p>'
        '<p data-box="200,560,300,640">on bottom edge</p>'
        '<p data-box="600,200,900,260">beside</p></html>',
        head + "<body></body></html>",  # zero blocks
        None,  # null html
        '<html data-h="800"><p data-box="10,10,100,30">no width</p>'
        '<p data-box="10,400,100,430">lower</p></html>',
        '<p data-box="10,10,100,30">no html tag</p>',
    ]


def test_kernel_matches_struct_api(spark):
    """The kernel's Python keep predicate and the Column predicate of the
    struct API agree: extract_main_text == segment_pages →
    drop_boilerplate → xy_cut_joined, for text AND n_blocks."""
    import random

    from layout_parser_spark.plans.extract import drop_boilerplate
    from layout_parser_spark.plans.reading_order import xy_cut_joined
    from layout_parser_spark.plans.segment import segment_pages

    rng = random.Random(20261017)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rendered = [
        render_page_html(
            rng.randrange(10**6),
            " ".join(rng.choice(words) for _ in range(rng.randrange(1, 400))),
        )
        for _ in range(40)
    ]
    pages = [
        (f"{kind}{i}", html)
        for kind, htmls in (("r", rendered), ("e", _edge_pages()),
                            ("m", MALFORMED_PAGES))
        for i, html in enumerate(htmls)
    ]
    df = spark.createDataFrame(pages, "url string, html string")
    kernel = {
        r.url: (r.extracted_text, r.n_blocks)
        for r in extract_main_text(df).collect()
    }
    main = drop_boilerplate(segment_pages(df))
    def field(k):
        return F.transform("main_blocks", lambda b: b[k])

    cols = [field(k) for k in ("x_1", "y_1", "x_2", "y_2", "text")]
    struct = {
        r.url: (r.t, r.n)
        for r in main.select(
            "url",
            xy_cut_joined(*cols).alias("t"),
            F.size("main_blocks").alias("n"),
        ).collect()
    }
    assert kernel == struct
    edge = [kernel[f"e{i}"] for i in range(7)]
    assert edge[0] == ("narrow top deep top wide middle", 3)
    assert edge[1] == ("abcd", 1)
    assert edge[2] == ("past edge beside", 2)
    # no data-w: every block reads as full width, so only the bands go
    assert edge[3:] == [("", 0), ("", 0), ("lower", 1), ("", 0)]
