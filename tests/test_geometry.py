"""Port of the reference's geometry algebra tests
(/root/reference/tests/test_elements.py) against the Column-expression
library: same literal inputs, exact equality on collected structs."""

import pytest
from pyspark.sql import functions as F

from layout_parser_spark import schema as S
from layout_parser_spark.functions import (
    area,
    center_x,
    center_y,
    coordinates,
    height,
    interval_center,
    pad,
    scale,
    shift,
    to_interval,
    to_quadrilateral,
    to_rectangle,
    width,
)
from helpers import assert_block, assert_points_close

I1 = dict(start=1, end=2, axis="y", canvas_height=30, canvas_width=400)


def test_interval_props(ev):
    i = S.interval(**I1)
    row = ev(
        width(i).alias("w"),
        height(i).alias("h"),
        area(i).alias("a"),
        interval_center(i).alias("c"),
        coordinates(i).alias("coords"),
    )
    # axis='y': height = end-start = 1, width = canvas_width = 400
    assert row.w == 400.0 and row.h == 1.0
    assert row.a == 400.0  # test_elements.py:29 — i.area == 1 * 400
    assert row.c == 1.5
    assert row.coords.asDict() == {"x_1": 0.0, "y_1": 1.0, "x_2": 400.0, "y_2": 2.0}


def test_interval_shift_scale_pad(ev):
    i = S.interval(**I1)
    row = ev(shift(i, 1).alias("s"))
    assert_block(row.s, "interval", start=2, end=3, axis="y",
                 canvas_height=30, canvas_width=400)

    ix = S.interval(1, 2, "x")
    row = ev(
        shift(ix, 1, 2).alias("s"),
        scale(ix, 2, 1).alias("sc"),
        pad(ix, left=10, right=20).alias("p_safe"),
        pad(ix, left=10, right=20, safe_mode=False).alias("p_unsafe"),
        area(ix).alias("a"),
    )
    # shift([1,2]) on axis-x uses dx (test_elements.py:32)
    assert_block(row.s, "interval", start=2, end=3, axis="x")
    assert_block(row.sc, "interval", start=2, end=4, axis="x")
    # safe_mode clamps start at 0 (test_elements.py:34)
    assert_block(row.p_safe, "interval", start=0, end=22, axis="x")
    assert_block(row.p_unsafe, "interval", start=-9, end=22, axis="x")
    assert row.a == 0.0  # no canvas → height 0


def test_rectangle_props(ev):
    r = S.rectangle(1, 2, 3, 4)
    row = ev(
        pad(r, left=1, right=5, top=2, bottom=4).alias("p"),
        shift(r, 1, 2).alias("s2"),
        shift(r, 1).alias("s1"),
        scale(r, 3, 2).alias("sc2"),
        scale(r, 2).alias("sc1"),
        area(r).alias("a"),
        center_x(r).alias("cx"),
        center_y(r).alias("cy"),
    )
    # test_elements.py:49-55
    assert_block(row.p, "rectangle", x_1=0, y_1=0, x_2=8, y_2=8)
    assert_block(row.s2, "rectangle", x_1=2, y_1=4, x_2=4, y_2=6)
    assert_block(row.s1, "rectangle", x_1=2, y_1=3, x_2=4, y_2=5)
    assert_block(row.sc2, "rectangle", x_1=3, y_1=4, x_2=9, y_2=8)
    assert_block(row.sc1, "rectangle", x_1=2, y_1=4, x_2=6, y_2=8)
    assert row.a == 4.0
    assert (row.cx, row.cy) == (2.0, 3.0)


def test_quadrilateral_props(ev):
    # points = [[2,2],[6,2],[6,7],[2,6]] (test_elements.py:63)
    q = S.quadrilateral([2, 2, 6, 2, 6, 7, 2, 6])
    row = ev(
        shift(q, 1).alias("s1"),
        shift(q, 1, 2).alias("s2"),
        scale(q, 2).alias("sc1"),
        scale(q, 3, 2).alias("sc2"),
        pad(q, left=1, top=2, bottom=4).alias("p"),
        width(q).alias("w"),
        height(q).alias("h"),
        coordinates(q).alias("coords"),
        center_x(q).alias("cx"),
        center_y(q).alias("cy"),
    )
    assert_points_close(row.s1, [3, 3, 7, 3, 7, 8, 3, 7])
    assert_points_close(row.s2, [3, 4, 7, 4, 7, 9, 3, 8])
    assert_points_close(row.sc1, [4, 4, 12, 4, 12, 14, 4, 12])
    assert_points_close(row.sc2, [6, 4, 18, 4, 18, 14, 6, 12])
    # pad with rank-order maps (test_elements.py:71-73)
    assert_points_close(row.p, [1, 0, 6, 0, 6, 11, 1, 10])
    assert row.w == 4.0 and row.h == 5.0
    assert row.coords.asDict() == {"x_1": 2.0, "y_1": 2.0, "x_2": 6.0, "y_2": 7.0}
    assert (row.cx, row.cy) == (4.0, 4.25)


def test_quadrilateral_area(ev):
    # shoelace: rhombus with diagonals 4 → area 8 (test_elements.py:85-86)
    q = S.quadrilateral([-2, 0, 0, 2, 2, 0, 0, -2])
    assert ev(area(q).alias("a")).a == 8.0


def test_casts(ev):
    i = S.interval(1, 2, "y", canvas_height=30, canvas_width=400)
    r = S.rectangle(1, 2, 3, 4)
    q = S.quadrilateral([2, 2, 6, 2, 6, 7, 2, 6])
    row = ev(
        to_rectangle(i).alias("i2r"),
        to_quadrilateral(i).alias("i2q"),
        to_interval(r, "x").alias("r2ix"),
        to_interval(r, "y").alias("r2iy"),
        to_quadrilateral(r).alias("r2q"),
        to_rectangle(q).alias("q2r"),
        to_interval(q, "x").alias("q2ix"),
    )
    assert_block(row.i2r, "rectangle", x_1=0, y_1=1, x_2=400, y_2=2)
    assert_points_close(row.i2q, [0, 1, 400, 1, 400, 2, 0, 2])
    assert_block(row.r2ix, "interval", start=1, end=3, axis="x")
    assert_block(row.r2iy, "interval", start=2, end=4, axis="y")
    assert_points_close(row.r2q, [1, 2, 3, 2, 3, 4, 1, 4])
    assert_block(row.q2r, "rectangle", x_1=2, y_1=2, x_2=6, y_2=7)
    assert_block(row.q2ix, "interval", start=2, end=6, axis="x")


def test_textblock_meta_preserved(ev):
    r = S.rectangle(1, 2, 3, 4, text="12", id=1, type="2")
    row = ev(
        shift(r, 1).alias("s"),
        to_quadrilateral(r).alias("q"),
        to_interval(r, "x").alias("i"),
    )
    meta = {"text": "12", "id": 1, "type": "2"}
    assert_block(row.s, "rectangle", meta=meta, x_1=2, y_1=3, x_2=4, y_2=5)
    assert row.q.text == "12" and row.q.id == 1
    assert_block(row.i, "interval", meta=meta, start=1, end=3, axis="x")


def test_zorder_key_matches_morton_reference(spark):
    """Bit-interleave correctness vs a python Morton reference, incl.
    clamping above the coordinate range."""
    from pyspark.sql import functions as F

    from layout_parser_spark.functions.geometry import zorder_key

    def morton(x, y, bits=16):
        k = 0
        for i in range(bits):
            k |= ((x >> i) & 1) << (2 * i)
            k |= ((y >> i) & 1) << (2 * i + 1)
        return k

    rows = [
        (float(x), float(y))
        for x in (0, 1, 499.5, 999.99, 1000, 1500)
        for y in (0, 3, 999.9, 2000)
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    out = df.select(
        "x", "y", zorder_key(F.col("x"), F.col("y")).alias("k")
    ).collect()
    for r in out:
        qx = min(max(int(r.x / 1000.0 * 65535), 0), 65535)
        qy = min(max(int(r.y / 1000.0 * 65535), 0), 65535)
        assert r.k == morton(qx, qy), (r.x, r.y)
    # locality: neighbors share high bits more often than far points
    k_near = morton(100, 100) ^ morton(101, 101)
    k_far = morton(100, 100) ^ morton(60000, 60000)
    assert k_near.bit_length() < k_far.bit_length()


def test_const_field_cache_distinguishes_numeric_types(spark):
    """True == 1 == 1.0 hash identically in python; for a string-typed
    field each must coerce to its OWN literal ('true'/'1'/'1.0'), never
    a cached cross-type reuse."""
    from layout_parser_spark.schema import make_block

    row = spark.range(1).select(
        make_block(block_type="rectangle", text=1).alias("a"),
        make_block(block_type="rectangle", text=1.0).alias("b"),
        make_block(block_type="rectangle", text=True).alias("c"),
    ).collect()[0]
    assert row.a.text == "1"
    assert row.b.text == "1.0"
    assert row.c.text == "true"


def test_const_field_cache_resets_on_new_context(spark):
    """The cache binds to the live SparkContext by identity (weakref) —
    a different/absent context must clear it rather than serve refs
    keyed on a recycled id()."""
    import layout_parser_spark.schema as schema_mod

    schema_mod._const_field("text", "warmup")
    assert len(schema_mod._CONST_CACHE) > 0
    ref = schema_mod._CONST_CACHE_SC
    assert ref is not None and ref() is spark.sparkContext
    # simulate a stale binding: poison the weakref holder, next call
    # must rebuild the cache for the live context
    schema_mod._CONST_CACHE_SC = None
    schema_mod._const_field("text", "warmup2")
    assert schema_mod._CONST_CACHE_SC() is spark.sparkContext
    assert ("text", str, "warmup") not in schema_mod._CONST_CACHE
    assert ("text", str, "warmup2") in schema_mod._CONST_CACHE
