"""Port of test_elements.py relation/shape-operation assertions:
is_in matrix, condition_on/relative_to round-trips (all 9 type pairs),
intersect/union matrix incl. strict-mode errors and the
Rectangle.union(Interval) bug parity.

NB on test structure: composite struct expressions are materialized into
columns via a first ``select`` before being fed to predicates — expression
DAGs expand to trees at plan time, so deep compositions are staged through
named columns exactly as real pipelines do.
"""

import pytest
from pyspark.sql import functions as F

from layout_parser_spark import schema as S
from layout_parser_spark.functions import (
    condition_on,
    intersect,
    is_in,
    relative_to,
    to_quadrilateral,
    to_rectangle,
    union,
)
from layout_parser_spark.functions.perspective import (
    condition_on_any,
    relative_to_any,
)
from layout_parser_spark.functions.transforms import put_on_canvas
from layout_parser_spark.functions import height as g_height, width as g_width
from helpers import assert_block, assert_points_close


# the canonical trio of test_elements.py:101-161 (lazy: Column literals
# need an active SparkContext)
def _trio():
    return (
        S.interval(4, 5, axis="y"),
        S.rectangle(3, 3, 5, 6),
        S.quadrilateral([2, 2, 6, 2, 6, 7, 2, 5]),
    )


def test_is_in_matrix(spark):
    I, R, Q = _trio()
    base = spark.range(1).select(
        I.alias("i"),
        R.alias("r"),
        Q.alias("q"),
        to_rectangle(Q).alias("q_rect"),
        to_quadrilateral(R).alias("r_quad"),
    )
    c = F.col
    row = base.select(
        is_in(c("i"), c("i")).alias("ii"),
        is_in(c("i"), c("r")).alias("ir"),
        is_in(c("i"), c("q")).alias("iq"),
        is_in(c("r"), c("q")).alias("rq"),
        is_in(c("r"), c("q"), soft_margin={"bottom": 1}).alias("rq_soft"),
        is_in(c("r"), c("q_rect")).alias("rr"),
        is_in(c("r"), c("r_quad")).alias("r_in_own_q"),
        is_in(c("q"), c("r")).alias("qr"),
        is_in(c("q"), c("i"), soft_margin={"top": 2, "bottom": 2}).alias(
            "qi_soft"
        ),
        is_in(
            c("q"),
            c("r"),
            soft_margin={"left": 1, "top": 1, "right": 1, "bottom": 1},
        ).alias("qr_soft"),
        is_in(c("q"), c("q")).alias("qq"),
    ).collect()[0]
    # test_elements.py:105-107
    assert row.ii and row.ir and row.iq
    # test_elements.py:125-128
    assert not row.rq
    assert row.rq_soft
    assert row.rr
    assert row.r_in_own_q
    # test_elements.py:145-148
    assert not row.qr
    assert row.qi_soft
    assert row.qr_soft
    assert row.qq


def test_is_in_center(ev):
    region = S.rectangle(0, 0, 4, 4)
    inside_center = S.rectangle(1, 1, 5, 5)  # center (3,3) in, corners out
    row = ev(
        is_in(inside_center, region).alias("full"),
        is_in(inside_center, region, center=True).alias("center"),
        is_in(S.interval(1, 5, "x"), region, center=True).alias("i_center"),
        is_in(S.interval(1, 5, "x"), region).alias("i_full"),
    )
    assert not row.full and row.center
    assert row.i_center and not row.i_full


def test_roundtrips_non_quad(spark):
    """x.condition_on(o).relative_to(o) == x for non-perspective pairs
    (test_elements.py:109-118, 130-139)."""
    I, R, Q = _trio()
    base = spark.range(1).select(
        I.alias("i"),
        R.alias("r"),
        Q.alias("q"),
        condition_on(I, I).alias("i_on_i"),
        condition_on(I, R).alias("i_on_r"),
        condition_on(R, I).alias("r_on_i"),
        condition_on(R, R).alias("r_on_r"),
        relative_to(R, I).alias("r_rel_i"),
        condition_on(Q, I).alias("q_on_i"),
        condition_on(Q, R).alias("q_on_r"),
        to_rectangle(put_on_canvas(I, g_height(R), g_width(R))).alias(
            "i_canvas_r"
        ),
    )
    c = F.col
    row = base.select(
        relative_to(c("i_on_i"), c("i")).alias("i_i"),
        relative_to(c("i_on_r"), c("r")).alias("i_r"),
        relative_to(c("r_on_i"), c("i")).alias("r_i"),
        relative_to(c("r_on_r"), c("r")).alias("r_r"),
        condition_on(c("r_rel_i"), c("i")).alias("r_i2"),
        relative_to(c("q_on_i"), c("i")).alias("q_i"),
        relative_to(c("q_on_r"), c("r")).alias("q_r"),
        c("i_canvas_r").alias("i_on_r_expected"),
    ).collect()[0]
    assert_block(row.i_i, "interval", start=4, end=5, axis="y")
    # i.condition_on(r).relative_to(r) == i.put_on_canvas(r).to_rectangle()
    assert row.i_r.asDict() == row.i_on_r_expected.asDict()
    assert_block(row.r_i, "rectangle", x_1=3, y_1=3, x_2=5, y_2=6)
    assert_block(row.r_r, "rectangle", x_1=3, y_1=3, x_2=5, y_2=6)
    assert_block(row.r_i2, "rectangle", x_1=3, y_1=3, x_2=5, y_2=6)
    assert_points_close(row.q_i, [2, 2, 6, 2, 6, 7, 2, 5])
    assert_points_close(row.q_r, [2, 2, 6, 2, 6, 7, 2, 5])


def test_roundtrips_quad_perspective(spark):
    """Perspective round-trips through a quadrilateral `other`
    (test_elements.py:110-118, 131-139, 151-161)."""
    I, R, Q = _trio()
    base = spark.range(1).select(
        I.alias("i"),
        R.alias("r"),
        Q.alias("q"),
        condition_on_any(R, Q).alias("r_on_q"),
        relative_to_any(R, Q).alias("r_rel_q"),
        condition_on_any(Q, Q).alias("q_on_q"),
        condition_on_any(I, Q).alias("i_on_q"),
        to_quadrilateral(put_on_canvas(I, g_height(Q), g_width(Q))).alias(
            "i_canvas_q"
        ),
    )
    c = F.col
    row = base.select(
        relative_to_any(c("r_on_q"), c("q")).alias("r_q"),
        condition_on_any(c("r_rel_q"), c("q")).alias("r_q2"),
        relative_to_any(c("q_on_q"), c("q")).alias("q_q"),
        relative_to_any(c("i_on_q"), c("q")).alias("i_q"),
        c("i_canvas_q").alias("i_on_q_expected"),
    ).collect()[0]
    # r.condition_on(q).relative_to(q) == r.to_quadrilateral()
    assert_points_close(row.r_q, [3, 3, 5, 3, 5, 6, 3, 6])
    assert_points_close(row.r_q2, [3, 3, 5, 3, 5, 6, 3, 6])
    assert_points_close(row.q_q, [2, 2, 6, 2, 6, 7, 2, 5])
    # i.condition_on(q).relative_to(q) == i.put_on_canvas(q).to_quadrilateral()
    assert_points_close(row.i_q, list(row.i_on_q_expected.points))


def test_degenerate_quad_reads_null(spark):
    """A degenerate quadrilateral `other` (collinear points: its 8×8
    system is singular) gives NULL points on its own row; the good row of
    the same Arrow batch keeps its value.  The reference raises there."""
    df = spark.createDataFrame(
        [(0, [2.0, 2.0, 6.0, 2.0, 6.0, 7.0, 2.0, 5.0]),
         (1, [0.0, 0.0, 5.0, 0.0, 10.0, 0.0, 15.0, 0.0])],
        "k int, pts array<double>",
    ).coalesce(1)
    q = S.quadrilateral(F.col("pts"))
    R = S.rectangle(3, 3, 5, 6)
    rows = sorted(
        df.select(
            "k", condition_on_any(R, q).alias("c"),
            relative_to_any(R, q).alias("r"),
        ).collect()
    )
    assert rows[0].c.points == [
        4.571428571428572, 4.571428571428572, 8.0, 5.6000000000000005,
        8.0, 9.200000000000001, 4.571428571428572, 7.142857142857144,
    ]
    assert rows[0].r.points == [
        1.428571428571429, 1.4285714285714286, 3.333333333333334,
        1.1111111111111112, 3.333333333333334, 4.444444444444445,
        1.428571428571429, 5.714285714285714,
    ]
    assert rows[1].c.points is None and rows[1].r.points is None


def _shapes():
    return (
        S.interval(1, 2, axis="y", canvas_height=30, canvas_width=400),
        S.interval(1, 2, axis="x"),
        S.interval(1, 2, axis="y"),
        S.rectangle(0.5, 0.5, 2.5, 1.5),
        S.rectangle(0.5, 0.5, 2, 2.5),
        S.quadrilateral([1, 1, 2.5, 1.2, 2.5, 3, 1.5, 3]),
        S.quadrilateral([0.5, 0.5, 2, 1, 1.5, 2.5, 0.5, 2]),
    )


def test_shape_operations(spark):
    """test_elements.py:325-403 intersect/union matrix."""
    I_1, I_2, I_3, R_1, R_2, Q_1, Q_2 = _shapes()
    base = spark.range(1).select(
        I_1.alias("i1"),
        I_2.alias("i2"),
        I_3.alias("i3"),
        R_1.alias("r1"),
        R_2.alias("r2"),
        Q_1.alias("q1"),
        Q_2.alias("q2"),
    )
    c = F.col
    row = base.select(
        intersect(c("i1"), c("i1")).alias("ii_same"),
        intersect(c("i1"), c("i2")).alias("ii_cross"),
        intersect(c("i1"), c("i3")).alias("ii_canvas"),
        union(c("i1"), c("i1")).alias("uu_same"),
        intersect(c("i1"), c("r1")).alias("ir"),
        intersect(c("i2"), c("r1")).alias("i2r"),
        union(c("i1"), c("r1")).alias("ur"),
        union(c("i2"), c("r1")).alias("u2r"),
        intersect(c("i1"), c("q1"), strict=False).alias("iq"),
        union(c("i1"), c("q1"), strict=False).alias("uq"),
        intersect(c("i2"), c("q1"), strict=False).alias("i2q"),
        union(c("i2"), c("q1"), strict=False).alias("u2q"),
        intersect(c("r1"), c("i1")).alias("ri"),
        intersect(c("r1"), c("r2")).alias("rr"),
        intersect(c("r2"), c("r1")).alias("rr2"),
        union(c("r1"), c("r2")).alias("urr"),
        intersect(c("r1"), c("q1"), strict=False).alias("rq"),
        union(c("r1"), c("q1"), strict=False).alias("urq"),
        intersect(c("q1"), c("i1"), strict=False).alias("qi"),
        union(c("q1"), c("i1"), strict=False).alias("uqi"),
        intersect(c("q1"), c("r1"), strict=False).alias("qr"),
        union(c("q1"), c("r1"), strict=False).alias("uqr"),
        intersect(c("q1"), c("q2"), strict=False).alias("qq"),
        union(c("q1"), c("q2"), strict=False).alias("uqq"),
    ).collect()[0]
    assert_block(row.ii_same, "interval", start=1, end=2, axis="y",
                 canvas_height=30, canvas_width=400)
    assert_block(row.ii_cross, "rectangle", x_1=1, y_1=1, x_2=2, y_2=2)
    # intersect keeps SELF's canvas (test_elements.py:345)
    assert_block(row.ii_canvas, "interval", start=1, end=2, axis="y",
                 canvas_height=30, canvas_width=400)
    assert_block(row.uu_same, "interval", start=1, end=2, axis="y",
                 canvas_height=30, canvas_width=400)
    # I×R (test_elements.py:352-355)
    assert_block(row.ir, "rectangle", x_1=0.5, y_1=1, x_2=2.5, y_2=1.5)
    assert_block(row.i2r, "rectangle", x_1=1, y_1=0.5, x_2=2, y_2=1.5)
    assert_block(row.ur, "rectangle", x_1=0.5, y_1=0.5, x_2=2.5, y_2=2)
    assert_block(row.u2r, "rectangle", x_1=0.5, y_1=0.5, x_2=2.5, y_2=1.5)
    # I×Q strict=False (test_elements.py:363-366)
    assert_block(row.iq, "rectangle", x_1=1, y_1=1, x_2=2.5, y_2=2)
    assert_block(row.uq, "rectangle", x_1=1, y_1=1, x_2=2.5, y_2=3)
    assert_block(row.i2q, "rectangle", x_1=1, y_1=1, x_2=2, y_2=3)
    assert_block(row.u2q, "rectangle", x_1=1, y_1=1, x_2=2.5, y_2=3)
    # R×I == I×R intersect symmetry (test_elements.py:369)
    assert row.ri.asDict() == row.ir.asDict()
    # R×R (test_elements.py:372-373)
    assert_block(row.rr, "rectangle", x_1=0.5, y_1=0.5, x_2=2, y_2=1.5)
    assert row.rr.asDict() == row.rr2.asDict()
    assert_block(row.urr, "rectangle", x_1=0.5, y_1=0.5, x_2=2.5, y_2=2.5)
    # R×Q strict=False (test_elements.py:380-383)
    assert_block(row.rq, "rectangle", x_1=1, y_1=1, x_2=2.5, y_2=1.5)
    assert_block(row.urq, "rectangle", x_1=0.5, y_1=0.5, x_2=2.5, y_2=3)
    # Q×I == I×Q (test_elements.py:392-393) — incl. union (true union, not
    # the Rectangle.union bug)
    assert row.qi.asDict() == row.iq.asDict()
    assert row.uqi.asDict() == row.uq.asDict()
    # Q×R == R×Q (test_elements.py:396-397)
    assert row.qr.asDict() == row.rq.asDict()
    assert row.uqr.asDict() == row.urq.asDict()
    # Q×Q (test_elements.py:400-403)
    assert_block(row.qq, "rectangle", x_1=1, y_1=1, x_2=2, y_2=2.5)
    assert_block(row.uqq, "rectangle", x_1=0.5, y_1=0.5, x_2=2.5, y_2=3)


def test_union_interval_bug_compat(ev):
    """Rectangle.union(Interval) returns other.intersect(self) — reference
    bug at layout_elements.py:692-693, replicated under compat=True."""
    I_1, I_2, I_3, R_1, R_2, Q_1, Q_2 = _shapes()
    row = ev(
        union(R_1, I_1).alias("bug"),
        intersect(I_1, R_1).alias("i_r"),
        union(R_1, I_1, compat=False).alias("fixed"),
        union(I_1, R_1).alias("true_union"),
    )
    assert row.bug.asDict() == row.i_r.asDict()
    assert row.fixed.asDict() == row.true_union.asDict()


def test_strict_mode_errors(spark):
    """strict=True + Quadrilateral raises; cross-axis interval union raises
    (test_elements.py:349-350, 358-361, 376-378, 386-390)."""
    I_1, I_2, I_3, R_1, R_2, Q_1, Q_2 = _shapes()
    for expr in (
        intersect(I_1, Q_1),
        union(I_1, Q_1),
        intersect(Q_1, R_1),
        union(I_1, I_2),
    ):
        with pytest.raises(Exception) as exc:
            spark.range(1).select(expr.alias("x")).collect()
        assert "layoutparser" in str(exc.value) or "not allowed" in str(
            exc.value
        )


def test_is_in_clamps_negative_coords_like_pad_safe_mode(spark):
    """is_in pads `other` with safe_mode=True even for an EMPTY margin
    (reference layout_elements.py:271/623/984): negative coordinates —
    natural after relative_to — are clamped to 0 before containment."""
    # rect other with negative x_1: clamped region becomes [0,0]x[5,5],
    # so a block at x<0 is NOT inside it, but a block in [0,5]^2 is
    b_neg = S.rectangle(-4.0, 1.0, -1.0, 2.0)
    b_pos = S.rectangle(1.0, 1.0, 3.0, 3.0)
    other = S.rectangle(-5.0, 0.0, 5.0, 5.0)
    # interval other with negative start clamps to 0
    iv = S.interval(-10.0, 4.0, axis="x")
    row = (
        spark.range(1)
        .select(
            b_neg.alias("bn"), b_pos.alias("bp"),
            other.alias("o"), iv.alias("iv"),
        )
        .select(
            is_in(F.col("bn"), F.col("o")).alias("neg_in"),
            is_in(F.col("bp"), F.col("o")).alias("pos_in"),
            is_in(F.col("bp"), F.col("iv")).alias("pos_in_iv"),
            is_in(F.col("bn"), F.col("iv")).alias("neg_in_iv"),
        )
        .collect()[0]
    )
    assert row.neg_in is False      # x_1=-4 < clamped 0
    assert row.pos_in is True
    assert row.pos_in_iv is True    # [1,3] within clamped [0,4]
    assert row.neg_in_iv is False
