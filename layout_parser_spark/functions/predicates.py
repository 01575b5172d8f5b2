"""Geometric predicates & set-ops as Column expressions (SURVEY §2.3).

``is_in`` is the engine's range/interval-join predicate: region filtering
(``Layout.filter_by``) is a spatial semi-join of blocks against (broadcast)
regions built from this expression.  ``intersect``/``union`` are the
box-algebra used by the grouping tools' union-reduce aggregation.

Reference quirks replicated on purpose (``compat=True``):

* ``Rectangle.union(Interval)`` actually calls ``other.intersect(self)``
  and therefore returns the INTERSECTION — a reference bug
  (layout_elements.py:692-693, untested upstream).  ``compat=False``
  computes the true union.
* ``Interval.intersect(Interval)`` on the same axis keeps *self's* canvas
  dims (:310-316); cross-axis intersect of x×y builds a Rectangle
  (:303-308).
* ``union`` of cross-axis intervals raises ``InvalidShapeError``
  (:342-346); any strict-mode op touching a Quadrilateral raises
  ``NotSupportedShapeError`` (:325-334 etc.).  Both surface at execution
  time via ``raise_error`` (the reference also raises at call time — its
  calls ARE execution).
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import schema as S
from ..schema import INTERVAL, QUADRILATERAL, RECTANGLE
from .geometry import (
    center_x,
    center_y,
    coordinates,
    coords4,
    interval_center,
    is_interval,
    is_quadrilateral,
    is_rectangle,
    px,
    py,
    rect_points,
)
from .transforms import _stable_rank, pad, to_rectangle

__all__ = ["is_in", "intersect", "union", "vertice_in_polygon_expr"]


class NotSupportedShapeError(ValueError):
    """Mirror of layoutparser.errors.NotSupportedShapeError
    (errors.py:15-21)."""


class InvalidShapeError(ValueError):
    """Mirror of layoutparser.errors.InvalidShapeError (errors.py:23-26)."""


def _err(result_type, msg: str) -> Column:
    return F.raise_error(F.lit(msg)).cast(result_type)


def vertice_in_polygon_expr(vx: Column, vy: Column, poly) -> Column:
    """Point-in-convex-polygon via 4 cross-product sign tests —
    ``vertice_in_polygon`` (elements/utils.py:57-65): shift the polygon's
    clockwise points to the vertex origin, then require
    det(p_i, p_{i+1}) >= 0 for all consecutive pairs (with wraparound).

    ``poly`` is the 8-element points array Column, or the list of its 8
    scalar coordinate expressions (``is_in`` passes the padded points
    that way, to keep its expression tree on scalar leaves)."""
    pts = (
        poly
        if isinstance(poly, (list, tuple))
        else [F.element_at(poly, i + 1) for i in range(8)]
    )
    sx = [pts[2 * i] - vx for i in range(4)]
    sy = [pts[2 * i + 1] - vy for i in range(4)]
    conds = []
    for i in range(4):
        j = (i + 1) % 4
        conds.append((sx[i] * sy[j] - sy[i] * sx[j]) >= 0)
    return conds[0] & conds[1] & conds[2] & conds[3]


def _padded_parts(other: Column, soft_margin: Optional[dict]):
    """Scalar-leaf computation of ``other.pad(**soft_margin)``'s geometry:
    (start, end, ox1, oy1, ox2, oy2, padded_points[8]).

    Why not ``pad(other)`` + ``coordinates(...)``: composing full-struct
    rebuilds and then extracting fields duplicates the whole padded subtree
    per reference, which blows the Catalyst expression tree up
    combinatorially.  ``is_in`` is the engine's hot join predicate, so it is
    built from small scalar expressions over raw field references instead.
    Semantics identical to pad() with safe_mode=True (the reference default
    used by is_in, layout_elements.py:271/623/984).
    """
    sm = soft_margin or {}
    left = F.lit(float(sm.get("left", 0)))
    right = F.lit(float(sm.get("right", 0)))
    top = F.lit(float(sm.get("top", 0)))
    bottom = F.lit(float(sm.get("bottom", 0)))
    zero = F.lit(0.0)
    padded = bool(sm)

    # the reference's is_in always calls other.pad(**soft_margin) with
    # safe_mode=True (layout_elements.py:271/623/984), so the clamp-at-0
    # applies even for an EMPTY margin — negative coordinates (natural
    # after relative_to) are clamped unconditionally

    # interval: pad along own axis, clamp start at 0
    i_start = F.when(other["axis"] == "x", other["start"] - left).otherwise(
        other["start"] - top
    )
    i_end = F.when(other["axis"] == "x", other["end"] + right).otherwise(
        other["end"] + bottom
    )
    i_start = F.greatest(zero, i_start)

    # rectangle: clamp x_1,y_1 at 0
    r_x1, r_y1 = other["x_1"] - left, other["y_1"] - top
    r_x1, r_y1 = F.greatest(zero, r_x1), F.greatest(zero, r_y1)
    r_x2, r_y2 = other["x_2"] + right, other["y_2"] + bottom

    # quadrilateral: rank-order padded points (rank math skipped for an
    # empty margin — the clamp alone is equivalent when all pads are 0)
    qxs = [F.element_at(other["points"], 2 * i + 1) for i in range(4)]
    qys = [F.element_at(other["points"], 2 * i + 2) for i in range(4)]
    if padded:
        xr = _stable_rank(qxs)
        yr = _stable_rank(qys)
        pxs, pys = [], []
        for i in range(4):
            nx = qxs[i] + F.when(xr[i] <= 1, -left).otherwise(right)
            ny = qys[i] + F.when(yr[i] <= 1, -top).otherwise(bottom)
            pxs.append(F.greatest(zero, nx))
            pys.append(F.greatest(zero, ny))
    else:
        pxs = [F.greatest(zero, x) for x in qxs]
        pys = [F.greatest(zero, y) for y in qys]

    # promoted bbox coordinates of the padded other
    ii_x1 = F.when(other["axis"] == "x", i_start).otherwise(zero)
    ii_y1 = F.when(other["axis"] == "x", zero).otherwise(i_start)
    ii_x2 = F.when(other["axis"] == "x", i_end).otherwise(
        other["canvas_width"]
    )
    ii_y2 = F.when(other["axis"] == "x", other["canvas_height"]).otherwise(
        i_end
    )
    ox1 = (
        F.when(is_interval(other), ii_x1)
        .when(is_rectangle(other), r_x1)
        .otherwise(F.least(*pxs))
    )
    oy1 = (
        F.when(is_interval(other), ii_y1)
        .when(is_rectangle(other), r_y1)
        .otherwise(F.least(*pys))
    )
    ox2 = (
        F.when(is_interval(other), ii_x2)
        .when(is_rectangle(other), r_x2)
        .otherwise(F.greatest(*pxs))
    )
    oy2 = (
        F.when(is_interval(other), ii_y2)
        .when(is_rectangle(other), r_y2)
        .otherwise(F.greatest(*pys))
    )
    pts = []
    for i in range(4):
        pts.extend([pxs[i], pys[i]])
    return i_start, i_end, ox1, oy1, ox2, oy2, pts


def is_in(
    b: Column,
    other: Column,
    soft_margin: Optional[dict] = None,
    center: bool = False,
) -> Column:
    """Containment predicate, full 3×3 type-dispatch matrix
    (layout_elements.py:268-297 Interval, :620-657 Rectangle, :981-1018
    Quadrilateral; TextBlock delegates :1272-1273).

    ``soft_margin`` pre-pads ``other`` (safe_mode=True, the ``pad``
    default); ``center=True`` tests only the midpoint.
    """
    o_start, o_end, ox1, oy1, ox2, oy2, o_pts = _padded_parts(
        other, soft_margin
    )

    # ---- self is Interval -------------------------------------------------
    ic = interval_center(b)
    if center:
        i_in_i = (
            (b["axis"] == other["axis"]) & (o_start <= ic) & (ic <= o_end)
        )
        i_in_rq = F.when(
            b["axis"] == "x", (ox1 <= ic) & (ic <= ox2)
        ).otherwise((oy1 <= ic) & (ic <= oy2))
    else:
        i_in_i = (
            (b["axis"] == other["axis"])
            & (o_start <= b["start"])
            & (b["start"] <= b["end"])
            & (b["end"] <= o_end)
        )
        i_in_rq = F.when(
            b["axis"] == "x",
            (ox1 <= b["start"]) & (b["start"] <= b["end"]) & (b["end"] <= ox2),
        ).otherwise(
            (oy1 <= b["start"]) & (b["start"] <= b["end"]) & (b["end"] <= oy2)
        )
    i_case = F.when(is_interval(other), i_in_i).otherwise(i_in_rq)

    # ---- self is Rectangle / Quadrilateral --------------------------------
    # scalar-leaf bbox of self (same shape-dispatch as geometry.coordinates)
    sxs = [F.element_at(b["points"], 2 * i + 1) for i in range(4)]
    sys_ = [F.element_at(b["points"], 2 * i + 2) for i in range(4)]
    bx1 = F.when(is_rectangle(b), b["x_1"]).otherwise(F.least(*sxs))
    by1 = F.when(is_rectangle(b), b["y_1"]).otherwise(F.least(*sys_))
    bx2 = F.when(is_rectangle(b), b["x_2"]).otherwise(F.greatest(*sxs))
    by2 = F.when(is_rectangle(b), b["y_2"]).otherwise(F.greatest(*sys_))
    cx = F.when(
        is_rectangle(b), (b["x_1"] + b["x_2"]) / 2.0
    ).otherwise((sxs[0] + sxs[1] + sxs[2] + sxs[3]) / 4.0)
    cy = F.when(
        is_rectangle(b), (b["y_1"] + b["y_2"]) / 2.0
    ).otherwise((sys_[0] + sys_[1] + sys_[2] + sys_[3]) / 4.0)

    if center:
        rq_in_i = F.when(
            other["axis"] == "x", (o_start <= cx) & (cx <= o_end)
        ).otherwise((o_start <= cy) & (cy <= o_end))
        rq_in_r = (ox1 <= cx) & (cx <= ox2) & (oy1 <= cy) & (cy <= oy2)
        rq_in_q = vertice_in_polygon_expr(cx, cy, o_pts)
    else:
        rq_in_i = F.when(
            other["axis"] == "x",
            (o_start <= bx1) & (bx1 <= bx2) & (bx2 <= o_end),
        ).otherwise((o_start <= by1) & (by1 <= by2) & (by2 <= o_end))
        # Rectangle decomposes into the two interval tests
        # (layout_elements.py:636-641, :997-1002).
        rq_in_r = (
            (ox1 <= bx1)
            & (bx1 <= bx2)
            & (bx2 <= ox2)
            & (oy1 <= by1)
            & (by1 <= by2)
            & (by2 <= oy2)
        )
        # all 4 of self's (corner) points inside the convex quad
        # (layout_elements.py:645-652, :1007-1014).  Corner points of a
        # rect self are (x1,y1),(x2,y1),(x2,y2),(x1,y2); a quad self uses
        # its own points.
        corner_x = [bx1, bx2, bx2, bx1]
        corner_y = [by1, by1, by2, by2]
        vx = [
            F.when(is_quadrilateral(b), sxs[i]).otherwise(corner_x[i])
            for i in range(4)
        ]
        vy = [
            F.when(is_quadrilateral(b), sys_[i]).otherwise(corner_y[i])
            for i in range(4)
        ]
        rq_in_q = F.lit(True)
        for i in range(4):
            rq_in_q = rq_in_q & vertice_in_polygon_expr(vx[i], vy[i], o_pts)

    rq_case = (
        F.when(is_interval(other), rq_in_i)
        .when(is_rectangle(other), rq_in_r)
        .otherwise(rq_in_q)
    )

    return F.when(is_interval(b), i_case).otherwise(rq_case)


_QUAD_MSG = (
    "The intersection between a Quadrilateral and other objects might "
    "generate Polygon shapes that are not supported; pass strict=False to "
    "downcast to Rectangle (cf. layoutparser NotSupportedShapeError)"
)
_AXIS_MSG = (
    "Unioning two intervals of different axes is not allowed "
    "(cf. layoutparser InvalidShapeError)"
)


def _combine(
    b: Column,
    other: Column,
    strict: bool,
    is_union: bool,
    compat: bool = True,
) -> Column:
    """Shared field-wise body of intersect/union.

    Built as ONE struct whose fields are small when-chains — NOT a
    when-chain over full struct builds: the latter generates thousands of
    expression nodes per row, whose generated code exceeds JIT limits and
    runs ~100× slower (see tests/perf notes in the repo history).

    Case analysis (strict=False downcasts quads to their bbox, which is
    exactly what ``coords4`` yields — so the rectangle formulas below
    already cover downcast quads):

    * I×I same axis → interval combine, keeping SELF's canvas (:310-316 /
      :347-354); cross-axis: intersect → Rectangle(:303-308), union →
      InvalidShapeError (:342-346).
    * I×R(-ish) → clamp/extend the matching axis band (:312-323/:360-371).
    * R(-ish)×I → intersect: delegates to other.intersect(self), same
      formula (:662-663); union compat=True: the Rectangle.union(Interval)
      BUG returns other.intersect(self) (:692-693) — applied ONLY when b
      is a true rectangle (a downcast quad routes through
      Interval.union(Rectangle), the TRUE union, :1049-1053 → :360-371).
    * R(-ish)×R(-ish) → corner-wise greatest/least.
    """
    bi, oi = is_interval(b), is_interval(other)
    bq = is_quadrilateral(b)
    lo, hi = (F.least, F.greatest) if is_union else (F.greatest, F.least)

    ii = bi & oi
    same_axis = b["axis"] == other["axis"]
    ii_same = ii & same_axis
    nd = F.lit(None).cast("double")

    bc1, bc2, bc3, bc4 = coords4(b)
    oc1, oc2, oc3, oc4 = coords4(other)

    block_type = F.when(ii_same, F.lit(INTERVAL)).otherwise(F.lit(RECTANGLE))
    start = F.when(ii_same, lo(b["start"], other["start"])).otherwise(nd)
    end = F.when(ii_same, hi(b["end"], other["end"])).otherwise(nd)
    axis = F.when(ii_same, b["axis"]).otherwise(F.lit(None).cast("string"))
    canvas_h = F.when(ii_same, b["canvas_height"]).otherwise(nd)
    canvas_w = F.when(ii_same, b["canvas_width"]).otherwise(nd)

    # I×I cross-axis rectangle (intersect only): x-interval supplies x,
    # y-interval supplies y
    iix1 = F.when(b["axis"] == "x", b["start"]).otherwise(other["start"])
    iiy1 = F.when(b["axis"] == "x", other["start"]).otherwise(b["start"])
    iix2 = F.when(b["axis"] == "x", b["end"]).otherwise(other["end"])
    iiy2 = F.when(b["axis"] == "x", other["end"]).otherwise(b["end"])

    # union r_i bug handling: pick the combiner per row
    if is_union and compat:
        # true union for quad-b, bug (intersection) for rect-b
        def ri_lo(x, y):
            return F.when(bq, F.least(x, y)).otherwise(F.greatest(x, y))

        def ri_hi(x, y):
            return F.when(bq, F.greatest(x, y)).otherwise(F.least(x, y))

    else:
        ri_lo, ri_hi = lo, hi

    def _fields(i):
        """output rect coord #i (1..4) per case."""
        # I × rect-ish: combine along b.axis, take other's other-axis
        if i == 1:
            i_r = F.when(b["axis"] == "x", lo(oc1, b["start"])).otherwise(oc1)
            r_i = F.when(
                other["axis"] == "x", ri_lo(bc1, other["start"])
            ).otherwise(bc1)
            r_r = lo(bc1, oc1)
            ii_c = iix1
        elif i == 2:
            i_r = F.when(b["axis"] == "x", oc2).otherwise(lo(oc2, b["start"]))
            r_i = F.when(other["axis"] == "x", bc2).otherwise(
                ri_lo(bc2, other["start"])
            )
            r_r = lo(bc2, oc2)
            ii_c = iiy1
        elif i == 3:
            i_r = F.when(b["axis"] == "x", hi(oc3, b["end"])).otherwise(oc3)
            r_i = F.when(
                other["axis"] == "x", ri_hi(bc3, other["end"])
            ).otherwise(bc3)
            r_r = hi(bc3, oc3)
            ii_c = iix2
        else:
            i_r = F.when(b["axis"] == "x", oc4).otherwise(hi(oc4, b["end"]))
            r_i = F.when(other["axis"] == "x", bc4).otherwise(
                ri_hi(bc4, other["end"])
            )
            r_r = hi(bc4, oc4)
            ii_c = iiy2
        return (
            F.when(ii_same, nd)
            .when(ii, ii_c)
            .when(bi, i_r)
            .when(oi, r_i)
            .otherwise(r_r)
        )

    geom = S.make_block(
        block_type=block_type,
        start=start,
        end=end,
        axis=axis,
        canvas_height=canvas_h,
        canvas_width=canvas_w,
        x_1=_fields(1),
        y_1=_fields(2),
        x_2=_fields(3),
        y_2=_fields(4),
    )
    result = S.with_meta(geom, b)

    quad_involved = is_quadrilateral(b) | is_quadrilateral(other)
    if strict:
        result = F.when(
            quad_involved, _err(S.TEXTBLOCK, _QUAD_MSG)
        ).otherwise(result)
    if is_union:
        # cross-axis interval∪interval raises (InvalidShapeError, :342-346)
        result = F.when(
            ii & ~same_axis, _err(S.TEXTBLOCK, _AXIS_MSG)
        ).otherwise(result)
    return result


def intersect(b: Column, other: Column, strict: bool = True) -> Column:
    """Shape intersection (layout_elements.py:299-337 Interval, :659-687
    Rectangle, :1020-1040 Quadrilateral).  Metadata of ``b`` is preserved
    (TextBlock delegation).  strict=True + any Quadrilateral → runtime
    error, matching the reference raise; strict=False downcasts quads to
    their bounding rectangle."""
    return _combine(b, other, strict=strict, is_union=False)


def union(
    b: Column, other: Column, strict: bool = True, compat: bool = True
) -> Column:
    """Minimal covering shape (layout_elements.py:339-375, :689-715,
    :1042-1061).

    ``compat=True`` replicates the reference bug where
    ``Rectangle.union(Interval)`` returns ``other.intersect(self)``
    (:692-693) — i.e. the intersection.  ``compat=False`` computes the
    true union.  Cross-axis interval∪interval raises (``InvalidShapeError``,
    :342-346); strict + Quadrilateral raises as in ``intersect``."""
    return _combine(b, other, strict=strict, is_union=True, compat=compat)
