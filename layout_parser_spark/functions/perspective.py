"""Perspective transforms for Quadrilateral condition_on / relative_to —
the ONE geometry family that cannot be a closed-form Column expression
(SURVEY §2.2, "quad case → pandas UDF").

The reference computes a homography with cv2 (``Quadrilateral.
perspective_matrix``, layout_elements.py:907-931, and
``perspective_transformation``, elements/utils.py:42-54).  cv2 is not a
dependency here, so the 3×3 homography is solved directly as the standard
8×8 linear system (public textbook math — identical result to
``cv2.getPerspectiveTransform``).  All work is numpy-vectorized inside an
Arrow-batched pandas UDF; never per-row Python UDFs.

Deviation: a degenerate ``other`` quad — its 8×8 system singular, or for
condition_on its M singular — gives NULL points on its own row, and the
other rows of the batch are solved as usual.  The reference raises there
(``np.linalg.inv`` in condition_on), which in Spark would fail the task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType
from pyspark.sql.functions import pandas_udf

__all__ = [
    "transform_points_quad",
    "condition_on_quad",
    "relative_to_quad",
    "condition_on_any",
    "relative_to_any",
]


def _mapped_rectangle_points(
    points: np.ndarray, width: np.ndarray, height: np.ndarray
) -> np.ndarray:
    """``Quadrilateral.mapped_rectangle_points`` (layout_elements.py:907-914)
    over a stack: (N,4,2) points, (N,) widths/heights → (N,4,2) target
    rectangle corners, assigned by each point's stable coordinate rank
    (``map_to_points_ordering``, :920-931)."""
    order = points.argsort(axis=1, kind="stable").argsort(
        axis=1, kind="stable"
    )
    far = np.stack([width, height], axis=-1)[:, None, :]
    return np.where(order <= 1, 0.0, far)


def perspective_matrices(src: np.ndarray, dst: np.ndarray):
    """(N,4,2) point pairs → ((N,3,3) homographies M with dst ~ M @ src,
    (N,) mask of the rows solved) — ``cv2.getPerspectiveTransform`` as the
    standard 8×8 linear system, one stacked ``np.linalg.solve`` for the
    whole batch (~20× N per-row solves on 2k-row batches).  A row whose
    system is singular (numerically rank-deficient: a degenerate quad with
    collinear or repeated points) is left out of the solve and masked
    False; its M is NaN."""
    n = src.shape[0]
    A = np.zeros((n, 8, 8))
    x, y = src[:, :, 0], src[:, :, 1]
    u, v = dst[:, :, 0], dst[:, :, 1]
    A[:, 0::2, 0] = x
    A[:, 0::2, 1] = y
    A[:, 0::2, 2] = 1.0
    A[:, 0::2, 6] = -u * x
    A[:, 0::2, 7] = -u * y
    A[:, 1::2, 3] = x
    A[:, 1::2, 4] = y
    A[:, 1::2, 5] = 1.0
    A[:, 1::2, 6] = -v * x
    A[:, 1::2, 7] = -v * y
    rhs = dst.reshape(n, 8)
    # a rank test, not LU pivots: on rank-deficient systems whether LU
    # meets an exact zero pivot depends on rounding
    ok = np.linalg.matrix_rank(A) == 8
    M = np.full((n, 3, 3), np.nan)
    M[:, 2, 2] = 1.0
    M.reshape(n, 9)[ok, :8] = np.linalg.solve(A[ok], rhs[ok, :, None])[..., 0]
    return M, ok


def _batched_transform(
    spts: np.ndarray,
    opts: np.ndarray,
    ow: np.ndarray,
    oh: np.ndarray,
    is_inv: bool,
):
    """``perspective_transformation`` (elements/utils.py:42-54) with
    ``other``'s perspective matrix — the body of Quadrilateral.condition_on/
    relative_to (layout_elements.py:946-955, :972-979) — over a whole Arrow
    batch: (N,4,2) self/other point stacks → ((N,4,2) transformed points,
    (N,) mask of the rows transformed).  is_inv=True ⇒ condition_on, which
    also masks out rows whose M is singular."""
    # width/height defaults: bbox extents where the property is NaN
    # (Quadrilateral.height/width, layout_elements.py:838-862)
    bw = opts[:, :, 0].max(axis=1) - opts[:, :, 0].min(axis=1)
    bh = opts[:, :, 1].max(axis=1) - opts[:, :, 1].min(axis=1)
    ow = np.where(np.isnan(ow), bw, ow)
    oh = np.where(np.isnan(oh), bh, oh)
    dst = _mapped_rectangle_points(opts, ow, oh)
    M, ok = perspective_matrices(opts, dst)
    if is_inv:
        ok[ok] = np.linalg.matrix_rank(M[ok]) == 3
        M[ok] = np.linalg.inv(M[ok])
    src_h = np.concatenate([spts, np.ones(spts.shape[:2] + (1,))], axis=2)
    out_h = np.einsum("nij,nkj->nki", M, src_h)  # (N,4,3)
    return out_h[:, :, :2] / out_h[:, :, 2:3], ok


def _make_transform_udf(is_inv: bool):
    @pandas_udf(ArrayType(DoubleType()))
    def _udf(
        self_points: pd.Series,
        other_points: pd.Series,
        other_width: pd.Series,
        other_height: pd.Series,
    ) -> pd.Series:
        # Pandas-UDF branches inside when() may be evaluated for
        # non-matching rows — tolerate null points (non-quad rows).
        n = len(self_points)
        sp_arr = self_points.to_numpy(dtype="object")
        op_arr = other_points.to_numpy(dtype="object")
        valid = np.fromiter(
            (sp_arr[i] is not None and op_arr[i] is not None for i in range(n)),
            dtype=bool,
            count=n,
        )
        rows: list = [None] * n
        if valid.any():
            idx = np.flatnonzero(valid)
            # np.array over the list-of-arrays column is C-speed; the
            # per-row np.asarray comprehension this replaces was 10× the
            # batched solve itself
            spts = np.array(list(sp_arr[idx]), dtype="float64").reshape(
                -1, 4, 2
            )
            opts = np.array(list(op_arr[idx]), dtype="float64").reshape(
                -1, 4, 2
            )
            ow = other_width.to_numpy(dtype="float64", na_value=np.nan)[idx]
            oh = other_height.to_numpy(dtype="float64", na_value=np.nan)[idx]
            res, ok = _batched_transform(spts, opts, ow, oh, is_inv)
            flat = res.reshape(len(idx), 8).tolist()
            for j, i in enumerate(idx):
                if ok[j]:
                    rows[i] = flat[j]
        return pd.Series(rows, dtype="object")

    return _udf


_condition_udf = None
_relative_udf = None


def transform_points_quad(
    self_points: Column,
    other_points: Column,
    other_width: Column,
    other_height: Column,
    is_inv: bool,
) -> Column:
    """Column wrapper: new flat 8-point array of ``self`` transformed by
    ``other``'s perspective matrix.  is_inv=True ⇒ condition_on semantics,
    False ⇒ relative_to."""
    global _condition_udf, _relative_udf
    if is_inv:
        if _condition_udf is None:
            _condition_udf = _make_transform_udf(True)
        u = _condition_udf
    else:
        if _relative_udf is None:
            _relative_udf = _make_transform_udf(False)
        u = _relative_udf
    return u(
        self_points,
        other_points,
        other_width.cast("double"),
        other_height.cast("double"),
    )


def _quad_case(b: Column, other: Column, is_inv: bool) -> Column:
    """condition_on/relative_to when ``other`` is a Quadrilateral
    (layout_elements.py:240-243 Interval → promote to quad first; :580-588
    Rectangle; :946-955 / :972-979 Quadrilateral): transform self's (corner)
    points by other's perspective matrix; the result is a Quadrilateral
    carrying self's height/width property values (:588, :955).

    Built scalar-leaf (no nested struct rebuilds) — see transforms._cond_rel.
    """
    from .. import schema as S
    from ..schema import QUADRILATERAL
    from .geometry import is_interval, is_quadrilateral, is_rectangle

    # other is a quadrilateral here: its height/width properties
    oxs = [F.element_at(other["points"], 2 * i + 1) for i in range(4)]
    oys = [F.element_at(other["points"], 2 * i + 2) for i in range(4)]
    oh = F.coalesce(other["height"], F.greatest(*oys) - F.least(*oys))
    ow = F.coalesce(other["width"], F.greatest(*oxs) - F.least(*oxs))

    bi, br, bq = is_interval(b), is_rectangle(b), is_quadrilateral(b)

    # bbox of self promoted onto other's canvas (Interval.put_on_canvas →
    # coordinates; Rectangle keeps its corners)
    bx1 = F.when(
        bi, F.when(b["axis"] == "x", b["start"]).otherwise(F.lit(0.0))
    ).otherwise(b["x_1"])
    by1 = F.when(
        bi, F.when(b["axis"] == "x", F.lit(0.0)).otherwise(b["start"])
    ).otherwise(b["y_1"])
    bx2 = F.when(
        bi, F.when(b["axis"] == "x", b["end"]).otherwise(ow)
    ).otherwise(b["x_2"])
    by2 = F.when(
        bi, F.when(b["axis"] == "x", oh).otherwise(b["end"])
    ).otherwise(b["y_2"])

    corner_x = [bx1, bx2, bx2, bx1]
    corner_y = [by1, by1, by2, by2]
    src_pts = []
    for i in range(4):
        src_pts.append(
            F.when(bq, F.element_at(b["points"], 2 * i + 1)).otherwise(
                corner_x[i]
            )
        )
        src_pts.append(
            F.when(bq, F.element_at(b["points"], 2 * i + 2)).otherwise(
                corner_y[i]
            )
        )

    # self.height/width property values (quad: user value else bbox extent;
    # promoted interval/rect: bbox extent)
    bxs = [F.element_at(b["points"], 2 * i + 1) for i in range(4)]
    bys = [F.element_at(b["points"], 2 * i + 2) for i in range(4)]
    src_h = F.when(
        bq, F.coalesce(b["height"], F.greatest(*bys) - F.least(*bys))
    ).otherwise(by2 - by1)
    src_w = F.when(
        bq, F.coalesce(b["width"], F.greatest(*bxs) - F.least(*bxs))
    ).otherwise(bx2 - bx1)

    new_pts = transform_points_quad(
        F.array(*src_pts), other["points"], ow, oh, is_inv
    )
    geom = S.make_block(
        block_type=QUADRILATERAL, points=new_pts, height=src_h, width=src_w
    )
    return S.with_meta(geom, b)


def condition_on_quad(b: Column, other: Column) -> Column:
    return _quad_case(b, other, True)


def relative_to_quad(b: Column, other: Column) -> Column:
    return _quad_case(b, other, False)


def condition_on_any(b: Column, other: Column) -> Column:
    """Full-dispatch condition_on: columnar fast path for interval/rectangle
    ``other``, perspective UDF for quadrilateral ``other``."""
    from .geometry import is_quadrilateral
    from .transforms import condition_on

    return F.when(
        is_quadrilateral(other), condition_on_quad(b, other)
    ).otherwise(condition_on(b, other))


def relative_to_any(b: Column, other: Column) -> Column:
    from .geometry import is_quadrilateral
    from .transforms import relative_to

    return F.when(
        is_quadrilateral(other), relative_to_quad(b, other)
    ).otherwise(relative_to(b, other))
