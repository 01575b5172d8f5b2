"""Reading-order recovery: recursive XY-cut (SURVEY §2.10).

The reference documents reading order as a recipe, not a function
(docs/example/deep_layout_parsing/index.rst): split columns with
``lp.Interval(0, w/2*1.05, axis='x')`` + ``filter_by(center=True)``, sort
each column by ``coordinates[1]``, concatenate.  The engine generalizes the
recipe to a recursive XY-cut — alternating-axis largest-gap splitting over
block projections — whose degenerate case IS the 2-column recipe.

Two implementations:

* ``xy_cut_joined`` — pandas UDF (UDF slot #3): per-document numpy
  recursion over the block bboxes, fused with the ' '-join so one string
  per document crosses the Arrow boundary.
* ``reading_order_columnar`` — the pure-expression fallback:
  ``array_sort`` by (column-bucket, y_1, x_1), exactly the documented
  2-column recipe.
"""

from __future__ import annotations

from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

GAP_EPS = 0.5  # minimum projection gap (px) that constitutes a cut


def xy_cut_indices(
    x1: np.ndarray, y1: np.ndarray, x2: np.ndarray, y2: np.ndarray
) -> List[int]:
    """Recursive XY-cut over bboxes → reading-order permutation.

    At each level try a vertical cut (x-gaps) first, then horizontal;
    groups are visited in ascending coordinate order; leaves sort by
    (y1, x1).  Deterministic for any input."""
    n = len(x1)
    out: List[int] = []

    def split(ids: np.ndarray, lo: np.ndarray, hi: np.ndarray):
        """Partition ids into >1 groups separated by projection gaps, in
        ascending order; None if no gap."""
        order = ids[np.argsort(lo[ids], kind="stable")]
        groups = []
        cur = [order[0]]
        cur_max = hi[order[0]]
        for i in order[1:]:
            if lo[i] - cur_max > GAP_EPS:
                groups.append(np.array(cur))
                cur = [i]
                cur_max = hi[i]
            else:
                cur.append(i)
                cur_max = max(cur_max, hi[i])
        groups.append(np.array(cur))
        return groups if len(groups) > 1 else None

    # explicit work stack (not recursion): a pathological page with deeply
    # nested alternating x/y gap structure would otherwise hit Python's
    # recursion limit inside the hot extraction UDF and fail the Spark task
    if n:
        stack = [(np.arange(n), True)]
        while stack:
            ids, try_x_first = stack.pop()
            if len(ids) == 1:
                out.append(int(ids[0]))
                continue
            axes = (
                ((x1, x2), (y1, y2)) if try_x_first else ((y1, y2), (x1, x2))
            )
            for lo, hi in axes:
                groups = split(ids, lo, hi)
                if groups is not None:
                    cut_was_x = lo is x1
                    # LIFO stack: push groups reversed so they are visited
                    # in ascending coordinate order; after a vertical cut
                    # recurse horizontally and v.v.
                    for g in reversed(groups):
                        stack.append((g, not cut_was_x))
                    break
            else:
                # no gap on either axis: stable sort by (y1, x1)
                order = ids[np.lexsort((x1[ids], y1[ids]))]
                out.extend(int(i) for i in order)
    return out


def _make_joined_udf():
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def xy_cut_joined_udf(
        xs1: pd.Series,
        ys1: pd.Series,
        xs2: pd.Series,
        ys2: pd.Series,
        texts: pd.Series,
    ) -> pd.Series:
        res = []
        for a, b, c, d, t in zip(xs1, ys1, xs2, ys2, texts):
            if a is None or len(a) == 0:
                res.append("")
                continue
            order = xy_cut_indices(
                np.asarray(a, dtype="float64"),
                np.asarray(b, dtype="float64"),
                np.asarray(c, dtype="float64"),
                np.asarray(d, dtype="float64"),
            )
            res.append(" ".join(t[i] for i in order if t[i]))
        return pd.Series(res)

    return xy_cut_joined_udf


_joined_udf = None


def xy_cut_joined(xs1, ys1, xs2, ys2, texts) -> Column:
    """XY-cut order + ' '-join fused in one UDF returning the final
    string (the extraction hot path — one scalar out instead of an
    array)."""
    global _joined_udf
    if _joined_udf is None:
        _joined_udf = _make_joined_udf()
    return _joined_udf(xs1, ys1, xs2, ys2, texts)


def reading_order_columnar(blocks: Column, page_w: Column) -> Column:
    """Pure-expression fallback: the documented 2-column recipe — bucket by
    center_x vs ``w/2*1.05`` then sort (bucket, y_1, x_1).  No Python."""
    half = page_w / 2.0 * 1.05

    def cmp(a, b):
        a_bucket = ((a["x_1"] + a["x_2"]) / 2.0 > half).cast("int")
        b_bucket = ((b["x_1"] + b["x_2"]) / 2.0 > half).cast("int")
        ka = F.struct(a_bucket.alias("c"), a["y_1"].alias("y"), a["x_1"].alias("x"))
        kb = F.struct(b_bucket.alias("c"), b["y_1"].alias("y"), b["x_1"].alias("x"))
        return F.when(ka < kb, -1).when(ka > kb, 1).otherwise(0)

    return F.array_sort(blocks, cmp)
