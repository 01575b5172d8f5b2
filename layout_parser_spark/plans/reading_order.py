"""Reading-order recovery: recursive XY-cut (SURVEY §2.10).

The reference documents reading order as a recipe, not a function
(docs/example/deep_layout_parsing/index.rst): split columns with
``lp.Interval(0, w/2*1.05, axis='x')`` + ``filter_by(center=True)``, sort
each column by ``coordinates[1]``, concatenate.  The engine generalizes the
recipe to a recursive XY-cut — alternating-axis largest-gap splitting over
block projections — whose degenerate case IS the 2-column recipe.

``join_in_reading_order`` orders one page's blocks by XY-cut and
space-joins their texts.  The extraction kernel (plans/extract.py) calls
it per page inside its single Arrow stage; ``xy_cut_joined`` is the same
function as a pandas UDF over array columns, for main blocks that come out
of ``drop_boilerplate`` on the struct API.  The documented 2-column recipe
itself is kept by tests/oracle_extract.py, the independent oracle the
engine is checked against.
"""

from __future__ import annotations

from typing import List

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

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


def join_in_reading_order(x1, y1, x2, y2, texts) -> str:
    """One page's blocks in XY-cut order, non-empty texts ' '-joined."""
    if x1 is None or len(x1) == 0:
        return ""
    order = xy_cut_indices(
        np.asarray(x1, dtype="float64"),
        np.asarray(y1, dtype="float64"),
        np.asarray(x2, dtype="float64"),
        np.asarray(y2, dtype="float64"),
    )
    return " ".join(texts[i] for i in order if texts[i])


@pandas_udf(StringType())
def xy_cut_joined(
    xs1: pd.Series, ys1: pd.Series, xs2: pd.Series, ys2: pd.Series,
    texts: pd.Series,
) -> pd.Series:
    """``join_in_reading_order`` per row of five block-array columns."""
    return pd.Series(
        [join_in_reading_order(*page) for page in zip(xs1, ys1, xs2, ys2, texts)]
    )
