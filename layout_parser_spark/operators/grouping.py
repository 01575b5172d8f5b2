"""Grouping / aggregation tools (SURVEY §2.5; reference
``tools/shape_operations.py``).

The reference's generalized 1-D connected-component analysis builds an
O(n²) pairwise score matrix and runs scipy ``connected_components``
(shape_operations.py:25-77).  ``gcca_apply`` and ``detect_lines`` run the
SAME per-document algorithm as one kernel per document on
``transport.map_pages``, over the document's boxes collected by a
``groupBy`` — a graph op over one page is exactly the right granularity
for a Python island, and it is embarrassingly parallel across
documents.  Line detection stays near-linear on dense pages: its
candidate pairs come from a sweep over sorted y-centres that stops at
the edge of the y-tolerance band, so a page of n boxes costs
O(n log n + pairs in the band), not O(n²).  scipy is not a dependency: an
equivalent union-find produces identical components; component ORDER is
pinned to scipy's label order (first-appearance = ascending minimum member
index) and element order within a component is original sequence order.

Quirk replicated on purpose: ``simple_line_detection`` SWAPS the tolerance
kwargs at its call site — ``y_tolerance=x_tolerance, x_tolerance=
y_tolerance`` (shape_operations.py:126-130).  With both defaults = 10 the
swap is invisible; we pass it through verbatim for parity.
"""

from __future__ import annotations

from typing import Callable, Iterable, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField

from ..transport import map_pages


def connected_components_1d(
    n: int,
    edge_fn: Callable[[int, int], bool],
    pairs: Optional[Iterable[Tuple[int, int]]] = None,
) -> List[List[int]]:
    """Union-find over the candidate ``pairs`` for which ``edge_fn`` holds
    (default: every ``i < j`` pair, the reference's upper-triangle score
    matrix); returns components ordered by first appearance (ascending
    min index), members in original order — scipy-label-order compatible
    (shape_operations.py:63-77)."""
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    if pairs is None:
        pairs = ((i, j) for i in range(n) for j in range(i + 1, n))
    for i, j in pairs:
        if edge_fn(i, j):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)

    comps = {}
    for i in range(n):
        comps.setdefault(find(i), []).append(i)
    return [comps[k] for k in sorted(comps, key=lambda r: min(comps[r]))]


def gcca_1d(
    sequence: Sequence,
    scoring_func: Callable,
    aggregation_func: Optional[Callable] = None,
    default_score_value: int = 0,
) -> list:
    """``generalized_connected_component_analysis_1d``
    (shape_operations.py:25-77) — local list form, used directly by
    tests as the reference for the distributed kernels."""
    if aggregation_func is None:
        aggregation_func = lambda x: x  # noqa: E731 — identity, as reference
    comps = connected_components_1d(
        len(sequence),
        lambda i, j: scoring_func(sequence[i], sequence[j])
        != default_score_value,
    )
    return [aggregation_func([sequence[i] for i in comp]) for comp in comps]


def _union_boxes(boxes):
    """reduce-by-union over rectangle coord tuples
    (Rectangle.union, layout_elements.py:695-702)."""
    x1 = min(b[0] for b in boxes)
    y1 = min(b[1] for b in boxes)
    x2 = max(b[2] for b in boxes)
    y2 = max(b[3] for b in boxes)
    return (x1, y1, x2, y2)


def _line_close(x_tolerance: float, y_tolerance: float) -> Callable:
    """``simple_line_detection``'s edge test (shape_operations.py:110-124)
    over rectangle coord tuples: |yc_a − yc_b| ≤ y_tol AND the horizontal
    gap min(|left_a − right_b|, |right_a − left_b|) ≤ x_tol.

    The reference call site swaps the tolerances (:126-130); replicated:
    the effective y tolerance is ``x_tolerance`` and vice versa."""
    eff_y_tol, eff_x_tol = x_tolerance, y_tolerance  # the documented swap

    def close(a, b):
        ya = (a[1] + a[3]) / 2.0
        yb = (b[1] + b[3]) / 2.0
        return (
            abs(ya - yb) <= eff_y_tol
            and min(abs(a[0] - b[2]), abs(a[2] - b[0])) <= eff_x_tol
        )

    return close


def detect_lines_local(
    boxes: List[tuple], x_tolerance: float = 10, y_tolerance: float = 10
) -> List[tuple]:
    """``simple_line_detection`` (shape_operations.py:80-134) in its plain
    form: every pair scored, aggregation = union-reduce (:131).  The
    reference that ``detect_lines`` is tested against."""
    return gcca_1d(boxes, _line_close(x_tolerance, y_tolerance), _union_boxes)


def _line_components(
    boxes: List[tuple], x_tolerance: float, y_tolerance: float
) -> List[List[int]]:
    """``detect_lines_local``'s components, scoring only the pairs whose
    y-centres lie within the effective y tolerance (``x_tolerance``, the
    swap): a sweep over the sorted centres stops each scan at the first
    box past the band, so a page costs O(n log n + pairs in the band).
    No pair outside the band can pass ``_line_close``'s y test, so the
    components are those of all pairs."""
    close = _line_close(x_tolerance, y_tolerance)
    eff_y_tol = x_tolerance  # the documented swap
    yc = [(b[1] + b[3]) / 2.0 for b in boxes]
    # a NaN centre passes no y test, and it would break the sort order
    order = sorted(
        (i for i in range(len(boxes)) if yc[i] == yc[i]), key=yc.__getitem__
    )

    def band_pairs():
        for p, i in enumerate(order):
            for q in range(p + 1, len(order)):
                j = order[q]
                if yc[j] - yc[i] > eff_y_tol:
                    break
                yield i, j

    return connected_components_1d(
        len(boxes), lambda i, j: close(boxes[i], boxes[j]), band_pairs()
    )


def _per_document_cca(
    df: DataFrame,
    key_cols: List[str],
    id_col: str,
    components: Callable[[List[tuple]], List[List[int]]],
    comp_col: str,
    count_col: str,
    x1: str, y1: str, x2: str, y2: str,
) -> DataFrame:
    """The kernel frame of ``gcca_apply`` and ``detect_lines``: one
    ``groupBy(key_cols).agg(collect_list(…))`` row per document, then
    one per-document kernel on ``transport.map_pages`` that returns the
    document's components.  The keys pass through as JVM values, exact
    at any width.  Rows with a NULL (or NaN) key are dropped: they
    belong to no document.

    ``components`` maps one document's (x_1, y_1, x_2, y_2) tuples of
    floats (a NULL coordinate is NaN), in ascending ``id_col`` order
    with NULL ids last (hence the reference's first-appearance component
    order), to its components as index lists.  Aggregation =
    union-reduce (min/max corners; a NaN corner comes out NULL) + member
    count.

    Output: key_cols + (comp_col, x_1, y_1, x_2, y_2, count_col)."""
    # plan-build-time validation with the operator's own message
    missing = [c for c in key_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"key_cols {missing} not in input schema (have: {sorted(df.columns)})"
        )
    nan = float("nan")
    corners = ("x1", "y1", "x2", "y2")

    def kernel(members):
        members.sort(
            key=lambda m: (m["id"] is None, 0 if m["id"] is None else m["id"])
        )
        boxes = [
            tuple(nan if m[c] is None else m[c] for c in corners)
            for m in members
        ]
        out = []
        for ci, comp in enumerate(components(boxes)):
            u = _union_boxes([boxes[i] for i in comp])
            out.append((ci, *[None if v != v else v for v in u], len(comp)))
        return out

    docs = (
        df.dropna(subset=list(key_cols))
        .groupBy(*key_cols)
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    *[F.col(c).cast("double").alias(n)
                      for c, n in zip((x1, y1, x2, y2), corners)],
                )
            ).alias("_boxes")
        )
    )
    return map_pages(
        docs,
        kernel,
        ["_boxes"],
        [
            StructField(comp_col, IntegerType()),
            *[StructField(c, DoubleType()) for c in ("x_1", "y_1", "x_2", "y_2")],
            StructField(count_col, IntegerType()),
        ],
    )


def gcca_apply(
    df: DataFrame,
    key_cols: List[str],
    scoring_func: Callable,
    id_col: str = "block_id",
    default_score_value: int = 0,
    x1="x_1", y1="y_1", x2="x_2", y2="y_2",
) -> DataFrame:
    """Distributed ``generalized_connected_component_analysis_1d``
    (reference shape_operations.py:25-77) with an ARBITRARY Python
    scoring function — the generic slot: ``gcca_1d``'s union-find over
    every pair of a document's (x_1, y_1, x_2, y_2) tuples, run in the
    per-document kernel shared with ``detect_lines``.  ``scoring_func``
    gets the coordinates as floats, a NULL one as NaN.  A row with a
    NULL key column yields no row.

    Output: key_cols + (comp_id, x_1, y_1, x_2, y_2, n_blocks)."""

    def components(boxes):
        return connected_components_1d(
            len(boxes),
            lambda i, j: scoring_func(boxes[i], boxes[j])
            != default_score_value,
        )

    return _per_document_cca(
        df, key_cols, id_col, components, "comp_id", "n_blocks",
        x1, y1, x2, y2,
    )


def detect_lines(
    df: DataFrame,
    key_cols: List[str],
    id_col: str = "block_id",
    x_tolerance: float = 10,
    y_tolerance: float = 10,
    x1="x_1", y1="y_1", x2="x_2", y2="y_2",
) -> DataFrame:
    """``simple_line_detection`` (shape_operations.py:80-134) per
    document, tolerance swap included, in the kernel shared with
    ``gcca_apply``; the candidate pairs come from the y-centre sweep, so
    a dense page stays near-linear.  Per document it equals
    ``detect_lines_local`` (lines in the same order).  Coordinates reach
    the kernel as floats, a NULL one as NaN: a box with a NULL y
    coordinate has a NaN centre, stays out of the sweep and is a line of
    its own.  A row with a NULL key column yields no row.

    Output: key_cols + (line_id, x_1, y_1, x_2, y_2, n_tokens)."""
    return _per_document_cca(
        df, key_cols, id_col,
        lambda boxes: _line_components(boxes, x_tolerance, y_tolerance),
        "line_id", "n_tokens", x1, y1, x2, y2,
    )


def group_blocks_by_category(
    df: DataFrame, key_cols: List[str], type_col: str, pos_col: str,
    x1="x_1", y1="y_1", x2="x_2", y2="y_2",
) -> DataFrame:
    """``group_textblocks_based_on_category`` (shape_operations.py:137-167)
    over the EXPLODED view, expressed relationally: equality scoring is
    transitive, so CCA degenerates to GROUP BY type with (a) union-reduce =
    min/max corner aggregation and (b) component order = first appearance =
    ``min(pos)`` — a two-phase hash aggregate, no Python.

    Output: key_cols + (type, x_1, y_1, x_2, y_2, n_blocks, group_order)."""
    agg = df.groupBy(*key_cols, type_col).agg(
        F.min(x1).alias("x_1"),
        F.min(y1).alias("y_1"),
        F.max(x2).alias("x_2"),
        F.max(y2).alias("y_2"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.min(pos_col).alias("_first_pos"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy("_first_pos")
    return agg.withColumn("group_order", F.row_number().over(w) - 1).drop(
        "_first_pos"
    )


def gap_cluster_1d(center: "F.Column", key_cols: List[str], tol: float,
                   order_cols: List[str]):
    """1-D transitive proximity clustering as ONE window pass: sort by
    the center coordinate within each document and open a new cluster
    whenever the gap to the previous center exceeds ``tol``.  For 1-D
    centers this is EXACTLY the connected components of
    |c_i − c_j| ≤ tol (transitive chains split precisely at gaps), so
    no iterative propagation is needed — the window is the scalable
    shape (partitioned per document).  Returns the 0-based cluster id
    ordered by coordinate."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(center, *order_cols)
    prev = F.lag(center).over(w)
    is_new = F.when(
        prev.isNull() | (center - prev > F.lit(float(tol))), 1
    ).otherwise(0)
    return (
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        - 1
    )


def detect_table_grid(
    df: DataFrame,
    key_cols: List[str],
    id_col: str = "block_id",
    x_tolerance: float = 10,
    y_tolerance: float = 10,
    x1="x_1", y1="y_1", x2="x_2", y2="y_2",
) -> DataFrame:
    """Table structure recovery from cell boxes: assign every cell a
    (row_id, col_id) grid position by clustering y-centers into rows and
    x-centers into columns (both via ``gap_cluster_1d``) — the
    two-axis composition of the §2.5 grouping family that turns a bag of
    detected cell rectangles into a rectangular grid (the precursor to
    CSV/HTML table serialization).

    Output: key_cols + (cell id, row_id, col_id, n_rows, n_cols).
    Two window passes per document, no joins, no iteration."""
    yc = (F.col(y1) + F.col(y2)) / 2.0
    xc = (F.col(x1) + F.col(x2)) / 2.0
    base = df.select(
        *key_cols,
        F.col(id_col).alias("cell_id"),
        xc.alias("_xc"),
        yc.alias("_yc"),
    )
    out = base.withColumn(
        "row_id",
        gap_cluster_1d(F.col("_yc"), key_cols, y_tolerance, ["cell_id"]),
    ).withColumn(
        "col_id",
        gap_cluster_1d(F.col("_xc"), key_cols, x_tolerance, ["cell_id"]),
    )
    from pyspark.sql.window import Window

    wdoc = Window.partitionBy(*key_cols)
    return out.select(
        *key_cols, "cell_id",
        F.col("row_id").cast("long").alias("row_id"),
        F.col("col_id").cast("long").alias("col_id"),
        (F.max("row_id").over(wdoc) + 1).cast("long").alias("n_rows"),
        (F.max("col_id").over(wdoc) + 1).cast("long").alias("n_cols"),
    )
