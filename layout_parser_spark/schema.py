"""Nested Spark SQL schema for layout elements.

The reference (Layout-Parser/layout-parser) models a page as a Python list of
heterogeneous element objects — ``Interval`` / ``Rectangle`` /
``Quadrilateral`` optionally wrapped in a ``TextBlock``
(``src/layoutparser/elements/layout_elements.py``).  We map that dynamic
object model onto ONE fixed, explicit tagged-union struct so that a page's
layout is a single ``ARRAY<TEXTBLOCK>`` column: columnar, Parquet/Iceberg
friendly, and fully visible to Catalyst (column pruning + whole-stage
codegen over the struct fields).

Field semantics (cf. reference ``_features`` lists):

* ``block_type`` — discriminator tag: ``'interval' | 'rectangle' |
  'quadrilateral'`` (``BASECOORD_ELEMENT_NAMEMAP``,
  ``elements/layout_elements.py:1164-1169``).
* interval features (``layout_elements.py:102-115``): ``start end axis
  canvas_height canvas_width``.
* rectangle features (``layout_elements.py:488-496``): ``x_1 y_1 x_2 y_2``.
* quadrilateral features (``layout_elements.py:809-836``): ``points`` as a
  flat ARRAY<DOUBLE> of 8 (clockwise from top-left — the JSON wire format of
  ``Quadrilateral.to_dict``, ``layout_elements.py:1142-1161``), plus optional
  user ``height`` / ``width`` overrides.
* TextBlock metadata (``layout_elements.py:1195-1210``): ``text id type
  parent next score``.  A "bare" geometric element is simply a row whose
  metadata fields are all NULL; ``to_json`` drops NULL fields, matching the
  reference's sparse ``to_dict`` (``elements/base.py:253-260``).

Everything numeric is DOUBLE — the reference freely mixes int/float.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Tags & lattice order (Interval < Rectangle < Quadrilateral < TextBlock is
# the promotion order used by Layout.get_homogeneous_blocks,
# elements/layout.py:277-325).
# ---------------------------------------------------------------------------
INTERVAL = "interval"
RECTANGLE = "rectangle"
QUADRILATERAL = "quadrilateral"

#: lattice rank of each coordinate shape (cf. ALL_BASECOORD_ELEMENTS index
#: maps, elements/layout_elements.py:1164-1169)
SHAPE_RANK = {INTERVAL: 0, RECTANGLE: 1, QUADRILATERAL: 2}

# Canonical field order of the tagged-union struct.  Order matters: struct
# equality / hashing in tests is positional.
_GEOM_FIELDS = [
    StructField("block_type", StringType(), False),
    # interval
    StructField("start", DoubleType(), True),
    StructField("end", DoubleType(), True),
    StructField("axis", StringType(), True),
    StructField("canvas_height", DoubleType(), True),
    StructField("canvas_width", DoubleType(), True),
    # rectangle
    StructField("x_1", DoubleType(), True),
    StructField("y_1", DoubleType(), True),
    StructField("x_2", DoubleType(), True),
    StructField("y_2", DoubleType(), True),
    # quadrilateral
    StructField("points", ArrayType(DoubleType()), True),
    StructField("height", DoubleType(), True),
    StructField("width", DoubleType(), True),
]

_META_FIELDS = [
    StructField("text", StringType(), True),
    StructField("id", LongType(), True),
    StructField("type", StringType(), True),
    StructField("parent", LongType(), True),
    StructField("next", LongType(), True),
    StructField("score", DoubleType(), True),
]

#: The tagged-union block struct (geometry only).
BLOCK = StructType(_GEOM_FIELDS)

#: BLOCK + TextBlock metadata.  This is THE element type of the engine; an
#: element that never got text simply carries NULL metadata.
TEXTBLOCK = StructType(_GEOM_FIELDS + _META_FIELDS)

#: Page metadata, populated by sources (cf. io/pdf.py:199-201).
PAGE_DATA = StructType(
    [
        StructField("width", DoubleType(), True),
        StructField("height", DoubleType(), True),
        StructField("index", IntegerType(), True),
    ]
)

#: One document's layout: page metadata + the block array.
LAYOUT = StructType(
    [
        StructField("page_data", PAGE_DATA, True),
        StructField("blocks", ArrayType(TEXTBLOCK), True),
    ]
)

#: Input table of Common-Crawl-style pages (BASELINE.json input_hint).
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", StringType(), True),
        StructField("html", StringType(), True),  # BinaryType at read time
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

FIELD_NAMES = [f.name for f in TEXTBLOCK.fields]

_DOUBLE_FIELDS = {
    "start",
    "end",
    "canvas_height",
    "canvas_width",
    "x_1",
    "y_1",
    "x_2",
    "y_2",
    "height",
    "width",
    "score",
}
_LONG_FIELDS = {"id", "parent", "next"}


_CONST_CACHE: dict = {}
_CONST_CACHE_SC = None  # weakref to the SparkContext the cache serves


def _const_field(name: str, v) -> Column:
    """Memoized typed-and-aliased constant field Column.

    One block constructor is ~24 fields x ~4 py4j round-trips; most
    fields are NULLs (or repeated literals like block_type tags), so a
    fresh build costs ~95 ms of driver time PER CONSTRUCTOR CALL — it
    dominated the contract geometry queries (BENCH/PLANS.md r4).
    Column objects wrap immutable JVM expressions, so the same
    constant-field Column is safe to share across plans.

    Cache-key hygiene: the key includes ``type(v).__name__`` because
    python hashes ``True == 1 == 1.0`` identically while string-typed
    fields coerce them to distinct literals ('true'/'1'/'1.0'); and the
    cache is bound to the active SparkContext via a WEAK reference
    compared by identity — a stopped-and-GC'd context can recycle
    ``id()`` but can never compare ``is``-equal to a live one, so a JVM
    restart always clears the cache instead of serving stale refs."""
    import weakref

    from pyspark import SparkContext

    global _CONST_CACHE_SC
    sc = SparkContext._active_spark_context
    if _CONST_CACHE_SC is None or _CONST_CACHE_SC() is not sc:
        _CONST_CACHE.clear()
        _CONST_CACHE_SC = weakref.ref(sc) if sc is not None else None
    # key on the type OBJECT, not its name: two classes sharing a name
    # (e.g. different libraries' 'float64') whose instances compare
    # equal must not alias to one cached Column (ADVICE r5)
    key = (name, type(v), v)
    col = _CONST_CACHE.get(key)
    if col is None:
        col = _coerce(v, name).alias(name)
        _CONST_CACHE[key] = col
    return col


def _coerce(v, name: str) -> Column:
    """Coerce a python literal / Column to the right field type."""
    if v is None:
        if name == "points":
            return F.lit(None).cast(ArrayType(DoubleType()))
        if name in _DOUBLE_FIELDS:
            return F.lit(None).cast(DoubleType())
        if name in _LONG_FIELDS:
            return F.lit(None).cast(LongType())
        return F.lit(None).cast(StringType())
    col = v if isinstance(v, Column) else F.lit(v)
    if name in _DOUBLE_FIELDS:
        return col.cast(DoubleType())
    if name in _LONG_FIELDS:
        return col.cast(LongType())
    if name == "points":
        return col.cast(ArrayType(DoubleType()))
    return col.cast(StringType())


def make_block(**kwargs) -> Column:
    """Build a TEXTBLOCK struct Column with the given fields set, all other
    fields NULL.  ``block_type`` is required.

    Constant fields (NULLs, literal tags, plain python scalars) come
    from the memoized ``_const_field`` cache; only genuine Column
    arguments build fresh py4j nodes — a rectangle constructor drops
    from ~95 ms to ~20 ms of driver time."""
    assert "block_type" in kwargs, "block_type tag is required"
    cols = []
    for n in FIELD_NAMES:
        v = kwargs.get(n)
        if v is None or isinstance(v, (str, int, float, bool)):
            cols.append(_const_field(n, v))
        else:
            cols.append(_coerce(v, n).alias(n))
    return F.struct(*cols)


# ---------------------------------------------------------------------------
# Constructors — mirror the reference element __init__ signatures.
# ---------------------------------------------------------------------------
def interval(
    start, end, axis, canvas_height=None, canvas_width=None, **meta
) -> Column:
    """``Interval(start, end, axis, canvas_height=0, canvas_width=0)``
    (layout_elements.py:106-115; falsy canvas dims coerce to 0)."""
    return make_block(
        block_type=INTERVAL,
        start=start,
        end=end,
        axis=axis,
        canvas_height=canvas_height if canvas_height is not None else 0.0,
        canvas_width=canvas_width if canvas_width is not None else 0.0,
        **meta,
    )


def rectangle(x_1, y_1, x_2, y_2, **meta) -> Column:
    """``Rectangle(x_1, y_1, x_2, y_2)`` (layout_elements.py:490-496)."""
    return make_block(
        block_type=RECTANGLE, x_1=x_1, y_1=y_1, x_2=x_2, y_2=y_2, **meta
    )


def quadrilateral(points, height=None, width=None, **meta) -> Column:
    """``Quadrilateral(points, height, width)``; ``points`` is the flat
    8-element clockwise list (layout_elements.py:809-836, to_dict flat form
    :1142-1161)."""
    if isinstance(points, (list, tuple)):
        flat = []
        for p in points:
            if isinstance(p, (list, tuple)):
                flat.extend(p)
            else:
                flat.append(p)
        points = F.array(*[F.lit(float(p)) for p in flat])
    return make_block(
        block_type=QUADRILATERAL,
        points=points,
        height=height,
        width=width,
        **meta,
    )


def with_meta(block: Column, src: Column) -> Column:
    """Copy TextBlock metadata fields from ``src`` onto ``block`` — the
    engine analogue of the reference's ``mixin_textblock_meta`` decorator
    (layout_elements.py:39-48): geometry ops on a TextBlock re-wrap their
    result with the original metadata."""
    out = block
    for f in _META_FIELDS:
        out = out.withField(f.name, src.getField(f.name))
    return out


def block_dict_to_row(d: dict) -> dict:
    """Normalize a reference-style element dict (``to_dict`` output,
    io/basic.py:29-89) into a full TEXTBLOCK row dict with None for absent
    fields.  Used by the JSON/CSV sources and tests."""
    row = {n: None for n in FIELD_NAMES}
    for k, v in d.items():
        if k == "points" and v is not None:
            flat = []
            for p in v:
                if isinstance(p, (list, tuple)):
                    flat.extend(p)
                else:
                    flat.append(p)
            row["points"] = [float(x) for x in flat]
        elif k in row:
            row[k] = v
    for k in _DOUBLE_FIELDS:
        if row[k] is not None:
            row[k] = float(row[k])
    for k in _LONG_FIELDS:
        if row[k] is not None:
            row[k] = int(row[k])
    return row
