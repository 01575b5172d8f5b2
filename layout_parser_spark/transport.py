"""The one Arrow transport of the engine's per-row Python kernels.

Every operator whose per-row work is Python crosses Arrow through
``map_pages``: the flagship's page kernels (segmentation, extraction),
the media kernels (pHash, audio features and fingerprints, header
metadata, image features, crops, sampled frames), the PDF, WARC and
synthetic page sources, the OCR acquisition slot, the text kernels
(MinHash and SimHash signatures, repetition counts, NFC) and the
grouped kernels, whose row is one group collected by a ``groupBy`` (the
per-document connected components of ``gcca_apply``/``detect_lines``,
the embedding pair scorer).  It is one narrow ``mapInArrow``
stage — per-row python inside an Arrow batch, never a row-at-a-time
Spark UDF.  The operators keep their per-payload functions, their output
schemas and their bad-payload rules (NULL payloads included); the batch
loop, the output schema, the pass-through columns and the output batch
live here once.

Why ``mapInArrow`` rather than ``mapInPandas``: the output lists cross
to the JVM as directly built ``pyarrow`` arrays instead of pandas object
columns (which pay a per-row python-object → Arrow conversion) —
measured 18% off the whole segmentation stage at sf0.1, bit-identical
output — and the pass-through columns never become python objects at
all: they are repeated by row index with Arrow ``take``.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


def map_pages(
    df: DataFrame,
    kernel: Callable,
    args: Sequence[str],
    fields: Sequence[StructField],
    keep: Optional[Sequence[str]] = None,
) -> DataFrame:
    """One narrow ``mapInArrow`` stage over ``df``.

    Per input row, ``kernel(*values)`` receives the raw values of the
    ``args`` columns (bytes, str, a dict for a struct, a list for an
    array, None for NULL) and returns zero or more output rows, each a
    tuple with one value per field of ``fields``.  Every output row
    carries the ``keep`` columns of its input row (default: every column
    not in ``args``); all other columns are dropped AT the Arrow
    boundary.

    Output schema: the ``keep`` fields as typed in ``df``, then
    ``fields``.  The transport catches nothing — a kernel that raises
    fails its task — so each operator states its own bad-payload rule
    inside its kernel."""
    from pyspark.sql.pandas.types import to_arrow_type

    args = list(args)
    if keep is None:
        keep = [c for c in df.columns if c not in args]
    keep = list(keep)
    schema = StructType([df.schema[c] for c in keep] + list(fields))
    names = schema.fieldNames()
    pa_types = [to_arrow_type(f.dataType) for f in fields]
    used = list(dict.fromkeys(keep + args))
    if set(used) != set(df.columns):
        df = df.select(*used)

    def gen(batches):
        for b in batches:
            yield _map_batch(b, kernel, args, keep, names, pa_types)

    return df.mapInArrow(gen, schema=schema)


def _map_batch(b, kernel, args, keep, names, pa_types):
    """One input ``pyarrow.RecordBatch`` → its output batch (see
    ``map_pages``)."""
    import pyarrow as pa

    idx, rows = [], []
    values = zip(*(b.column(c).to_pylist() for c in args))
    for i, vals in enumerate(values):
        for row in kernel(*vals):
            idx.append(i)
            rows.append(row)
    take = pa.array(idx, pa.int32())
    cols = list(zip(*rows)) if rows else [()] * len(pa_types)
    arrays = [b.column(c).take(take) for c in keep]
    arrays += [pa.array(c, t) for c, t in zip(cols, pa_types)]
    return pa.RecordBatch.from_arrays(arrays, names)
