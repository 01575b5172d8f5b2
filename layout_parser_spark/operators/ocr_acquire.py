"""Live OCR acquisition slot (SURVEY §2.7 acquisition side; reference
``ocr/tesseract_agent.py:87-133``).

The reference's ``TesseractAgent._detect`` shells out through pytesseract
(``image_to_string`` / ``image_to_data``) per image and parses the TSV
into a pandas frame.  The engine-side equivalent is one **Arrow
stage** (``transport.map_pages``): each Arrow batch of (doc keys…, image
bytes) rows spawns the ``tesseract`` binary once per image (``tesseract
stdin stdout … tsv``, the pipe form — no temp files) and parses the TSV
into the token-table contract that ``ocr_agg.gather_data`` consumes.
The subprocess cost is the OCR inference itself — the Python island is
exactly the acquisition boundary, everything downstream stays columnar.

GATING: the binary is resolved at plan-build time (explicit
``tesseract_cmd`` arg → ``LP_SPARK_TESSERACT`` env var → ``shutil.which``)
and a missing binary raises immediately with a clear message rather than
failing task-side mid-job.  No tesseract ships in this sandbox, so the
contract is pinned by a fake-binary test (tests/test_ocr_acquire.py)
that replays the reference's pickled golden response through the slot
and proves detect→gather_data E2E parity with the direct fixture replay.

TSV parse parity note: ``tesseract_agent.py:96-102`` parses with
``converters={"text": str}`` (empty fields → ``''``), but the reference's
own golden fixture (tests/fixtures/ocr/test_tesseract_response.pickle)
carries the older empty→NaN form, which is ALSO what ``gather_data``'s
NaN-drop (tesseract_agent.py:139) relies on to exclude structural
(level<5) rows.  The slot emits the NaN/null form — the one the
reference's aggregation semantics and test suite actually pin.
"""

from __future__ import annotations

import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StringType, StructField

from ..transport import map_pages

#: token-table columns produced per image (matches the Tesseract TSV
#: header plus the engine's row-order column ``pos``)
TSV_COLS = [
    "level", "page_num", "block_num", "par_num", "line_num", "word_num",
    "left", "top", "width", "height",
]


def resolve_tesseract(tesseract_cmd: Optional[str] = None) -> Optional[str]:
    """The binary the slot would spawn, or None when unavailable:
    explicit arg → ``LP_SPARK_TESSERACT`` env → ``PATH`` lookup
    (mirrors ``TesseractAgent.with_tesseract_executable``,
    tesseract_agent.py:82-86, plus the ambient default)."""
    return (
        tesseract_cmd
        or os.environ.get("LP_SPARK_TESSERACT")
        or shutil.which("tesseract")
    )


def parse_tesseract_tsv(tsv: str):
    """``image_to_data`` TSV → pandas token frame with the golden-fixture
    dtypes: ints for the ten structural/geometry columns, conf as float
    (tesseract 4 emits e.g. 96.32), text object with empty→NaN (see
    module docstring)."""
    import io

    import pandas as pd

    pdf = pd.read_csv(
        io.StringIO(tsv),
        quoting=3,  # csv.QUOTE_NONE, as tesseract_agent.py:98
        encoding="utf-8",
        sep="\t",
        # literal parse — pandas' default NA tokens would otherwise turn
        # real recognized words like "None"/"NA"/"null" into NaN (the
        # golden fixture contains an actual "None" word); mirrors the
        # reference's converters={"text": str} (tesseract_agent.py:101)
        converters={"text": str},
    )
    for c in TSV_COLS:
        pdf[c] = pdf[c].astype("int64")
    pdf["conf"] = pdf["conf"].astype("float64")
    # only genuinely-empty fields (structural level<5 rows) become null —
    # the form gather_data's NaN-drop expects
    pdf["text"] = pdf["text"].where(pdf["text"] != "", other=None)
    pdf["pos"] = range(len(pdf))
    return pdf


def tesseract_acquire(
    pages: DataFrame,
    doc_cols: Sequence[str],
    image_col: str = "image",
    languages: "str | Sequence[str]" = "eng",
    tesseract_cmd: Optional[str] = None,
    extra_args: Sequence[str] = (),
    timeout_sec: float = 120.0,
) -> DataFrame:
    """(doc keys…, image BINARY) → Tesseract token table, one row per
    TSV row: doc_cols + (level, page_num, block_num, par_num, line_num,
    word_num, left, top, width, height BIGINT, conf DOUBLE, text STRING
    nullable, pos BIGINT).

    Feed the result to ``ocr_agg.gather_data`` with
    ``id_partition_cols=doc_cols`` for the reference's
    ``detect(agg_output_level=…)`` pipeline (tesseract_agent.py:103-133).

    ``languages`` follows the reference's str-or-list contract
    (tesseract_agent.py:66-78).  Images that tesseract rejects (decode
    failure, timeout, nonzero exit) emit zero rows — acquisition loss is
    per-image, never job-fatal."""
    cmd = resolve_tesseract(tesseract_cmd)
    if cmd is None:
        raise RuntimeError(
            "tesseract_acquire: no tesseract binary found (checked the "
            "tesseract_cmd argument, $LP_SPARK_TESSERACT, and $PATH). "
            "Install tesseract or replay captured responses through "
            "ocr_agg.gather_data directly."
        )
    lang = (
        languages if isinstance(languages, str) else "+".join(languages)
    )
    argv = [cmd, "stdin", "stdout", "-l", lang, *extra_args, "tsv"]
    # plan-build-time validation: a doc_cols name missing from the input
    # must fail here, not as an opaque error at task time
    names = set(pages.columns)
    missing = [c for c in doc_cols if c not in names]
    if missing:
        raise ValueError(
            f"tesseract_acquire: doc_cols {missing} not in input schema "
            f"(have: {sorted(names)})"
        )
    out_cols = TSV_COLS + ["conf", "text", "pos"]
    fields = [StructField(c, LongType(), True) for c in TSV_COLS] + [
        StructField("conf", DoubleType(), True),
        StructField("text", StringType(), True),
        StructField("pos", LongType(), True),
    ]

    def kernel(img):
        import subprocess

        if img is None:
            return []
        try:
            proc = subprocess.run(
                argv,
                input=img,
                capture_output=True,
                timeout=timeout_sec,
                check=True,
            )
            toks = parse_tesseract_tsv(
                proc.stdout.decode("utf-8", errors="replace")
            )
        except Exception:
            return []  # per-image acquisition loss, not job-fatal
        toks = toks[out_cols].astype(object)
        return list(
            toks.where(toks.notna(), None).itertuples(index=False, name=None)
        )

    return map_pages(pages, kernel, [image_col], fields, keep=doc_cols)
