"""Contract test for the live-OCR acquisition slot
(operators/ocr_acquire.py) — the fake-binary pattern of the r3
DL-backend test: a stand-in ``tesseract`` executable replays the
reference's pickled golden response (tests/fixtures/ocr/
test_tesseract_response.pickle) over stdin/stdout, and the slot's
detect→gather_data output must equal the direct fixture replay
byte-for-byte."""

import os
import pickle
import stat

import pandas as pd
import pytest
from pyspark.sql import functions as F

from layout_parser_spark.operators.ocr_acquire import (
    parse_tesseract_tsv,
    resolve_tesseract,
    tesseract_acquire,
)
from layout_parser_spark.operators.ocr_agg import (
    TESSERACT_LEVELS,
    gather_data,
)

FIXTURE = "/root/reference/tests/fixtures/ocr/test_tesseract_response.pickle"


@pytest.fixture(scope="module")
def golden():
    with open(FIXTURE, "rb") as f:
        return pickle.load(f)


@pytest.fixture()
def fake_tesseract(tmp_path, golden):
    """A stand-in binary: emits the golden response's TSV on stdout
    (NaN text → empty field, exactly the serialization tesseract's tsv
    renderer produces for structural rows)."""
    import csv

    tsv_path = tmp_path / "golden.tsv"
    # tesseract's tsv renderer never quotes (the fixture contains a
    # literal '"' word) — serialize accordingly
    golden["data"].to_csv(
        tsv_path, sep="\t", index=False, na_rep="",
        quoting=csv.QUOTE_NONE,
    )
    exe = tmp_path / "tesseract"
    exe.write_text(
        "#!/bin/sh\n"
        "# stand-in tesseract: drain stdin, replay the golden TSV\n"
        f"cat > /dev/null\ncat '{tsv_path}'\n"
    )
    exe.chmod(exe.stat().st_mode | stat.S_IXUSR)
    return str(exe)


def test_resolve_precedence(tmp_path, monkeypatch):
    monkeypatch.setenv("LP_SPARK_TESSERACT", "/env/tess")
    assert resolve_tesseract("/explicit/tess") == "/explicit/tess"
    assert resolve_tesseract() == "/env/tess"
    monkeypatch.delenv("LP_SPARK_TESSERACT")
    # sandbox has no real binary → PATH lookup result (normally None)
    import shutil

    assert resolve_tesseract() == shutil.which("tesseract")


def test_missing_binary_raises_at_plan_time(spark, monkeypatch):
    monkeypatch.delenv("LP_SPARK_TESSERACT", raising=False)
    monkeypatch.setenv("PATH", "/nonexistent")
    pages = spark.createDataFrame(
        [(1, bytearray(b"img"))], "doc_id long, image binary"
    )
    with pytest.raises(RuntimeError, match="no tesseract binary"):
        tesseract_acquire(pages, ["doc_id"])


def test_tesseract_acquire_missing_doc_col_raises(spark):
    from layout_parser_spark.operators.ocr_acquire import tesseract_acquire

    pages = spark.range(1).select(
        F.col("id").alias("url"), F.lit(b"x").alias("image")
    )
    with pytest.raises(ValueError, match=r"doc_cols \['doc_id'\]"):
        tesseract_acquire(pages, ["doc_id"], tesseract_cmd="/bin/true")


def test_tsv_roundtrip_matches_pickle(golden, fake_tesseract):
    """The fake binary's TSV, reparsed by the slot's parser, reproduces
    the pickled frame exactly (ints, float conf, NaN structural text)."""
    with open(fake_tesseract.rsplit("/", 1)[0] + "/golden.tsv") as f:
        toks = parse_tesseract_tsv(f.read())
    ref = golden["data"]
    assert len(toks) == len(ref)
    for c in ref.columns:
        if c == "text":
            assert (
                toks[c].fillna("\0") == ref[c].fillna("\0")
            ).all()
        elif c == "conf":
            assert (toks[c] == ref[c].astype("float64")).all()
        else:
            assert (toks[c] == ref[c]).all()


@pytest.mark.parametrize("level", ["block", "line", "word"])
def test_detect_gather_e2e_parity(spark, golden, fake_tesseract, level):
    """E2E: two pages through the fake-binary slot → gather_data equals
    the direct fixture replay per page (VERDICT r3 item 5's done bar)."""
    pages = spark.createDataFrame(
        [(7, bytearray(b"fake-image-bytes")),
         (9, bytearray(b"other-image-bytes"))],
        "doc_id long, image binary",
    )
    toks = tesseract_acquire(
        pages, ["doc_id"], tesseract_cmd=fake_tesseract
    )
    got = gather_data(
        toks,
        ["doc_id"] + TESSERACT_LEVELS[level],
        id_partition_cols=["doc_id"],
    )

    # direct replay of the pickle (the r3-green path) as the oracle
    ref_pdf = golden["data"].copy()
    ref_pdf["pos"] = range(len(ref_pdf))
    ref_tokens = spark.createDataFrame(ref_pdf.assign(doc_id=7))
    want = gather_data(
        ref_tokens,
        ["doc_id"] + TESSERACT_LEVELS[level],
        id_partition_cols=["doc_id"],
    )

    def key(df, doc):
        rows = {}
        for r in df.where(F.col("doc_id") == doc).collect():
            rows[r.id] = (
                float(r.x_1), float(r.y_1), float(r.x_2), float(r.y_2),
                round(float(r.score), 9), r.text, r.block_type,
            )
        return rows

    want7 = key(want, 7)
    assert len(want7) > 0
    assert key(got, 7) == want7
    # second page replays the same golden image → identical per-page rows
    got9 = {
        r.id: r.text for r in got.where("doc_id = 9").collect()
    }
    assert got9 == {i: v[5] for i, v in want7.items()}


def test_failed_image_emits_no_rows(spark, tmp_path):
    exe = tmp_path / "tesseract"
    exe.write_text("#!/bin/sh\ncat > /dev/null\nexit 1\n")
    exe.chmod(exe.stat().st_mode | stat.S_IXUSR)
    pages = spark.createDataFrame(
        [(1, bytearray(b"junk")), (2, None)], "doc_id long, image binary"
    )
    out = tesseract_acquire(pages, ["doc_id"], tesseract_cmd=str(exe))
    assert out.count() == 0
