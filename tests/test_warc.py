"""WARC source (ISO 28500 subset): record parsing (plain + per-record
gzip members), HTTP envelope splitting, and the full distributed path
WARC file → pages table → byte-identical extraction."""

import pytest
from pyspark.sql import functions as F

from layout_parser_spark.sources.warc import (
    parse_warc_records,
    read_warc,
    write_warc_file,
)


def _records():
    from layout_parser_spark.sources import render_page_html

    recs = []
    for i in range(4):
        text = f"alpha bravo charlie delta echo foxtrot golf hotel doc{i} " \
               "india juliet kilo lima"
        recs.append(
            {
                "url": f"https://example.org/page/{i}",
                "date": f"2024-01-0{i+1}T00:00:00Z",
                "html": render_page_html(i, text).encode("utf-8"),
                "text": text,
            }
        )
    return recs


@pytest.mark.parametrize("gz", [False, True])
def test_warc_roundtrip(gz):
    recs = _records()
    blob = write_warc_file(recs, gzip_members=gz)
    parsed = parse_warc_records(blob)
    assert len(parsed) == len(recs)
    for p, r in zip(parsed, recs):
        assert p["warc_type"] == "response"
        assert p["target_uri"] == r["url"]
        assert p["http_status"] == 200
        assert "html" in p["content_type"]
        assert p["body"] == r["html"]  # HTTP envelope stripped exactly


def test_warc_skips_non_response_and_non_html():
    recs = _records()
    blob = write_warc_file(recs)
    # splice in a request record and a non-html response
    req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
           b"WARC-Target-URI: https://example.org/x\r\n"
           b"Content-Length: 5\r\n\r\nhello\r\n\r\n")
    parsed = parse_warc_records(req + blob)
    assert len(parsed) == len(recs) + 1
    assert parsed[0]["warc_type"] == "request"


def test_warc_date_offsets_read_as_utc():
    """An offset WARC-Date is converted to UTC; a ``Z`` date and a date
    without an offset are taken as UTC as they stand."""
    from datetime import datetime

    from layout_parser_spark.sources.warc import _warc_date_to_ts

    eight = datetime(2024, 3, 1, 8, 0)
    assert _warc_date_to_ts("2024-03-01T10:00:00+02:00") == eight
    assert _warc_date_to_ts("Fri, 01 Mar 2024 10:00:00 +0200") == eight
    assert _warc_date_to_ts("2024-03-01T08:00:00Z") == eight
    assert _warc_date_to_ts("2024-03-01T08:00:00") == eight
    assert _warc_date_to_ts("2024-03-01T00:30:00+02:00") == datetime(
        2024, 2, 29, 22, 30
    )
    assert _warc_date_to_ts("not a date") is None


def test_read_warc_to_extraction_byte_identity(spark, tmp_path):
    """End-to-end: .warc.gz files → pages table (input_hint schema) →
    extract_main_text → byte-identical text per url."""
    from layout_parser_spark.plans import extract_main_text

    recs = _records()
    d = tmp_path / "warc"
    d.mkdir()
    (d / "seg-00000.warc.gz").write_bytes(
        write_warc_file(recs[:2], gzip_members=True)
    )
    (d / "seg-00001.warc").write_bytes(write_warc_file(recs[2:]))

    pages = read_warc(spark, str(d) + "/*")
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = {r.url: r for r in pages.collect()}
    assert len(rows) == 4
    assert rows["https://example.org/page/0"].warc_ts.year == 2024

    out = {
        r.url: r.extracted_text
        for r in extract_main_text(pages).select("url", "extracted_text").collect()
    }
    for r in _records():
        assert out[r["url"]] == r["text"], r["url"]


def test_charset_sniff_unit_cases():
    from layout_parser_spark.sources.charset import (
        decode_payload,
        sniff_charset,
    )

    assert sniff_charset("plain utf8 é".encode()) == "utf-8"
    assert sniff_charset(b"\xef\xbb\xbfx") == "utf-8-sig"
    assert sniff_charset(b"\xff\xfe" + "hi".encode("utf-16-le")) == "utf-16-le"
    # WHATWG: the latin-1 LABEL means windows-1252
    assert (
        sniff_charset(b'<meta charset="ISO-8859-1">x') == "cp1252"
    )
    # bogus declared charset falls through, never raises
    assert sniff_charset(b'<meta charset="no-such-enc">caf\xe9') == "cp1252"
    assert decode_payload(b'<meta charset="no-such-enc">caf\xe9').endswith(
        "café"
    )
    # str passthrough
    assert decode_payload("already text") == "already text"
