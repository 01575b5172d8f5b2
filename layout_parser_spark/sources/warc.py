"""WARC source: Common-Crawl-style web archives → the pages table.

The north_star input is "an Iceberg table of Common-Crawl-style web
pages"; the raw form of that corpus is WARC (ISO 28500 — public spec):
records of the shape

    WARC/1.0\r\n
    <warc-headers>\r\n
    \r\n
    <payload of Content-Length bytes>\r\n\r\n

optionally gzip-compressed PER RECORD and concatenated (the standard
``.warc.gz`` member-per-record layout).  ``response`` records carry an
HTTP response (status line + headers + body) as payload.

Distributed shape: one WARC file per task via the binaryFile source →
one Arrow stage (``transport.map_pages``) parses records and emits the
input_hint columns (url, warc_ts, html BINARY, text, lang).  WARC files
are independent units (Common Crawl ships ~1 GB segments), so file-level
parallelism is the natural partitioning; the html payload stays binary
until the extraction stage's Arrow batch decodes it.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from email.utils import parsedate_to_datetime
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from ..transport import map_pages
from .iceberg import PAGES_SCHEMA


#: output ceiling for one WARC file's decompressed bytes: absolute 4 GiB
#: or 1000× the compressed input, whichever is smaller — DEFLATE tops out
#: near 1030:1, so legitimate archives sit far below while a crafted
#: gzip bomb cannot amplify into executor memory unbounded.
_MAX_INFLATE_ABS = 4 << 30
_MAX_INFLATE_RATIO = 1000


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the .warc.gz record-per-
    member layout) — plain data passes through.  Output is bounded (see
    `_MAX_INFLATE_*`); on hitting the ceiling the decoded prefix is
    returned so already-complete records still parse."""
    if data[:2] != b"\x1f\x8b":
        return data
    limit = min(_MAX_INFLATE_ABS, _MAX_INFLATE_RATIO * len(data))
    out = bytearray()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        chunk = data[pos:]
        # max_length-chunked decompress against the remaining budget
        while True:
            out += d.decompress(chunk, max(1, limit - len(out)))
            if len(out) >= limit:
                return bytes(out)
            chunk = d.unconsumed_tail
            if not chunk:
                break
        out += d.flush()
        tail = d.unused_data
        if not tail:
            break
        pos = len(data) - len(tail)
    return bytes(out)


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "latin-1", "replace"
            )
    return headers


def parse_warc_records(payload: bytes) -> List[dict]:
    """One WARC file (plain or .gz) → list of dicts with keys
    warc_type, target_uri, date, http_status, content_type, body."""
    data = _gunzip_members(payload)
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        hdr_end = data.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            break
        headers = _parse_headers(data[start:hdr_end])
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        body_start = hdr_end + 4
        body = data[body_start : body_start + length]
        pos = body_start + length
        rec = {
            "warc_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri"),
            "date": headers.get("warc-date"),
            "http_status": None,
            "content_type": headers.get("content-type"),
            "body": body,
        }
        # response records: split the HTTP envelope off the payload
        if rec["warc_type"] == "response" and body[:5] == b"HTTP/":
            http_end = body.find(b"\r\n\r\n")
            if http_end >= 0:
                status_line = body[: body.find(b"\r\n")].decode(
                    "latin-1", "replace"
                )
                parts = status_line.split()
                if len(parts) >= 2 and parts[1].isdigit():
                    rec["http_status"] = int(parts[1])
                http_headers = _parse_headers(body[:http_end])
                rec["content_type"] = http_headers.get(
                    "content-type", rec["content_type"]
                )
                rec["body"] = body[http_end + 4 :]
        records.append(rec)
    return records


def _warc_date_to_ts(date: Optional[str]):
    """WARC-Date (ISO 8601, or an RFC 2822 date) → naive UTC datetime,
    None-safe: an offset date is converted to UTC, a date without one is
    taken as UTC."""
    if not date:
        return None
    try:
        ts = datetime.fromisoformat(date.replace("Z", "+00:00"))
    except ValueError:
        try:
            ts = parsedate_to_datetime(date)
        except Exception:
            return None
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc)
    return ts.replace(tzinfo=None)


def read_warc(
    spark: SparkSession,
    path: str,
    only_html: bool = True,
) -> DataFrame:
    """WARC files at ``path`` (glob; .warc or .warc.gz) → the input_hint
    pages table (url, warc_ts, html, text, lang).  ``response`` records
    only; ``only_html`` further filters on the HTTP Content-Type.  text/
    lang are NULL at this stage (they are extraction OUTPUTS)."""
    files = spark.read.format("binaryFile").load(path)

    def kernel(content):
        # choke point: a corrupt file (bad gzip member, torn record)
        # yields zero rows instead of aborting the job
        try:
            recs = parse_warc_records(content)
        except Exception:
            return []
        return [
            (rec["target_uri"], _warc_date_to_ts(rec["date"]), rec["body"],
             None, None)
            for rec in recs
            if rec["warc_type"] == "response"
            and not (only_html and rec["content_type"]
                     and "html" not in rec["content_type"])
        ]

    return map_pages(
        files, kernel, ["content"], PAGES_SCHEMA.fields, keep=[]
    )


def write_warc_file(records: List[dict], gzip_members: bool = False) -> bytes:
    """Encode (url, date, html_bytes) dicts as a WARC file — the test/
    round-trip twin of ``parse_warc_records`` (one gzip member per record
    when ``gzip_members``, the standard .warc.gz layout)."""
    import gzip as _gzip

    out = bytearray()
    for r in records:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            b"Content-Length: " + str(len(r["html"])).encode() + b"\r\n\r\n"
            + r["html"]
        )
        hdr = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + r["url"].encode() + b"\r\n"
            b"WARC-Date: " + r["date"].encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        )
        rec = hdr + http + b"\r\n\r\n"
        out += _gzip.compress(rec) if gzip_members else rec
    return bytes(out)
