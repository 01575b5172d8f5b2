"""Minimal pure-python PDF word extractor (PDF 32000-1 subset).

Replaces pdfplumber as the default token source for ``sources.pdf`` when
pdfplumber is not installed.  Scope (enough for real simple-font PDFs and
the reference fixtures ``tests/fixtures/io/example.pdf`` / ``empty.pdf``,
reference semantics per io/pdf.py:26-118):

* classic cross-reference PDFs (objects scanned as ``N 0 obj … endobj``;
  compressed object streams /ObjStm are NOT supported),
* FlateDecode (zlib) and uncompressed content streams,
* simple fonts (Type1/TrueType) with /FirstChar + /Widths, byte codes
  decoded via /ToUnicode bfchar/bfrange CMaps when present, else
  MacRomanEncoding / WinAnsiEncoding / latin-1,
* text operators BT ET Tf Td TD Tm T* TL Tc Tw Tz Ts Tj TJ ' ",
  graphics q Q cm,
* pdfplumber-style word assembly: chars merge into a word while they
  share the baseline (y_tolerance) and the inter-char gap ≤ x_tolerance;
  space characters always break; fontname/size changes break (the
  reference passes extra_attrs=["fontname", "size"]).

Everything here derives from the public PDF specification; no external
dependencies beyond zlib.
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, List, Optional, Tuple


# ---------------------------------------------------------------------------
# object model
# ---------------------------------------------------------------------------
class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):
        return f"Ref({self.num})"


class Name(str):
    """PDF name (distinct from strings so dict keys compare cleanly)."""


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self):
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def parse(self):
        """Parse one object at pos (after whitespace)."""
        self._skip_ws()
        d = self.data
        c = d[self.pos : self.pos + 1]
        if c == b"<":
            if d[self.pos : self.pos + 2] == b"<<":
                return self._parse_dict()
            return self._parse_hex_string()
        if c == b"(":
            return self._parse_string()
        if c == b"/":
            return self._parse_name()
        if c == b"[":
            return self._parse_array()
        m = re.match(
            rb"(\d+)\s+(\d+)\s+R(?![A-Za-z])", d[self.pos : self.pos + 32]
        )
        if m:
            self.pos += m.end()
            return Ref(int(m.group(1)))
        m = re.match(rb"[-+]?[\d.]+", d[self.pos : self.pos + 64])
        if m:
            self.pos += m.end()
            t = m.group(0)
            return float(t) if b"." in t else int(t)
        for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
            if d[self.pos : self.pos + len(lit)] == lit:
                self.pos += len(lit)
                return val
        raise ValueError(f"unparseable object at {self.pos}: {d[self.pos:self.pos+20]!r}")

    def _parse_name(self) -> Name:
        self.pos += 1  # '/'
        d, n = self.data, len(self.data)
        out = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and self.pos + 2 < n:  # '#xx'
                out.append(int(d[self.pos + 1 : self.pos + 3], 16))
                self.pos += 3
            else:
                out.append(c)
                self.pos += 1
        return Name(out.decode("latin-1"))

    def _parse_dict(self) -> dict:
        self.pos += 2  # '<<'
        out = {}
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.parse()
            val = self.parse()
            out[key] = val

    def _parse_array(self) -> list:
        self.pos += 1  # '['
        out = []
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.parse())

    def _parse_hex_string(self) -> bytes:
        end = self.data.index(b">", self.pos)
        hx = re.sub(rb"\s", b"", self.data[self.pos + 1 : end])
        self.pos = end + 1
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii"))

    def _parse_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # '('
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and d[self.pos] == 0x0A:
                        self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_s = bytearray()
                    while len(oct_s) < 3 and 0x30 <= d[self.pos] <= 0x37:
                        oct_s.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_s, 8) & 0xFF)
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return bytes(out)
                out.append(c)
                self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated string")


# ---------------------------------------------------------------------------
# document
# ---------------------------------------------------------------------------
_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")


class MiniPdf:
    def __init__(self, data: bytes):
        self.data = data
        self._obj_pos: Dict[int, int] = {}
        for m in _OBJ_RE.finditer(data):
            # later definitions win (incremental updates append)
            self._obj_pos[int(m.group(1))] = m.end()
        self._cache: Dict[int, object] = {}
        self._stream_cache: Dict[int, bytes] = {}

    def resolve(self, obj):
        # A crafted "1 0 obj 1 0 R endobj" makes the chain cyclic; track
        # visited object numbers and bail to None on revisit so resolution
        # always terminates on untrusted bytes.
        seen = set()
        while isinstance(obj, Ref):
            if obj.num in seen:
                return None
            seen.add(obj.num)
            obj = self.get(obj.num)
        return obj

    def get(self, num: int):
        if num not in self._cache:
            if num not in self._obj_pos:
                return None
            lex = _Lexer(self.data, self._obj_pos[num])
            try:
                self._cache[num] = lex.parse()
            except (ValueError, IndexError):
                # a malformed object must not fail the whole document —
                # the distributed path treats it as absent
                self._cache[num] = None
            self._cache[f"_end{num}"] = lex.pos
        return self._cache[num]

    def stream(self, num: int) -> Optional[bytes]:
        """Decoded stream bytes of object ``num`` (None if not a stream)."""
        if num in self._stream_cache:
            return self._stream_cache[num]
        d = self.get(num)
        if not isinstance(d, dict):
            return None
        end = self._cache[f"_end{num}"]
        m = re.compile(rb"stream\r?\n").search(self.data, end, end + 64)
        if not m:
            return None
        start = m.end()
        length = self.resolve(d.get(Name("Length")))
        if isinstance(length, (int, float)):
            raw = self.data[start : start + int(length)]
        else:  # fall back to scanning for endstream
            e = self.data.index(b"endstream", start)
            raw = self.data[start:e].rstrip(b"\r\n")
        filt = self.resolve(d.get(Name("Filter")))
        filters = filt if isinstance(filt, list) else ([filt] if filt else [])
        for f in filters:
            f = self.resolve(f)
            if f == "FlateDecode":
                raw = zlib.decompress(raw)
            else:
                return None  # unsupported filter (images etc.)
        self._stream_cache[num] = raw
        return raw

    def pages(self) -> List[dict]:
        """Page dicts in document order, with MediaBox/Resources inherited."""
        root_kids = []
        for num in self._obj_pos:
            if not isinstance(num, int):
                continue
            o = self.get(num)
            if isinstance(o, dict) and o.get(Name("Type")) == "Pages" and \
                    Name("Parent") not in o:
                root_kids = [(o, None)]
                break
        out = []

        # Iterative walk with a visited set: cyclic /Kids graphs and
        # non-dict page-tree nodes must not recurse forever or raise out
        # of the PDF Arrow stage on untrusted bytes.
        seen_ids = set()

        def walk(node, inherited):
            stack = [(node, inherited)]
            while stack:
                node, inherited = stack.pop()
                if isinstance(node, Ref):
                    if node.num in seen_ids:
                        continue
                    seen_ids.add(node.num)
                node = self.resolve(node)
                if not isinstance(node, dict):
                    continue
                inh = dict(inherited or {})
                for k in ("MediaBox", "Resources"):
                    if Name(k) in node:
                        inh[k] = node[Name(k)]
                if node.get(Name("Type")) == "Page":
                    page = dict(node)
                    for k, v in inh.items():
                        page.setdefault(Name(k), v)
                    out.append(page)
                else:
                    kids = self.resolve(node.get(Name("Kids"), []))
                    if isinstance(kids, list):
                        # reversed so pop() preserves document order
                        for kid in reversed(kids):
                            stack.append((kid, inh))

        for node, _ in root_kids:
            walk(node, {})
        if not out:  # fallback: scan for /Type /Page directly
            for num in list(self._obj_pos):
                if not isinstance(num, int):
                    continue
                o = self.get(num)
                if isinstance(o, dict) and o.get(Name("Type")) == "Page":
                    out.append(o)
        return out


# ---------------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------------
class _Font:
    def __init__(self, pdf: MiniPdf, d: dict):
        d = pdf.resolve(d)
        self.basefont = str(d.get(Name("BaseFont"), "unknown"))
        self.first_char = int(pdf.resolve(d.get(Name("FirstChar"), 0)) or 0)
        widths = pdf.resolve(d.get(Name("Widths"))) or []
        self.widths = [float(pdf.resolve(w)) for w in widths]
        desc = pdf.resolve(d.get(Name("FontDescriptor"))) or {}
        self.missing_width = float(
            pdf.resolve(desc.get(Name("MissingWidth"), 0)) or 0
        )
        self.ascent = float(pdf.resolve(desc.get(Name("Ascent"), 1000)) or 1000) / 1000.0
        self.descent = float(pdf.resolve(desc.get(Name("Descent"), 0)) or 0) / 1000.0
        enc = pdf.resolve(d.get(Name("Encoding")))
        self.codec = "latin-1"
        if enc == "MacRomanEncoding":
            self.codec = "mac_roman"
        elif enc == "WinAnsiEncoding":
            self.codec = "cp1252"
        self.to_unicode = None
        tu = d.get(Name("ToUnicode"))
        if isinstance(tu, Ref):
            cmap = pdf.stream(tu.num)
            if cmap:
                self.to_unicode = _parse_tounicode(cmap)

    def width(self, code: int) -> float:
        i = code - self.first_char
        if 0 <= i < len(self.widths) and self.widths[i]:
            return self.widths[i]
        return self.missing_width or 500.0

    def decode(self, code: int) -> str:
        if self.to_unicode is not None:
            return self.to_unicode.get(code, "")
        try:
            return bytes([code]).decode(self.codec)
        except UnicodeDecodeError:
            return ""


def _parse_tounicode(cmap: bytes) -> Dict[int, str]:
    """bfchar/bfrange sections of a ToUnicode CMap → {code: text}."""
    out: Dict[int, str] = {}

    def _hex(b: bytes) -> int:
        return int(b, 16)

    def _utf16(b: bytes) -> str:
        return bytes.fromhex(b.decode("ascii")).decode("utf-16-be", "ignore")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", cmap, re.S):
        for src, dst in re.findall(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            out[_hex(src)] = _utf16(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", cmap, re.S):
        body = m.group(1)
        for lo, hi, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", body
        ):
            base = _hex(dst)
            width = len(dst)
            for i in range(_hex(lo), _hex(hi) + 1):
                out[i] = _utf16(b"%0*X" % (width, base + (i - _hex(lo))))
    return out


# ---------------------------------------------------------------------------
# content-stream interpreter
# ---------------------------------------------------------------------------
def _mat_mul(a, b):
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (
        a0 * b0 + a1 * b2,
        a0 * b1 + a1 * b3,
        a2 * b0 + a3 * b2,
        a2 * b1 + a3 * b3,
        a4 * b0 + a5 * b2 + b4,
        a4 * b1 + a5 * b3 + b5,
    )


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

_TOKEN_RE = re.compile(
    rb"""\(|<<|<|\[|\]|>>|/[^\s()<>\[\]{}/%]*|[-+]?[0-9]*\.?[0-9]+|[A-Za-z'"*]+"""
)


def _chars_from_content(
    content: bytes, fonts: Dict[str, _Font], page_h: float
) -> List[dict]:
    """Run the text operators; emit one dict per glyph with device-space
    x0/x1/top/bottom, text, fontname, size."""
    chars: List[dict] = []
    ctm = _ID
    stack: List[tuple] = []
    tm = tlm = _ID
    font: Optional[_Font] = None
    font_name = ""
    tfs = tc = tw = ts_rise = 0.0
    th = 1.0
    tl = 0.0
    operands: List[object] = []
    lex = _Lexer(content)
    n = len(content)

    def show(sbytes: bytes):
        nonlocal tm
        if font is None:
            return
        for code in sbytes:
            w0 = font.width(code) / 1000.0
            txt = font.decode(code)
            # device-space glyph box from the text rendering matrix
            trm = _mat_mul((tfs * th, 0, 0, tfs, 0, ts_rise), _mat_mul(tm, ctm))
            adv = (w0 * tfs + tc + (tw if code == 32 else 0.0)) * th
            x0 = trm[4]
            y_base = trm[5]
            # scale along the baseline for the advance, font 'd' for height
            sx = (trm[0] ** 2 + trm[1] ** 2) ** 0.5 / max(tfs * th, 1e-9) \
                if tfs else 1.0
            size_dev = abs(trm[3]) if trm[3] else tfs
            x1 = x0 + adv * sx
            y0 = y_base + font.descent * size_dev
            y1 = y_base + font.ascent * size_dev
            if txt:
                chars.append(
                    {
                        "text": txt,
                        "x0": x0,
                        "x1": x1,
                        "top": page_h - y1,
                        "bottom": page_h - y0,
                        "baseline_top": page_h - y_base,
                        "fontname": font.basefont,
                        "size": tfs,
                    }
                )
            tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)

    while lex.pos < n:
        lex._skip_ws()
        if lex.pos >= n:
            break
        c = content[lex.pos : lex.pos + 1]
        if c in b"(<[/" or c.isdigit() or c in b"-+." or (
            content[lex.pos : lex.pos + 2] == b"<<"
        ):
            try:
                operands.append(lex.parse())
            except ValueError:
                lex.pos += 1
            continue
        m = _TOKEN_RE.match(content, lex.pos)
        if not m:
            lex.pos += 1
            continue
        op = m.group(0)
        lex.pos = m.end()
        try:
            if op == b"q":
                stack.append(ctm)
            elif op == b"Q":
                ctm = stack.pop() if stack else _ID
            elif op == b"cm" and len(operands) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in operands[-6:]), ctm)
            elif op == b"BT":
                tm = tlm = _ID
            elif op == b"ET":
                pass
            elif op == b"Tf" and len(operands) >= 2:
                font_name = str(operands[-2])
                font = fonts.get(font_name)
                tfs = float(operands[-1])
            elif op == b"Td" and len(operands) >= 2:
                tlm = _mat_mul(
                    (1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm
                )
                tm = tlm
            elif op == b"TD" and len(operands) >= 2:
                tl = -float(operands[-1])
                tlm = _mat_mul(
                    (1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm
                )
                tm = tlm
            elif op == b"Tm" and len(operands) >= 6:
                tm = tlm = tuple(float(v) for v in operands[-6:])
            elif op == b"T*":
                tlm = _mat_mul((1, 0, 0, 1, 0, -tl), tlm)
                tm = tlm
            elif op == b"TL":
                tl = float(operands[-1])
            elif op == b"Tc":
                tc = float(operands[-1])
            elif op == b"Tw":
                tw = float(operands[-1])
            elif op == b"Tz":
                th = float(operands[-1]) / 100.0
            elif op == b"Ts":
                ts_rise = float(operands[-1])
            elif op == b"Tj" and operands:
                show(operands[-1])
            elif op == b"'" and operands:
                tlm = _mat_mul((1, 0, 0, 1, 0, -tl), tlm)
                tm = tlm
                show(operands[-1])
            elif op == b'"' and len(operands) >= 3:
                tw, tc = float(operands[-3]), float(operands[-2])
                tlm = _mat_mul((1, 0, 0, 1, 0, -tl), tlm)
                tm = tlm
                show(operands[-1])
            elif op == b"TJ" and operands and isinstance(operands[-1], list):
                for item in operands[-1]:
                    if isinstance(item, bytes):
                        show(item)
                    elif isinstance(item, (int, float)):
                        adv = -float(item) / 1000.0 * tfs * th
                        tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)
        finally:
            operands = []
    return chars


# ---------------------------------------------------------------------------
# word assembly (pdfplumber-style, reference defaults io/pdf.py:45-53)
# ---------------------------------------------------------------------------
def _words_from_chars(
    chars: List[dict], x_tolerance: float = 1.5, y_tolerance: float = 2.0
) -> List[dict]:
    words: List[dict] = []
    cur: List[dict] = []

    def flush():
        if not cur:
            return
        words.append(
            {
                "text": "".join(c["text"] for c in cur),
                "x0": min(c["x0"] for c in cur),
                "x1": max(c["x1"] for c in cur),
                "top": min(c["top"] for c in cur),
                "bottom": max(c["bottom"] for c in cur),
                "fontname": cur[0]["fontname"],
                "size": cur[0]["size"],
            }
        )
        cur.clear()

    for ch in chars:
        if ch["text"].isspace():
            flush()
            continue
        if cur:
            prev = cur[-1]
            same_line = abs(ch["baseline_top"] - prev["baseline_top"]) <= y_tolerance
            close = (ch["x0"] - prev["x1"]) <= x_tolerance
            same_style = (
                ch["fontname"] == prev["fontname"] and ch["size"] == prev["size"]
            )
            if not (same_line and close and same_style):
                flush()
        cur.append(ch)
    flush()
    return words


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------
def extract_pdf_words(
    payload: bytes, x_tolerance: float = 1.5, y_tolerance: float = 2.0
) -> List[Tuple[int, float, float, List[dict]]]:
    """PDF bytes → [(page_index, width, height, word dicts)] with the same
    word-dict shape pdfplumber's extract_words returns (x0/x1/top/bottom/
    text/fontname/size)."""
    pdf = MiniPdf(payload)
    out = []
    for idx, page in enumerate(pdf.pages()):
        mb = [float(pdf.resolve(v)) for v in pdf.resolve(page.get(Name("MediaBox"), [0, 0, 612, 792]))]
        w, h = mb[2] - mb[0], mb[3] - mb[1]
        res = pdf.resolve(page.get(Name("Resources"))) or {}
        fdict = pdf.resolve(res.get(Name("Font"))) or {}
        fonts = {str(k): _Font(pdf, v) for k, v in fdict.items()}
        contents = page.get(Name("Contents"))
        clist = contents if isinstance(contents, list) else [contents]
        blobs = []
        for cref in clist:
            if isinstance(cref, Ref):
                blob = pdf.stream(cref.num)
                if blob:
                    blobs.append(blob)
        content = b"\n".join(blobs)
        chars = _chars_from_content(content, fonts, h) if content else []
        out.append((idx, w, h, _words_from_chars(chars, x_tolerance, y_tolerance)))
    return out
