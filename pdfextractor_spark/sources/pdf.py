"""Minimal PDF text extraction with layout line-reconstruction, plus a
deterministic synthetic PDF writer for fixtures.

The extractor reproduces the reference's line-rebuild semantics exactly
(ref: backend/services/pdfText.js:37-53): text items bucketed by
``round(y)`` (JS half-up rounding), y sorted descending (higher y = higher on
page), x ascending within a line, segments trimmed and joined with single
spaces, one blank line appended per page — this defines the byte-identical
extracted-text invariant for PDF payloads.

Implemented from first principles over the PDF content-stream model (ISO
32000 text operators: BT/ET, Td/TD/Tm/T*, Tj/TJ/'/") — no external PDF
library — so the output is reproducible byte-for-byte.
"""

from __future__ import annotations

import re
import zlib

from ..extraction.textutil import js_round

__all__ = ["extract_pdf_text", "extract_pdf_auto", "make_pdf", "PdfParseError"]


def extract_pdf_auto(data: bytes) -> tuple[str, int, str]:
    """PDF bytes -> (text, numpages, parser_tag) following the reference's
    parser order (ref: backend/routes/upload.js:37-54): the pdf-parse
    compatible extractor is PRIMARY; the pdfjs y-bucket line rebuild is the
    FALLBACK when the primary throws. Raises PdfParseError when both fail
    (the needs-OCR / corrupt bucket)."""
    from .pdfjs_text import PdfError, extract_text_pdfparse

    try:
        text, n_pages = extract_text_pdfparse(data)
        return text, n_pages, "pdf"
    except (PdfError, RecursionError) as primary_err:
        try:
            text, n_pages = extract_pdf_text(data)
            return text, n_pages, "pdf_fallback"
        except PdfParseError as e:
            raise PdfParseError(f"primary: {primary_err}; fallback: {e}") from e


class PdfParseError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Writer (synthetic fixtures only)
# ---------------------------------------------------------------------------


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def make_pdf(pages: list[list[tuple[float, float, str]]], compress: bool = True) -> bytes:
    """Build a minimal PDF. ``pages`` is a list of pages; each page is a list
    of (x, y, text) items placed via Td in PDF user space (y up)."""
    objs: list[bytes] = []  # 1-indexed object bodies

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_nums = []
    content_nums = []
    for items in pages:
        ops = []
        for x, y, text in items:
            ops.append(f"BT /F1 12 Tf {x:g} {y:g} Td ({_esc(text)}) Tj ET".encode("cp1252", errors="replace"))
        stream = b"\n".join(ops)
        if compress:
            data = zlib.compress(stream)
            body = b"<< /Length " + str(len(data)).encode() + b" /Filter /FlateDecode >>\nstream\n" + data + b"\nendstream"
        else:
            body = b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n" + stream + b"\nendstream"
        content_nums.append(add(body))
    pages_num_placeholder = len(objs) + len(pages) + 1
    for cn in content_nums:
        page_nums.append(
            add(
                b"<< /Type /Page /Parent " + str(pages_num_placeholder).encode() + b" 0 R"
                b" /MediaBox [0 0 612 792] /Resources << /Font << /F1 " + str(font_num).encode() + b" 0 R >> >>"
                b" /Contents " + str(cn).encode() + b" 0 R >>"
            )
        )
    kids = b" ".join(str(n).encode() + b" 0 R" for n in page_nums)
    pages_num = add(b"<< /Type /Pages /Kids [" + kids + b"] /Count " + str(len(page_nums)).encode() + b" >>")
    assert pages_num == pages_num_placeholder
    catalog_num = add(b"<< /Type /Catalog /Pages " + str(pages_num).encode() + b" 0 R >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += ("%010d 00000 n \n" % off).encode()
    out += (
        b"trailer\n<< /Size " + str(len(objs) + 1).encode() + b" /Root " + str(catalog_num).encode() + b" 0 R >>\n"
        b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    )
    return bytes(out)


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_OBJ_HDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj")
_STREAM_START_RE = re.compile(rb"stream\r?\n")
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
# negative lookahead rejects indirect references like "/Length 5 0 R" (the
# first integer is an object number, not a byte count); when no literal
# length is present callers fall back to the endstream scan
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")


def _parse_objects(data: bytes) -> dict[int, bytes]:
    """Sequential object scan. Compressed stream bytes may contain the
    literals ``endobj``/``endstream`` by chance, so object boundaries are
    found by honoring the stream dict's /Length instead of a naive
    first-``endobj`` regex."""
    objs: dict[int, bytes] = {}
    pos = 0
    while True:
        h = _OBJ_HDR_RE.search(data, pos)
        if not h:
            break
        start = h.end()
        sm = _STREAM_START_RE.search(data, start)
        em = data.find(b"endobj", start)
        if sm is not None and (em == -1 or sm.start() < em):
            lm = _LENGTH_RE.search(data, start, sm.start())
            if lm:
                em = data.find(b"endobj", sm.end() + int(lm.group(1)))
        if em == -1:
            break
        objs[int(h.group(1))] = data[start:em]
        pos = em + len(b"endobj")
    return objs


def _get_stream(body: bytes) -> bytes | None:
    sm = _STREAM_START_RE.search(body)
    if not sm:
        return None
    lm = _LENGTH_RE.search(body, 0, sm.start())
    if lm:
        raw = body[sm.end() : sm.end() + int(lm.group(1))]
    else:
        m = _STREAM_RE.search(body)
        if not m:
            return None
        raw = m.group(1)
    if b"/FlateDecode" in body[: sm.start()]:
        try:
            return zlib.decompress(raw)
        except zlib.error as e:
            raise PdfParseError(f"bad FlateDecode stream: {e}") from e
    return raw


_STR_TOKEN = re.compile(rb"\((?:[^()\\]|\\.)*\)", re.S)
_NUM = rb"[+-]?(?:\d+\.?\d*|\.\d+)"
# one alternative per text operator, in document order
_TOKEN_RE = re.compile(
    rb"(?P<str>\((?:[^()\\]|\\.)*\))\s*(?P<show>Tj|')"
    rb"|(?P<tj>\[(?:[^\[\]()]|\((?:[^()\\]|\\.)*\))*\]\s*TJ)"
    rb"|(?P<td>" + _NUM + rb")\s+(?P<td2>" + _NUM + rb")\s+(?P<tdop>Td|TD)\b"
    rb"|(?P<tm>" + _NUM + rb"\s+" + _NUM + rb"\s+" + _NUM + rb"\s+" + _NUM + rb"\s+"
    + _NUM + rb"\s+" + _NUM + rb")\s+Tm\b"
    rb"|(?P<tl>" + _NUM + rb")\s+TL\b"
    rb"|(?P<tstar>T\*)"
    rb"|(?P<bt>BT\b)",
    re.S,
)

_UNESC = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08", b"f": b"\x0c",
          b"(": b"(", b")": b")", b"\\": b"\\"}


def _decode_pdf_string(tok: bytes) -> str:
    """Decode a parenthesized PDF string token (escapes + cp1252)."""
    body = tok[1:-1]
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i : i + 1]
        if c == b"\\" and i + 1 < len(body):
            nxt = body[i + 1 : i + 2]
            if nxt in _UNESC:
                out += _UNESC[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal escape, up to 3 digits
                j = i + 1
                oct_digits = b""
                while j < len(body) and len(oct_digits) < 3 and body[j : j + 1].isdigit():
                    oct_digits += body[j : j + 1]
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
                continue
            out += nxt
            i += 2
            continue
        out += c
        i += 1
    return out.decode("cp1252", errors="replace")


def _extract_items(content: bytes) -> list[tuple[float, float, str]]:
    """Walk text operators, tracking the text-position state machine; emit
    (x, y, string) per showing op. Supports Td/TD/Tm/T*/TL/Tj/TJ/'."""
    items: list[tuple[float, float, str]] = []
    x = y = 0.0
    line_x = line_y = 0.0
    leading = 0.0
    for m in _TOKEN_RE.finditer(content):
        if m.group("bt"):
            x = y = line_x = line_y = 0.0
        elif m.group("tdop"):
            tx, ty = float(m.group("td")), float(m.group("td2"))
            if m.group("tdop") == b"TD":
                leading = -ty
            line_x += tx
            line_y += ty
            x, y = line_x, line_y
        elif m.group("tm"):
            nums = [float(v) for v in m.group("tm").split()]
            line_x, line_y = nums[4], nums[5]
            x, y = line_x, line_y
        elif m.group("tl"):
            leading = float(m.group("tl"))
        elif m.group("tstar"):
            line_y -= leading
            x, y = line_x, line_y
        elif m.group("str") is not None:
            items.append((x, y, _decode_pdf_string(m.group("str"))))
        elif m.group("tj"):
            arr = m.group("tj")
            parts = [_decode_pdf_string(t) for t in _STR_TOKEN.findall(arr)]
            if parts:
                items.append((x, y, "".join(parts)))
    return items


def extract_pdf_text(data: bytes) -> tuple[str, int]:
    """PDF bytes -> (text, numpages) with y-bucket/x-sort line rebuild.

    Raises PdfParseError for malformed payloads (counted as extraction
    failures upstream, mirroring the reference's needs-OCR bucket)."""
    if not data or not data[:5] == b"%PDF-":
        raise PdfParseError("not a PDF payload")
    objs = _parse_objects(data)
    if not objs:
        raise PdfParseError("no objects found")
    # Locate the page tree: the /Type /Pages object's /Kids order is the
    # authoritative page order (our writer and ordinary simple PDFs).
    page_order: list[int] = []
    for num, body in objs.items():
        if re.search(rb"/Type\s*/Pages\b", body) and b"/Kids" in body:
            kids_m = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
            if kids_m:
                page_order = [int(r.group(1)) for r in _REF_RE.finditer(kids_m.group(1))]
                break
    if not page_order:  # fallback: objects with /Type /Page in numeric order
        page_order = sorted(
            num for num, body in objs.items()
            if re.search(rb"/Type\s*/Page\b", body) and not re.search(rb"/Type\s*/Pages\b", body)
        )
    if not page_order:
        raise PdfParseError("no pages found")
    lines: list[str] = []
    for pnum in page_order:
        body = objs.get(pnum)
        if body is None:
            raise PdfParseError(f"missing page object {pnum}")
        contents_m = re.search(rb"/Contents\s+(\d+)\s+0\s+R", body)
        content = b""
        if contents_m:
            cbody = objs.get(int(contents_m.group(1)))
            if cbody is not None:
                content = _get_stream(cbody) or b""
        # y-bucket line reconstruction (byte-parity-critical)
        buckets: dict[int, list[tuple[float, str]]] = {}
        bucket_order: list[int] = []
        for ix, iy, s in _extract_items(content):
            if not s:
                continue
            ry = js_round(iy)
            if ry not in buckets:
                buckets[ry] = []
                bucket_order.append(ry)
            buckets[ry].append((ix, s))
        for ry in sorted(buckets.keys(), reverse=True):  # higher y first
            segs = [s.strip() for _, s in sorted(buckets[ry], key=lambda t: t[0])]
            segs = [s for s in segs if s]
            if segs:
                lines.append(" ".join(segs))
        lines.append("")  # page break blank line
    return "\n".join(lines), len(page_order)
