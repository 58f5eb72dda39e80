"""pdf-parse-compatible PDF text extraction — the reference's PRIMARY path.

The reference's bronze ``rawText`` for real-world PDFs is produced by
pdf-parse@1.1.1 (ref: backend/services/pdfParsePatched.js:13-21,
backend/routes/upload.js:37-54, backend/scripts/batch_bronze_mdeq.js:29-37),
which drives the bundled pdf.js v1.10.100 ``getTextContent`` with
``{normalizeWhitespace: false, disableCombineTextItems: false}`` and then
joins items with a newline whenever ``item.transform[5]`` (device-space y)
changes, prefixing every page with a blank line (pdf-parse
``lib/pdf-parse.js`` render_page / main loop).

This module reimplements, from first principles over the published PDF 1.7
object model (ISO 32000) and the documented pdf.js text-content semantics,
the subset needed to reproduce that text on real-world documents:

- document loading: classic xref tables, xref streams (/Type/XRef with PNG
  predictors), hybrid files (/XRefStm), /Prev chains, object streams
  (/Type/ObjStm), plus a brute-force "N G obj" scan fallback for broken files
- filters: FlateDecode (+ predictors), ASCIIHex, ASCII85, RunLength
- page tree recursion with inherited /Resources, /Contents arrays
- fonts: simple (Type1/TrueType) with /ToUnicode CMaps, base encodings
  (WinAnsi/MacRoman/Standard) and /Differences; composite Type0/Identity-H
  with /ToUnicode and /W widths
- the pdf.js v1.10 text-content builder: per-glyph advances (charSpacing,
  wordSpacing, Tz), fake-space insertion (SPACE_FACTOR 0.3 /
  MULTI_SPACE_FACTOR 1.5 / MULTI_SPACE_FACTOR_MAX 4 of the font's space
  width), same-line Td / Tm combining, text-run breaking, ligature
  normalization, and item transforms via ctm x textMatrix x [fs*h,0,0,fs,0,rise]

No external PDF library is used, so the output is reproducible byte-for-byte
and its parity against the reference's shipped bronze corpus is pinned by
tests/test_mdeq_parity.py.
"""

from __future__ import annotations

import re
import struct
import zlib

__all__ = ["extract_text_pdfparse", "PdfError", "PdfDocument"]


class PdfError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Object model / lexer
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_REGULAR_END = _WS + _DELIM


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, o):
        return isinstance(o, Ref) and o.num == self.num and o.gen == self.gen

    def __hash__(self):
        return hash((self.num, self.gen))


class Name(str):
    """PDF name object; distinct from a text string."""


class StreamObj:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw


_RXB_DIGITS = re.compile(rb"(\d+)")
_RXB_NONHEX = re.compile(rb"[^0-9A-Fa-f]")
_RXB_WS = re.compile(rb"\s")
_RXB_TWO_INTS = re.compile(rb"(\d+)\s+(\d+)")
_RXB_XREF_ENT = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")
_RXB_ENDSTREAM = re.compile(rb"\s*endstream")


class Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def skip_ws(self):
        data, n = self.data, len(self.data)
        p = self.pos
        while p < n:
            c = data[p]
            if c in _WS:
                p += 1
            elif c == 0x25:  # % comment
                e = data.find(b"\n", p)
                e2 = data.find(b"\r", p)
                if e == -1 or (e2 != -1 and e2 < e):
                    e = e2
                p = len(data) if e == -1 else e + 1
            else:
                break
        self.pos = p

    def _read_token_end(self, start: int) -> int:
        data, n = self.data, len(self.data)
        p = start
        while p < n and data[p] not in _REGULAR_END:
            p += 1
        return p

    def parse_object(self):
        """Parse one object at self.pos (after skipping whitespace)."""
        self.skip_ws()
        data = self.data
        p = self.pos
        if p >= len(data):
            raise PdfError("EOF while parsing object")
        c = data[p : p + 1]
        if c == b"/":
            end = self._read_token_end(p + 1)
            raw = data[p + 1 : end]
            self.pos = end
            return Name(_decode_name(raw))
        if c == b"(":
            return self._parse_literal_string()
        if c == b"<":
            if data[p + 1 : p + 2] == b"<":
                return self._parse_dict_or_stream()
            return self._parse_hex_string()
        if c == b"[":
            self.pos = p + 1
            arr = []
            while True:
                self.skip_ws()
                if self.data[self.pos : self.pos + 1] == b"]":
                    self.pos += 1
                    return arr
                arr.append(self.parse_object())
        if c == b"]" or c == b">" or c == b")" or c == b"}" or c == b"{":
            self.pos = p + 1
            raise PdfError(f"unexpected delimiter {c!r}")
        # number / keyword / ref
        end = self._read_token_end(p + 1 if c in b"+-" else p)
        tok = data[p:end]
        self.pos = end
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        try:
            if re.fullmatch(rb"[+-]?\d+", tok):
                num = int(tok)
                # lookahead for "gen R"
                save = self.pos
                try:
                    self.skip_ws()
                    m = _RXB_DIGITS.match(data[self.pos :][:12])
                    if m and num >= 0:
                        p2 = self.pos + m.end()
                        l2 = Lexer(data, p2)
                        l2.skip_ws()
                        if data[l2.pos : l2.pos + 1] == b"R" and (
                            l2.pos + 1 >= len(data) or data[l2.pos + 1] in _REGULAR_END
                        ):
                            self.pos = l2.pos + 1
                            return Ref(num, int(m.group(1)))
                except PdfError:
                    pass
                self.pos = save
                return num
            return float(tok)
        except ValueError as e:
            raise PdfError(f"bad token {tok[:40]!r}") from e

    _PLAIN_STR = re.compile(rb"[^\\()\r]*")

    def _parse_literal_string(self) -> bytes:
        data = self.data
        # fast path: no escapes / nesting / CR before the closing paren
        m = self._PLAIN_STR.match(data, self.pos + 1)
        e = m.end()
        if e < len(data) and data[e] == 0x29:
            self.pos = e + 1
            return m.group()
        p = self.pos + 1
        depth = 1
        out = bytearray()
        n = len(data)
        scan = self._PLAIN_STR.match
        while p < n:
            # bulk-copy the run of ordinary chars (no \\ ( ) \r) in one
            # C-level regex match instead of per-char appends; the loop body
            # below then only ever handles a special char
            e = scan(data, p).end()
            if e > p:
                out += data[p:e]
                p = e
                if p >= n:
                    break
            c = data[p]
            if c == 0x5C:  # backslash
                if p + 1 >= n:
                    break
                nxt = data[p + 1]
                if nxt in b"nrtbf":
                    out += {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\x08", 0x66: b"\x0c"}[nxt]
                    p += 2
                elif nxt in b"()\\":
                    out.append(nxt)
                    p += 2
                elif 0x30 <= nxt <= 0x37:  # octal
                    j = p + 1
                    oc = 0
                    k = 0
                    while j < n and k < 3 and 0x30 <= data[j] <= 0x37:
                        oc = oc * 8 + (data[j] - 0x30)
                        j += 1
                        k += 1
                    out.append(oc & 0xFF)
                    p = j
                elif nxt == 0x0D:  # line continuation
                    p += 2
                    if p < n and data[p] == 0x0A:
                        p += 1
                elif nxt == 0x0A:
                    p += 2
                else:
                    out.append(nxt)
                    p += 2
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos = p + 1
                    return bytes(out)
            elif c == 0x0D:  # CR or CRLF -> LF per spec
                out.append(0x0A)
                p += 1
                if p < n and data[p] == 0x0A:
                    p += 1
                continue
            out.append(c)
            p += 1
        raise PdfError("unterminated string")

    def _parse_hex_string(self) -> bytes:
        data = self.data
        e = data.find(b">", self.pos + 1)
        if e == -1:
            raise PdfError("unterminated hex string")
        hexs = _RXB_NONHEX.sub(b"", data[self.pos + 1 : e])
        if len(hexs) % 2:
            hexs += b"0"
        self.pos = e + 1
        return bytes.fromhex(hexs.decode("ascii"))

    def _parse_dict_or_stream(self):
        self.pos += 2
        d = {}
        while True:
            self.skip_ws()
            nxt = self.data[self.pos : self.pos + 2]
            if nxt == b">>":
                self.pos += 2
                break
            key = self.parse_object()
            if not isinstance(key, Name):
                raise PdfError(f"dict key not a name: {key!r}")
            d[str(key)] = self.parse_object()
        # stream?
        save = self.pos
        self.skip_ws()
        if self.data[self.pos : self.pos + 6] == b"stream":
            p = self.pos + 6
            if self.data[p : p + 2] == b"\r\n":
                p += 2
            elif self.data[p : p + 1] in (b"\n", b"\r"):
                p += 1
            return ("__stream__", d, p)  # raw extraction resolved by document
        self.pos = save
        return d


def _decode_name(raw: bytes) -> str:
    if b"#" not in raw:  # no escapes: the loop below is an identity copy
        return raw.decode("latin-1")
    out = bytearray()
    i = 0
    while i < len(raw):
        if raw[i] == 0x23 and i + 2 < len(raw) + 1:
            try:
                out.append(int(raw[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(raw[i])
        i += 1
    return out.decode("latin-1")


# ---------------------------------------------------------------------------
# Filters
# ---------------------------------------------------------------------------


def _apply_png_predictor(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    n = len(data)
    while pos + 1 <= n:
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + row_len])
        if len(row) < row_len:
            row += bytes(row_len - len(row))
        pos += 1 + row_len
        if ft == 1:  # Sub
            for i in range(bpp, row_len):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(row_len):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(row_len):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        out += row
        prev = row
        if pos >= n:
            break
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (TIFF-style LZW, MSB-first variable code width 9-12,
    clear=256, EOD=257, EarlyChange=1 default)."""
    out = bytearray()
    dict_size = 258
    table: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    code_len = 9
    prev: bytes | None = None
    buf = 0
    nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= code_len:
            nbits -= code_len
            code = (buf >> nbits) & ((1 << code_len) - 1)
            if code == 256:  # clear table
                dict_size = 258
                code_len = 9
                table = {i: bytes([i]) for i in range(256)}
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
            elif code == dict_size:
                entry = prev + prev[:1]
            else:
                raise PdfError(f"bad LZW code {code}")
            out += entry
            if prev is not None:
                table[dict_size] = prev + entry[:1]
                dict_size += 1
            prev = entry
            # EarlyChange=1: width grows one code early
            if dict_size + 1 >= (1 << code_len) and code_len < 12:
                code_len += 1
    return bytes(out)


def _decode_stream_data(doc: "PdfDocument", sdict: dict, raw: bytes) -> bytes:
    filters = doc.resolve(sdict.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = doc.resolve(sdict.get("DecodeParms") or sdict.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for f, pm in zip(filters, parms):
        f = str(doc.resolve(f))
        pm = doc.resolve(pm) or {}
        if f in ("FlateDecode", "Fl"):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                # tolerate trailing garbage / missing checksum
                try:
                    data = zlib.decompressobj().decompress(data)
                except zlib.error as e:
                    raise PdfError(f"bad flate stream: {e}") from e
            pred = doc.resolve(pm.get("Predictor", 1)) or 1
            if pred >= 10:
                data = _apply_png_predictor(
                    data,
                    doc.resolve(pm.get("Colors", 1)) or 1,
                    doc.resolve(pm.get("BitsPerComponent", 8)) or 8,
                    doc.resolve(pm.get("Columns", 1)) or 1,
                )
            elif pred == 2:
                raise PdfError("TIFF predictor unsupported")
        elif f in ("ASCIIHexDecode", "AHx"):
            data = bytes.fromhex(
                _RXB_NONHEX.sub(b"", data.split(b">")[0]).decode("ascii")
            )
        elif f in ("ASCII85Decode", "A85"):
            import base64

            body = data.split(b"~>")[0]
            body = _RXB_WS.sub(b"", body)
            if body.startswith(b"<~"):
                body = body[2:]
            data = base64.a85decode(body)
        elif f in ("LZWDecode", "LZW"):
            data = _lzw_decode(data)
            pred = doc.resolve(pm.get("Predictor", 1)) or 1
            if pred >= 10:
                data = _apply_png_predictor(
                    data,
                    doc.resolve(pm.get("Colors", 1)) or 1,
                    doc.resolve(pm.get("BitsPerComponent", 8)) or 8,
                    doc.resolve(pm.get("Columns", 1)) or 1,
                )
        elif f in ("RunLengthDecode", "RL"):
            out = bytearray()
            i = 0
            while i < len(data):
                l = data[i]
                if l == 128:
                    break
                if l < 128:
                    out += data[i + 1 : i + 2 + l]
                    i += 2 + l
                else:
                    out += data[i + 1 : i + 2] * (257 - l)
                    i += 2
            data = bytes(out)
        elif f in ("DCTDecode", "JPXDecode", "CCITTFaxDecode", "JBIG2Decode"):
            return data  # image data: callers never decode text from these
        elif f == "Crypt":
            raise PdfError("encrypted stream")
        else:
            raise PdfError(f"unsupported filter {f}")
    return data


# ---------------------------------------------------------------------------
# Document: xref (tables + streams + ObjStm), object access
# ---------------------------------------------------------------------------


class PdfDocument:
    def __init__(self, data: bytes):
        if not data.startswith(b"%PDF-"):
            # some files have junk before the header
            idx = data.find(b"%PDF-")
            if idx == -1:
                raise PdfError("not a PDF")
            data = data[idx:]
        self.data = data
        self.xref: dict[int, tuple] = {}  # num -> ('n', offset) | ('o', stmnum, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._brute: dict[int, int] | None = None
        try:
            self._load_xref()
        except PdfError:
            self.xref = {}
        if not self.xref or "Root" not in self.trailer:
            self._brute_scan()
        if self.resolve(self.trailer.get("Encrypt")) is not None:
            raise PdfError("encrypted PDF unsupported")

    # -- xref loading --------------------------------------------------------

    def _load_xref(self):
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", self.data[-2048:]):
            pass
        if not m:
            raise PdfError("no startxref")
        offset = int(m.group(1))
        seen = set()
        while offset and offset not in seen and 0 <= offset < len(self.data):
            seen.add(offset)
            lex = Lexer(self.data, offset)
            lex.skip_ws()
            if self.data[lex.pos : lex.pos + 4] == b"xref":
                trailer = self._parse_xref_table(lex.pos + 4)
            else:
                trailer = self._parse_xref_stream_at(offset)
            if not self.trailer:
                self.trailer = dict(trailer)
            else:
                for k, v in trailer.items():
                    self.trailer.setdefault(k, v)
            # hybrid: /XRefStm points to an xref stream with more entries
            xrs = trailer.get("XRefStm")
            if isinstance(xrs, int) and xrs not in seen:
                seen.add(xrs)
                try:
                    self._parse_xref_stream_at(xrs)
                except PdfError:
                    pass
            prev = trailer.get("Prev")
            offset = prev if isinstance(prev, int) else 0

    def _parse_xref_table(self, pos: int) -> dict:
        lex = Lexer(self.data, pos)
        while True:
            lex.skip_ws()
            if self.data[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = lex.parse_object()
                if not isinstance(t, dict):
                    raise PdfError("bad trailer")
                return t
            m = _RXB_TWO_INTS.match(self.data[lex.pos : lex.pos + 40])
            if not m:
                raise PdfError("bad xref subsection header")
            start, count = int(m.group(1)), int(m.group(2))
            lex.pos += m.end()
            lex.skip_ws()
            for i in range(count):
                ent = self.data[lex.pos : lex.pos + 20]
                em = _RXB_XREF_ENT.match(ent)
                if not em:
                    raise PdfError("bad xref entry")
                if em.group(3) == b"n" and (start + i) not in self.xref:
                    self.xref[start + i] = ("n", int(em.group(1)))
                # entries are exactly 18 bytes + 2 byte EOL, but be tolerant
                nl = ent.find(b"n", em.start(3))
                lex.pos += em.end()
                lex.skip_ws()

    def _parse_xref_stream_at(self, offset: int) -> dict:
        sobj = self._parse_indirect_at(offset)
        if not isinstance(sobj, StreamObj):
            raise PdfError("xref stream expected")
        d = sobj.dict
        data = _decode_stream_data(self, d, sobj.raw)
        w = [self.resolve(x) for x in self.resolve(d.get("W", []))]
        if not w or len(w) < 3:
            raise PdfError("bad /W")
        size = self.resolve(d.get("Size", 0))
        index = self.resolve(d.get("Index")) or [0, size]
        rw = sum(w)
        pos = 0

        def field(row, k):
            s = sum(w[:k])
            return int.from_bytes(row[s : s + w[k]], "big") if w[k] else (1 if k == 0 else 0)

        for i in range(0, len(index), 2):
            start, count = self.resolve(index[i]), self.resolve(index[i + 1])
            for j in range(count):
                if pos + rw > len(data):
                    break
                row = data[pos : pos + rw]
                pos += rw
                num = start + j
                if num in self.xref:
                    continue
                t = field(row, 0)
                if t == 1:
                    self.xref[num] = ("n", field(row, 1))
                elif t == 2:
                    self.xref[num] = ("o", field(row, 1), field(row, 2))
        return d

    # -- object access -------------------------------------------------------

    def _parse_indirect_at(self, offset: int):
        m = re.compile(rb"(\d+)\s+(\d+)\s+obj").match(self.data, offset) or re.compile(
            rb"\s*(\d+)\s+(\d+)\s+obj"
        ).match(self.data, offset)
        if not m:
            raise PdfError(f"no obj header at {offset}")
        lex = Lexer(self.data, m.end())
        obj = lex.parse_object()
        if isinstance(obj, tuple) and obj[0] == "__stream__":
            _, d, dstart = obj
            length = self.resolve(d.get("Length"))
            raw = None
            if isinstance(length, int) and length >= 0:
                cand = self.data[dstart : dstart + length]
                after = self.data[dstart + length : dstart + length + 20]
                if _RXB_ENDSTREAM.match(after):
                    raw = cand
            if raw is None:  # length wrong/indirect-unresolvable: scan
                e = self.data.find(b"endstream", dstart)
                if e == -1:
                    raise PdfError("unterminated stream")
                raw = self.data[dstart:e]
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith(b"\n") or raw.endswith(b"\r"):
                    raw = raw[:-1]
            return StreamObj(d, raw)
        return obj

    def _brute_scan(self):
        """Index every `N G obj` in the file (last occurrence wins, matching
        incremental-update semantics) — the recovery path pdf.js also has."""
        if self._brute is not None:
            return
        self._brute = {}
        for m in re.finditer(rb"(?:^|[\r\n\s])(\d+)\s+(\d+)\s+obj\b", self.data):
            self._brute[int(m.group(1))] = m.start(1)
        for num, off in self._brute.items():
            self.xref.setdefault(num, ("n", off))
        if "Root" not in self.trailer:
            for m in re.finditer(rb"trailer", self.data):
                try:
                    lex = Lexer(self.data, m.end())
                    t = lex.parse_object()
                    if isinstance(t, dict) and "Root" in t:
                        self.trailer = t
                        break
                except PdfError:
                    continue
            if "Root" not in self.trailer:
                # look for a /Type /Catalog object
                for num in self.xref:
                    try:
                        o = self.get(num)
                    except PdfError:
                        continue
                    if isinstance(o, dict) and o.get("Type") == "Catalog":
                        self.trailer = {"Root": Ref(num, 0)}
                        break

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        if ent is None:
            self._brute_scan()
            ent = self.xref.get(num)
            if ent is None:
                return None
        try:
            if ent[0] == "n":
                obj = self._parse_indirect_at(ent[1])
            else:
                obj = self._get_from_objstm(ent[1], ent[2], num)
        except PdfError:
            # xref offset wrong: fall back to brute scan position
            self._brute_scan()
            off = self._brute.get(num)
            obj = self._parse_indirect_at(off) if off is not None else None
        self._cache[num] = obj
        return obj

    def _get_from_objstm(self, stm_num: int, idx: int, want: int):
        objs = self._objstm_cache.get(stm_num)
        if objs is None:
            sobj = self.get(stm_num)
            if not isinstance(sobj, StreamObj):
                raise PdfError(f"ObjStm {stm_num} missing")
            data = _decode_stream_data(self, sobj.dict, sobj.raw)
            n = self.resolve(sobj.dict.get("N", 0))
            first = self.resolve(sobj.dict.get("First", 0))
            hdr = Lexer(data, 0)
            pairs = []
            for _ in range(n):
                onum = hdr.parse_object()
                ooff = hdr.parse_object()
                pairs.append((onum, ooff))
            objs = {}
            for onum, ooff in pairs:
                try:
                    lx = Lexer(data, first + ooff)
                    o = lx.parse_object()
                    if isinstance(o, tuple):
                        o = None  # streams not allowed in ObjStm
                    objs[onum] = o
                except PdfError:
                    objs[onum] = None
            self._objstm_cache[stm_num] = objs
        if want not in objs:
            raise PdfError(f"obj {want} not in ObjStm {stm_num}")
        return objs[want]

    def resolve(self, obj):
        depth = 0
        while isinstance(obj, Ref) and depth < 32:
            obj = self.get(obj.num)
            depth += 1
        return obj

    def stream_bytes(self, obj) -> bytes:
        obj = self.resolve(obj)
        if not isinstance(obj, StreamObj):
            raise PdfError("not a stream")
        return _decode_stream_data(self, obj.dict, obj.raw)

    # -- page tree -----------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("no catalog")
        tree = self.resolve(root.get("Pages"))
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node, inherited):
            if not isinstance(node, dict):
                return
            inh = dict(inherited)
            for k in ("Resources", "MediaBox", "Rotate", "CropBox"):
                if k in node:
                    inh[k] = node[k]
            t = node.get("Type")
            kids = self.resolve(node.get("Kids"))
            if t == "Page" or (kids is None and t != "Pages"):
                page = dict(node)
                for k, v in inh.items():
                    page.setdefault(k, v)
                out.append(page)
                return
            if isinstance(kids, list):
                for kid in kids:
                    if isinstance(kid, Ref):
                        if kid.num in seen:
                            continue
                        seen.add(kid.num)
                    walk(self.resolve(kid), inh)

        walk(tree, {})
        if not out:
            # fallback: any /Type /Page object in file order
            self._brute_scan()
            for num in sorted(self.xref):
                o = self.get(num)
                if isinstance(o, dict) and o.get("Type") == "Page":
                    out.append(o)
        if not out:
            raise PdfError("no pages")
        return out

    def page_content(self, page: dict) -> bytes:
        c = self.resolve(page.get("Contents"))
        if c is None:
            return b""
        parts = []
        if isinstance(c, list):
            for item in c:
                item = self.resolve(item)
                if isinstance(item, StreamObj):
                    parts.append(_decode_stream_data(self, item.dict, item.raw))
        elif isinstance(c, StreamObj):
            parts.append(_decode_stream_data(self, c.dict, c.raw))
        return b"\n".join(parts)

# ---------------------------------------------------------------------------
# Encodings / glyph lists (PDF 1.7 Annex D; Adobe Glyph List subset)
# ---------------------------------------------------------------------------

# WinAnsiEncoding -> unicode. Matches the pdf.js encoding table: cp1252 with
# code 0xA0 mapped to the 'space' glyph (U+0020, NOT nbsp) and 0xAD to
# 'hyphen' (U+002D); unassigned cp1252 codes fall back to chr(code).
def _build_winansi() -> dict[int, str]:
    table = {}
    for c in range(32, 256):
        try:
            table[c] = bytes([c]).decode("cp1252")
        except UnicodeDecodeError:
            table[c] = chr(c)
    table[0xA0] = " "
    table[0xAD] = "-"
    return table


WIN_ANSI = _build_winansi()

MAC_ROMAN = {c: bytes([c]).decode("mac_roman", errors="replace") for c in range(32, 256)}

# Adobe Glyph List subset covering Latin text + punctuation that real-world
# office-suite PDFs use via /Differences.
AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#", "dollar": "$",
    "percent": "%", "ampersand": "&", "quotesingle": "'", "parenleft": "(",
    "parenright": ")", "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "zero": "0", "one": "1", "two": "2", "three": "3",
    "four": "4", "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=", "greater": ">",
    "question": "?", "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_", "grave": "`",
    "braceleft": "{", "bar": "|", "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•", "ellipsis": "…",
    "dagger": "†", "daggerdbl": "‡", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›", "guillemotleft": "«",
    "guillemotright": "»", "trademark": "™", "registered": "®",
    "copyright": "©", "degree": "°", "plusminus": "±",
    "multiply": "×", "divide": "÷", "florin": "ƒ", "fraction": "⁄",
    "cent": "¢", "sterling": "£", "yen": "¥", "currency": "¤",
    "Euro": "€", "section": "§", "paragraph": "¶", "mu": "µ",
    "brokenbar": "¦", "logicalnot": "¬", "macron": "¯",
    "acute": "´", "cedilla": "¸", "dieresis": "¨", "tilde": "˜",
    "circumflex": "ˆ", "caron": "ˇ", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "ogonek": "˛", "hungarumlaut": "˝",
    "exclamdown": "¡", "questiondown": "¿", "onequarter": "¼",
    "onehalf": "½", "threequarters": "¾", "onesuperior": "¹",
    "twosuperior": "²", "threesuperior": "³", "ordfeminine": "ª",
    "ordmasculine": "º", "periodcentered": "·", "middot": "·",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ", "ffi": "ﬃ", "ffl": "ﬄ",
    "AE": "Æ", "ae": "æ", "OE": "Œ", "oe": "œ",
    "Oslash": "Ø", "oslash": "ø", "Lslash": "Ł", "lslash": "ł",
    "Thorn": "Þ", "thorn": "þ", "Eth": "Ð", "eth": "ð",
    "germandbls": "ß", "dotlessi": "ı", "Scaron": "Š",
    "scaron": "š", "Zcaron": "Ž", "zcaron": "ž",
    "Ydieresis": "Ÿ", "ydieresis": "ÿ", "nbspace": " ",
    "minus": "−", "notdef": "", ".notdef": "",
}
# accented latin: Aacute..., build from unicodedata names
import unicodedata as _ud

for _base in "AEIOUYaeiouyNnCcSsZzGgKkLlRrTtDdHhWw":
    for _acc, _mark in [("acute", "́"), ("grave", "̀"), ("circumflex", "̂"),
                        ("dieresis", "̈"), ("tilde", "̃"), ("ring", "̊"),
                        ("cedilla", "̧"), ("macron", "̄"), ("breve", "̆"),
                        ("caron", "̌")]:
        _comp = _ud.normalize("NFC", _base + _mark)
        if len(_comp) == 1:
            AGL.setdefault(_base + _acc, _comp)

# pdf.js getNormalizedUnicodes: compatibility decompositions (the shipped
# table is generated from the Unicode compatibility mappings — ellipsis ->
# '...', ligatures -> letters, superscripts -> digits, fractions -> '1⁄2').
# Rebuilt here from unicodedata: every BMP char whose decomposition carries a
# compatibility tag (excluding <noBreak>, which pdf.js leaves alone).
def _build_normalized_unicodes() -> dict[str, str]:
    table: dict[str, str] = {}
    for cp in range(0x80, 0x10000):
        ch = chr(cp)
        dec = _ud.decomposition(ch)
        if not dec or not dec.startswith("<"):
            continue
        tag, _, rest = dec.partition("> ")
        if tag == "<noBreak":
            continue
        try:
            table[ch] = "".join(chr(int(h, 16)) for h in rest.split())
        except ValueError:
            continue
    return table


NORMALIZED_UNICODES = _build_normalized_unicodes()


def glyph_name_to_unicode(name: str) -> str | None:
    if name in AGL:
        return AGL[name]
    if len(name) == 1:
        return name
    if re.fullmatch(r"uni[0-9A-Fa-f]{4,6}", name):
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if re.fullmatch(r"u[0-9A-Fa-f]{4,6}", name):
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    if re.fullmatch(r"g\d+", name) or re.fullmatch(r"cid\d+", name):
        return None
    # try unicodedata lookup of single letters like 'a'.. handled above
    return None


# ---------------------------------------------------------------------------
# ToUnicode CMap parsing (bfchar / bfrange)
# ---------------------------------------------------------------------------


def parse_tounicode(data: bytes) -> dict[int, str]:
    out: dict[int, str] = {}

    def hex2int(tok: bytes) -> int:
        return int(tok, 16)

    def hex2str(tok: bytes) -> str:
        if len(tok) % 4 == 2:
            tok = tok  # odd byte counts: treat as UTF-16BE anyway
        try:
            return bytes.fromhex(tok.decode()).decode("utf-16-be", errors="replace")
        except ValueError:
            return ""

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for cm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>", m.group(1)):
            out[hex2int(cm.group(1))] = hex2str(cm.group(2))
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body = m.group(1)
        pos = 0
        rng = re.compile(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]*)>|\[((?:\s*<[0-9A-Fa-f]*>)*)\s*\])"
        )
        for cm in rng.finditer(body):
            lo, hi = hex2int(cm.group(1)), hex2int(cm.group(2))
            if cm.group(3) is not None:
                base = cm.group(3)
                if not base:
                    continue
                basev = int(base, 16)
                width = len(base)
                for c in range(lo, min(hi, lo + 0xFFFF) + 1):
                    out[c] = hex2str(b"%0*X" % (width, basev + (c - lo)))
            else:
                toks = re.findall(rb"<([0-9A-Fa-f]*)>", cm.group(4) or b"")
                for i, tok in enumerate(toks):
                    if lo + i <= hi:
                        out[lo + i] = hex2str(tok)
    return out


# ---------------------------------------------------------------------------
# Fonts
# ---------------------------------------------------------------------------


class Font:
    """Enough of pdf.js's Font for getTextContent: code -> (unicode, width,
    isSpace) plus spaceWidth for fake-space thresholds."""

    def __init__(self, doc: PdfDocument, fdict: dict, name: str):
        self.loaded_name = name
        self.vertical = False
        self.composite = False
        self.font_matrix = (0.001, 0.0, 0.0, 0.001, 0.0, 0.0)
        self.to_unicode: dict[int, str] = {}
        self.widths: dict[int, float] = {}
        self.default_width = 0.0
        self.is_monospace = False
        subtype = doc.resolve(fdict.get("Subtype"))
        d = fdict
        if subtype == "Type0":
            self.composite = True
            desc = doc.resolve(d.get("DescendantFonts"))
            dfont = doc.resolve(desc[0]) if isinstance(desc, list) and desc else {}
            self._load_cid_widths(doc, dfont or {})
            enc = doc.resolve(d.get("Encoding"))
            # Identity-H/V only; other CMaps fall back to 2-byte identity
            self.vertical = isinstance(enc, str) and enc.endswith("-V")
        else:
            self._load_simple(doc, d, subtype)
        tu = doc.resolve(d.get("ToUnicode"))
        if isinstance(tu, StreamObj):
            try:
                self.to_unicode = parse_tounicode(doc.stream_bytes(tu)) or self.to_unicode
            except PdfError:
                pass
        self.space_width = self._compute_space_width()
        self._tbl256: list | None = None
        self._cid_cache: dict[int, tuple] = {}

    def table256(self) -> list:
        """Per-code (normalized_unicode, width, is_space) for simple fonts —
        precomputing the ToUnicode + NormalizedUnicodes lookups removes two
        dict probes per glyph from the hot loop."""
        if self._tbl256 is None:
            tbl = []
            for code in range(256):
                u = self.to_unicode.get(code)
                if u is None:
                    u = chr(code)
                u = NORMALIZED_UNICODES.get(u, u)
                tbl.append((u, self.widths.get(code, self.default_width), code == 32))
            self._tbl256 = tbl
        return self._tbl256

    # -- simple fonts --------------------------------------------------------

    def _load_simple(self, doc: PdfDocument, d: dict, subtype):
        fc = doc.resolve(d.get("FirstChar", 0)) or 0
        widths = doc.resolve(d.get("Widths"))
        fd = doc.resolve(d.get("FontDescriptor")) or {}
        flags = doc.resolve(fd.get("Flags", 0)) or 0
        self.is_monospace = bool(flags & 1)
        symbolic = bool(flags & 4)
        mw = doc.resolve(fd.get("MissingWidth", 0)) or 0
        self.default_width = float(mw)
        if isinstance(widths, list):
            for i, w in enumerate(widths):
                w = doc.resolve(w)
                if isinstance(w, (int, float)):
                    self.widths[fc + i] = float(w)
        else:
            # standard-14 font with no /Widths: Helvetica-ish metrics keep
            # fake-space thresholds sane (space=278 wins over default 0)
            self.default_width = 500.0
            self.widths[32] = 278.0
        enc = doc.resolve(d.get("Encoding"))
        base_table: dict[int, str]
        base_name = doc.resolve(d.get("BaseFont"))
        if isinstance(enc, dict):
            base = doc.resolve(enc.get("BaseEncoding"))
        else:
            base = enc
        if base == "WinAnsiEncoding":
            base_table = dict(WIN_ANSI)
        elif base == "MacRomanEncoding":
            base_table = dict(MAC_ROMAN)
        else:
            # StandardEncoding approximated by WinAnsi for text purposes;
            # symbolic fonts keep the identity until ToUnicode/Differences say
            base_table = {} if symbolic else dict(WIN_ANSI)
        if isinstance(enc, dict):
            diffs = doc.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                code = 0
                for item in diffs:
                    item = doc.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, Name):
                        u = glyph_name_to_unicode(str(item))
                        if u is not None:
                            base_table[code] = u
                        code += 1
        self.to_unicode = {c: u for c, u in base_table.items()}

    def _load_cid_widths(self, doc: PdfDocument, dfont: dict):
        self.default_width = float(doc.resolve(dfont.get("DW", 1000)) or 1000)
        warr = doc.resolve(dfont.get("W"))
        if isinstance(warr, list):
            i = 0
            items = [doc.resolve(x) for x in warr]
            while i < len(items):
                start = items[i]
                if i + 1 < len(items) and isinstance(items[i + 1], list):
                    for j, w in enumerate(items[i + 1]):
                        w = doc.resolve(w)
                        if isinstance(w, (int, float)):
                            self.widths[int(start) + j] = float(w)
                    i += 2
                elif i + 2 < len(items):
                    end, w = items[i + 1], items[i + 2]
                    if all(isinstance(x, (int, float)) for x in (start, end, w)):
                        for c in range(int(start), min(int(end), int(start) + 0xFFFF) + 1):
                            self.widths[c] = float(w)
                    i += 3
                else:
                    break

    def _compute_space_width(self) -> float:
        # pdf.js Font.spaceWidth: tries glyphs 'space', 'minus', 'one', 'i'.
        # For COMPOSITE fonts the charcode comes from cMap.lookup(unicode) —
        # under Identity-H that is the unicode codepoint itself (so the
        # width of CID 0x20, whatever glyph that is), NOT the CID that
        # ToUnicode maps to ' '. For simple fonts toUnicode.charCodeOf(' ')
        # resolves the charcode.
        if self.composite:
            for cp in (0x20, 0x2212, 0x31, 0x69):
                w = self.widths.get(cp)
                if w:
                    return w
            return self.default_width
        for target in (" ", "−", "-", "1", "i"):
            code = None
            for c, u in self.to_unicode.items():
                if u == target:
                    code = c
                    break
            if code is not None:
                w = self.widths.get(code)
                if w:
                    return w
        return self.default_width

    # -- glyph iteration -----------------------------------------------------

    def chars_to_glyphs(self, raw: bytes):
        """Yield (unicode, width, is_space) per glyph."""
        if self.composite:
            n = len(raw) & ~1
            for i in range(0, n, 2):
                code = (raw[i] << 8) | raw[i + 1]
                u = self.to_unicode.get(code)
                if u is None:
                    u = chr(code) if code else ""
                yield u, self.widths.get(code, self.default_width), False
            if len(raw) % 2:  # dangling byte
                code = raw[-1]
                u = self.to_unicode.get(code, chr(code))
                yield u, self.widths.get(code, self.default_width), code == 32
        else:
            for code in raw:
                u = self.to_unicode.get(code)
                if u is None:
                    u = chr(code)
                yield u, self.widths.get(code, self.default_width), code == 32


# ---------------------------------------------------------------------------
# Content-stream tokenizer (operators + operands, inline-image aware)
# ---------------------------------------------------------------------------

# fused token scanner: ws/comment run (a comment ends before \r|\n, which
# the ws class then consumes — same final position as Lexer.skip_ws for
# every input) + exactly one token alternative per
# call (number | operator | object-start delimiter | any other byte), so
# the hot loop pays ONE C-level regex match per token instead of a skip
# match plus a python char dispatch plus a class-specific match. The
# alternatives reproduce the branch predicates of the previous loop:
# group 1 = a number, group 2 = an operator, group 3 = chars handed to
# Lexer.parse_object (NOT consumed — parse_object re-reads from its
# start), group 4 = any other byte (DOTALL for \n). Fails to match only
# when nothing but trailing whitespace/comments remains. (An inline
# /Name alternative was tried and measured ~8-15% SLOWER end-to-end —
# names are rare in content streams and the extra branch taxes the
# number/operator common path — so names stay on parse_object.)
_TOK_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:([+-]?(?:\d+\.\d*|\.\d+|\d+))"
    rb"|([A-Za-z'\"][A-Za-z0-9*'\"]*)"
    rb"|([/<([])"
    rb"|(.))",
    re.DOTALL,
)


def iter_operations(content: bytes):
    """Yield (operator: str, operands: list) in stream order."""
    lex = Lexer(content, 0)
    operands: list = []
    n = len(content)
    pos = 0
    tok_match = _TOK_RE.match
    while pos < n:
        m = tok_match(content, pos)
        if m is None:
            break  # only trailing whitespace/comments left
        g = m.lastindex
        if g == 1:
            # numeric operand fast path: content streams carry no indirect
            # refs, so the general parser's "N G R" lookahead is dead weight
            tok = m.group(1)
            operands.append(int(tok) if b"." not in tok else float(tok))
            pos = m.end()
            continue
        if g == 3:
            lex.pos = m.start(3)
            try:
                operands.append(lex.parse_object())
            except PdfError:
                lex.pos += 1
            pos = lex.pos
            continue
        if g == 4:
            # lone +-. (a number that failed to parse) skips without
            # touching operands; any other stray byte resets them — the
            # same recovery split as the previous per-branch loop
            if m.group(4) not in (b"+", b"-", b"."):
                operands = []
            pos = m.end()
            continue
        op = m.group(2).decode("latin-1")
        pos = m.end()
        if op == "BI":  # inline image: skip to EI at whitespace boundary
            e = pos
            while True:
                e = content.find(b"EI", e)
                if e == -1:
                    pos = n
                    break
                if (e == 0 or content[e - 1] in _WS) and (
                    e + 2 >= n or content[e + 2] in _REGULAR_END
                ):
                    pos = e + 2
                    break
                e += 2
            operands = []
            continue
        yield op, operands
        operands = []


# ---------------------------------------------------------------------------
# getTextContent (pdf.js v1.10 semantics) + pdf-parse render
# ---------------------------------------------------------------------------

SPACE_FACTOR = 0.3
MULTI_SPACE_FACTOR = 1.5
MULTI_SPACE_FACTOR_MAX = 4


def _mat_mul(m1, m2):
    """pdf.js Util.transform(m1, m2): apply m2 then m1."""
    return (
        m1[0] * m2[0] + m1[2] * m2[1],
        m1[1] * m2[0] + m1[3] * m2[1],
        m1[0] * m2[2] + m1[2] * m2[3],
        m1[1] * m2[2] + m1[3] * m2[3],
        m1[0] * m2[4] + m1[2] * m2[5] + m1[4],
        m1[1] * m2[4] + m1[3] * m2[5] + m1[5],
    )


_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


class _TextState:
    __slots__ = ("ctm", "font", "font_name", "font_size", "font_matrix", "char_spacing",
                 "word_spacing", "leading", "h_scale", "rise", "tm", "tlm")

    def __init__(self):
        self.ctm = _IDENTITY
        self.font = None
        self.font_name = None
        self.font_size = 0.0
        self.font_matrix = (0.001, 0.0, 0.0, 0.001, 0.0, 0.0)
        self.char_spacing = 0.0
        self.word_spacing = 0.0
        self.leading = 0.0
        self.h_scale = 1.0
        self.rise = 0.0
        self.tm = list(_IDENTITY)
        self.tlm = list(_IDENTITY)

    def clone(self):
        s = _TextState()
        for k in self.__slots__:
            v = getattr(self, k)
            setattr(s, k, list(v) if isinstance(v, list) else v)
        return s

    def translate_tm(self, x, y):
        m = self.tm
        m[4] = m[0] * x + m[2] * y + m[4]
        m[5] = m[1] * x + m[3] * y + m[5]

    def translate_tlm(self, x, y):
        m = self.tlm
        m[4] = m[0] * x + m[2] * y + m[4]
        m[5] = m[1] * x + m[3] * y + m[5]

    def carriage_return(self):
        self.translate_tlm(0, -self.leading)
        self.tm = list(self.tlm)

    def calc_tlm_advance(self, a, b, c, d, e, f):
        """pdf.js TextState.calcTextLineMatrixAdvance."""
        if self.font is None:
            return None
        m = self.tlm
        if not (a == m[0] and b == m[1] and c == m[2] and d == m[3]):
            return None
        tx_diff, ty_diff = e - m[4], f - m[5]
        if ty_diff != 0:  # horizontal fonts only
            return None
        den = a * d - b * c
        if den == 0:
            return None
        return tx_diff * d / den


class _Item:
    __slots__ = ("str", "width", "ty", "initialized", "space_width", "fake_space_min",
                 "fake_multi_space_min", "fake_multi_space_max", "run_break_allowed",
                 "last_advance_width", "last_advance_height")

    def __init__(self):
        self.initialized = False
        self.str = []
        self.width = 0.0
        self.ty = 0.0
        self.space_width = 0.0
        self.fake_space_min = float("inf")
        self.fake_multi_space_min = float("inf")
        self.fake_multi_space_max = 0.0
        self.run_break_allowed = False
        self.last_advance_width = 0.0
        self.last_advance_height = 0.0


class _TextContentBuilder:
    """One per page; processes (possibly nested, via Form XObjects) content
    streams and accumulates (str, transform_y) items."""

    def __init__(self, doc: PdfDocument):
        self.doc = doc
        self.items: list[tuple[str, float]] = []
        self.item = _Item()
        self._font_cache: dict[int | str, Font] = {}
        # (key, width-table, translate-table) for the simple-font show-op
        # fast path; key = (font, k, Tc, Tw, Th, space-width params)
        self._bi_cache: tuple | None = None

    # -- fonts ---------------------------------------------------------------

    def _get_font(self, resources: dict, name: str) -> Font | None:
        fonts = self.doc.resolve(resources.get("Font")) if resources else None
        if not isinstance(fonts, dict):
            return None
        ref = fonts.get(name)
        key = ref.num if isinstance(ref, Ref) else f"{id(fonts)}/{name}"
        if key in self._font_cache:
            return self._font_cache[key]
        fdict = self.doc.resolve(ref)
        font = Font(self.doc, fdict, name) if isinstance(fdict, dict) else None
        self._font_cache[key] = font
        return font

    # -- item lifecycle ------------------------------------------------------

    def _ensure_item(self, ts: _TextState) -> _Item:
        it = self.item
        if it.initialized:
            return it
        font = ts.font
        tsm = (ts.font_size * ts.h_scale, 0.0, 0.0, ts.font_size, 0.0, ts.rise)
        trm = _mat_mul(ts.ctm, _mat_mul(tuple(ts.tm), tsm))
        it.ty = trm[5]
        it.width = 0.0
        space_width = (font.space_width / 1000.0) * ts.font_size if font else 0.0
        if space_width:
            it.space_width = space_width
            it.fake_space_min = space_width * SPACE_FACTOR
            it.fake_multi_space_min = space_width * MULTI_SPACE_FACTOR
            it.fake_multi_space_max = space_width * MULTI_SPACE_FACTOR_MAX
            it.run_break_allowed = not (font and font.is_monospace)
        else:
            it.space_width = 0.0
            it.fake_space_min = float("inf")
            it.fake_multi_space_min = float("inf")
            it.fake_multi_space_max = 0.0
            it.run_break_allowed = False
        it.last_advance_width = 0.0
        it.last_advance_height = 0.0
        it.initialized = True
        return it

    def _flush(self):
        it = self.item
        if not it.initialized:
            return
        self.items.append(("".join(it.str), it.ty))
        it.initialized = False
        it.str = []

    def _add_fake_spaces(self, width: float, buf: list):
        it = self.item
        if width < it.fake_space_min:
            return
        if width < it.fake_multi_space_min:
            buf.append(" ")
            return
        n = _js_math_round(width / it.space_width) if it.space_width else 0
        while n > 0:
            buf.append(" ")
            n -= 1

    def _build_item(self, ts: _TextState, raw: bytes):
        font = ts.font
        if font is None:
            return
        it = self._ensure_item(ts)
        width = 0.0
        k = ts.font_matrix[0] * ts.font_size
        cs, ws, h = ts.char_spacing, ts.word_spacing, ts.h_scale
        buf = it.str
        append = buf.append
        if not font.composite:
            # hot path: per-code width + replacement-string tables cached on
            # the (font, spacing-state) key, so the per-glyph loop collapses
            # to C-level ``sum(map(...))`` + ``str.translate``. Float
            # semantics are bit-identical to the per-char loop it replaces:
            # each code's contribution is the same expression evaluated once
            # and summed left-to-right from zero, and a space glyph renders
            # as its literal ' ' plus fake spaces covering the WORD-SPACING
            # stretch only (Tw justification -> multiple spaces; charSpacing
            # stretch does NOT multiply spaces — pinned empirically against
            # the reference bronze: Tw=0.12/sw=0.278 doubles, Tc=0.157/Tw=0
            # stays single), which is a constant string per state key.
            key = (font, k, cs, ws, h, it.space_width, it.fake_space_min,
                   it.fake_multi_space_min)
            cache = self._bi_cache
            if cache is not None and cache[0] == key:
                wtbl, trans = cache[1], cache[2]
            else:
                tbl = font._tbl256 or font.table256()
                ws_h = ws * h
                wtbl = []
                trans = {}
                for code in range(256):
                    u, gwidth, is_space = tbl[code]
                    if is_space:
                        wtbl.append((gwidth * k + cs + ws) * h)
                        sp = " "
                        if ws_h >= it.fake_space_min:
                            if ws_h < it.fake_multi_space_min:
                                sp += " "
                            elif it.space_width:
                                sp += " " * max(0, _js_math_round(ws_h / it.space_width))
                        trans[code] = sp
                    else:
                        wtbl.append((gwidth * k + cs) * h)
                        trans[code] = u
                self._bi_cache = (key, wtbl, trans)
            width = sum(map(wtbl.__getitem__, raw))
            append(raw.decode("latin-1").translate(trans))
        else:
            for u, gwidth, is_space in font.chars_to_glyphs(raw):
                u = NORMALIZED_UNICODES.get(u, u)
                char_spacing = cs + (ws if is_space else 0.0)
                width += (gwidth * k + char_spacing) * h
                if is_space:
                    append(" ")
                    self._add_fake_spaces(ws * h, buf)
                else:
                    append(u)
        ts.translate_tm(width, 0)
        it.width += width
        # advance of the latest show op: Td/Tm same-line moves subtract it so
        # a move that only re-positions to the end of drawn text adds no gap
        it.last_advance_width = width
        it.last_advance_height = 0.0

    # -- main loop -----------------------------------------------------------

    def process(self, content: bytes, resources: dict, state: _TextState):
        doc = self.doc
        stack: list[_TextState] = []
        ts = state
        for op, args in iter_operations(content):
            try:
                if op == "Tj":
                    if args and isinstance(args[-1], bytes):
                        self._build_item(ts, args[-1])
                elif op == "TJ":
                    if not args or not isinstance(args[-1], list):
                        continue
                    for el in args[-1]:
                        if isinstance(el, bytes):
                            self._build_item(ts, el)
                        elif isinstance(el, (int, float)):
                            if ts.font is None:
                                continue
                            it = self._ensure_item(ts)
                            advance = -(el * ts.font_size / 1000.0)
                            offset = advance * ts.h_scale
                            ts.translate_tm(offset, 0)
                            break_run = it.run_break_allowed and advance > it.fake_multi_space_max
                            if not break_run:
                                it.width += offset
                            if break_run:
                                self._flush()
                            elif advance > 0:
                                self._add_fake_spaces(advance, it.str)
                elif op == "Td" or op == "TD":
                    if len(args) < 2 or not all(isinstance(a, (int, float)) for a in args[-2:]):
                        continue
                    tx, ty = float(args[-2]), float(args[-1])
                    if op == "TD":
                        ts.leading = -ty
                    it = self.item
                    is_same_line = ts.font is not None and ty == 0
                    advance = tx - ty
                    if (is_same_line and it.initialized and 0 < advance <= it.fake_multi_space_max):
                        ts.translate_tlm(tx, ty)
                        it.width += tx - it.last_advance_width
                        diff = (tx - it.last_advance_width) - (ty - it.last_advance_height)
                        self._add_fake_spaces(diff, it.str)
                        it.last_advance_width = 0.0
                        it.last_advance_height = 0.0
                        continue
                    self._flush()
                    ts.translate_tlm(tx, ty)
                    ts.tm = list(ts.tlm)
                elif op == "Tm":
                    if len(args) < 6:
                        continue
                    vals = [float(a) for a in args[-6:] if isinstance(a, (int, float))]
                    if len(vals) != 6:
                        continue
                    it = self.item
                    advance = ts.calc_tlm_advance(*vals)
                    if (advance is not None and it.initialized
                            and 0 < advance <= it.fake_multi_space_max):
                        ts.translate_tlm(advance, 0)
                        it.width += advance - it.last_advance_width
                        self._add_fake_spaces(advance - it.last_advance_width, it.str)
                        it.last_advance_width = 0.0
                        it.last_advance_height = 0.0
                        continue
                    self._flush()
                    ts.tm = list(vals)
                    ts.tlm = list(vals)
                elif op == "T*":
                    self._flush()
                    ts.carriage_return()
                elif op == "'":
                    self._flush()
                    ts.carriage_return()
                    if args and isinstance(args[-1], bytes):
                        self._build_item(ts, args[-1])
                elif op == '"':
                    if len(args) >= 3:
                        if isinstance(args[-3], (int, float)):
                            ts.word_spacing = float(args[-3])
                        if isinstance(args[-2], (int, float)):
                            ts.char_spacing = float(args[-2])
                    self._flush()
                    ts.carriage_return()
                    if args and isinstance(args[-1], bytes):
                        self._build_item(ts, args[-1])
                elif op == "Tf":
                    if len(args) >= 2 and isinstance(args[-2], Name):
                        name, size = str(args[-2]), args[-1]
                        if not isinstance(size, (int, float)):
                            continue
                        if ts.font is not None and ts.font_name == name and ts.font_size == size:
                            continue
                        self._flush()
                        ts.font = self._get_font(resources, name)
                        ts.font_name = name
                        ts.font_size = float(size)
                elif op == "Tc":
                    if args and isinstance(args[-1], (int, float)):
                        ts.char_spacing = float(args[-1])
                elif op == "Tw":
                    if args and isinstance(args[-1], (int, float)):
                        ts.word_spacing = float(args[-1])
                elif op == "Tz":
                    if args and isinstance(args[-1], (int, float)):
                        ts.h_scale = float(args[-1]) / 100.0
                elif op == "TL":
                    if args and isinstance(args[-1], (int, float)):
                        ts.leading = float(args[-1])
                elif op == "Ts":
                    if args and isinstance(args[-1], (int, float)):
                        self._flush()
                        ts.rise = float(args[-1])
                elif op == "BT":
                    self._flush()
                    ts.tm = list(_IDENTITY)
                    ts.tlm = list(_IDENTITY)
                elif op == "ET":
                    self._flush()
                elif op == "q":
                    stack.append(ts.clone())
                elif op == "Q":
                    if stack:
                        popped = stack.pop()
                        # pdf.js StateManager.restore replaces the whole state
                        ts.ctm = popped.ctm
                        ts.font = popped.font
                        ts.font_name = popped.font_name
                        ts.font_size = popped.font_size
                        ts.char_spacing = popped.char_spacing
                        ts.word_spacing = popped.word_spacing
                        ts.leading = popped.leading
                        ts.h_scale = popped.h_scale
                        ts.rise = popped.rise
                        ts.tm = list(popped.tm)
                        ts.tlm = list(popped.tlm)
                elif op == "cm":
                    if len(args) >= 6 and all(isinstance(a, (int, float)) for a in args[-6:]):
                        ts.ctm = _mat_mul(ts.ctm, tuple(float(a) for a in args[-6:]))
                elif op == "Do":
                    if not args or not isinstance(args[-1], Name):
                        continue
                    xobjs = doc.resolve(resources.get("XObject")) if resources else None
                    if not isinstance(xobjs, dict):
                        continue
                    xobj = doc.resolve(xobjs.get(str(args[-1])))
                    if not isinstance(xobj, StreamObj):
                        continue
                    if doc.resolve(xobj.dict.get("Subtype")) != "Form":
                        continue
                    self._flush()
                    sub_state = ts.clone()
                    mtx = doc.resolve(xobj.dict.get("Matrix"))
                    if isinstance(mtx, list) and len(mtx) == 6:
                        try:
                            sub_state.ctm = _mat_mul(
                                sub_state.ctm, tuple(float(doc.resolve(v)) for v in mtx)
                            )
                        except (TypeError, ValueError):
                            pass
                    sub_res = doc.resolve(xobj.dict.get("Resources")) or resources
                    try:
                        sub_content = doc.stream_bytes(xobj)
                    except PdfError:
                        continue
                    self.process(sub_content, sub_res if isinstance(sub_res, dict) else {},
                                 sub_state)
                    self._flush()
                elif op == "gs":
                    gss = doc.resolve(resources.get("ExtGState")) if resources else None
                    if isinstance(gss, dict) and args and isinstance(args[-1], Name):
                        gs = doc.resolve(gss.get(str(args[-1])))
                        if isinstance(gs, dict) and "Font" in gs:
                            fspec = doc.resolve(gs["Font"])
                            if isinstance(fspec, list) and len(fspec) == 2:
                                fdict = doc.resolve(fspec[0])
                                if isinstance(fdict, dict):
                                    self._flush()
                                    ts.font = Font(doc, fdict, "gsfont")
                                    ts.font_name = "gsfont"
                                    ts.font_size = float(doc.resolve(fspec[1]) or 0)
            except (PdfError, TypeError, ValueError, IndexError):
                continue  # pdf.js-style swallow-and-continue per operator
        return self


def _js_math_round(x: float) -> int:
    """JS Math.round: half-up (toward +inf)."""
    import math

    return int(math.floor(x + 0.5))


def page_text_items(doc: PdfDocument, page: dict) -> list[tuple[str, float]]:
    content = doc.page_content(page)
    resources = doc.resolve(page.get("Resources"))
    builder = _TextContentBuilder(doc)
    builder.process(content, resources if isinstance(resources, dict) else {}, _TextState())
    builder._flush()
    return builder.items


def render_page_text(items: list[tuple[str, float]]) -> str:
    """pdf-parse render_page: newline when transform[5] changes. NOTE the
    reference's loose-falsy check: `!lastY` is true when the previous item's
    y is 0 as well as on the first item."""
    out = []
    last_y = None
    for s, ty in items:
        if (last_y is not None and ty == last_y) or not last_y:
            out.append(s)
        else:
            out.append("\n" + s)
        last_y = ty
    return "".join(out)


def extract_text_pdfparse(data: bytes) -> tuple[str, int]:
    """PDF bytes -> (text, numpages) with pdf-parse@1.1.1 semantics: each
    page's text prefixed by a blank line (`ret.text + '\\n\\n' + pageText`);
    a page that fails to parse contributes an empty string (pdf-parse
    catches per-page errors and returns '')."""
    doc = PdfDocument(data)
    pages = doc.pages()
    parts = []
    for page in pages:
        try:
            parts.append(render_page_text(page_text_items(doc, page)))
        except (PdfError, RecursionError):
            parts.append("")
    return "".join("\n\n" + p for p in parts), len(pages)
