"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``session.map_rows``.

Decode is REAL for every still-image format plus PCM audio — pure
numpy/stdlib, no codec libraries needed: BMP (24/32-bit uncompressed),
PNG (gray/RGB/palette/alpha at every legal bit depth 1/2/4/8/16,
non-interlaced and Adam7, zlib + full None/Sub/Up/Average/Paeth filter
set), GIF (variable-width LSB-first LZW, first frame, 4-pass interlace),
baseline
AND progressive JPEG (``ops/jpeg.py``: T.81 sequential + Annex G
progressive DCT, 4:4:4/4:2:2/4:2:0, restart
intervals) and PNM (P5/P6) images with mean-channel + gray-histogram
features and nearest-neighbor thumbnailing, and WAV (PCM) audio with
RMS / zero-crossing / FFT-band features. Compressed A/V containers get
real METADATA parses (``ops/containers.py``: MP3 frame-header walk ->
duration/rates, MP4 ISO-BMFF box walk -> dims/duration/tracks) — which
is what a pipeline filters on before decode — and MP4s with complete
sample tables get REAL frame-sample extraction (``sample_frames``:
stsd/stts/stsc/stsz/stco walk -> every-nth frame bytes) with real decode
for MJPEG video frames (``ops/jpeg.py``) and PCM audio tracks, while the
BITSTREAM decode for compressed codecs (H.26x, AAC, MPEG-audio samples)
is STUBBED behind ``NotImplementedError``
(codec libraries are not in this container) and any corrupt container
surfaces as a per-row ``error`` value, never a job failure. The Spark-side
plumbing (schema, salted partitioning, UDF signature, Arrow batch shape) is
identical for both paths, so swapping in PIL/ffmpeg on a cluster image
touches only ``_decode_payload``.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from ..session import map_rows, salted
from .limits import check_pixels

__all__ = [
    "MEDIA_SCHEMA", "MEDIA_FEATURES_SCHEMA", "FRAME_SAMPLE_SCHEMA",
    "decode_media", "sample_frames",
    "decode_bmp", "decode_wav", "make_bmp", "make_wav",
    "decode_png", "decode_gif", "make_png", "make_gif",
    "make_png_gray", "make_png_palette",
]

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),      # image | audio | video
    StructField("payload", BinaryType()),
    StructField("mime", StringType()),
])

MEDIA_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("sha1", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_sec", DoubleType()),
    StructField("feature", ArrayType(DoubleType())),  # 8-dim modality embedding
    # stream-vs-container disagreement (H.26x SPS dims vs tkhd/stsd claim;
    # ops/bitstream.py): null = no stream-level metadata to check. On a
    # real crawl, containers lie — the mismatch itself is filter signal.
    StructField("meta_mismatch", BooleanType()),
    StructField("error", StringType()),
])


# ---------------------------------------------------------------------------
# Real decoders (uncompressed formats, numpy/stdlib only)
# ---------------------------------------------------------------------------


def make_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit uncompressed BMP bytes (test/corpus
    generator twin of decode_bmp)."""
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = pixels[y, :, ::-1].tobytes()  # BGR order
        rows.append(row + b"\x00" * (row_size - len(row)))
    return header + info + b"".join(rows)


def decode_bmp(data: bytes) -> tuple[int, int, np.ndarray]:
    """BMP bytes -> (width, height, (h, w, 3) uint8 RGB). 24/32-bit
    uncompressed BITMAPINFOHEADER only."""
    if data[:2] != b"BM" or len(data) < 54:
        raise NotImplementedError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BMP core-header variant not supported")
    w, h_raw = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"BMP compression={compression} bpp={bpp} not supported")
    h = abs(h_raw)
    check_pixels(w, h, "BMP")
    nch = bpp // 8
    row_size = (w * nch + 3) & ~3
    buf = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = buf.reshape(h, row_size)[:, : w * nch].reshape(h, w, nch)
    if h_raw > 0:
        rows = rows[::-1]  # stored bottom-up
    rgb = rows[:, :, 2::-1] if nch >= 3 else rows  # BGR(A) -> RGB
    return w, h, np.ascontiguousarray(rgb[:, :, :3])


# Adam7 pass origins/steps (x0, y0, dx, dy) — RFC 2083 §2.6 / PNG spec
# "Interlaced data order". Passes whose reduced image is empty for the
# given dims contribute NO scanlines at all (spec: wholly omitted).
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_spans(w: int, h: int, interlace: int):
    """Scanline groups in IDAT order: (x0, y0, dx, dy, pass_w, pass_h)."""
    if interlace == 0:
        return [(0, 0, 1, 1, w, h)]
    spans = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw and ph:
            spans.append((x0, y0, dx, dy, pw, ph))
    return spans


def _png_defilter(raw: bytes, offset: int, n_rows: int, rb: int, bpp: int) -> np.ndarray:
    """Reverse PNG row filters over ``n_rows`` scanlines of ``rb`` bytes
    starting at ``raw[offset]``; ``bpp`` is the filter's byte distance
    (max(1, channels*depth//8) — the same predictors PDF xref streams use).
    Returns (n_rows, rb) uint8."""
    out = np.empty((n_rows, rb), dtype=np.uint8)
    prev = np.zeros(rb, dtype=np.uint8)
    for y in range(n_rows):
        row_start = offset + y * (rb + 1)
        ftype = raw[row_start]
        row = np.frombuffer(raw, dtype=np.uint8, count=rb, offset=row_start + 1)
        if ftype == 0:  # None
            cur = row.copy()
        elif ftype == 2:  # Up
            cur = row + prev
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = np.zeros(rb, dtype=np.uint8)
            rowi = row.astype(np.int32)
            for x in range(rb):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ftype == 1:
                    v = rowi[x] + a
                elif ftype == 3:
                    v = rowi[x] + ((a + b) >> 1)
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = rowi[x] + pred
                cur[x] = v & 0xFF
        else:
            raise ValueError(f"PNG filter {ftype} invalid")
        out[y] = cur
        prev = cur
    return out


def _png_unpack(block: np.ndarray, w: int, nch: int, depth: int) -> np.ndarray:
    """Defiltered scanline bytes (n_rows, rb) -> samples (n_rows, w, nch)
    uint8. 16-bit samples are reduced to their high byte (the standard
    8-bit rendering); sub-byte samples are returned as raw values (the
    caller scales grayscale, palette values stay indices)."""
    n_rows = block.shape[0]
    if depth == 8:
        return block[:, : w * nch].reshape(n_rows, w, nch)
    if depth == 16:
        # network byte order: high byte first
        return block[:, : w * nch * 2].reshape(n_rows, w, nch, 2)[..., 0]
    bits = np.unpackbits(block, axis=1)[:, : w * depth].reshape(n_rows, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8).reshape(n_rows, w, 1)


def _png_pack_rows(rows: np.ndarray, depth: int) -> np.ndarray:
    """Samples (n_rows, w, nch) uint8 -> scanline bytes (n_rows, rb) uint8
    at ``depth``; 16-bit doubles each byte (s -> s*257, so the decoder's
    high-byte reduction round-trips exactly), sub-byte packs MSB-first with
    zero padding to the byte boundary (what the spec requires)."""
    n_rows, w, nch = rows.shape
    if depth == 8:
        return rows.reshape(n_rows, w * nch)
    if depth == 16:
        return np.repeat(rows.reshape(n_rows, w * nch), 2, axis=1)
    flat = rows.reshape(n_rows, w * nch)
    bits = ((flat[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1).astype(np.uint8)
    return np.packbits(bits.reshape(n_rows, -1), axis=1)


def _encode_png(samples: np.ndarray, ctype: int, depth: int,
                interlace: bool, plte: np.ndarray | None = None) -> bytes:
    """Shared PNG writer: ``samples`` (h, w, nch) uint8 already at the
    target depth's value range. First row of each (pass-)span uses filter
    None, later rows filter Up — exercising the decoder's cross-row state
    within every Adam7 pass."""
    import zlib

    h, w, _nch = samples.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1 if interlace else 0)
    raw = bytearray()
    for x0, y0, dx, dy, _pw, _ph in _png_spans(w, h, 1 if interlace else 0):
        packed = _png_pack_rows(np.ascontiguousarray(samples[y0::dy, x0::dx]), depth)
        for y in range(packed.shape[0]):
            if y == 0:
                raw += b"\x00" + packed[0].tobytes()
            else:
                raw += b"\x02" + ((packed[y].astype(np.int16) - packed[y - 1]) & 0xFF).astype(np.uint8).tobytes()
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", np.ascontiguousarray(plte[:, :3], dtype=np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def make_png(pixels: np.ndarray, depth: int = 8, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB -> RGB PNG (test/corpus generator twin of
    decode_png). ``depth`` 8 or 16 (16 stores s*257 per sample so the
    decoder's high-byte reduction is exact); ``interlace`` writes Adam7."""
    if depth not in (8, 16):
        raise ValueError(f"RGB PNG depth {depth} not supported")
    return _encode_png(pixels, ctype=2, depth=depth, interlace=interlace)


def make_png_gray(gray: np.ndarray, depth: int = 8, interlace: bool = False) -> bytes:
    """(h, w) uint8 grayscale -> PNG at ``depth`` 1/2/4/8/16. Sub-byte
    inputs must already hold values < 2**depth (raw sample codes)."""
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"gray PNG depth {depth} not supported")
    if depth < 8 and int(gray.max(initial=0)) >= (1 << depth):
        raise ValueError(f"gray value out of range for depth {depth}")
    return _encode_png(gray[:, :, None], ctype=0, depth=depth, interlace=interlace)


def make_png_palette(idx: np.ndarray, palette: np.ndarray,
                     depth: int = 8, interlace: bool = False) -> bytes:
    """(h, w) uint8 palette indices + (n, 3) palette -> indexed PNG at
    ``depth`` 1/2/4/8."""
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"palette PNG depth {depth} not supported")
    if int(idx.max(initial=0)) >= min(1 << depth, len(palette)):
        raise ValueError("palette index out of range")
    return _encode_png(idx[:, :, None], ctype=3, depth=depth,
                       interlace=interlace, plte=np.asarray(palette))


# ctype -> legal bit depths (PNG spec §11.2.2, table); doubles as the
# unknown-color-type rejection
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}


def decode_png(data: bytes) -> tuple[int, int, np.ndarray]:
    """PNG bytes -> (width, height, (h, w, 3) uint8 RGB). Color types
    0/2/3/4/6 at every legal bit depth (1/2/4/8/16), non-interlaced AND
    Adam7-interlaced; full filter set (None/Sub/Up/Average/Paeth). 16-bit
    samples reduce to their high byte; sub-byte grayscale scales to 0-255."""
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = []
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # skip CRC
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8)[: 3 * (len(body) // 3)].reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth not in _PNG_DEPTHS.get(ctype, ()):
        raise NotImplementedError(f"PNG color type {ctype} depth {depth} not supported")
    if interlace not in (0, 1):
        raise NotImplementedError(f"PNG interlace {interlace} not supported")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    check_pixels(w, h, "PNG")
    bpp = max(1, nch * depth // 8)

    def rb(width: int) -> int:
        return (width * nch * depth + 7) // 8

    spans = _png_spans(w, h, interlace)
    # bounded inflate: the needed raw size is known from the (checked)
    # dims, so a deflate bomb can never expand past it
    need = sum(ph * (rb(pw) + 1) for *_xy, pw, ph in spans)
    raw = zlib.decompressobj().decompress(b"".join(idat), need)
    if len(raw) < need:
        raise ValueError("PNG data truncated")
    px = np.zeros((h, w, nch), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph in spans:
        block = _png_defilter(raw, off, ph, rb(pw), bpp)
        px[y0::dy, x0::dx] = _png_unpack(block, pw, nch, depth)
        off += ph * (rb(pw) + 1)
    if ctype == 0 and depth < 8:
        px = (px.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(np.uint8)
    if ctype == 2:
        rgb = px
    elif ctype == 6:
        rgb = px[:, :, :3]
    elif ctype == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif ctype == 4:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # palette
        if plte is None:
            raise ValueError("PNG palette image without PLTE")
        rgb = plte[np.minimum(px[:, :, 0], len(plte) - 1)]
    return w, h, np.ascontiguousarray(rgb)


def _web_palette() -> np.ndarray:
    """Fixed 216-color 6x6x6 cube palette padded to 256 (deterministic)."""
    levels = np.array([0, 51, 102, 153, 204, 255], dtype=np.uint8)
    cube = np.stack(np.meshgrid(levels, levels, levels, indexing="ij"), axis=-1).reshape(-1, 3)
    return np.vstack([cube, np.zeros((256 - 216, 3), dtype=np.uint8)])


def _gif_row_order(h: int) -> list[int]:
    """GIF89a 4-pass interlace row order (spec Appendix E): rows appear in
    the stream as every 8th from 0, every 8th from 4, every 4th from 2,
    every 2nd from 1."""
    return (list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2)))


def make_gif(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB -> single-frame GIF89a quantized to the fixed
    6x6x6 web palette, written with literal LZW codes (periodic clears keep
    the code width at 9 bits — the classic 'uncompressed GIF' encoding).
    ``interlace`` stores rows in the 4-pass order with the descriptor flag
    set (test twin for decode_gif's deinterlace)."""
    h, w, _ = pixels.shape
    pal = _web_palette()
    q = (pixels.astype(np.int32) + 25) // 51  # nearest of 0,51,...,255
    idx2d = (q[:, :, 0] * 36 + q[:, :, 1] * 6 + q[:, :, 2]).astype(np.uint8)
    idx = (idx2d[_gif_row_order(h)] if interlace else idx2d).ravel()
    header = b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # 256-col GCT
    gct = pal.tobytes()
    img_desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    # LZW stream: min code size 8 -> 9-bit codes; CLEAR=256, EOI=257
    bits = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 9
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(256)
    count = 0
    for v in idx:
        emit(int(v))
        count += 1
        if count == 253:  # table would hit 511 -> clear before 10-bit growth
            emit(256)
            count = 0
    emit(257)
    if nbits:
        bits.append(acc & 0xFF)
    sub = b"".join(
        bytes([min(255, len(bits) - i)]) + bytes(bits[i : i + 255])
        for i in range(0, len(bits), 255)
    )
    return header + gct + img_desc + b"\x08" + sub + b"\x00" + b"\x3b"


def decode_gif(data: bytes) -> tuple[int, int, np.ndarray]:
    """GIF bytes -> (width, height, (h, w, 3) uint8 RGB) of the FIRST frame.
    Full variable-width LSB-first LZW; non-interlaced only."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF payload")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        size = 3 * (2 << (flags & 0x07))
        gct = np.frombuffer(data, dtype=np.uint8, count=size, offset=pos).reshape(-1, 3)
        pos += size
    n = len(data)
    while pos < n:
        b0 = data[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < n and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"GIF unexpected block 0x{b0:02x}")
        _l, _t, w, h, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
        pos += 10
        pal = gct
        if iflags & 0x80:
            size = 3 * (2 << (iflags & 0x07))
            pal = np.frombuffer(data, dtype=np.uint8, count=size, offset=pos).reshape(-1, 3)
            pos += size
        if pal is None:
            raise ValueError("GIF image without a color table")
        check_pixels(w, h, "GIF")
        need = w * h
        mcs = data[pos]
        pos += 1
        chunks = []
        while pos < n and data[pos] != 0:
            ln = data[pos]
            chunks.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        stream = b"".join(chunks)
        # LSB-first variable-width LZW
        clear = 1 << mcs
        eoi = clear + 1
        table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = mcs + 1
        acc = 0
        nbits = 0
        prev_entry = None
        out = bytearray()
        for byte in stream:
            acc |= byte << nbits
            nbits += 8
            while nbits >= width:
                code = acc & ((1 << width) - 1)
                acc >>= width
                nbits -= width
                if code == clear:
                    table = [bytes([i]) for i in range(clear)] + [b"", b""]
                    width = mcs + 1
                    prev_entry = None
                    continue
                if code == eoi:
                    nbits = 0
                    acc = 0
                    break
                if prev_entry is None:
                    entry = table[code]
                else:
                    if code < len(table):
                        entry = table[code]
                        table.append(prev_entry + entry[:1])
                    else:
                        entry = prev_entry + prev_entry[:1]
                        table.append(entry)
                    if len(table) == (1 << width) and width < 12:
                        width += 1
                out += entry
                prev_entry = entry
            if len(out) >= need:
                break  # first frame fully decoded: a crafted tail of
                # repeat-codes cannot expand the output past w*h
        idx = np.frombuffer(bytes(out[: w * h]), dtype=np.uint8)
        if idx.size < w * h:
            raise ValueError("GIF pixel data truncated")
        idx2d = idx.reshape(h, w)
        if iflags & 0x40:  # 4-pass interlace: stream rows -> display rows
            full = np.empty_like(idx2d)
            full[_gif_row_order(h)] = idx2d
            idx2d = full
        rgb = pal[np.minimum(idx2d, len(pal) - 1)]
        return int(w), int(h), np.ascontiguousarray(rgb)
    raise ValueError("GIF contains no image block")


def thumbnail(pixels: np.ndarray, size: int = 8) -> np.ndarray:
    """Nearest-neighbor resize to (size, size, 3) — the 'resize' stage of an
    image pipeline, pure striding."""
    h, w = pixels.shape[:2]
    ys = (np.arange(size) * h // size).clip(0, h - 1)
    xs = (np.arange(size) * w // size).clip(0, w - 1)
    return pixels[ys][:, xs]


def make_wav(samples: np.ndarray, framerate: int = 8000) -> bytes:
    """float array in [-1, 1] -> 16-bit mono PCM WAV bytes."""
    import io
    import wave

    pcm = (np.clip(samples, -1, 1) * 32767).astype("<i2").tobytes()
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(framerate)
        wf.writeframes(pcm)
    return bio.getvalue()


def decode_wav(data: bytes) -> tuple[float, int, np.ndarray]:
    """WAV bytes -> (duration_sec, framerate, float mono samples). PCM only
    (stdlib wave rejects compressed WAV)."""
    import io
    import wave

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise NotImplementedError("not a WAV payload")
    with wave.open(io.BytesIO(data), "rb") as wf:
        n, fr, sw, ch = wf.getnframes(), wf.getframerate(), wf.getsampwidth(), wf.getnchannels()
        raw = wf.readframes(n)
    if sw == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"WAV sample width {sw} not supported")
    if ch > 1:
        samples = samples.reshape(-1, ch).mean(axis=1)
    return (n / fr if fr else 0.0), fr, samples


def _image_features(rgb: np.ndarray) -> list[float]:
    """8-dim: mean R/G/B (normalized), gray std, 4-bin gray histogram."""
    px = rgb.astype(np.float64) / 255.0
    gray = px.mean(axis=2)
    hist, _ = np.histogram(gray, bins=4, range=(0.0, 1.0))
    hist = hist / max(1, gray.size)
    return [round(float(v), 6) for v in
            (px[:, :, 0].mean(), px[:, :, 1].mean(), px[:, :, 2].mean(),
             gray.std(), *hist)]


def _audio_features(samples: np.ndarray) -> list[float]:
    """8-dim: RMS, zero-crossing rate, 6 log-spaced FFT band energies."""
    if samples.size == 0:
        return [0.0] * 8
    rms = float(np.sqrt((samples**2).mean()))
    zcr = float((np.diff(np.signbit(samples)) != 0).mean()) if samples.size > 1 else 0.0
    spec = np.abs(np.fft.rfft(samples[:4096])) ** 2
    bands = np.array_split(spec[1:], 6)
    total = sum(float(b.sum()) for b in bands) or 1.0
    return [round(v, 6) for v in
            (rms, zcr, *[float(b.sum()) / total for b in bands])]


def _container_features(*vals: float) -> list[float]:
    """8-dim feature from container metadata: log1p-scaled values padded
    with zeros (deterministic, unit-free; the sample-level spectral/pixel
    features require the codec decode that stays behind the stub)."""
    import math

    out = [round(math.log1p(abs(float(v))), 6) for v in vals[:8]]
    return out + [0.0] * (8 - len(out))


def _decode_payload(kind: str, payload: bytes) -> dict:
    """Dispatch on magic bytes; compressed codecs raise NotImplementedError
    (recorded as per-row errors — the honest stub boundary)."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty media payload")
    if payload[:2] == b"BM":
        w, h, rgb = decode_bmp(payload)
        thumb = thumbnail(rgb)  # exercises the resize stage
        return {"width": int(w), "height": int(h), "duration_sec": None,
                "feature": _image_features(thumb)}
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, rgb = decode_png(payload)
        return {"width": int(w), "height": int(h), "duration_sec": None,
                "feature": _image_features(thumbnail(rgb))}
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, rgb = decode_gif(payload)
        return {"width": int(w), "height": int(h), "duration_sec": None,
                "feature": _image_features(thumbnail(rgb))}
    if payload[:3] == b"\xff\xd8\xff":
        from .jpeg import decode_jpeg

        w, h, rgb = decode_jpeg(payload)
        return {"width": int(w), "height": int(h), "duration_sec": None,
                "feature": _image_features(thumbnail(rgb))}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        dur, _fr, samples = decode_wav(payload)
        return {"width": None, "height": None, "duration_sec": round(dur, 3),
                "feature": _audio_features(samples)}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # WebP: real dims from the VP8/VP8L/VP8X bitstream headers
        # (ops/containers.py); VP8 pixel entropy decode stays stubbed.
        from .containers import parse_webp

        m = parse_webp(bytes(payload))
        return {"width": int(m["width"]), "height": int(m["height"]),
                "duration_sec": None,
                "feature": _container_features(
                    float(m["width"]), float(m["height"]),
                    1.0 if m["alpha"] else 0.0,
                    1.0 if m["animation"] else 0.0, float(len(payload)))}
    if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        # TIFF: first-IFD geometry (both endiannesses), bomb-guarded.
        from .containers import parse_tiff

        m = parse_tiff(bytes(payload))
        return {"width": int(m["width"]), "height": int(m["height"]),
                "duration_sec": None,
                "feature": _container_features(
                    float(m["width"]), float(m["height"]),
                    float(m["bits_per_sample"]), float(m["compression"]),
                    float(m["n_ifds"]))}
    if payload[:4] == b"OggS":
        # Ogg Opus/Vorbis: page walk, duration from the final granule
        # position (ops/containers.py); audio sample decode stays stubbed.
        from .containers import parse_ogg

        m = parse_ogg(bytes(payload))
        return {"width": None, "height": None,
                "duration_sec": round(m["duration_sec"], 3),
                "feature": _container_features(
                    m["duration_sec"], m["sample_rate"] / 48000.0,
                    float(m["channels"]), float(m["n_pages"]),
                    1.0 if m["codec"] == "opus" else 2.0)}
    if payload[:4] == b"fLaC":
        # FLAC: STREAMINFO duration/rate/channels; sample decode stubbed.
        from .containers import parse_flac

        m = parse_flac(bytes(payload))
        return {"width": None, "height": None,
                "duration_sec": round(m["duration_sec"], 3),
                "feature": _container_features(
                    m["duration_sec"], m["sample_rate"] / 48000.0,
                    float(m["channels"]), float(m["bits_per_sample"]),
                    float(m["total_samples"]))}
    if payload[:2] in (b"P5", b"P6"):
        # PNM: ASCII header then raw samples
        parts = payload.split(maxsplit=4)
        w, h = int(parts[1]), int(parts[2])
        return {"width": w, "height": h, "duration_sec": None,
                "feature": [round(b / 255.0, 6) for b in payload[-8:]]}
    if payload[:3] == b"ID3" or (
            len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xFE) == 0xFA):
        # MP3: frame-header walk gives real duration/rates; MPEG audio
        # SAMPLE synthesis stays behind the stub boundary, so features are
        # container-level (rates/frame structure), not spectral.
        from .containers import parse_mp3

        m = parse_mp3(bytes(payload))
        return {"width": None, "height": None,
                "duration_sec": round(m["duration_sec"], 3),
                "feature": _container_features(
                    m["duration_sec"], m["avg_bitrate_kbps"], m["sample_rate"] / 48000.0,
                    float(m["n_frames"]), 1.0 if m["vbr"] else 0.0)}
    if len(payload) >= 7 and payload[0] == 0xFF and (payload[1] & 0xF6) == 0xF0:
        # AAC ADTS: bitstream frame walk (ops/bitstream.py) gives real
        # rate/channels/duration; AAC SAMPLE synthesis stays stubbed.
        from .bitstream import parse_adts

        m = parse_adts(bytes(payload))
        return {"width": None, "height": None,
                "duration_sec": round(m["duration_sec"], 3),
                "feature": _container_features(
                    m["duration_sec"], m["avg_bitrate_kbps"],
                    m["sample_rate"] / 48000.0, float(m["n_frames"]),
                    float(m["channels"]))}
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        from .containers import _HEIF_BRANDS

        if payload[8:12] in _HEIF_BRANDS:
            # AVIF/HEIF still image: no moov — dims come from the meta->
            # iprp->ipco ispe properties; AV1/HEVC pixel decode stubbed.
            from .containers import parse_heif

            m = parse_heif(bytes(payload))
            return {"width": int(m["width"]), "height": int(m["height"]),
                    "duration_sec": None,
                    "feature": _container_features(
                        float(m["width"]), float(m["height"]),
                        float(m["n_items"]), 1.0 if m["alpha"] else 0.0,
                        float(len(payload)))}
        # MP4/ISO-BMFF: box walk gives real dims/duration/track count.
        # When the container carries a complete sample table AND a codec
        # we own (MJPEG / PCM), the FIRST sample decodes for real and the
        # feature is pixel/spectral; header-only containers and compressed
        # bitstream codecs (H.26x/AAC) keep the container-level feature.
        from .containers import parse_mp4

        m = parse_mp4(bytes(payload))
        out = {"width": m["width"] or None, "height": m["height"] or None,
               "duration_sec": round(m["duration_sec"], 3),
               "feature": _container_features(
                   m["duration_sec"], float(m["width"]), float(m["height"]),
                   float(m["n_tracks"]), float(len(payload)))}
        # H.26x tracks: parse the SPS out of the stsd avcC/hvcC record —
        # the BITSTREAM's own dimensions (ops/bitstream.py). The stream is
        # authoritative; a container that claims different dims gets the
        # meta_mismatch flag (real-crawl containers lie).
        try:
            from .bitstream import stream_dims_from_codec_private
            from .containers import mp4_sample_tables

            for tr in mp4_sample_tables(bytes(payload)):
                if not tr.get("codec_private"):
                    continue
                sm = stream_dims_from_codec_private(
                    tr["codec_private_type"], tr["codec_private"])
                if not sm:
                    continue
                claimed = (tr["width"], tr["height"])
                out["meta_mismatch"] = (
                    claimed != (sm["width"], sm["height"])
                    and claimed != (0, 0))
                out["width"], out["height"] = sm["width"], sm["height"]
                break
        except Exception:
            pass  # header-only/corrupt tables: container-level parse stands
        try:
            frames = _sample_payload_frames(bytes(payload), every_nth=1,
                                            max_frames=1)
        except Exception:
            return out  # no/partial tables: container-level parse stands
        for f in frames:
            if f["error"] is None and f["feature"] is not None:
                out["feature"] = f["feature"]
                if f["width"]:
                    out["width"], out["height"] = f["width"], f["height"]
                break
        return out
    if payload[:3] == b"\x00\x00\x01" or payload[:4] == b"\x00\x00\x00\x01":
        # H.26x Annex-B elementary stream: SPS dims + picture-start count
        # from the NAL walk (ops/bitstream.py); slice decode stays stubbed.
        from .bitstream import parse_annexb

        m = parse_annexb(bytes(payload))
        return {"width": int(m["width"]), "height": int(m["height"]),
                "duration_sec": None,
                "feature": _container_features(
                    float(m["width"]), float(m["height"]),
                    float(m["n_frames"]), float(m["n_nals"]),
                    float(m["level_idc"]))}
    raise NotImplementedError(
        f"{kind}: compressed codec not available in this container "
        f"(magic {payload[:4]!r}); plug PIL/ffmpeg into _decode_payload"
    )


def _media_row(media_id, kind, payload) -> list[dict]:
    row = {"media_id": media_id, "kind": kind,
           "n_bytes": len(payload) if payload is not None else 0,
           "sha1": hashlib.sha1(payload).hexdigest() if payload else None}
    try:
        row.update(_decode_payload(kind, bytes(payload) if payload is not None else b""))
    except NotImplementedError as e:
        row["error"] = str(e)
    except Exception as e:  # corrupt container: data, not a crash
        row["error"] = f"decode failed: {type(e).__name__}: {e}"
    return [row]


def decode_media(media_df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Binary media -> typed features. Salted repartition on media_id hash
    (large blobs skew exactly like large documents). Arrow input batches
    are bounded by Spark's ``maxBytesPerBatch`` (64 MiB, set in
    ``session.py``), so a batch of multi-MB blobs cannot OOM a worker."""
    media = salted(media_df.select("media_id", "kind", "payload"), "media_id", num_partitions)
    return map_rows(media, _media_row, MEDIA_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("track_id", IntegerType()),
    StructField("codec", StringType()),
    StructField("frame_no", IntegerType()),
    StructField("pts_sec", DoubleType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("feature", ArrayType(DoubleType())),
    StructField("error", StringType()),
])


def _sample_payload_frames(payload: bytes, every_nth: int,
                           max_frames: int) -> list[dict]:
    """Walk the container's sample tables and decode every-nth video frame
    (plus PCM audio samples). MJPEG tracks (stsd fourcc ``jpeg``) decode
    for real via ops.jpeg; PCM tracks (``sowt``/``twos``/``lpcm``) decode
    via numpy; compressed bitstream codecs (avc1/hvc1/mp4a...) surface one
    error row per SAMPLED frame — the honest per-frame stub boundary."""
    from .containers import mp4_extract_samples, mp4_sample_tables
    from .jpeg import decode_jpeg

    rows: list[dict] = []
    tracks = mp4_sample_tables(payload)
    if not tracks:
        raise ValueError("container has no addressable sample tables")
    for tr in tracks:
        base = {"track_id": tr["track_id"], "codec": tr["codec"]}
        samples = mp4_extract_samples(payload, tr, every_nth=every_nth,
                                      max_samples=max_frames)
        for s in samples:
            row = dict(base, frame_no=s["sample_no"],
                       pts_sec=round(s["pts_sec"], 6), width=None,
                       height=None, feature=None, error=None)
            try:
                if tr["codec"] == "jpeg":
                    w, h, rgb = decode_jpeg(s["data"])
                    row.update(width=int(w), height=int(h),
                               feature=_image_features(thumbnail(rgb)))
                elif tr["codec"] in ("sowt", "twos", "lpcm"):
                    dt = "<i2" if tr["codec"] == "sowt" else ">i2"
                    pcm = np.frombuffer(s["data"], dtype=dt).astype(np.float64) / 32768.0
                    ch = max(1, tr["channels"])
                    if ch > 1:
                        pcm = pcm.reshape(-1, ch).mean(axis=1)
                    row.update(feature=_audio_features(pcm))
                else:
                    raise NotImplementedError(
                        f"codec {tr['codec']}: bitstream sample decode not "
                        f"available in this container")
            except NotImplementedError as e:
                row["error"] = str(e)
            except Exception as e:
                row["error"] = f"frame decode failed: {type(e).__name__}: {e}"
            rows.append(row)
    return rows


def sample_frames(media_df: DataFrame, every_nth: int = 10,
                  max_frames: int = 32,
                  num_partitions: int | None = None) -> DataFrame:
    """REAL video frame sampling: parse each MP4's sample tables
    (stsd/stts/stsc/stsz/stco), slice every-nth frame's bytes out of mdat,
    and decode it when the codec is one we own (MJPEG frames -> pixel
    features via ops.jpeg; PCM audio samples -> spectral features).
    Compressed bitstream codecs (H.26x/AAC) yield per-frame error rows.
    One output row per sampled frame; corrupt containers produce a single
    error row, never a job failure. Same scale plumbing as decode_media:
    Arrow input batches bounded by Spark's ``maxBytesPerBatch`` (64 MiB,
    set in ``session.py``) + salted repartition on media_id hash."""

    def frames(media_id, payload):
        try:
            return [dict(f, media_id=media_id) for f in _sample_payload_frames(
                bytes(payload) if payload is not None else b"", every_nth, max_frames)]
        except Exception as e:
            return [{"media_id": media_id, "error": f"{type(e).__name__}: {e}"}]

    vids = media_df.where(F.col("kind") == "video").select("media_id", "payload")
    return map_rows(salted(vids, "media_id", num_partitions), frames, FRAME_SAMPLE_SCHEMA)
