"""Compressed A/V BITSTREAM header parsers (pure stdlib, bit-exact).

Shrinks the declared codec stub boundary (ops/containers.py) one level
further: where the container parsers read ISO-BMFF/MPEG *container*
structure, these read the codec *bitstreams themselves* — the published
header syntax short of full sample decode:

- **H.264 SPS** (ISO 14496-10 §7.3.2.1.1): NAL walk + Exp-Golomb parse of
  the sequence parameter set — real width/height (with frame-cropping and
  chroma-format crop units), profile/level/bit-depth from the STREAM, not
  the container. Includes emulation-prevention-byte removal (§7.4.1) and
  the scaling-list skip (§7.3.2.1.1.1).
- **H.265 SPS** (ISO 23008-2 §7.3.2.2.1): profile_tier_level walk +
  conformance-window cropping -> stream width/height/profile/level.
- **AAC ADTS** (ISO 14496-3 §1.A.2.2): frame-by-frame header walk ->
  sample rate, channels, AAC object type, frame count, duration, average
  bitrate — the audio twin of the MP3 frame walk in containers.py.
- **avcC / hvcC** (ISO 14496-15 §5.3.3.1 / §8.3.3.1.2): the MP4 codec
  configuration records that carry the SPS inside ``stsd`` sample
  entries, so an MP4's stream-level dimensions can be parsed and checked
  against what the container CLAIMS (tkhd/stsd) — on a real crawl,
  containers lie, and the disagreement itself is signal.

Encoder twins (``make_*``) build bit-exact minimal streams for
deterministic fixtures, including emulation-prevention insertion.

No reference counterpart (the reference repo has no A/V path); graft-
brief multimodal capability, same style as ops/containers.py.
"""

from __future__ import annotations

import struct

__all__ = [
    "parse_h264_sps", "make_h264_sps", "parse_h265_sps", "make_h265_sps",
    "parse_adts", "make_adts", "parse_avcc", "make_avcc",
    "parse_hvcc", "make_hvcc", "stream_dims_from_codec_private",
    "parse_annexb", "make_annexb",
]


# ---------------------------------------------------------------- bits --

class _BitReader:
    """MSB-first bit reader with the two H.26x primitives: fixed-width
    ``u(n)`` and Exp-Golomb ``ue()``/``se()`` (14496-10 §9.1)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("bitstream truncated")
            v = (v << 1) | ((self.data[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("invalid Exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int):
        code = v + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def rbsp_trailing(self) -> bytes:
        self.bits.append(1)  # rbsp_stop_one_bit
        while len(self.bits) % 8:
            self.bits.append(0)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i:i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _strip_emulation(data: bytes) -> bytes:
    """Remove emulation_prevention_three_byte (00 00 03 -> 00 00),
    14496-10 §7.4.1 / 23008-2 §7.4.2."""
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(data):
        b = data[i]
        if zeros >= 2 and b == 3 and i + 1 < len(data) and data[i + 1] <= 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def _add_emulation(rbsp: bytes) -> bytes:
    """Insert emulation prevention bytes so no 00 00 0[0-3] run survives."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


# ---------------------------------------------------------- H.264 SPS --

_H264_HIGH_PROFILES = frozenset(
    (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135))
# (SubWidthC, SubHeightC) per chroma_format_idc (14496-10 table 6-1)
_SUBC = {0: (1, 1), 1: (2, 2), 2: (2, 1), 3: (1, 1)}


def _skip_scaling_list(r: _BitReader, size: int):
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        last = nxt if nxt != 0 else last


def parse_h264_sps(nal: bytes) -> dict:
    """Parse an H.264 sequence parameter set NAL (with or without its
    1-byte NAL header; emulation-prevention bytes handled).

    Returns {profile_idc, level_idc, width, height, chroma_format_idc,
    bit_depth_luma, frame_mbs_only, max_num_ref_frames}. Dimensions apply
    the frame-cropping rectangle with the chroma-format crop units
    (§7.4.2.1.1) — the actual coded picture size."""
    if not nal:
        raise ValueError("empty SPS")
    data = nal
    # NAL header present: type 7 in the low 5 bits AND forbidden_zero_bit
    # clear — without the high-bit check, a headerless RBSP whose
    # profile_idc has low-5-bits == 7 (e.g. 135 = 0x87) would lose its
    # first byte
    if (data[0] & 0x1F) == 7 and (data[0] & 0x80) == 0:
        data = data[1:]
    r = _BitReader(_strip_emulation(data))
    profile_idc = r.u(8)
    r.u(8)  # constraint_set flags + reserved_zero_2bits
    level_idc = r.u(8)
    r.ue()  # seq_parameter_set_id
    chroma_format_idc = 1
    separate_colour_plane = 0
    bit_depth_luma = 8
    if profile_idc in _H264_HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            separate_colour_plane = r.u(1)
        bit_depth_luma = 8 + r.ue()
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            for i in range(8 if chroma_format_idc != 3 else 12):
                if r.u(1):
                    _skip_scaling_list(r, 16 if i < 6 else 64)
    r.ue()  # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()
    elif poc_type == 1:
        r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    max_num_ref_frames = r.ue()
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    pw_mbs = r.ue() + 1
    ph_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    chroma_array_type = 0 if separate_colour_plane else chroma_format_idc
    sub_w, sub_h = _SUBC[chroma_format_idc]
    crop_x = 1 if chroma_array_type == 0 else sub_w
    crop_y = (2 - frame_mbs_only) if chroma_array_type == 0 \
        else sub_h * (2 - frame_mbs_only)
    width = pw_mbs * 16 - crop_x * (crop_l + crop_r)
    height = (2 - frame_mbs_only) * ph_units * 16 - crop_y * (crop_t + crop_b)
    return {
        "profile_idc": profile_idc, "level_idc": level_idc,
        "width": width, "height": height,
        "chroma_format_idc": chroma_format_idc,
        "bit_depth_luma": bit_depth_luma,
        "frame_mbs_only": bool(frame_mbs_only),
        "max_num_ref_frames": max_num_ref_frames,
    }


def make_h264_sps(width: int, height: int, profile_idc: int = 66,
                  level_idc: int = 30) -> bytes:
    """Minimal valid baseline/main SPS NAL (with NAL header) for the given
    even dimensions; non-multiple-of-16 sizes use frame cropping exactly
    as an encoder would (4:2:0 crop units => dims must be even)."""
    if width % 2 or height % 2:
        raise ValueError("4:2:0 dimensions must be even")
    pw_mbs = (width + 15) // 16
    ph_units = (height + 15) // 16
    crop_r = (pw_mbs * 16 - width) // 2   # CropUnitX=2 (4:2:0)
    crop_b = (ph_units * 16 - height) // 2  # CropUnitY=2 (frame_mbs_only)
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)       # constraint flags
    w.u(level_idc, 8)
    w.ue(0)         # seq_parameter_set_id
    if profile_idc in _H264_HIGH_PROFILES:
        # the parser (correctly, per §7.3.2.1.1) reads these fields for
        # high profiles — a baseline-layout RBSP under profile_idc 100
        # would be rejected by our own parse_h264_sps
        w.ue(1)     # chroma_format_idc = 4:2:0
        w.ue(0)     # bit_depth_luma_minus8
        w.ue(0)     # bit_depth_chroma_minus8
        w.u(0, 1)   # qpprime_y_zero_transform_bypass_flag
        w.u(0, 1)   # seq_scaling_matrix_present_flag
    w.ue(0)         # log2_max_frame_num_minus4
    w.ue(0)         # pic_order_cnt_type -> log2_max_poc follows
    w.ue(0)
    w.ue(1)         # max_num_ref_frames
    w.u(0, 1)       # gaps allowed
    w.ue(pw_mbs - 1)
    w.ue(ph_units - 1)
    w.u(1, 1)       # frame_mbs_only_flag
    w.u(1, 1)       # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)       # vui_parameters_present_flag
    return b"\x67" + _add_emulation(w.rbsp_trailing())


# ---------------------------------------------------------- H.265 SPS --

def _skip_profile_tier_level(r: _BitReader, max_sub_layers_minus1: int):
    """profile_tier_level(1, max) — returns (profile_idc, level_idc)."""
    r.u(2)  # general_profile_space
    r.u(1)  # general_tier_flag
    profile_idc = r.u(5)
    r.u(32)  # compatibility flags
    r.u(4)   # progressive/interlaced/non-packed/frame-only
    r.u(43)  # reserved / constraint flags
    r.u(1)   # inbld / reserved
    level_idc = r.u(8)
    sub_profile = []
    sub_level = []
    for _ in range(max_sub_layers_minus1):
        sub_profile.append(r.u(1))
        sub_level.append(r.u(1))
    if max_sub_layers_minus1 > 0:
        for _ in range(8 - max_sub_layers_minus1):
            r.u(2)  # reserved_zero_2bits
    for i in range(max_sub_layers_minus1):
        if sub_profile[i]:
            r.u(2 + 1 + 5)
            r.u(32)
            r.u(4)
            r.u(43)
            r.u(1)
        if sub_level[i]:
            r.u(8)
    return profile_idc, level_idc


def parse_h265_sps(nal: bytes) -> dict:
    """Parse an H.265/HEVC sequence parameter set NAL (with or without its
    2-byte NAL header). Returns {profile_idc, level_idc, width, height,
    chroma_format_idc, bit_depth_luma}; dimensions apply the conformance
    window with chroma sub-sampling units (23008-2 §7.4.3.2.1)."""
    if len(nal) < 2:
        raise ValueError("empty SPS")
    data = nal
    if (data[0] >> 1) & 0x3F == 33:  # NAL header present (type SPS_NUT)
        data = data[2:]
    r = _BitReader(_strip_emulation(data))
    r.u(4)  # sps_video_parameter_set_id
    max_sub_layers_minus1 = r.u(3)
    r.u(1)  # sps_temporal_id_nesting_flag
    profile_idc, level_idc = _skip_profile_tier_level(r, max_sub_layers_minus1)
    r.ue()  # sps_seq_parameter_set_id
    chroma_format_idc = r.ue()
    if chroma_format_idc == 3:
        r.u(1)  # separate_colour_plane_flag
    pic_w = r.ue()
    pic_h = r.ue()
    win_l = win_r = win_t = win_b = 0
    if r.u(1):  # conformance_window_flag
        win_l, win_r, win_t, win_b = r.ue(), r.ue(), r.ue(), r.ue()
    bit_depth_luma = 8 + r.ue()
    sub_w, sub_h = _SUBC.get(chroma_format_idc, (1, 1))
    return {
        "profile_idc": profile_idc, "level_idc": level_idc,
        "width": pic_w - sub_w * (win_l + win_r),
        "height": pic_h - sub_h * (win_t + win_b),
        "chroma_format_idc": chroma_format_idc,
        "bit_depth_luma": bit_depth_luma,
    }


def make_h265_sps(width: int, height: int, profile_idc: int = 1,
                  level_idc: int = 93) -> bytes:
    """Minimal Main-profile HEVC SPS NAL (2-byte header, no sub-layers).
    Odd dimensions use the conformance window (4:2:0 => even only)."""
    if width % 2 or height % 2:
        raise ValueError("4:2:0 dimensions must be even")
    # coded size rounds up to the min CTB granularity we declare (8)
    pic_w = (width + 7) // 8 * 8
    pic_h = (height + 7) // 8 * 8
    win_r = (pic_w - width) // 2   # SubWidthC = 2
    win_b = (pic_h - height) // 2
    w = _BitWriter()
    w.u(0, 4)   # sps_video_parameter_set_id
    w.u(0, 3)   # sps_max_sub_layers_minus1
    w.u(1, 1)   # sps_temporal_id_nesting_flag
    # profile_tier_level(1, 0)
    w.u(0, 2)
    w.u(0, 1)
    w.u(profile_idc, 5)
    w.u(1 << (31 - profile_idc), 32)  # compatibility: own-profile bit
    w.u(0b1000, 4)  # progressive_source=1, rest 0
    w.u(0, 43)
    w.u(0, 1)
    w.u(level_idc, 8)
    w.ue(0)     # sps_seq_parameter_set_id
    w.ue(1)     # chroma_format_idc = 4:2:0
    w.ue(pic_w)
    w.ue(pic_h)
    if win_r or win_b:
        w.u(1, 1)
        w.ue(0)
        w.ue(win_r)
        w.ue(0)
        w.ue(win_b)
    else:
        w.u(0, 1)
    w.ue(0)     # bit_depth_luma_minus8
    w.ue(0)     # bit_depth_chroma_minus8
    # NAL header: forbidden=0, type=33, layer=0, tid+1=1
    return bytes([33 << 1, 1]) + _add_emulation(w.rbsp_trailing())


# ------------------------------------------------------------ AAC ADTS --

_ADTS_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350)
_AAC_PROFILES = ("Main", "LC", "SSR", "LTP")


def parse_adts(data: bytes) -> dict:
    """Walk AAC ADTS frames (ISO 14496-3 §1.A.2.2) -> real sample rate,
    channels, object type, frame count, duration, average bitrate.

    Raises ValueError when no valid frame is found. A truncated final
    frame is tolerated (counted out), matching the MP3 walk's behavior."""
    i = 0
    n_frames = 0
    n_blocks = 0
    total_bytes = 0
    sample_rate = None
    channels = None
    profile = None
    mpeg_version = None
    while i + 7 <= len(data):
        if not (data[i] == 0xFF and (data[i + 1] & 0xF6) == 0xF0):
            if n_frames:
                break  # trailing junk after a valid stream
            i += 1
            continue
        rate_idx = (data[i + 2] >> 2) & 0x0F
        if rate_idx >= len(_ADTS_RATES):
            if n_frames:
                break
            i += 1
            continue
        frame_len = ((data[i + 3] & 0x03) << 11) | (data[i + 4] << 3) \
            | (data[i + 5] >> 5)
        if frame_len < 7:
            if n_frames:
                break
            i += 1
            continue
        if i + frame_len > len(data):
            break  # truncated final frame
        this_rate = _ADTS_RATES[rate_idx]
        this_ch = ((data[i + 2] & 0x01) << 2) | (data[i + 3] >> 6)
        this_prof = (data[i + 2] >> 6) & 0x03
        if sample_rate is None:
            sample_rate = this_rate
            channels = this_ch
            profile = this_prof
            mpeg_version = (data[i + 1] >> 3) & 1
        elif this_rate != sample_rate:
            break  # rate change = new stream; stop at the boundary
        n_frames += 1
        n_blocks += ((data[i + 6]) & 0x03) + 1
        total_bytes += frame_len
        i += frame_len
    if not n_frames:
        raise ValueError("no valid ADTS frame")
    duration = n_blocks * 1024.0 / sample_rate
    return {
        "n_frames": n_frames,
        "sample_rate": sample_rate,
        "channels": channels,
        "object_type": _AAC_PROFILES[profile],
        "mpeg_version": 2 if mpeg_version else 4,
        "duration_sec": duration,
        "avg_bitrate_kbps": (total_bytes * 8.0 / duration / 1000.0)
        if duration else 0.0,
    }


def make_adts(n_frames: int, rate_idx: int = 4, channels: int = 2,
              profile: int = 1, payload_bytes: int = 64) -> bytes:
    """Bit-exact ADTS stream: ``n_frames`` frames of silent payload
    (protection_absent=1, MPEG-4, one raw data block per frame)."""
    out = bytearray()
    frame_len = 7 + payload_bytes
    for _ in range(n_frames):
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF1  # sync + MPEG-4 + layer 00 + protection_absent
        h[2] = (profile << 6) | (rate_idx << 2) | ((channels >> 2) & 1)
        h[3] = ((channels & 0x03) << 6) | ((frame_len >> 11) & 0x03)
        h[4] = (frame_len >> 3) & 0xFF
        h[5] = ((frame_len & 0x07) << 5) | 0x1F  # buffer fullness hi
        h[6] = 0xFC  # buffer fullness lo + 1 raw data block (00)
        out += h + bytes(payload_bytes)
    return bytes(out)


# -------------------------------------------------------- avcC / hvcC --

def _u16_prefixed(rec: bytes, pos: int) -> tuple[bytes, int]:
    """Big-endian u16 length-prefixed field at ``pos`` -> (field, next pos)."""
    end = pos + 2 + int.from_bytes(rec[pos:pos + 2], "big")
    if pos + 2 > len(rec) or end > len(rec):
        raise ValueError("truncated record")
    return rec[pos + 2:end], end


def parse_avcc(avcc: bytes) -> dict:
    """AVCDecoderConfigurationRecord (ISO 14496-15 §5.3.3.1) -> profile/
    level + parsed first SPS (the stream-level truth an MP4 carries)."""
    if len(avcc) < 7 or avcc[0] != 1:
        raise ValueError("not an avcC record")
    n_sps = avcc[5] & 0x1F
    pos = 6
    sps_list = []
    for _ in range(n_sps):
        sps, pos = _u16_prefixed(avcc, pos)
        sps_list.append(sps)
    out = {"profile_idc": avcc[1], "level_idc": avcc[3],
           "sps": sps_list, "codec": "h264"}
    if sps_list:
        out["sps_parsed"] = parse_h264_sps(sps_list[0])
    return out


def make_avcc(sps: bytes) -> bytes:
    """Wrap an SPS NAL in a minimal avcC record (no PPS — the dimension/
    profile fields a metadata pipeline reads live in the SPS)."""
    meta = parse_h264_sps(sps)
    return (bytes([1, meta["profile_idc"], 0, meta["level_idc"],
                   0xFF, 0xE1])
            + struct.pack(">H", len(sps)) + sps + b"\x00")


def parse_hvcc(hvcc: bytes) -> dict:
    """HEVCDecoderConfigurationRecord (ISO 14496-15 §8.3.3.1.2) ->
    profile/level + parsed first SPS (NAL type 33)."""
    if len(hvcc) < 23 or hvcc[0] != 1:
        raise ValueError("not an hvcC record")
    n_arrays = hvcc[22]
    pos = 23
    sps_list = []
    for _ in range(n_arrays):
        if pos + 3 > len(hvcc):
            raise ValueError("truncated record")
        nal_type = hvcc[pos] & 0x3F
        (n_nalus,) = struct.unpack(">H", hvcc[pos + 1:pos + 3])
        pos += 3
        for _ in range(n_nalus):
            nal, pos = _u16_prefixed(hvcc, pos)
            if nal_type == 33:
                sps_list.append(nal)
    out = {"profile_idc": hvcc[1] & 0x1F, "level_idc": hvcc[12],
           "sps": sps_list, "codec": "h265"}
    if sps_list:
        out["sps_parsed"] = parse_h265_sps(sps_list[0])
    return out


def make_hvcc(sps: bytes) -> bytes:
    meta = parse_h265_sps(sps)
    head = bytearray(23)
    head[0] = 1
    head[1] = meta["profile_idc"] & 0x1F
    head[12] = meta["level_idc"]
    head[13] = 0xF0  # reserved
    head[15] = 0xFC
    head[16] = 0xFC
    head[17] = 0xF8
    head[18] = 0xF8
    head[21] = 0x03  # lengthSizeMinusOne=3 (+ reserved bits zeroed)
    head[22] = 1     # one array: SPS
    return (bytes(head) + bytes([0x20 | 33]) + struct.pack(">H", 1)
            + struct.pack(">H", len(sps)) + sps)


def stream_dims_from_codec_private(fourcc: str, record: bytes) -> dict | None:
    """Dispatch an stsd codec-private box (avcC/hvcC payload) to the right
    SPS parse. Returns the parsed SPS dict (width/height/profile...) or
    None when the record carries no SPS / isn't one we read."""
    try:
        if fourcc == "avcC":
            return parse_avcc(record).get("sps_parsed")
        if fourcc == "hvcC":
            return parse_hvcc(record).get("sps_parsed")
    except ValueError:
        return None
    return None


# ------------------------------------------------------- Annex-B walk --

def parse_annexb(data: bytes, max_nals: int = 200_000) -> dict:
    """Walk an H.264/H.265 Annex-B elementary stream (00 00 01 /
    00 00 00 01 start codes) -> {codec, width, height, profile_idc,
    level_idc, n_nals, n_frames}.

    The codec is detected from which NAL-header layout yields an SPS
    that parses (H.264 nal_unit_type 7 in the low 5 bits vs H.265 type
    33 in bits 1-6). ``n_frames`` counts picture STARTS the way a
    decoder does: H.264 VCL NALs (types 1-5) whose first_mb_in_slice
    Exp-Golomb is 0, H.265 VCL NALs (types 0-21) whose
    first_slice_segment_in_pic_flag is set — so multi-slice pictures
    count once. Raises ValueError when no SPS is found."""
    # start-code scan
    nals = []
    i = 0
    n = len(data)
    while i + 3 <= n and len(nals) < max_nals:
        j = data.find(b"\x00\x00\x01", i)
        if j < 0:
            break
        start = j + 3
        k = data.find(b"\x00\x00\x01", start)
        end = n if k < 0 else (k - 1 if k > 0 and data[k - 1] == 0 else k)
        nals.append(data[start:end])
        i = start
    if not nals:
        raise ValueError("no Annex-B start codes")
    sps_meta = None
    codec = None
    for nal in nals:
        if not nal:
            continue
        if (nal[0] & 0x1F) == 7 and (nal[0] & 0x80) == 0:
            try:
                sps_meta = parse_h264_sps(nal)
                codec = "h264"
                break
            except ValueError:
                pass
        if len(nal) >= 2 and ((nal[0] >> 1) & 0x3F) == 33 \
                and (nal[0] & 0x80) == 0:
            try:
                sps_meta = parse_h265_sps(nal)
                codec = "h265"
                break
            except ValueError:
                pass
    if sps_meta is None:
        raise ValueError("no parseable SPS NAL in stream")
    n_frames = 0
    for nal in nals:
        if len(nal) < 2:
            continue
        if codec == "h264":
            ntype = nal[0] & 0x1F
            if 1 <= ntype <= 5:
                r = _BitReader(_strip_emulation(nal[1:3]))
                try:
                    if r.ue() == 0:  # first_mb_in_slice
                        n_frames += 1
                except ValueError:
                    pass
        else:
            ntype = (nal[0] >> 1) & 0x3F
            # first_slice_segment_in_pic_flag lives in byte 2 (after the
            # 2-byte NAL header): a truncated 2-byte VCL NAL is skipped,
            # not an IndexError mid-walk
            if ntype <= 21 and len(nal) >= 3:  # VCL range incl. IRAP
                if nal[2] & 0x80:  # first_slice_segment_in_pic_flag
                    n_frames += 1
    return {"codec": codec, "width": sps_meta["width"],
            "height": sps_meta["height"],
            "profile_idc": sps_meta["profile_idc"],
            "level_idc": sps_meta["level_idc"],
            "n_nals": len(nals), "n_frames": n_frames}


def make_annexb(width: int, height: int, n_frames: int = 3,
                codec: str = "h264", slices_per_frame: int = 1) -> bytes:
    """Minimal Annex-B stream: SPS + per-frame VCL NAL headers (slice
    payloads are dummies; only the fields parse_annexb reads are real)."""
    sc = b"\x00\x00\x00\x01"
    if codec == "h264":
        out = sc + make_h264_sps(width, height)
        for _ in range(n_frames):
            for s in range(slices_per_frame):
                # nal type 5 (IDR); slice header starts with
                # first_mb_in_slice ue: '1' = 0 (frame start) for the
                # first slice, ue(1)='010' + pad for continuations
                body = b"\x80" if s == 0 else b"\x40"
                out += sc + b"\x65" + body + bytes(8)
    else:
        out = sc + make_h265_sps(width, height)
        for _ in range(n_frames):
            for s in range(slices_per_frame):
                hdr = bytes([19 << 1, 1])  # IDR_W_RADL, tid+1=1
                body = b"\x80" if s == 0 else b"\x00"
                out += sc + hdr + body + bytes(8)
    return out
