"""A/V bitstream header parsers (ops/bitstream.py): H.264/H.265 SPS,
AAC ADTS — hand-computed fixtures, encoder round-trips, emulation
prevention, and the container-vs-stream disagreement flag."""

import struct

import pytest

from pdfextractor_spark.ops.bitstream import (
    make_adts,
    make_avcc,
    make_h264_sps,
    make_h265_sps,
    make_hvcc,
    parse_adts,
    parse_avcc,
    parse_h264_sps,
    parse_h265_sps,
    parse_hvcc,
    stream_dims_from_codec_private,
)


def _pack_bits(bitstr: str) -> bytes:
    """Independent bit packer for hand-written fixtures (test-side twin,
    not the module's writer)."""
    bits = bitstr.replace(" ", "")
    bits += "1"  # rbsp_stop_one_bit
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))


def test_h264_sps_hand_computed_baseline():
    """64x64 baseline SPS written bit-by-bit from 14496-10 §7.3.2.1.1:
    every field below is hand-encoded Exp-Golomb / fixed-width."""
    body = _pack_bits(
        "1"        # seq_parameter_set_id ue(0)
        "1"        # log2_max_frame_num_minus4 ue(0)
        "1"        # pic_order_cnt_type ue(0)
        "1"        # log2_max_pic_order_cnt_lsb_minus4 ue(0)
        "010"      # max_num_ref_frames ue(1)
        "0"        # gaps_in_frame_num_value_allowed_flag
        "00100"    # pic_width_in_mbs_minus1 ue(3) -> 4 MBs = 64 px
        "00100"    # pic_height_in_map_units_minus1 ue(3)
        "1"        # frame_mbs_only_flag
        "1"        # direct_8x8_inference_flag
        "0"        # frame_cropping_flag
        "0"        # vui_parameters_present_flag
    )
    nal = bytes([0x67, 66, 0x00, 30]) + body
    m = parse_h264_sps(nal)
    assert m["profile_idc"] == 66 and m["level_idc"] == 30
    assert (m["width"], m["height"]) == (64, 64)
    assert m["frame_mbs_only"] is True and m["max_num_ref_frames"] == 1
    # without the NAL header byte the RBSP parses identically
    assert parse_h264_sps(bytes([66, 0x00, 30]) + body) == m


def test_h264_sps_cropping_hand_computed():
    """1920x1080: 68 map units * 16 = 1088, crop_bottom=4 in 4:2:0 crop
    units (CropUnitY=2) -> 1080. Hand-encoded."""
    ue119 = "000000" + "1111000"  # 119+1 = 120 = 0b1111000: 120 MBs = 1920
    ue67 = "000000" + "1000100"   # 67+1 = 68 map units -> 1088 rows
    body = _pack_bits(
        "1 1 1 1 010 0 " + ue119 + " " + ue67 +
        " 1 1"      # frame_mbs_only, direct_8x8
        " 1"        # frame_cropping_flag
        " 1 1 1"    # left/right/top ue(0)
        " 00101"    # crop_bottom ue(4) -> 4*2 = 8 px -> 1088-8=1080
        " 0"        # vui_parameters_present_flag
    )
    m = parse_h264_sps(bytes([0x67, 66, 0, 40]) + body)
    assert (m["width"], m["height"]) == (1920, 1080)


def test_h264_emulation_prevention_bytes_are_stripped():
    """An SPS whose RBSP contains 00 00 00 / 00 00 01 runs must round-trip
    through the 00-00-03 escape (14496-10 §7.4.1)."""
    # large pic sizes force long zero runs in the Exp-Golomb prefix
    for w, h in [(4096, 2048), (8192, 4096), (2048, 4096)]:
        sps = make_h264_sps(w, h)
        rbsp_escaped = sps[1:]
        # the escape guarantees no 00 00 0x run in the NAL payload
        for i in range(len(rbsp_escaped) - 2):
            assert not (rbsp_escaped[i] == 0 and rbsp_escaped[i + 1] == 0
                        and rbsp_escaped[i + 2] <= 3), (w, h, i)
        m = parse_h264_sps(sps)
        assert (m["width"], m["height"]) == (w, h)


def test_h264_high_profile_chroma_and_scaling_path():
    """profile_idc=100 adds chroma/bit-depth/scaling fields before the
    dims (§7.3.2.1.1); hand-encoded with chroma_format_idc=1, 8-bit."""
    body = _pack_bits(
        "1"      # seq_parameter_set_id ue(0)
        "010"    # chroma_format_idc ue(1) = 4:2:0
        "1"      # bit_depth_luma_minus8 ue(0)
        "1"      # bit_depth_chroma_minus8 ue(0)
        "0"      # qpprime_y_zero_transform_bypass_flag
        "0"      # seq_scaling_matrix_present_flag
        "1 1 1 010 0"  # frame_num/poc/refs/gaps as in baseline fixture
        "00100 00100 1 1 0 0"
    )
    m = parse_h264_sps(bytes([0x67, 100, 0, 40]) + body)
    assert (m["width"], m["height"]) == (64, 64)
    assert m["chroma_format_idc"] == 1 and m["bit_depth_luma"] == 8


def test_h264_round_trip_sweep():
    for w, h in [(16, 16), (64, 48), (176, 144), (320, 240), (406, 720),
                 (854, 480), (1280, 720), (1920, 1080), (3840, 2160)]:
        m = parse_h264_sps(make_h264_sps(w, h))
        assert (m["width"], m["height"]) == (w, h)
    with pytest.raises(ValueError):
        make_h264_sps(321, 240)  # odd width unrepresentable in 4:2:0
    with pytest.raises(ValueError):
        parse_h264_sps(b"")
    with pytest.raises(ValueError):
        parse_h264_sps(b"\x67\x42")  # truncated


def test_h265_sps_round_trip_and_fields():
    for w, h in [(64, 64), (1280, 720), (1920, 1080), (1366, 768),
                 (406, 306), (3840, 2160)]:
        m = parse_h265_sps(make_h265_sps(w, h))
        assert (m["width"], m["height"]) == (w, h)
        assert m["profile_idc"] == 1 and m["chroma_format_idc"] == 1
        assert m["bit_depth_luma"] == 8
    m = parse_h265_sps(make_h265_sps(640, 360, profile_idc=2, level_idc=120))
    assert m["profile_idc"] == 2 and m["level_idc"] == 120


def test_h265_sub_layer_profile_tier_level_skip():
    """max_sub_layers_minus1 > 0 adds per-sub-layer blocks inside
    profile_tier_level (23008-2 §7.3.3) that must be skipped exactly."""
    from pdfextractor_spark.ops.bitstream import _BitWriter

    w = _BitWriter()
    w.u(0, 4)
    w.u(1, 3)   # sps_max_sub_layers_minus1 = 1
    w.u(1, 1)
    # general ptl
    w.u(0, 2); w.u(0, 1); w.u(1, 5); w.u(1 << 30, 32); w.u(0b1000, 4)
    w.u(0, 43); w.u(0, 1); w.u(93, 8)
    # one sub-layer: profile present + level present
    w.u(1, 1); w.u(1, 1)
    for _ in range(7):
        w.u(0, 2)  # reserved up to 8 sub-layers
    # sub-layer profile block (2+1+5+32+4+43+1 bits) + level (8)
    w.u(0, 2); w.u(0, 1); w.u(1, 5); w.u(0, 32); w.u(0, 4); w.u(0, 43)
    w.u(0, 1); w.u(90, 8)
    w.ue(0)     # sps_seq_parameter_set_id
    w.ue(1)     # chroma_format_idc
    w.ue(832)   # pic_width_in_luma_samples
    w.ue(480)   # pic_height
    w.u(0, 1)   # conformance_window_flag
    w.ue(0); w.ue(0)
    nal = bytes([33 << 1, 1]) + w.rbsp_trailing()
    m = parse_h265_sps(nal)
    assert (m["width"], m["height"]) == (832, 480)
    assert m["level_idc"] == 93


def test_adts_hand_computed_header():
    """One ADTS frame hand-packed from 14496-3 §1.A.2.2: 48 kHz (index 3),
    1 channel, LC (profile bits 01), frame_length=9, 1 raw block."""
    fl = 9
    h = bytes([
        0xFF, 0xF1,
        (1 << 6) | (3 << 2) | 0,                  # LC, rate idx 3, ch hi
        (1 << 6) | ((fl >> 11) & 3),              # ch lo=1, len hi
        (fl >> 3) & 0xFF,
        ((fl & 7) << 5) | 0x1F,
        0xFC,
    ]) + b"\x00\x00"
    m = parse_adts(h)
    assert m["n_frames"] == 1 and m["sample_rate"] == 48000
    assert m["channels"] == 1 and m["object_type"] == "LC"
    assert m["duration_sec"] == pytest.approx(1024 / 48000.0)


def test_adts_walk_truncation_and_junk():
    a = make_adts(40, rate_idx=8, channels=1, profile=0)  # 16 kHz Main
    m = parse_adts(a)
    assert m["n_frames"] == 40 and m["sample_rate"] == 16000
    assert m["object_type"] == "Main" and m["channels"] == 1
    assert m["duration_sec"] == pytest.approx(40 * 1024 / 16000.0)
    # truncated final frame: counted out, no crash
    m2 = parse_adts(a[:-10])
    assert m2["n_frames"] == 39
    # leading junk is skipped; trailing junk stops the walk cleanly
    m3 = parse_adts(b"\x12\x34" + a + b"\xff\x00garbage")
    assert m3["n_frames"] == 40
    with pytest.raises(ValueError):
        parse_adts(b"\x00" * 100)


def test_avcc_hvcc_records_round_trip():
    sps = make_h264_sps(854, 480, profile_idc=77, level_idc=31)
    rec = parse_avcc(make_avcc(sps))
    assert rec["profile_idc"] == 77 and rec["level_idc"] == 31
    assert rec["sps_parsed"]["width"] == 854
    assert rec["sps"] == [sps]

    sps5 = make_h265_sps(1366, 768)
    rec5 = parse_hvcc(make_hvcc(sps5))
    assert rec5["sps_parsed"]["width"] == 1366
    assert rec5["level_idc"] == 93

    assert stream_dims_from_codec_private("avcC", make_avcc(sps))["width"] == 854
    assert stream_dims_from_codec_private("hvcC", make_hvcc(sps5))["height"] == 768
    assert stream_dims_from_codec_private("avcC", b"junk") is None
    assert stream_dims_from_codec_private("esds", b"\x01") is None
    with pytest.raises(ValueError):
        parse_avcc(b"\x02\x00")
    with pytest.raises(ValueError):
        parse_hvcc(b"\x00" * 10)


def test_truncated_codec_private_records_return_none():
    """A length prefix that runs past the end of an avcC/hvcC record is a
    truncated record: the parser raises ValueError and the dispatcher
    returns None instead of letting struct.error/IndexError escape."""
    avcc = b"\x01\x00\x00\x00\x00\xe1\x01"
    with pytest.raises(ValueError, match="truncated record"):
        parse_avcc(avcc)
    assert stream_dims_from_codec_private("avcC", avcc) is None
    full = make_avcc(make_h264_sps(854, 480))
    for cut in range(7, len(full) - 1):  # the trailing PPS count is unread
        assert stream_dims_from_codec_private("avcC", full[:cut]) is None
    full5 = make_hvcc(make_h265_sps(1366, 768))
    for cut in range(23, len(full5)):
        with pytest.raises(ValueError, match="truncated record"):
            parse_hvcc(full5[:cut])
        assert stream_dims_from_codec_private("hvcC", full5[:cut]) is None


def test_struct_pack_sanity():
    # the records use big-endian u16 lengths throughout
    assert struct.pack(">H", 854) == bytes([3, 86])


def test_annexb_stream_walk():
    """Annex-B NAL walk: SPS dims + picture-start frame counting (multi-
    slice pictures count once), codec auto-detection, junk rejection."""
    from pdfextractor_spark.ops.bitstream import make_annexb, parse_annexb

    m = parse_annexb(make_annexb(1280, 720, n_frames=5))
    assert (m["codec"], m["width"], m["height"]) == ("h264", 1280, 720)
    assert m["n_frames"] == 5 and m["n_nals"] == 6
    # 3 slices per picture must still count 4 pictures
    ms = parse_annexb(make_annexb(640, 480, n_frames=4, slices_per_frame=3))
    assert ms["n_frames"] == 4 and ms["n_nals"] == 13
    m5 = parse_annexb(make_annexb(1920, 1080, n_frames=2, codec="h265"))
    assert (m5["codec"], m5["width"], m5["n_frames"]) == ("h265", 1920, 2)
    m5s = parse_annexb(
        make_annexb(832, 480, n_frames=3, codec="h265", slices_per_frame=2))
    assert m5s["n_frames"] == 3
    with pytest.raises(ValueError):
        parse_annexb(b"\xff" * 64)  # no start codes
    with pytest.raises(ValueError):
        parse_annexb(b"\x00\x00\x01\x41" + bytes(8))  # VCL but no SPS


def test_review_fixes_bitstream():
    """Round-5 review regressions: truncated H.265 VCL NAL skipped (not
    IndexError), high-profile SPS writer emits the chroma/bit-depth
    fields, headerless RBSP with profile 135 not mis-sniffed."""
    from pdfextractor_spark.ops.bitstream import make_annexb, parse_annexb

    # 2-byte VCL NAL after a valid SPS: skipped, not IndexError
    stream = (b"\x00\x00\x00\x01" + make_h265_sps(64, 64)
              + b"\x00\x00\x00\x01" + bytes([19 << 1, 1]))
    m = parse_annexb(stream)
    assert m["codec"] == "h265" and m["n_frames"] == 0

    # High profile (100): writer emits the fields the parser demands
    for prof in (100, 110, 77, 66):
        sps = make_h264_sps(854, 480, profile_idc=prof)
        got = parse_h264_sps(sps)
        assert (got["width"], got["height"], got["profile_idc"]) == \
            (854, 480, prof)
    rec = parse_avcc(make_avcc(make_h264_sps(1280, 720, profile_idc=100)))
    assert rec["sps_parsed"]["width"] == 1280

    # headerless RBSP whose profile_idc has low-5-bits 7 (135 = 0x87):
    # the first byte is profile_idc, not a NAL header, and must survive
    from pdfextractor_spark.ops.bitstream import _BitWriter, _add_emulation

    w = _BitWriter()
    w.u(135, 8); w.u(0, 8); w.u(40, 8)
    w.ue(0)              # seq_parameter_set_id
    w.ue(1); w.ue(0); w.ue(0); w.u(0, 1); w.u(0, 1)  # high-profile fields
    w.ue(0); w.ue(0); w.ue(0)  # frame_num, poc_type=0, log2_poc
    w.ue(1); w.u(0, 1)   # refs, gaps
    w.ue(3); w.ue(3)     # 4x4 MBs = 64x64
    w.u(1, 1); w.u(1, 1); w.u(0, 1); w.u(0, 1)
    rbsp = _add_emulation(w.rbsp_trailing())
    got = parse_h264_sps(rbsp)
    assert (got["profile_idc"], got["width"]) == (135, 64)
