"""Baseline JPEG decoder units — hand-built marker/entropy streams,
independent of encode_jpeg_gray_flat, pinning the GENERAL paths the
flat-block oracle query never exercises: AC coefficients, 4:2:0
multi-block MCUs + chroma upsampling + YCbCr→RGB, restart intervals,
16-bit DQT, header skipping, and the non-baseline refusals."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from orionld_to_hive_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg_gray_flat,
)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


# Test-local tables, mirrors of nothing in the module: DC categories
# 0-9 as the ten 4-bit codes 0000-1001; AC '0'→EOB, '10'→rs 0x06,
# '11'→ZRL.
_DC_DHT = bytes([0x00]) + bytes([0, 0, 0, 10] + [0] * 12) + bytes(range(10))
_AC_DHT = bytes([0x10]) + bytes([1, 2] + [0] * 14) + bytes([0x00, 0x06, 0xF0])


class _Bits:
    """Test-local bit packer with byte stuffing (independent of the
    module's _BitWriter)."""

    def __init__(self):
        self.bits = ""

    def put(self, value: int, n: int) -> None:
        self.bits += format(value, f"0{n}b") if n else ""

    def bytes(self) -> bytes:
        b = self.bits + "1" * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(b), 8):
            v = int(b[i : i + 8], 2)
            out.append(v)
            if v == 0xFF:
                out.append(0x00)
        return bytes(out)


def _dc(bits: _Bits, diff: int) -> None:
    cat = abs(diff).bit_length()
    bits.put(cat, 4)
    if cat:
        bits.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)


def _grey_header(w: int, h: int, qt: bytes = bytes([1] * 64)) -> bytes:
    return (
        b"\xff\xd8"
        + _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + _seg(0xFE, b"hand-built")
        + _seg(0xDB, bytes([0x00]) + qt)
        + _seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, _DC_DHT + _AC_DHT)
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    )


def test_dc_only_flat_block():
    """DC diff +8, quant 1 → coefficient 8 → IDCT flat 1 → pixel 129;
    APP0 and COM segments must be skipped on the way."""
    bits = _Bits()
    _dc(bits, 8)
    bits.put(0, 1)  # EOB
    img = decode_jpeg(_grey_header(8, 8) + bits.bytes() + b"\xff\xd9")
    assert (img.width, img.height, img.channels) == (8, 8, 1)
    assert (img.samples == 129).all()


def test_single_ac_coefficient_matches_cosine_formula():
    """DC 0 + one AC coefficient (zigzag k=1 → F(0,1)=32): every row is
    128 + 32·(1/(2√2))·(1/2)·cos((2y+1)π/16), computed here with
    math.cos, independent of the module's vectorized basis matrix."""
    bits = _Bits()
    _dc(bits, 0)
    bits.put(0b10, 2)  # AC rs=0x06 (run 0, size 6)
    bits.put(32, 6)  # magnitude +32
    bits.put(0, 1)  # EOB
    img = decode_jpeg(_grey_header(8, 8) + bits.bytes() + b"\xff\xd9")
    grid = img.samples.reshape(8, 8)
    for y in range(8):
        expect = 128.0 + 32.0 * (0.5 / math.sqrt(2)) * 0.5 * math.cos(
            (2 * y + 1) * math.pi / 16
        )
        want = int(np.clip(np.round(expect), 0, 255))
        assert (grid[:, y] == want).all(), (y, want, grid[:, y])
    assert len(set(grid[0].tolist())) > 1  # the wave actually varies


def test_zrl_places_coefficient_after_sixteen_zeros():
    """ZRL (0xF0) skips 16 zero coefficients: DC 0, ZRL, then rs 0x06
    value 32 lands at zigzag k=17 (raster u=2,v=4... position
    ZIGZAG[17]=24 → row 3, col 0 in u,v space). Decoded block must
    differ from the no-ZRL block of the same value."""
    with_zrl = _Bits()
    _dc(with_zrl, 0)
    with_zrl.put(0b11, 2)  # ZRL
    with_zrl.put(0b10, 2)  # rs 0x06
    with_zrl.put(32, 6)
    with_zrl.put(0, 1)
    without = _Bits()
    _dc(without, 0)
    without.put(0b10, 2)
    without.put(32, 6)
    without.put(0, 1)
    a = decode_jpeg(_grey_header(8, 8) + with_zrl.bytes() + b"\xff\xd9")
    b = decode_jpeg(_grey_header(8, 8) + without.bytes() + b"\xff\xd9")
    assert not (a.samples == b.samples).all()
    # energy is conserved-ish: both deviate from flat 128
    assert a.samples.min() < 128 < a.samples.max()


def test_sixteen_bit_dqt():
    """pq=1 DQT (16-bit entries, value 300): DC coefficient 1
    dequantizes to 300 → flat round(300/8)=38 → pixel 166."""
    qt16 = b"".join(struct.pack(">H", 300) for _ in range(64))
    payload = (
        b"\xff\xd8"
        + _seg(0xDB, bytes([0x10]) + qt16)
        + _seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, _DC_DHT + _AC_DHT)
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    )
    bits = _Bits()
    _dc(bits, 1)
    bits.put(0, 1)
    img = decode_jpeg(payload + bits.bytes() + b"\xff\xd9")
    assert (img.samples == 166).all()


def test_420_color_flat():
    """One 16×16 4:2:0 MCU, all blocks DC-only: Y=100 (s'=-28),
    Cb=+20, Cr=-10 → every pixel (86, 100, 135) by the JFIF
    transform, hand-computed: R=100+1.402·(-10)→86,
    G=100-0.344136·20-0.714136·(-10)→100, B=100+1.772·20→135."""
    qt = bytes([8] * 64)
    payload = (
        b"\xff\xd8"
        + _seg(0xDB, bytes([0x00]) + qt)
        + _seg(
            0xC0,
            struct.pack(">BHHB", 8, 16, 16, 3)
            + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
        )
        + _seg(0xC4, _DC_DHT + _AC_DHT)
        + _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    )
    bits = _Bits()
    _dc(bits, -28)  # Y block 1: s' = -28 → Y = 100
    bits.put(0, 1)
    for _ in range(3):  # Y blocks 2-4: diff 0
        _dc(bits, 0)
        bits.put(0, 1)
    _dc(bits, 20)  # Cb
    bits.put(0, 1)
    _dc(bits, -10)  # Cr
    bits.put(0, 1)
    img = decode_jpeg(payload + bits.bytes() + b"\xff\xd9")
    assert (img.width, img.height, img.channels) == (16, 16, 3)
    rgb = img.samples.reshape(-1, 3)
    assert (rgb == (86, 100, 135)).all(), rgb[0]


def test_restart_interval_resets_dc_predictor():
    """DRI=1 between two 8×8 blocks (16×8 grey): both encode diff +8
    from a RESET predictor; without the reset the second block would
    decode to 130, with it both are 129. RST0 sits byte-aligned
    between the entropy segments."""
    payload = (
        b"\xff\xd8"
        + _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + _seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, _DC_DHT + _AC_DHT)
        + _seg(0xDD, struct.pack(">H", 1))
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    )
    blk = _Bits()
    _dc(blk, 8)
    blk.put(0, 1)
    one = blk.bytes()
    img = decode_jpeg(payload + one + b"\xff\xd0" + one + b"\xff\xd9")
    assert (img.width, img.height) == (16, 8)
    assert (img.samples == 129).all()


def test_roundtrip_every_byte_value():
    """Property roundtrip through the real encoder: all 256 byte
    values decode back exactly (flat DC-only blocks are lossless by
    construction), including the 0xFF byte-stuffing cases."""
    raw = np.arange(256, dtype=np.uint8)
    img = decode_jpeg(encode_jpeg_gray_flat(raw))
    grid = img.samples.reshape(img.height, img.width)
    for i in range(256):
        blk = grid[(i // 4) * 8 : (i // 4) * 8 + 8, (i % 4) * 8 : (i % 4) * 8 + 8]
        assert (blk == i).all()


def test_color_flat_closed_form_all_bytes():
    """The 4:4:4 color twin's decoded RGB is the documented closed
    form of each byte — R = max(0, b−14), G = b, B = min(255, b+35) —
    for every byte value, including the clip regions at both ends."""
    from orionld_to_hive_spark.operators.jpeg import encode_jpeg_color_flat

    raw = np.arange(256, dtype=np.uint8)
    img = decode_jpeg(encode_jpeg_color_flat(raw))
    assert img.channels == 3
    rgb = img.samples.reshape(img.height, img.width, 3)
    for i in range(256):
        blk = rgb[(i // 4) * 8 : (i // 4) * 8 + 8,
                  (i % 4) * 8 : (i % 4) * 8 + 8]
        assert (blk == (max(0, i - 14), i, min(255, i + 35))).all(), i


def test_decode_asset_routes_jpeg():
    """The mime-agnostic dispatcher (multimodal.decode_asset) now
    routes SOI-signature payloads to the real JPEG decoder."""
    from orionld_to_hive_spark.operators.multimodal import decode_asset

    raw = np.array([10, 200], dtype=np.uint8)
    img = decode_asset(encode_jpeg_gray_flat(raw))
    assert img.channels == 1 and img.width == 32
    grid = img.samples.reshape(img.height, img.width)
    assert (grid[:8, :8] == 10).all() and (grid[:8, 8:16] == 200).all()


def test_fill_bytes_before_markers_are_skipped():
    """Spec B.1.1.2: any number of 0xFF fill bytes may precede a
    marker code. Splice fill bytes before several markers of a valid
    stream and decode — same pixels."""
    bits = _Bits()
    _dc(bits, 8)
    bits.put(0, 1)
    plain = _grey_header(8, 8) + bits.bytes() + b"\xff\xd9"
    # inject a fill byte before every marker (0xFF followed by a
    # non-zero, non-stuffing code) of the HEADER portion
    padded = plain.replace(b"\xff\xdb", b"\xff\xff\xdb").replace(
        b"\xff\xc0", b"\xff\xff\xff\xc0"
    ).replace(b"\xff\xd9", b"\xff\xff\xd9")
    img = decode_jpeg(padded)
    assert (img.samples == 129).all()


def test_non_divisible_sampling_refuses_loudly():
    """h=3 luma with h=2 chroma is spec-legal but needs non-integer
    upsampling — refuse at SOF parse, never mis-size planes."""
    sof = (
        b"\xff\xd8"
        + _seg(
            0xC0,
            struct.pack(">BHHB", 8, 8, 8, 3)
            + bytes([1, 0x31, 0, 2, 0x21, 0, 3, 0x11, 0]),
        )
    )
    with pytest.raises(NotImplementedError, match="upsampling ratio"):
        decode_jpeg(sof)


def test_dims_pass_never_touches_entropy_data():
    """parse_jpeg_dims must work on a payload TRUNCATED at SOS — the
    whole point of the metadata pass is deciding whether to decode
    without reading entropy data."""
    from orionld_to_hive_spark.operators.jpeg import parse_jpeg_dims

    full = encode_jpeg_gray_flat(np.arange(9, dtype=np.uint8))
    truncated = full[: full.index(b"\xff\xda")]
    assert parse_jpeg_dims(truncated) == (32, 24, 1)
    assert parse_jpeg_dims(full) == (32, 24, 1)
    # r10: progressive headers PARSE now (decoder supports SOF2)
    assert parse_jpeg_dims(
        b"\xff\xd8"
        + _seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    ) == (8, 8, 1)


def test_selective_stats_equal_full_stats_filtered(spark, sf_smoke):
    """Selective decode ≡ full decode restricted to the dims
    predicate — and the predicate actually drops rows on this
    corpus... if it doesn't (all docs are tall), the test still pins
    frame equality."""
    from orionld_to_hive_spark.operators.jpeg import (
        JPEG_SELECT_MIN_ROWS,
        multimodal_jpeg_selective_stats,
        multimodal_jpeg_stats,
    )

    full = multimodal_jpeg_stats(spark, sf_smoke)
    sel = multimodal_jpeg_selective_stats(spark, sf_smoke)
    want = full.filter(full.height >= 8 * JPEG_SELECT_MIN_ROWS)
    assert sorted(map(tuple, sel.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_refusals_are_loud():
    # r10: SOF2 is supported — a frame with no DQT fails for the
    # honest reason (missing table), not a capability refusal
    sof2 = (
        b"\xff\xd8"
        + _seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    )
    with pytest.raises(ValueError, match="quantization"):
        decode_jpeg(sof2)
    # r11: 4-component is supported — 5 components stays a refusal
    five = (
        b"\xff\xd8"
        + _seg(
            0xC0,
            struct.pack(">BHHB", 8, 8, 8, 5)
            + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0,
                     5, 0x11, 0]),
        )
    )
    with pytest.raises(NotImplementedError, match="component"):
        decode_jpeg(five)
    # a 4-component frame whose stream ends before any scan fails for
    # the honest reason (no scan data), not a crash
    cmyk_hdr = (
        b"\xff\xd8"
        + _seg(
            0xC0,
            struct.pack(">BHHB", 8, 8, 8, 4)
            + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]),
        )
    )
    with pytest.raises(ValueError, match="no scan"):
        decode_jpeg(cmyk_hdr)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG")


# ------------------------------------------------------- CMYK (r11)


def test_cmyk_transform0_roundtrip_all_bytes():
    """Flat-block Adobe CMYK (transform 0): decode is the identity on
    stored planes — exact for every byte value through the full
    4-component interleaved scan + APP14 parse + 4-plane assembly."""
    import numpy as np

    from orionld_to_hive_spark.operators.jpeg import (
        _cmyk_planes,
        decode_jpeg,
        encode_jpeg_cmyk_flat,
        parse_jpeg_dims,
    )

    raw = np.arange(256, dtype=np.uint8)
    p = encode_jpeg_cmyk_flat(raw)
    assert parse_jpeg_dims(p) == (32, 8 * 64, 4)
    img = decode_jpeg(p)
    assert img.channels == 4
    px = img.samples.reshape(img.height, img.width, 4)
    for b in range(256):
        br, bc = divmod(b, 4)
        block = px[br * 8 : (br + 1) * 8, bc * 8 : (bc + 1) * 8, :]
        assert (block == np.array(_cmyk_planes(b))).all(), b


def test_ycck_transform2_matches_published_transform():
    """Transform 2: YCbCr→RGB (JFIF constants) then CMY = 255 − RGB,
    K passthrough — closed forms per byte, clipping included."""
    import numpy as np

    from orionld_to_hive_spark.operators.jpeg import (
        JPEG_CB,
        JPEG_CR,
        decode_jpeg,
        encode_jpeg_cmyk_flat,
    )

    raw = np.arange(256, dtype=np.uint8)
    img = decode_jpeg(encode_jpeg_cmyk_flat(raw, transform=2))
    px = img.samples.reshape(img.height, img.width, 4)
    clip = lambda v: min(max(int(np.round(v)), 0), 255)  # noqa: E731
    for b in range(256):
        br, bc = divmod(b, 4)
        got = tuple(px[br * 8, bc * 8, :])
        exp = (
            clip(255 - (b + 1.402 * JPEG_CR)),
            clip(255 - (b - 0.344136 * JPEG_CB - 0.714136 * JPEG_CR)),
            clip(255 - (b + 1.772 * JPEG_CB)),
            255 - b,
        )
        assert got == exp, (b, got, exp)


def test_cmyk_invalid_transform_and_5_components_refused():
    import numpy as np
    import pytest

    from orionld_to_hive_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_cmyk_flat,
    )

    p = encode_jpeg_cmyk_flat(np.arange(8, dtype=np.uint8), transform=1)
    with pytest.raises(ValueError, match="APP14 transform 1"):
        decode_jpeg(p)
    # bump the SOF component count to 5: honest refusal, not a crash
    b = bytearray(encode_jpeg_cmyk_flat(np.arange(8, dtype=np.uint8)))
    sof = b.find(b"\xff\xc0")
    assert b[sof + 9] == 4
    b[sof + 9] = 5
    with pytest.raises((ValueError, NotImplementedError)):
        decode_jpeg(bytes(b))


def test_cmyk_without_app14_is_plain_cmyk():
    """No Adobe marker → planes as stored (transform None ≡ 0)."""
    import numpy as np

    from orionld_to_hive_spark.operators.jpeg import (
        _cmyk_planes,
        decode_jpeg,
        encode_jpeg_cmyk_flat,
    )

    p = bytearray(encode_jpeg_cmyk_flat(np.array([7, 200], dtype=np.uint8)))
    app14 = p.find(b"\xff\xee")
    seglen = int.from_bytes(p[app14 + 2 : app14 + 4], "big")
    del p[app14 : app14 + 2 + seglen]
    img = decode_jpeg(bytes(p))
    px = img.samples.reshape(img.height, img.width, 4)
    assert tuple(px[0, 0, :]) == _cmyk_planes(7)
    assert tuple(px[0, 8, :]) == _cmyk_planes(200)


def test_lut16_cache_is_bounded_and_rebuilds_equal():
    from orionld_to_hive_spark.operators.jpeg import (
        _LUT16_CACHE_MAX,
        _build_huff,
        _lut16,
        _lut16_of,
    )

    # more distinct tables than the cap: the standard DC code lengths,
    # each with its own symbol values
    bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    tables = [
        _build_huff(bits, [(k + i) % 256 for i in range(12)])
        for k in range(_LUT16_CACHE_MAX + 4)
    ]
    _lut16_of.cache_clear()
    first = [tuple(a.copy() for a in _lut16(t)) for t in tables]
    assert _lut16_of.cache_info().currsize <= _LUT16_CACHE_MAX
    # table 0 was evicted, so this is a rebuild, equal to the original
    misses = _lut16_of.cache_info().misses
    val, ln = _lut16(tables[0])
    assert _lut16_of.cache_info().misses == misses + 1
    assert np.array_equal(val, first[0][0]) and np.array_equal(ln, first[0][1])
    assert _lut16_of.cache_info().currsize <= _LUT16_CACHE_MAX
