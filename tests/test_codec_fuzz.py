"""Crawl-data hygiene gates for every real decoder: arbitrary or
mutated bytes must raise ValueError (or NotImplementedError for
honest capability refusals) — never a low-level exception type, a
crash, or StopIteration (which would silently terminate the
mapInPandas batch generator around the decode). The JPEG/PNG decode
boundaries were added after this fuzz found StopIteration /
IndexError / KeyError / struct.error leaks on mutated streams."""

from __future__ import annotations

import io
import wave

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orionld_to_hive_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg_cmyk_flat,
    encode_jpeg_gray_flat,
    encode_jpeg_gray_flat_progressive,
    parse_jpeg_dims,
)
from orionld_to_hive_spark.operators.multimodal import (
    decode_png,
    decode_wav,
    encode_png_gray,
    encode_png_palette,
)

OK = (ValueError, NotImplementedError)


def _wav_base() -> bytes:
    bio = io.BytesIO()
    w = wave.open(bio, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(16000)
    w.writeframes(np.arange(100, dtype="<i2").tobytes())
    w.close()
    return bio.getvalue()


_BASES = {
    "jpeg": encode_jpeg_gray_flat(np.arange(64, dtype=np.uint8)),
    "jpeg_prog": encode_jpeg_gray_flat_progressive(
        np.arange(64, dtype=np.uint8)
    ),
    "png": encode_png_gray(np.arange(256, dtype=np.uint8)),
    "png_pal": encode_png_palette(np.arange(256, dtype=np.uint8)),
    "wav": _wav_base(),
    "jpeg_cmyk": encode_jpeg_cmyk_flat(np.arange(64, dtype=np.uint8)),
    "jpeg_ycck": encode_jpeg_cmyk_flat(
        np.arange(64, dtype=np.uint8), transform=2
    ),
}

_DECODERS = (decode_jpeg, parse_jpeg_dims, decode_png, decode_wav)


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_decoders_random_bytes_never_crash(raw):
    for fn in _DECODERS:
        try:
            fn(raw)
        except OK:
            pass


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(sorted(_BASES)),
    st.integers(min_value=0, max_value=1 << 30),
    st.binary(min_size=1, max_size=6),
)
def test_decoders_mutated_valid_payloads_never_crash(kind, pos, junk):
    base = _BASES[kind]
    b = bytearray(base)
    pos %= len(b)
    b[pos : pos + len(junk)] = junk
    for fn in _DECODERS:
        try:
            fn(bytes(b))
        except OK:
            pass


@pytest.mark.parametrize(
    "kind, pos, junk",
    [
        # the property test's draw: SOF dims of the CMYK base become
        # 11 264 x 46 880, 33 003 520 blocks in a 365-byte stream
        ("jpeg_cmyk", 92, b",\x00\xb7"),
        # a progressive SOF2 at 65 535 x 65 535
        ("jpeg_prog", 76, b"\xff\xff\xff\xff"),
    ],
)
def test_jpeg_frame_larger_than_payload_is_refused(kind, pos, junk):
    # the decoder sized its coefficient buffers from the declared
    # dimensions and raised MemoryError (15.7 GiB / 16 GiB requests)
    b = bytearray(_BASES[kind])
    b[pos : pos + len(junk)] = junk
    with pytest.raises(ValueError, match="more than the .*-byte payload"):
        decode_jpeg(bytes(b))


def test_boundary_preserves_specific_errors():
    # the wrapper must not swallow the decoders' own messages
    import pytest

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00" * 20)
    with pytest.raises(ValueError, match="signature|PNG"):
        decode_png(b"\x00" * 20)
    with pytest.raises(ValueError, match="RIFF|WAVE"):
        decode_wav(b"\x00" * 20)


# ------------------------------------------------------- G.711 (r10)


def test_g711_expansion_extremes_match_published_tables():
    from orionld_to_hive_spark.operators.multimodal import (
        _alaw_expand,
        _ulaw_expand,
    )

    u = _ulaw_expand(np.array([0x00, 0x7F, 0xFF, 0x80], dtype=np.uint8))
    assert u.tolist() == [-32124, 0, 0, 32124]
    a = _alaw_expand(np.array([0x2A, 0xD5, 0x55, 0xAA], dtype=np.uint8))
    assert a.tolist() == [-32256, 8, -8, 32256]


def test_g711_expansion_monotone_within_sign():
    from orionld_to_hive_spark.operators.multimodal import (
        _alaw_expand,
        _ulaw_expand,
    )

    all_bytes = np.arange(256, dtype=np.uint8)
    for expand in (_ulaw_expand, _alaw_expand):
        vals = expand(all_bytes)
        mags = np.abs(vals)
        # every code's magnitude stays in the 15-bit range and each
        # (sign, segment, mantissa) combination is distinct except the
        # mu-law double zero
        assert mags.max() <= 32256
        assert len(np.unique(vals)) >= 255


def test_decode_wav_g711_formats_end_to_end():
    import struct

    from orionld_to_hive_spark.operators.multimodal import (
        _alaw_expand,
        _ulaw_expand,
        decode_wav,
    )

    data = bytes(range(256))
    for fmt_code, expand in ((7, _ulaw_expand), (6, _alaw_expand)):
        fmt = struct.pack("<HHIIHH", fmt_code, 1, 8000, 8000, 1, 8)
        body = (
            b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        payload = b"RIFF" + struct.pack("<I", len(body)) + body
        samples, rate = decode_wav(payload)
        assert rate == 8000
        expected = expand(np.frombuffer(data, dtype=np.uint8)) / 32768.0
        assert np.array_equal(samples, expected)
    # unknown compressed formats still refuse
    import pytest

    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 0)  # MP3
    body = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
