"""YUV4MPEG2 codec and real frame sampling."""

from __future__ import annotations

import numpy as np
import pytest

from hadoop_3_3_6_spark.functions.multimodal import (
    decode_y4m,
    encode_y4m,
    frame_sample_stub,
    y4m_frame_luma,
)


def _clip(w=6, h=4, n=5, val=50, colorspace="420"):
    plane = w * h if colorspace == "444" else w * h // 2
    frame = bytes([val]) * (w * h) + bytes([128]) * (plane * (2 if colorspace == "444" else 1))
    return encode_y4m({"width": w, "height": h, "colorspace": colorspace}, [frame] * n)


def test_y4m_roundtrip_and_header():
    payload = _clip(w=8, h=6, n=3, val=77)
    meta, frames = decode_y4m(payload)
    assert (meta["width"], meta["height"], meta["colorspace"]) == (8, 6, "420")
    assert len(frames) == 3 and len(frames[0]) == 8 * 6 * 3 // 2
    np.testing.assert_array_equal(y4m_frame_luma(meta, frames[1]), np.full((6, 8), 77, np.uint8))
    assert encode_y4m(meta, frames) == payload


def test_y4m_spec_bytes_parse():
    # hand-written spec bytes, independent of our encoder
    raw = b"YUV4MPEG2 W2 H2 F30:1 Ip A1:1 C444\n" + b"FRAME\n" + bytes(range(12))
    meta, frames = decode_y4m(raw)
    assert (meta["width"], meta["height"], meta["fps_num"], meta["colorspace"]) == (2, 2, 30, "444")
    assert frames == [bytes(range(12))]


def test_frame_sampling_real_path():
    kept = frame_sample_stub(_clip(n=7, val=9), every_n=3)
    assert len(kept) == 3  # frames 0,3,6
    for blob in kept:
        meta, frames = decode_y4m(blob)
        assert len(frames) == 1
        assert y4m_frame_luma(meta, frames[0]).mean() == 9


def test_non_y4m_still_gated():
    with pytest.raises(NotImplementedError):
        frame_sample_stub(b"\x00\x01\x02mp4ish", every_n=2)


def test_malformed_y4m_rejected():
    with pytest.raises(ValueError, match="FRAME"):
        decode_y4m(b"YUV4MPEG2 W2 H2 C420\n" + b"JUNK!\n" + b"\x00" * 6)
    with pytest.raises(ValueError, match="colorspace"):
        decode_y4m(b"YUV4MPEG2 W2 H2 C422\nFRAME\n" + b"\x00" * 8)


def test_y4m_truncated_frame_rejected():
    """A final frame shorter than the colorspace's frame size is a
    truncated stream and must fail loudly (round-11 conformance fix)."""
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(b"YUV4MPEG2 W2 H2 C420\nFRAME\n" + b"\x00" * 5)  # needs 6
