"""PNG codec: zlib-inflate + per-scanline defilter, verified against
an independent straight-from-spec reference implementation."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from hadoop_3_3_6_spark.functions.multimodal import (
    decode_image,
    decode_png,
    encode_png,
    resize_stub,
)


def _png_from_scanlines(w, h, bpp, lines):
    """Build a PNG from (filter_byte, raw_bytes) scanlines verbatim."""
    raw = b"".join(bytes([f]) + bytes(r) for f, r in lines)
    color = 2 if bpp == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)

    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", zlib.crc32(ctype + data) & 0xFFFFFFFF
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _reference_defilter(w, h, bpp, lines):
    """Straight transcription of the PNG spec's filter recursions."""
    prev = [0] * (w * bpp)
    out = []
    for ftype, rawline in lines:
        cur = list(rawline)
        for i in range(w * bpp):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 1:
                cur[i] = (cur[i] + a) % 256
            elif ftype == 2:
                cur[i] = (cur[i] + b) % 256
            elif ftype == 3:
                cur[i] = (cur[i] + (a + b) // 2) % 256
            elif ftype == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) % 256
        out.append(cur)
        prev = cur
    return np.array(out, dtype=np.uint8).reshape(h, w, bpp)


def test_all_filter_types_match_spec_reference():
    rng = np.random.default_rng(3)
    w, h, bpp = 5, 5, 3
    lines = [(f, rng.integers(0, 256, w * bpp).tolist()) for f in (0, 1, 2, 3, 4)]
    decoded = decode_png(_png_from_scanlines(w, h, bpp, lines))
    np.testing.assert_array_equal(decoded, _reference_defilter(w, h, bpp, lines))


def test_roundtrip_rgb_and_rgba():
    rng = np.random.default_rng(9)
    for ch in (3, 4):
        arr = rng.integers(0, 256, size=(7, 11, ch)).astype(np.uint8)
        np.testing.assert_array_equal(decode_png(encode_png(arr)), arr)


def test_decode_image_png_drops_alpha_and_resize_roundtrips():
    arr = np.zeros((4, 4, 4), dtype=np.uint8)
    arr[..., 0] = 200
    arr[..., 3] = 255
    rgb = decode_image(encode_png(arr))
    assert rgb.shape == (4, 4, 3) and rgb[0, 0, 0] == 200
    thumb = resize_stub(encode_png(arr[:, :, :3]), 2, 2)
    assert thumb[:8] == b"\x89PNG\r\n\x1a\n"
    assert decode_png(thumb).shape == (2, 2, 3)


def test_unsupported_png_flavors_rejected():
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)

    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", zlib.crc32(ctype + data) & 0xFFFFFFFF
        )

    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(
        b"IDAT", zlib.compress(b"\x00" * 26)
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(bad)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF....")


def test_png_critical_chunk_crc_verified():
    """5.3: a flipped bit in a critical chunk must fail loudly (the
    round-11 conformance fix), and a chunk whose declared length runs
    past the payload is 'truncated', not an index error."""
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    data = bytearray(encode_png(img))
    idat = data.find(b"IDAT")
    data[idat + 5] ^= 0x01  # corrupt one IDAT payload byte, keep CRC
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(data))
    good = encode_png(img)
    with pytest.raises(ValueError, match="truncated"):
        # cut mid-IDAT: the chunk header is readable but its declared
        # data+crc run past the end of the payload
        decode_png(good[: good.find(b"IDAT") + 6])
    # ancillary chunks are skipped unread: a bad-CRC tEXt is harmless
    def chunk(ctype, payload_, crc=None):
        return struct.pack(">I", len(payload_)) + ctype + payload_ + struct.pack(
            ">I", crc if crc is not None else zlib.crc32(ctype + payload_) & 0xFFFFFFFF
        )

    iend = good.find(b"IEND") - 4
    spliced = good[:iend] + chunk(b"tEXt", b"k\x00v", crc=0xDEADBEEF) + good[iend:]
    assert np.array_equal(decode_png(spliced), img)
