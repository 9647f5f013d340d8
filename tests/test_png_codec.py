"""Pure-Python PNG codec tests (extensions/png.py) and the real
multimodal decode seam built on it.

The encoder emits filter-0 scanlines, so the decoder's filter
implementations (Sub/Up/Average/Paeth) are exercised with hand-built
filtered streams, independent of the encoder."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from atac_data_products_spark.extensions.png import (
    PNG_SIG,
    decode_png,
    encode_png,
    is_png,
)


def _img(h, w, c, seed=3):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, c), dtype="uint8" if True else None).astype("u1")


def test_roundtrip_all_color_types():
    for c in (1, 2, 3, 4):
        img = _img(5, 7, c, seed=c)
        out = decode_png(encode_png(img))
        np.testing.assert_array_equal(out, img)


def test_roundtrip_gray_2d_input():
    img = np.arange(48, dtype="u1").reshape(6, 8)
    out = decode_png(encode_png(img))
    np.testing.assert_array_equal(out[:, :, 0], img)


def _manual_png(h, w, c, ctype, rows_with_filters):
    """Build a PNG whose scanlines use explicit filter bytes."""
    scan = b"".join(bytes([f]) + bytes(r) for f, r in rows_with_filters)
    idat = zlib.compress(scan)

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def test_decoder_filters_sub_up_average_paeth():
    """Reference image filtered per the PNG spec formulas, row by row,
    then decoded — pins each unfilter implementation."""
    img = _img(5, 4, 3, seed=9).astype("int32")
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride)
    filters = [0, 1, 2, 3, 4]
    rows = []
    prev = np.zeros(stride, dtype="int32")
    for y, f in enumerate(filters):
        cur = flat[y]
        enc = np.empty(stride, dtype="int32")
        for i in range(stride):
            a = cur[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            enc[i] = (cur[i] - pred) & 0xFF
        rows.append((f, enc.astype("u1").tobytes()))
        prev = cur
    content = _manual_png(h, w, c, 2, rows)
    out = decode_png(content)
    np.testing.assert_array_equal(out, img.astype("u1"))


def test_palette_expansion():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    idx = np.array([[0, 1], [2, 0]], dtype="u1")
    scan = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    content = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    out = decode_png(content)
    assert out.shape == (2, 2, 3)
    np.testing.assert_array_equal(out[0, 0], [255, 0, 0])
    np.testing.assert_array_equal(out[1, 0], [0, 0, 255])


def test_rejections_are_named():
    img = _img(2, 2, 3)
    content = bytearray(encode_png(img))
    assert is_png(bytes(content))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png")
    # 16-bit depth rejected by name
    ihdr_off = content.find(b"IHDR") + 4
    bad = bytearray(content)
    bad[ihdr_off + 8] = 16
    with pytest.raises(NotImplementedError, match="bit depth 16"):
        decode_png(bytes(bad))
    bad2 = bytearray(content)
    bad2[ihdr_off + 12] = 1  # interlace flag
    with pytest.raises(NotImplementedError, match="interlace"):
        decode_png(bytes(bad2))


def test_spark_decode_image_stats_and_resize(spark):
    """The real multimodal seam: PNG payloads through mapInPandas,
    per-channel stats out."""
    from atac_data_products_spark.extensions.multimodal import decode_image_stats

    imgs = {i: _img(6, 6, 3, seed=i) for i in (1, 2)}
    media = spark.createDataFrame(
        [(i, bytearray(encode_png(img))) for i, img in imgs.items()],
        "media_id bigint, payload binary",
    )
    stats = {
        (r.media_id, r.channel): r
        for r in decode_image_stats(media).collect()
    }
    assert len(stats) == 6
    for i, img in imgs.items():
        for ch in range(3):
            row = stats[(i, ch)]
            assert (row.width, row.height) == (6, 6)
            assert row.mean_value == round(float(img[:, :, ch].mean()), 6)


def test_spark_image_stats_null_payload_skipped(spark):
    # NULL payload has no pixels (same contract as frame_sample /
    # decode_audio_stats); it must not crash with TypeError(bytes(None))
    from atac_data_products_spark.extensions.multimodal import (
        decode_image_stats,
    )

    media = spark.createDataFrame(
        [(1, bytearray(encode_png(_img(4, 4, 1)))), (2, None)],
        "media_id bigint, payload binary",
    )
    rows = decode_image_stats(media).collect()
    assert sorted({r.media_id for r in rows}) == [1]


def test_spark_image_stats_halfway_mean_rounds_half_up(spark):
    # 16x8 = 128 = 2^7 pixels: an ODD pixel sum puts the exact mean
    # s/128 EXACTLY on a 1e-6 half-boundary (terminates at 7 decimals,
    # last digit 5).  The published value must be the half-UP/away
    # quantization (SQL round semantics), not Python round()'s
    # half-even — e.g. sum=1 -> 0.0078125 -> 0.007813, never 0.007812.
    from atac_data_products_spark.extensions.multimodal import (
        decode_image_stats,
    )

    img = np.zeros((16, 8, 1), dtype=np.uint8)
    img[0, 0, 0] = 1  # sum = 1, mean = 1/128 = 0.0078125
    media = spark.createDataFrame(
        [(1, bytearray(encode_png(img)))], "media_id bigint, payload binary"
    )
    row = decode_image_stats(media).collect()[0]
    assert row.mean_value == 0.007813
