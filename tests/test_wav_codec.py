"""Pure-Python RIFF/WAVE PCM codec tests (extensions/wav.py) and the
real multimodal audio decode seam built on it.

The decoder's chunk walk is exercised with hand-built containers
(unknown chunks, word-alignment padding, truncation) independent of
the encoder, so a shared encode/decode misunderstanding can't hide."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from atac_data_products_spark.extensions.wav import (
    decode_wav,
    encode_wav,
    is_wav,
)


def _rand(n, ch, seed=3, lo=-32768, hi=32767):
    rng = np.random.RandomState(seed)
    return rng.randint(lo, hi + 1, size=(n, ch)).astype(np.int64)


def test_roundtrip_16bit_stereo():
    a = _rand(513, 2)
    dec, rate = decode_wav(encode_wav(a, 44100))
    assert rate == 44100
    np.testing.assert_array_equal(dec, a)


def test_roundtrip_16bit_extremes():
    a = np.array([[-32768, 32767], [0, -1], [1, 0]])
    dec, _ = decode_wav(encode_wav(a, 8000))
    np.testing.assert_array_equal(dec, a)


def test_roundtrip_8bit_recentered():
    # 8-bit PCM is unsigned on the wire; decode re-centers to signed
    a = _rand(100, 1, lo=-128, hi=127)
    dec, rate = decode_wav(encode_wav(a, 8000, bits=8))
    assert rate == 8000
    np.testing.assert_array_equal(dec, a)


def test_roundtrip_mono_1d_input():
    a = np.arange(-5, 5, dtype=np.int64)
    dec, _ = decode_wav(encode_wav(a, 16000))
    np.testing.assert_array_equal(dec, a.reshape(-1, 1))


def test_odd_payload_word_aligned():
    # 3 frames x 1 channel x 8-bit = odd data size -> pad byte required
    a = np.array([[1], [2], [3]])
    raw = encode_wav(a, 1000, bits=8)
    assert len(raw) % 2 == 0
    dec, _ = decode_wav(raw)
    np.testing.assert_array_equal(dec, a)


def test_unknown_chunks_skipped():
    a = _rand(17, 2, seed=9)
    raw = encode_wav(a, 22050)
    # splice a LIST chunk (odd size -> pad byte) between WAVE and fmt
    lst = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    patched = raw[:12] + lst + raw[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    dec, rate = decode_wav(patched)
    assert rate == 22050
    np.testing.assert_array_equal(dec, a)


def test_not_wav_rejected():
    assert not is_wav(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        decode_wav(b"RIFXxxxxWAVE")


def test_truncated_data_chunk_rejected():
    raw = encode_wav(_rand(64, 1), 8000)
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(raw[:60])


def test_missing_fmt_and_data_rejected():
    no_fmt = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 4) + b"WAVE"
        + b"data" + struct.pack("<I", 4) + b"abcd"
    )
    with pytest.raises(ValueError, match="no fmt"):
        decode_wav(no_fmt)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    no_data = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    with pytest.raises(ValueError, match="no data"):
        decode_wav(no_data)


@pytest.mark.parametrize(
    "tag,name",
    [(3, "IEEE float"), (6, "A-law"), (7, "mu-law"), (0xFFFE, "EXTENSIBLE")],
)
def test_non_pcm_formats_rejected_by_name(tag, name):
    fmt = struct.pack("<HHIIHH", tag, 1, 8000, 32000, 4, 32)
    raw = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError, match=name):
        decode_wav(raw)


def test_unsupported_bit_depth_rejected():
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 24000, 3, 24)
    raw = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError, match="24-bit"):
        decode_wav(raw)
    with pytest.raises(NotImplementedError, match="24"):
        encode_wav(np.zeros((4, 1)), 8000, bits=24)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=200),
    ch=st.integers(min_value=1, max_value=4),
    rate=st.integers(min_value=1, max_value=192_000),
    bits=st.sampled_from([8, 16]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_roundtrip_property(n, ch, rate, bits, seed):
    lo, hi = (-128, 127) if bits == 8 else (-32768, 32767)
    a = _rand(n, ch, seed=seed, lo=lo, hi=hi)
    dec, r = decode_wav(encode_wav(a, rate, bits=bits))
    assert r == rate
    np.testing.assert_array_equal(dec, a.reshape(n, ch))


def test_spark_decode_audio_stats(spark):
    """Distributed decode through the Arrow seam matches numpy stats
    computed driver-side on the same payloads."""
    from atac_data_products_spark.extensions.multimodal import (
        decode_audio_stats,
    )

    payloads = {
        1: (_rand(257, 2, seed=1), 8000),
        2: (_rand(64, 1, seed=2), 44100),
        3: (np.zeros((0, 2), dtype=np.int64), 16000),  # empty data chunk
    }
    media = spark.createDataFrame(
        [(k, bytearray(encode_wav(a, r))) for k, (a, r) in payloads.items()],
        "media_id bigint, payload binary",
    )
    rows = {
        (r["media_id"], r["channel"]): r
        for r in decode_audio_stats(media).collect()
    }
    for mid, (a, rate) in payloads.items():
        for ch in range(a.shape[1]):
            got = rows[(mid, ch)]
            col = a[:, ch]
            assert got["sample_rate"] == rate
            assert got["n_samples"] == col.shape[0]
            assert got["sum_value"] == int(col.sum())
            assert got["sum_abs"] == int(np.abs(col).sum())
            assert got["min_value"] == (int(col.min()) if col.size else 0)
            assert got["max_value"] == (int(col.max()) if col.size else 0)
    # 2 + 1 + 2 channel-rows: empty audio still emits one row per
    # declared channel (n_samples=0), it does not vanish silently
    assert len(rows) == 5


def test_spark_decode_audio_non_wav_raises(spark):
    from atac_data_products_spark.extensions.multimodal import (
        decode_audio_stats,
    )

    media = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\nrest"))],
        "media_id bigint, payload binary",
    )
    with pytest.raises(Exception, match="not RIFF/WAVE"):
        decode_audio_stats(media).collect()


def test_spark_decode_audio_null_payload_skipped(spark):
    # NULL payload has no samples (same contract as frame_sample); it
    # must not crash the executor with TypeError(bytes(None))
    from atac_data_products_spark.extensions.multimodal import (
        decode_audio_stats,
    )

    media = spark.createDataFrame(
        [(1, bytearray(encode_wav(_rand(8, 1), 8000))), (2, None)],
        "media_id bigint, payload binary",
    )
    rows = decode_audio_stats(media).collect()
    assert [r["media_id"] for r in rows] == [1]
