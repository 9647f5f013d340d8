"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images / audio / video ride through the engine as ``binary`` columns
with a typed metadata struct alongside.  Decode, feature extraction and
frame sampling run as Arrow-batched mapInPandas stages — each batch a
pandas frame of (id, payload bytes), output a typed feature frame.  PNG
images (extensions/png.py), RIFF/WAVE PCM audio (extensions/wav.py) and
AVI containers (extensions/avi.py) decode with the standard library; any
other codec raises ``NotImplementedError`` naming the format, because
its library is not a dependency.

Scale: payloads never pass through the driver; batches flow
executor-side via Arrow.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, payload binary, media_type string, declared_bytes bigint"
)
FEATURE_SCHEMA = "media_id bigint, byte_len bigint, content_md5 string"


def with_payload(df: DataFrame, id_col: str, text_col: str, media_type: str = "text/plain") -> DataFrame:
    """Pack a column into the opaque-payload layout (binary + metadata)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.octet_length(F.col(text_col)).cast("bigint").alias("declared_bytes"),
    )


def byte_features(media: DataFrame) -> DataFrame:
    """Deterministic byte-level features via Arrow-batched mapInPandas —
    the working stand-in for a codec decode stage."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload (e.g. encode(NULL) upstream) → NULL features,
            # matching the SQL oracle's octet_length(NULL)/md5(NULL);
            # bare .map(len) crashes on None (hostile-fixture find)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": pd.array(
                        [None if b is None else len(b) for b in pdf["payload"]],
                        dtype="Int64",
                    ),
                    "content_md5": [
                        None if b is None else hashlib.md5(bytes(b)).hexdigest()
                        for b in pdf["payload"]
                    ],
                }
            )

    return media.select("media_id", "payload").mapInPandas(extract, FEATURE_SCHEMA)


FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_md5 string"


def frame_sample(media: DataFrame, frame_bytes: int = 16, every: int = 4) -> DataFrame:
    """Frame sampling over opaque payloads: split each payload into
    fixed-size byte "frames", keep every k-th, emit a digest per kept
    frame.

    With a real codec the chunker becomes the container demuxer and the
    digest becomes decode+thumbnail — the Spark seam (mapInPandas over
    binary, exploded typed rows out) is identical.  Partial trailing
    frames are kept (real demuxers emit them too).

    The digest is md5 of the frame's lowercase HEX, not of the raw
    bytes: frame boundaries are byte offsets that can split a UTF-8
    sequence, and the DuckDB oracle's md5 only accepts VARCHAR — hex
    is the loss-free byte fingerprint both engines can hash, keeping
    the key value-checkable on arbitrary binary payloads.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, digests = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # NULL payload has no frames
                    continue
                raw = bytes(payload)
                n_frames = (len(raw) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every):
                    ids.append(mid)
                    idxs.append(i)
                    digests.append(
                        hashlib.md5(
                            raw[i * frame_bytes : (i + 1) * frame_bytes]
                            .hex()
                            .encode("ascii")
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return media.select("media_id", "payload").mapInPandas(sample, FRAME_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "media_id bigint, width int, height int, channel int, mean_value double"
)


def decode_image_stats(media: DataFrame) -> DataFrame:
    """REAL image decode (PNG baseline profile, extensions/png.py —
    stdlib zlib, no imaging library): per-channel pixel means in
    long form, one row per (payload, channel).  Non-PNG payloads raise
    naming the format rather than misreading bytes; audio/video
    containers still need external codecs (frame_sample covers the
    byte-level plumbing for those)."""
    from .png import decode_png, is_png

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, chs, means = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # NULL payload has no pixels
                    continue
                raw = bytes(payload)
                if not is_png(raw):
                    raise NotImplementedError(
                        "decode_image_stats: payload is not PNG; other "
                        "codecs need imaging libraries not in this container"
                    )
                img = decode_png(raw)
                h, w, c = img.shape
                for ch in range(c):
                    ids.append(mid)
                    ws.append(w)
                    hs.append(h)
                    chs.append(ch)
                    # exact half-up quantization of the RATIONAL mean
                    # (pixel_sum / (h·w)) at 1e-6 with Python bigints —
                    # Python round() is HALF-EVEN while the DuckDB
                    # oracle's round() is half-away: a channel of 2^7·k
                    # pixels with an odd sum lands exactly ON a 1e-6
                    # half-boundary and the two disagree (the registered
                    # 8x8 key dodges it only because /64 means are
                    # 6-dp-exact; docs/OPERATIONS.md quantization
                    # contract, driver/UDF lane)
                    s, n = int(img[:, :, ch].sum()), h * w
                    means.append(((2 * s * 1_000_000 + n) // (2 * n)) / 1e6)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channel": pd.Series(chs, dtype="int32"),
                    "mean_value": pd.Series(means, dtype="float64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        stats, IMAGE_STATS_SCHEMA
    )


AUDIO_STATS_SCHEMA = (
    "media_id bigint, channel int, sample_rate int, n_samples bigint, "
    "sum_value bigint, sum_abs bigint, min_value int, max_value int"
)


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """REAL audio decode (canonical RIFF/WAVE PCM, extensions/wav.py —
    stdlib struct + numpy, no audio library): integer-exact per-channel
    sample statistics in long form, one row per (payload, channel).
    The stats are all integers (count/sum/sum-of-abs/min/max) so an
    oracle can recompute them in closed form — RMS/loudness derive from
    them downstream without floating-point drift in the gate.  Non-WAV
    payloads and non-PCM WAV variants raise naming the format rather
    than misreading bytes; video containers still need external
    codecs (frame_sample covers the byte-level plumbing for those)."""
    from .wav import decode_wav, is_wav

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, chs, rates, ns, sums, sabs, mins, maxs = ([] for _ in range(8))
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # NULL payload has no samples
                    continue
                raw = bytes(payload)
                if not is_wav(raw):
                    raise NotImplementedError(
                        "decode_audio_stats: payload is not RIFF/WAVE; "
                        "other audio codecs need libraries not in this "
                        "container"
                    )
                samples, rate = decode_wav(raw)
                for ch in range(samples.shape[1]):
                    col = samples[:, ch]
                    ids.append(mid)
                    chs.append(ch)
                    rates.append(rate)
                    ns.append(col.shape[0])
                    sums.append(int(col.sum()))
                    sabs.append(int(np.abs(col).sum()))
                    mins.append(int(col.min()) if col.size else 0)
                    maxs.append(int(col.max()) if col.size else 0)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "channel": pd.Series(chs, dtype="int32"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "sum_value": pd.Series(sums, dtype="int64"),
                    "sum_abs": pd.Series(sabs, dtype="int64"),
                    "min_value": pd.Series(mins, dtype="int32"),
                    "max_value": pd.Series(maxs, dtype="int32"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        stats, AUDIO_STATS_SCHEMA
    )


VIDEO_FRAME_SCHEMA = (
    "media_id bigint, frame_idx int, stream int, kind string, "
    "n_bytes bigint, frame_md5 string, declared_frames int, "
    "width int, height int"
)


def demux_video_frames(media: DataFrame) -> DataFrame:
    """REAL video container demux (AVI/RIFF, extensions/avi.py —
    stdlib struct, no av library): one typed row per movi frame chunk
    (container order, stream id, dc/db/wb kind, size, digest) plus the
    main-header dimensions/frame count — the production shape of
    frame_sample's deterministic stand-in.  DEMUX ONLY, honestly:
    frame payloads stay opaque compressed bytes; decoding them (MJPEG
    etc.) needs codec libraries not in this container.  Non-AVI
    payloads raise naming the format rather than misreading bytes."""
    from .avi import demux_avi, is_avi

    def demux(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                "media_id": [], "frame_idx": [], "stream": [], "kind": [],
                "n_bytes": [], "frame_md5": [], "declared_frames": [],
                "width": [], "height": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # NULL payload has no frames
                    continue
                raw = bytes(payload)
                if not is_avi(raw):
                    raise NotImplementedError(
                        "demux_video_frames: payload is not RIFF/AVI; "
                        "other video containers need libraries not in "
                        "this container"
                    )
                header, frames = demux_avi(raw)
                for idx, (stream, kind, body) in enumerate(frames):
                    cols["media_id"].append(mid)
                    cols["frame_idx"].append(idx)
                    cols["stream"].append(stream)
                    cols["kind"].append(kind)
                    cols["n_bytes"].append(len(body))
                    cols["frame_md5"].append(hashlib.md5(body).hexdigest())
                    cols["declared_frames"].append(header["total_frames"])
                    cols["width"].append(header["width"])
                    cols["height"].append(header["height"])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(cols["media_id"], dtype="int64"),
                    "frame_idx": pd.Series(cols["frame_idx"], dtype="int32"),
                    "stream": pd.Series(cols["stream"], dtype="int32"),
                    "kind": pd.Series(cols["kind"], dtype="object"),
                    "n_bytes": pd.Series(cols["n_bytes"], dtype="int64"),
                    "frame_md5": pd.Series(cols["frame_md5"], dtype="object"),
                    "declared_frames": pd.Series(
                        cols["declared_frames"], dtype="int32"
                    ),
                    "width": pd.Series(cols["width"], dtype="int32"),
                    "height": pd.Series(cols["height"], dtype="int32"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        demux, VIDEO_FRAME_SCHEMA
    )
