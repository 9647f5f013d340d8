"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images / audio / video ride through the engine as ``binary`` columns
with a typed metadata struct alongside.  Decode / feature-extraction /
resize / frame-sampling run as Arrow-batched mapInPandas stages — each
batch a pandas frame of (id, payload bytes), output a typed feature
frame.  The media codec libraries are NOT in this container, so the
codec call is stubbed (`NotImplementedError`) while everything Spark
owns — schema, batch shape, partitioning, UDF signature — is real and
tested via the deterministic byte-level feature path.

Scale: payloads never pass through the driver; batches flow
executor-side via Arrow.  Partitioning by content-size bands
(repartition_by_size_bands — range partitioning on payload bytes)
keeps decode tasks balanced (one 4K video next to a thumbnail is a
straggler otherwise).
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


def repartition_by_size_bands(
    media: DataFrame,
    num_partitions: int | None = None,
    over_partition_factor: int = 4,
) -> DataFrame:
    """Straggler defense for heterogeneous media decode: range-partition
    on payload size (media_id as tiebreak), OVER-partitioned so AQE's
    byte-targeted coalescing can even out per-task WORK.

    Hash partitioning equalizes ROW counts, not work — one 16 MB video
    landing beside ten thousand 4 KB thumbnails makes that task the
    stage straggler, and at 100 TB the stage runs at the speed of its
    unluckiest task.  Two mechanisms compose here: (1)
    ``repartitionByRange`` samples the size distribution and draws
    boundaries so every partition holds a contiguous, similar-sized
    slice — no thumbnail task stuck behind a video, and Arrow batch
    memory per task becomes predictable; (2) because decode cost is
    roughly proportional to payload BYTES, handing AQE
    ``over_partition_factor``× more range slices than target tasks
    lets its advisory-size coalescing merge adjacent small-byte
    (thumbnail) slices while leaving heavy-tail slices alone —
    approximately equal bytes, hence equal work, per final task.
    Interpose before byte_features/decode_*/demux_* when payload sizes
    are heavy-tailed."""
    n = num_partitions
    if n is None:
        try:
            n = (
                int(media.sparkSession.conf.get("spark.sql.shuffle.partitions"))
                * over_partition_factor
            )
        except (TypeError, ValueError):
            n = (
                media.sparkSession.sparkContext.defaultParallelism
                * over_partition_factor
            )
    return media.repartitionByRange(
        n, F.octet_length("payload").asc(), F.col("media_id").asc()
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


RESIZED_SCHEMA = "media_id bigint, payload binary, width int, height int"


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize for PNG payloads: decode (extensions/png.py) →
    nearest-neighbor index selection → re-encode, inside the same
    Arrow-batched mapInPandas seam.  Deterministic bytes out (filter-0
    scanlines, fixed zlib level)."""
    from .png import decode_png, encode_png, is_png, resize_nearest

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # NULL payload has no pixels to resize
                    continue
                raw = bytes(payload)
                if not is_png(raw):
                    raise NotImplementedError(
                        "resize_images: payload is not PNG; other codecs "
                        "need imaging libraries not in this container"
                    )
                ids.append(mid)
                payloads.append(
                    encode_png(resize_nearest(decode_png(raw), width, height))
                )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                    "width": pd.Series([width] * len(ids), dtype="int32"),
                    "height": pd.Series([height] * len(ids), dtype="int32"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        resize, RESIZED_SCHEMA
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


def decode_media(media: DataFrame, target: str = "rgb_frames"):
    """Codec decode: PNG images (decode_image_stats) and RIFF/WAVE PCM
    audio (decode_audio_stats) decode for real; video containers are
    stubbed — those codecs are not in this container and installs are
    prohibited."""
    if target in ("rgb_frames", "image_stats"):
        return decode_image_stats(media)
    if target in ("audio_samples", "audio_stats"):
        return decode_audio_stats(media)
    raise NotImplementedError(
        "video decode requires codec libraries not shipped in this "
        "container; PNG images decode via decode_image_stats, WAV PCM "
        "audio via decode_audio_stats"
    )
