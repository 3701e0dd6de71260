"""Multimodal column plumbing: images/audio/video as opaque ``binary`` payloads
with typed metadata, processed in Arrow batches.

:func:`decode_payload` routes to REAL decoders for all three modalities —
BMP, LZW-compressed GIF, and DCT-compressed baseline JPEG images
(:mod:`.image`, :mod:`.gif`, :mod:`.jpeg`), RIFF/WAVE audio
(:mod:`.audio`), and uncompressed RIFF/AVI, MJPEG-in-AVI, and intra-frame
MP4/ISO-BMFF video (:mod:`.video`, :mod:`.mp4`), all
stdlib/struct/numpy-based since no imaging or codec library ships in this
environment. Only inter-frame codec video (raw H.264/HEVC bitstreams, mkv)
remains a documented ``NotImplementedError`` stub — both dictionary (LZW)
and transform (DCT) image compression are covered, and the MP4 container
demux yields sample layouts even for codecs it cannot entropy-decode. The
deterministic fake (:func:`fake_decode_features`) is kept for plumbing tests
whose payloads are not real containers.

Scale notes: binary payloads make row sizes wildly skewed; ``mapInPandas``
processes Arrow batches whose size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — cap it (e.g. 256) when
payloads are MB-scale so a batch never exceeds executor memory. Repartitioning
by a hash of the id (not by size) spreads hot files.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata carried alongside every payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image | audio | video
        T.StructField("format", T.StringType()),       # png, wav, mp4, ...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("head_byte", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def attach_fake_payload(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Test harness: synthesize a deterministic binary payload (UTF-8 of the text)
    plus metadata, producing the schema a real ingest would. Media type cycles
    image/audio/video by id so every downstream branch gets exercised;
    time-based media get a deterministic fake duration."""
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    duration = F.when(
        mt != "image", (F.length(F.col(text_col)) * 10).cast("long")
    ).otherwise(F.lit(None).cast("long"))
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            mt.alias("media_type"),
            F.lit("fake").alias("format"),
            (F.length(F.col(text_col)) % 1024).cast("int").alias("width"),
            (F.length(F.col(text_col)) % 768).cast("int").alias("height"),
            duration.alias("duration_ms"),
        ).alias("media_meta"),
    )


def decode_payload(payload: bytes, media_meta: dict) -> "object":
    """Real decode entry point. Image (24-bit BMP), audio (RIFF/WAVE PCM), and
    video (uncompressed RIFF/AVI) have genuine stdlib/struct decoders in this
    repo (:mod:`.image`, :mod:`.gif`, :mod:`.audio`, :mod:`.video`) — the
    image branch sniffs the container and routes LZW-compressed GIF89a/87a
    to the real GIF decoder; codec-compressed video
    containers (mp4/mkv/H.264) remain an explicit stub — they need a demuxer +
    codec this environment does not ship."""
    mt = (media_meta or {}).get("media_type")
    if mt == "image":
        # sniff the container: uncompressed BMP, LZW-compressed GIF,
        # DCT-compressed baseline JPEG, or prediction+DEFLATE PNG
        if payload[:3] == b"GIF":
            from iceberg_evolve_spark.functions.gif import decode_one_gif

            return decode_one_gif(payload)
        if payload[:2] == b"\xff\xd8":
            from iceberg_evolve_spark.functions.jpeg import decode_one_jpeg

            return decode_one_jpeg(payload)
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            from iceberg_evolve_spark.functions.png import decode_one_png

            return decode_one_png(payload)
        from iceberg_evolve_spark.functions.image import decode_one_bmp

        return decode_one_bmp(payload)
    if mt == "audio":
        from iceberg_evolve_spark.functions.audio import decode_one_wav

        return decode_one_wav(payload)
    if mt == "video":
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            from iceberg_evolve_spark.functions.video import (
                MJPG_FOURCC,
                avi_compression,
                decode_avi_mjpeg,
                decode_one_avi,
            )

            if avi_compression(payload) == MJPG_FOURCC:
                # Motion-JPEG: every frame is a self-contained baseline JFIF
                # — decoded for real through functions/jpeg.py (r6).
                return decode_avi_mjpeg(payload)
            return decode_one_avi(payload)
        if len(payload) >= 8 and payload[4:8] == b"ftyp":
            # ISO BMFF (mp4/mov): the box walk + stbl sample tables demux
            # for real (r7, functions/mp4.py); intra-frame samples
            # ('jpeg'/'mjpa') decode through the JPEG decoder, inter-frame
            # codecs (avc1/hev1) raise NotImplementedError inside with the
            # sample layout already extracted.
            from iceberg_evolve_spark.functions.mp4 import decode_mp4_mjpeg

            return decode_mp4_mjpeg(payload)
        raise NotImplementedError(
            "inter-frame codec video (mkv, raw H.264) needs a demuxer+codec "
            "(ffmpeg) not present in this environment; uncompressed RIFF/AVI, "
            "MJPEG-in-AVI, and intra-frame MP4 decode for real above — wire "
            "the codec path here in production"
        )
    raise ValueError(
        f"unknown media_type {mt!r}: decode_payload handles 'image' (BMP or "
        "LZW-compressed GIF), 'audio' (WAV), and 'video' (uncompressed AVI)"
    )


def fake_decode_features(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode+featurize: (byte length, first byte,
    sum-of-bytes checksum mod 2^31)."""
    if payload is None or len(payload) == 0:
        return 0, -1, 0
    return len(payload), payload[0], sum(payload) % (1 << 31)


def extract_features(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via ``mapInPandas``.

    The pandas path exists because real decoders are C libraries operating on
    whole byte buffers — this is the documented slow path, batched through Arrow
    (not per-row Python). The fake featurizer keeps it deterministic here.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[payload_col].map(fake_decode_features)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": feats.map(lambda t: t[0]).astype("int64"),
                    "head_byte": feats.map(lambda t: t[1]).astype("int32"),
                    "checksum": feats.map(lambda t: t[2]).astype("int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("scale_x", T.DoubleType()),
        T.StructField("scale_y", T.DoubleType()),
    ]
)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    meta_col: str = "media_meta",
) -> DataFrame:
    """Resize over (payload, meta) Arrow batches → resized payload + new
    dimensions + scale factors.

    BMP payloads are resized FOR REAL (r5): decode → nearest-neighbor
    resample → re-encode (`image.resize_one_bmp`), with scale factors from
    the decoded source geometry. Codec formats (JPEG/GIF re-encode needs an
    entropy coder this repo only decodes) keep the documented passthrough so
    schema/batching/partitioning stay testable end-to-end — production
    swaps the passthrough branch for codec-library calls on the same batch
    shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from iceberg_evolve_spark.functions.image import resize_one_bmp

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "payload": [], "width": [], "height": [],
                "scale_x": [], "scale_y": [],
            }
            for did, payload, meta in zip(
                pdf[id_col].astype("int64"), pdf[payload_col], pdf[meta_col]
            ):
                if payload is not None and bytes(payload[:2]) == b"BM":
                    import struct as _s

                    w0, h0 = _s.unpack_from("<ii", payload, 18)
                    h0 = abs(h0)
                    new_payload = resize_one_bmp(bytes(payload), target_w, target_h)
                else:  # codec formats: documented passthrough
                    w0 = (meta["width"] if meta else 0) or 0
                    h0 = (meta["height"] if meta else 0) or 0
                    new_payload = payload
                out["doc_id"].append(did)
                out["payload"].append(new_payload)
                out["width"].append(target_w)
                out["height"].append(target_h)
                out["scale_x"].append(target_w / w0 if w0 else 0.0)
                out["scale_y"].append(target_h / h0 if h0 else 0.0)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "payload": pd.Series(out["payload"], dtype="object"),
                    "width": pd.Series(out["width"], dtype="int32"),
                    "height": pd.Series(out["height"], dtype="int32"),
                    "scale_x": pd.Series(out["scale_x"], dtype="float64"),
                    "scale_y": pd.Series(out["scale_y"], dtype="float64"),
                }
            )

    return df.select(id_col, payload_col, meta_col).mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("t_ms", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    meta_col: str = "media_meta",
) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled timestamp of each
    time-based payload (video/audio); images yield no rows. Fan-out happens
    inside the Arrow batch (a pandas fill), not via per-row Python calls. The
    fake 'frame' is a deterministic 16-byte slice of the payload at a
    time-proportional offset — production swaps in an ffmpeg seek+decode with
    the identical output schema."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "t_ms": [], "frame": []}
            for did, payload, meta in zip(
                pdf[id_col].astype("int64"), pdf[payload_col], pdf[meta_col]
            ):
                dur = meta["duration_ms"]
                if dur is None or meta["media_type"] == "image" or not payload:
                    continue
                n = int(dur) // every_ms + 1
                for i in range(n):
                    t = i * every_ms
                    off = int(len(payload) * t / (int(dur) + 1))
                    out["doc_id"].append(did)
                    out["frame_idx"].append(i)
                    out["t_ms"].append(t)
                    out["frame"].append(bytes(payload[off : off + 16]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "t_ms": pd.Series(out["t_ms"], dtype="int64"),
                    "frame": pd.Series(out["frame"], dtype="object"),
                }
            )

    return df.select(id_col, payload_col, meta_col).mapInPandas(run, schema=FRAME_SCHEMA)
