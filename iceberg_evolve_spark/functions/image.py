"""Real image decode over binary media columns — no external libraries.

The round-1/2 image path was stubbed (``multimodal.decode_payload``) because no
imaging package ships in this environment. Like audio (:mod:`.audio`), images
do not actually need one: 24-bit uncompressed BMP is a documented public format
(BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up padded BGR rows) simple enough
to encode AND independently parse with ``struct`` alone:

- :func:`synth_bmp_payload` writes REAL ``.bmp`` bytes — header and pixel rows
  hand-assembled with ``struct.pack`` — containing a deterministic two-column
  color pattern whose colors shift per image row (so the decoder's handling of
  BMP's bottom-up row storage is actually exercised, not vacuously correct).
- :func:`decode_bmp_features` parses those bytes with a SEPARATE struct-based
  reader (header field by header field: magic, pixel offset, dimensions, bpp,
  compression, 4-byte row padding) inside ``mapInPandas`` Arrow batches.

Every extracted feature — dimensions, file size, per-channel pixel sums, the
top-left pixel — is an exact integer closed form of the row id, so the
driver's DuckDB oracle verifies the decode bit-for-bit. The top-left pixel is
the row-order witness: the image's first row is the LAST row stored in the
file, so a decoder that forgets bottom-up order reports the wrong value.

Scale notes (same as multimodal.py/audio.py): payload rows are large and
skewed; Arrow batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — cap it when payloads are
MB-scale. The decode is embarrassingly parallel (per-row, no shuffle).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def synth_params(doc_id: int) -> tuple[int, int, tuple[int, int, int], tuple[int, int, int]]:
    """(width, height, left RGB, right RGB) for a given id — all integer-exact
    functions of the id, shared by encoder, tests, and the oracle SQL. Width
    spans 8..16 so the BMP 4-byte row padding takes every phase (3w % 4)."""
    w = 8 + (doc_id % 9)
    h = 4 + (doc_id % 5)
    left = (doc_id % 256, (doc_id * 3) % 256, (doc_id * 7) % 256)
    right = ((doc_id * 11) % 256, (doc_id * 13) % 256, (doc_id * 17) % 256)
    return w, h, left, right


def _bmp_bytes(w: int, h: int, left: tuple[int, int, int], right: tuple[int, int, int]) -> bytes:
    """Hand-assembled 24-bit uncompressed BMP: 14-byte file header + 40-byte
    info header + bottom-up, 4-byte-padded BGR rows.

    Pixel (x, y) of the *image* (y=0 is the top row) is ``left`` shifted by y
    if x < w//2 else ``right`` shifted by y, each channel ``(c + y) % 256``.
    BMP stores rows bottom-up, so image row ``h-1`` is written first.
    """
    stride = (3 * w + 3) // 4 * 4
    data_size = stride * h
    header = struct.pack(
        "<2sIHHI",
        b"BM",
        14 + 40 + data_size,  # file size
        0,
        0,
        14 + 40,              # pixel data offset
    ) + struct.pack(
        "<IiiHHIIiiII",
        40,                   # info header size
        w,
        h,                    # positive height = bottom-up rows
        1,                    # planes
        24,                   # bits per pixel
        0,                    # BI_RGB (uncompressed)
        data_size,
        2835,                 # 72 DPI in px/metre
        2835,
        0,
        0,
    )
    # vectorized row assembly (§4.2: whole-image numpy ops instead of a
    # per-pixel Python loop) — integer-exact, byte-identical to the loop:
    # pixel x of storage row y is BGR ((c + y) % 256) with left/right by
    # x < w//2, rows stored bottom-up, zero padding to the 4-byte stride
    half = w // 2
    xs = np.arange(w)
    lmask = xs < half
    base = np.empty(3 * w, np.int64)
    base[0::3] = np.where(lmask, left[2], right[2])  # b
    base[1::3] = np.where(lmask, left[1], right[1])  # g
    base[2::3] = np.where(lmask, left[0], right[0])  # r
    ys = np.arange(h - 1, -1, -1, dtype=np.int64)[:, None]  # bottom-up
    buf = np.zeros((h, stride), np.uint8)
    buf[:, : 3 * w] = ((base[None, :] + ys) % 256).astype(np.uint8)
    return header + buf.tobytes()


def _decode_pixels(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Parse a 24-bit uncompressed BMP to image-order (top-down) RGB rows —
    the readable per-pixel reference form (tests pin the hot numpy paths
    against it). Same header walk as :func:`decode_one_bmp`."""
    magic, _fs, _, _, px_offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_size, width, height, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant")
    bottom_up = height > 0
    height = abs(height)
    stride = (3 * width + 3) // 4 * 4
    rows: list[list[tuple[int, int, int]]] = [None] * height  # type: ignore[list-item]
    for file_row in range(height):
        y = (height - 1 - file_row) if bottom_up else file_row
        base = px_offset + file_row * stride
        rows[y] = [
            (
                payload[base + 3 * x + 2],
                payload[base + 3 * x + 1],
                payload[base + 3 * x],
            )
            for x in range(width)
        ]
    return width, height, rows


def resize_one_bmp(payload: bytes, target_w: int, target_h: int) -> bytes:
    """REAL image resize — decode, nearest-neighbor resample, re-encode.

    Target pixel (x, y) samples source pixel ``(x·w div tw, y·h div th)``
    (floor mapping, the standard NN grid) — integer-exact, so resized
    payloads have closed-form pixel witnesses for the oracle. This is the
    production body `multimodal.resize_images` promised: decode → resample
    → re-encode on the same Arrow batch shape."""
    # vectorized decode → fancy-index resample → re-encode (§4.2): the
    # floor mapping (x·w div tw, y·h div th) becomes two integer index
    # arrays; bytes stay BGR end to end, so output is byte-identical to
    # the old per-pixel path
    magic, _fs, _, _, px_offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_size, w, h, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant")
    bottom_up = h > 0
    h = abs(h)
    stride = (3 * w + 3) // 4 * 4
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=px_offset
    ).reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
    img = arr[::-1] if bottom_up else arr  # image (top-down) row order
    sy = (np.arange(target_h, dtype=np.int64) * h) // target_h
    sx = (np.arange(target_w, dtype=np.int64) * w) // target_w
    res = img[sy][:, sx]  # (th, tw, 3) BGR
    out_stride = (3 * target_w + 3) // 4 * 4
    data_size = out_stride * target_h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII",
        40, target_w, target_h, 1, 24, 0, data_size, 2835, 2835, 0, 0,
    )
    buf = np.zeros((target_h, out_stride), np.uint8)
    buf[:, : 3 * target_w] = res[::-1].reshape(target_h, 3 * target_w)
    return header + buf.tobytes()


BMP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synth_bmp_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) -> (id, payload) with a real BMP binary per row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # the select below aliases id_col to "doc_id" before the Arrow
            # boundary, so the batch column is always "doc_id"
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [_bmp_bytes(*synth_params(int(d))) for d in ids],
                }
            )

    return df.select(F.col(id_col).alias("doc_id")).mapInPandas(run, schema=BMP_SCHEMA)


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("first_px_r", T.IntegerType()),
        T.StructField("first_px_g", T.IntegerType()),
        T.StructField("first_px_b", T.IntegerType()),
    ]
)


def decode_one_bmp(payload: bytes) -> dict:
    """Decode a single BMP via an independent struct-based parser.

    Walks the public format for real: validates the magic, reads the pixel
    offset from the file header and the geometry/bpp/compression from the
    info header, then iterates the padded BGR rows in file (bottom-up) order.
    Shares no code with :func:`_bmp_bytes` — the encoder packs, this unpacks.
    """
    magic, file_size, _, _, px_offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    (
        hdr_size,
        width,
        height,
        planes,
        bpp,
        compression,
    ) = struct.unpack_from("<IiiHHI", payload, 14)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: hdr={hdr_size} bpp={bpp} comp={compression}")
    bottom_up = height > 0
    height = abs(height)
    stride = (3 * width + 3) // 4 * 4
    # vectorized pixel walk (§4.2): one reshape exposes the padded BGR rows,
    # channel sums are whole-array int64 reductions — the same exact
    # integers the per-pixel loop produced, at numpy speed
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=px_offset
    ).reshape(height, stride)[:, : 3 * width].reshape(height, width, 3)
    sums = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)  # file order: BGR
    # image row 0 (the TOP row) is the LAST stored row when bottom-up —
    # the row-order witness the docstring promises
    first_row = height - 1 if bottom_up else 0
    b0, g0, r0 = (int(v) for v in arr[first_row, 0])
    return {
        "width": width,
        "height": height,
        "byte_len": len(payload),
        "sum_r": int(sums[2]),
        "sum_g": int(sums[1]),
        "sum_b": int(sums[0]),
        "first_px_r": r0,
        "first_px_g": g0,
        "first_px_b": b0,
    }


_FEATURE_DTYPES = {
    "doc_id": "int64",
    "width": "int32",
    "height": "int32",
    "byte_len": "int64",
    "sum_r": "int64",
    "sum_g": "int64",
    "sum_b": "int64",
    "first_px_r": "int32",
    "first_px_g": "int32",
    "first_px_b": "int32",
}


def decode_bmp_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched BMP decode: (id, payload) -> pixel feature row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_one_bmp(p) for p in pdf[payload_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf[id_col].astype("int64").values)
            yield out.astype(_FEATURE_DTYPES)

    return df.select(id_col, payload_col).mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


def synth_decode_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fused synth→decode in ONE Arrow stage (harness/bench path, mirroring
    :func:`audio.synth_decode_features`): the BMP bytes are really encoded and
    really parsed per row but never round-trip JVM→Python→JVM between two
    ``mapInPandas`` stages. Real ingest — where the binary column already
    exists — uses :func:`decode_bmp_features`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            feats = [decode_one_bmp(_bmp_bytes(*synth_params(int(d)))) for d in ids]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", ids.values)
            yield out.astype(_FEATURE_DTYPES)

    return df.select(id_col).mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual hashing (r6): average-hash for image near-dup detection
# ---------------------------------------------------------------------------

#: aHash grid — 4×4 (16-bit hash) rather than the classic 8×8 because the
#: synthetic fixtures are as small as 8×4; the construction is identical.
AHASH_GRID = 4


def average_hash_one(payload: bytes, grid: int = AHASH_GRID) -> dict:
    """Average-hash of a decoded BMP — the standard perceptual image
    fingerprint (aHash): downsample to ``grid×grid`` luminance cells, set a
    bit per cell that is brighter than the image mean. All-integer: "gray"
    is the channel SUM r+g+b (no /3), cells are nearest-rank bins
    (``gx = x·grid div w``), and brighter-than-mean is the exact
    cross-multiplied comparison ``cell_sum · n_pixels > total_sum ·
    cell_n`` — no float ever, so the hash is bit-reproducible and
    oracle-replayable. Bit order: ``gy·grid + gx``, LSB first."""
    # vectorized (§4.2): gray = per-pixel channel sum as one int64 array
    # reduction; cell binning via np.add.at on the exact nearest-rank
    # indices — same integers, same bits as the per-pixel loop
    magic, _fs, _, _, px_offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_size, w, h, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant")
    bottom_up = h > 0
    h = abs(h)
    stride = (3 * w + 3) // 4 * 4
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=px_offset
    ).reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
    img = arr[::-1] if bottom_up else arr  # image (top-down) row order
    gray = img.sum(axis=2, dtype=np.int64)  # r+g+b per pixel
    gy = (np.arange(h, dtype=np.int64) * grid) // h
    gx = (np.arange(w, dtype=np.int64) * grid) // w
    cell_sum = np.zeros((grid, grid), np.int64)
    cell_n = np.zeros((grid, grid), np.int64)
    gyy = np.broadcast_to(gy[:, None], (h, w))
    gxx = np.broadcast_to(gx[None, :], (h, w))
    np.add.at(cell_sum, (gyy, gxx), gray)
    np.add.at(cell_n, (gyy, gxx), 1)
    total = int(gray.sum())
    n_px = w * h
    bits = (cell_sum * n_px) > (total * cell_n)
    ahash = 0
    for gy_i in range(grid):
        for gx_i in range(grid):
            if bits[gy_i, gx_i]:
                ahash |= 1 << (gy_i * grid + gx_i)
    return {
        "width": w,
        "height": h,
        "gray_total": total,
        "ahash": ahash,
    }


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("gray_total", T.LongType()),
        T.StructField("ahash", T.LongType()),
    ]
)


def synth_ahash_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fused synth→encode→decode→aHash in ONE Arrow stage (one row per
    image); the hash itself is computed from REAL re-parsed BMP bytes."""

    cols = [f.name for f in AHASH_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"].astype("int64"):
                d = int(d)
                w, h, left, right = synth_params(d)
                feats = average_hash_one(_bmp_bytes(w, h, left, right))
                feats["doc_id"] = d
                rows.append(feats)
            yield pd.DataFrame(rows)[cols]

    return df.select(F.col(id_col).alias("doc_id")).mapInPandas(
        run, schema=AHASH_SCHEMA
    )
