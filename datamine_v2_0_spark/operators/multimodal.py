"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Decode: ``_decode_image`` is a real pure-stdlib decoder for binary
PPM/PGM (P6/P5) and uncompressed BI_RGB BMP — enough to run the
decode→featurize path end-to-end without PIL/opencv (not in this
container; swap in PIL for the full format zoo on a cluster that has
it). `decode_stub=True` (default) bypasses decoding entirely with a
deterministic byte-statistics fake so the dataflow also runs on
non-image payloads (e.g. the synthetic text-as-blob media table).

Scale notes: binary payloads ride in Arrow record batches; cap
`spark.sql.execution.arrow.maxRecordsPerBatch` so a batch of blobs fits in
executor memory, and repartition by a content-size bucket when blob sizes
are heavily skewed.
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

from datamine_v2_0_spark.shipping import ship_by_value

# _extract closures reference this module's own helpers (_fake_features,
# FEATURE_SCHEMA) — ship them by value so workers need no package install
ship_by_value(sys.modules[__name__])

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("payload", StringType()),  # binary in real data; see note
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sample_rate", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_sha256", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def _pnm_header(buf: bytes, n_tokens: int) -> tuple[list[int], int]:
    """Parse ``n_tokens`` ASCII integers after a PNM magic number,
    skipping whitespace and ``#`` comments; returns (tokens, raster
    offset — one whitespace byte past the last token)."""
    i = 2
    toks: list[int] = []
    while len(toks) < n_tokens:
        c = buf[i : i + 1]
        if not c:
            raise ValueError("truncated PNM header")
        if c.isspace():
            i += 1
        elif c == b"#":
            while buf[i : i + 1] not in (b"\n", b""):
                i += 1
        else:
            j = i
            while buf[j : j + 1] and not buf[j : j + 1].isspace():
                j += 1
            toks.append(int(buf[i:j]))
            i = j
    # the spec mandates EXACTLY ONE whitespace byte before the raster
    # (so a first pixel of value 9-13 isn't eaten); special-case the
    # common spec-violating Windows '\r\n' terminator, which would
    # otherwise shift every raster byte by one
    if buf[i : i + 2] == b"\r\n":
        return toks, i + 2
    return toks, i + 1


def _decode_pnm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → HxWx3, binary PGM (P5) → HxW, uint8."""
    channels = 3 if payload[:2] == b"P6" else 1
    (w, h, maxval), off = _pnm_header(payload, 3)
    if maxval > 255:
        raise ValueError("16-bit PNM not supported")
    n = w * h * channels
    arr = np.frombuffer(payload, dtype=np.uint8, count=n, offset=off)
    return arr.reshape((h, w, 3) if channels == 3 else (h, w))


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed (BI_RGB) 24-bit BMP → HxWx3 RGB, 8-bit → HxW palette
    indices, uint8. Rows are 4-byte aligned and stored bottom-up unless
    height is negative."""
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0 or bpp not in (8, 24):
        raise ValueError("only uncompressed 8/24-bit BMP supported")
    top_down = h < 0
    h = abs(h)
    row_bytes = (w * bpp // 8 + 3) & ~3
    raster = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)
    if not top_down:
        raster = raster[::-1]
    if bpp == 8:
        return raster[:, :w].copy()
    bgr = raster[:, : w * 3].reshape(h, w, 3)
    return bgr[:, :, ::-1].copy()  # BGR on disk -> RGB out


def _decode_image(payload: bytes) -> np.ndarray:
    """Pure-stdlib image decode: binary PPM/PGM and uncompressed BMP.
    Other formats raise ValueError — swap in PIL/opencv where available."""
    magic = payload[:2]
    if magic in (b"P6", b"P5"):
        return _decode_pnm(payload)
    if magic == b"BM":
        return _decode_bmp(payload)
    raise ValueError(
        "unsupported image format (stdlib decoder handles PPM/PGM/BMP); "
        "use decode_stub=True or add PIL/opencv"
    )


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int, int]:
    """Pure-stdlib PCM WAV decode (the audio twin of the PPM/BMP image
    parsers): returns (mono float64 samples in [-1, 1], framerate,
    n_channels). 8/16/32-bit PCM; compressed WAV raises ValueError."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            nch = w.getnchannels()
            sw = w.getsampwidth()
            fr = w.getframerate()
            raw = w.readframes(w.getnframes())
    except wave.Error as ex:
        raise ValueError(f"unsupported audio payload: {ex}") from ex
    if sw not in (1, 2, 4):
        raise ValueError(f"unsupported PCM sample width {sw}")
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}[sw]
    arr = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if sw == 1:
        arr = arr - 128.0  # 8-bit WAV is unsigned
    arr = arr / {1: 128.0, 2: 32768.0, 4: 2147483648.0}[sw]
    if nch > 1:
        arr = arr.reshape(-1, nch).mean(axis=1)
    return arr, fr, nch


def _audio_features(payload: bytes, k: int = 8) -> list[float]:
    """Signal-level WAV features: duration, rate, channels, RMS, peak,
    zero-crossing rate, DC offset, sample count."""
    arr, fr, nch = _decode_wav(payload)
    if arr.size == 0:
        return [0.0] * k
    zcr = float((np.diff(np.signbit(arr)) != 0).mean()) if arr.size > 1 else 0.0
    feats = [
        float(arr.size) / fr,
        float(fr),
        float(nch),
        float(np.sqrt((arr ** 2).mean())),
        float(np.abs(arr).max()),
        zcr,
        float(arr.mean()),
        float(arr.size),
    ]
    return [round(v, 6) for v in feats[:k]]


def _fake_features(payload: bytes, k: int = 8) -> list[float]:
    """Deterministic fake 'embedding': byte histogram moments. Stands in
    for a real decode+featurize so the distributed plumbing is testable."""
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    if arr.size == 0:
        return [0.0] * k
    feats = [
        float(arr.mean()),
        float(arr.std()),
        float(arr.min()),
        float(arr.max()),
        float(np.median(arr)),
        float(arr.size),
        float((arr > 127).mean()),
        float(np.diff(arr).mean() if arr.size > 1 else 0.0),
    ]
    return [round(v, 6) for v in feats[:k]]


def extract_media_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    type_col: str = "media_type",
    decode_stub: bool = True,
) -> DataFrame:
    """mapInPandas feature extraction over binary media payloads.

    Each Arrow batch is processed vectorized-per-row in Python; output is a
    narrow typed feature table (the wide blob column does NOT survive the
    operator — project early, keep the shuffle narrow)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # zip over the column Series, not iterrows: no per-row Series
            # construction (the only remaining Python-per-row cost is the
            # inherently per-blob decode)
            for mid, mtype, payload in zip(
                pdf[id_col], pdf[type_col], pdf[payload_col]
            ):
                if isinstance(payload, str):
                    # real decode needs the raw bytes back: latin-1 is the
                    # identity for codepoints 0-255, whereas utf-8 would
                    # expand every raster byte >= 0x80 into two bytes and
                    # silently corrupt the image. The stub path keeps
                    # utf-8 (text payloads; matches the sha256 oracle).
                    payload = payload.encode("utf-8" if decode_stub else "latin-1")
                payload = payload or b""
                if decode_stub:
                    feats = _fake_features(payload)
                elif not payload:
                    # a NULL/empty blob is a data problem, not a format
                    # problem: emit null features instead of killing the
                    # whole job on one bad row
                    feats = None
                elif mtype == "audio":
                    feats = _audio_features(payload)
                else:
                    feats = [float(v) for v in _decode_image(payload).ravel()[:8]]
                rows.append(
                    {
                        "media_id": mid,
                        "media_type": mtype,
                        "n_bytes": len(payload),
                        "content_sha256": hashlib.sha256(payload).hexdigest(),
                        "features": feats,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_payload", StringType()),
        StructField("n_frames", LongType()),
    ]
)


def sample_frames(
    df: DataFrame,
    frame_size: int,
    every: int = 1,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """mapInPandas frame sampler: split a video payload into fixed-size
    frames and keep every ``every``-th one — the one-row-in/many-rows-out
    (UDTF) multimodal shape. With a real container format the split is a
    demuxer call; the slicing/striding/emit plumbing is identical.

    Frames are character slices here (the synthetic media table carries
    text payloads) so the operator is oracle-checkable with plain
    ``substr`` SQL."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = payload or ""
                n_frames = -(-len(payload) // frame_size)  # ceil
                for i in range(0, n_frames, every):
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": i,
                            "frame_payload": payload[
                                i * frame_size : (i + 1) * frame_size
                            ],
                            "n_frames": n_frames,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SCHEMA.fields]
            )

    return df.mapInPandas(_frames, schema=FRAME_SCHEMA)


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents fixture: the text
    payload plays the role of the blob. Lets the multimodal plumbing run
    against driver testdata without real binaries."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.col("text").alias("payload"),
        F.length("text").cast("long").alias("width"),
        F.lit(1).cast("long").alias("height"),
        F.lit(0).cast("long").alias("sample_rate"),
    )
