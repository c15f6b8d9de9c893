"""Multimodal columns (SURVEY.md §2.11, OP-LLM-06 — [mandate]).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata (datamodel.MEDIA_SCHEMA). The Spark-side plumbing — schema,
partition sizing, Arrow batch shape, UDF signatures — is real and
tested. The decoders are REAL for every format parseable without a
codec library, and each decode query is value-oracled end-to-end
against its pixel / sample formula:

- image: uncompressed P6 PPM (:func:`ppm_decode_stats`) AND
  compressed PNG — stdlib ``zlib`` inflate + all five scanline
  unfilters in numpy, CRC-checked chunk walk
  (:func:`png_decode_stats`),
- audio: RIFF/WAVE 16-bit PCM (:func:`wav_decode_stats`),
- video: YUV4MPEG2 frame sampling (:func:`y4m_sample_stats`).

The codecs themselves (``decode_image``, ``encode_ppm``,
``encode_png``, ``decode_png``, ``decode_audio``, ``encode_wav``,
``sample_video_frames``) are defined once in
:mod:`gexp_ml_dask_spark.worker`, which cloudpickle ships by value to
the Python workers, and re-exported here. The decode queries call the
same functions the unit tests exercise. Every per-asset ``mapInPandas``
pass goes through one scaffold, :func:`_per_asset`.

LOSSY codecs (JPEG/WebP, mp3/flac/ogg, mp4/webm) remain
honestly STUBBED (Pillow/torchaudio/ffmpeg are not in this
container): the ``decode_*`` functions raise ``NotImplementedError``
for them, and a deterministic fake feature path keeps the
distributed plumbing exercisable end-to-end for those modalities too.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gexp_ml_dask_spark.worker import (
    channel_means,
    decode_audio,
    decode_image,
    decode_png,
    encode_png,
    encode_ppm,
    encode_wav,
    sample_video_frames,
)

# Payload rows are large (MBs); decode in slices of at most this
# many rows so decoded frames fit executor memory at scale — the
# Arrow batch size (spark.sql.execution.arrow.maxRecordsPerBatch,
# default 10k) is tuned for narrow rows and is NOT a safe decode
# unit for MB-sized payloads. _per_asset enforces this cap by
# re-chunking every incoming Arrow batch.
DECODE_BATCH_ROWS = 64


def _per_asset(
    frame: DataFrame, row, schema: str, rounded=(), sized: bool = True
) -> DataFrame:
    """One ``mapInPandas`` pass mapping every input row to one output
    row: ``row(*values)`` takes the row's values in column order and
    returns a tuple in ``schema``'s column order. Each Arrow batch is
    re-chunked to DECODE_BATCH_ROWS rows, so at most that many payloads
    are decoded at once. ``sized`` first spreads the input over the
    cluster's default parallelism (at least 2 partitions); the
    ``rounded`` columns come out rounded to 6dp.

    ``row`` runs on the Python workers, which may not be able to
    import this package: it may call stdlib, numpy, pandas and the
    functions imported by name from :mod:`gexp_ml_dask_spark.worker`
    (README design rule 12)."""
    batch_rows = DECODE_BATCH_ROWS
    names = [field.split()[0] for field in schema.split(", ")]

    def run(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[lo : lo + batch_rows]
                yield pd.DataFrame(
                    [row(*r) for r in chunk.itertuples(index=False, name=None)],
                    columns=names,
                )

    if sized:
        frame = frame.repartition(
            max(2, frame.sparkSession.sparkContext.defaultParallelism)
        )
    out = frame.mapInPandas(run, schema)
    return out.select(
        *(F.round(c, 6).alias(c) if c in rounded else c for c in names)
    )


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize (numpy fancy indexing over the
    decoded plane, re-encoded as P6) for every input
    :func:`decode_image` handles: P6 PPM and RGB/gray PNG (gray is
    promoted to RGB, since P6 is the only encoder here). PNG with an
    alpha channel raises — compositing alpha needs a background
    choice this layer must not make silently. Lossy formats raise
    via :func:`decode_image`'s boundary."""
    arr = decode_image(payload)
    if arr.ndim == 2:  # gray PNG -> replicate into RGB planes
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    if arr.shape[2] == 4:
        raise NotImplementedError(
            "RGBA resize needs alpha compositing; strip alpha upstream"
        )
    h, w = arr.shape[:2]
    rows = np.arange(height) * h // height
    cols = np.arange(width) * w // width
    return encode_ppm(arr[rows][:, cols])


def media_from_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Build a MEDIA_SCHEMA-shaped table from the documents fixture:
    payload = utf-8 bytes (a stand-in opaque blob), modality rotates
    image/audio/video, metadata carries source fields."""
    return docs.select(
        F.col(id_col).alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.create_map(
            F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")
        ).alias("meta"),
    )


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Decode + feature-extract over media payloads via mapInPandas
    (Arrow batches of whole rows; one Python roundtrip per batch,
    never per row). The features are a deterministic stand-in for
    decode + embed: ``dim`` floats in [0, 1], the first ``dim`` bytes
    of the payload's sha256 digest over 255, so the distributed path
    (Arrow batches, schema, partitioning) moves real data.

    NULL payloads are excluded BEFORE the Python boundary (there is
    nothing to decode; a NULL previously reached sha256()/len() in
    the closure and killed the worker — round-7 edge sweep). The
    filter is Spark-side so it prunes the Arrow transfer too."""

    def row(asset_id, modality, payload):
        digest = hashlib.sha256(payload).digest()[:dim]
        return asset_id, modality, len(payload), [b / 255.0 for b in digest]

    return _per_asset(
        media.filter(F.col("payload").isNotNull()).select(
            "asset_id", "modality", "payload"
        ),
        row,
        "asset_id long, modality string, n_bytes long, features array<double>",
    )


def transform_payloads(
    media: DataFrame,
    width: int = 64,
    height: int = 64,
    frame_every_n: int = 30,
) -> DataFrame:
    """Binary→binary media transform over mapInPandas — the
    resize / frame-sample half of the multimodal surface (the
    feature-extract half is :func:`extract_features`). Images are
    resized to (width, height), videos frame-sampled every
    ``frame_every_n`` frames, audio passed through; output is again
    an opaque payload column plus in/out byte counts, so transforms
    chain (resize -> extract) without leaving Spark.

    The codec calls are a deterministic surrogate — the payload
    cycled/truncated to width*height bytes (images) or every
    ``frame_every_n``-th byte (videos) — keeping the data movement,
    Arrow batch shape, and memory profile of a real transcode.
    NULL payloads are excluded before the Python boundary (see
    :func:`extract_features`)."""
    target = width * height

    def row(asset_id, modality, payload):
        b = bytes(payload)
        if modality == "image":
            out = (b * (target // max(len(b), 1) + 1))[:target]
        elif modality == "video":
            out = b[::frame_every_n]
        else:
            out = b
        return asset_id, modality, out, len(b), len(out)

    return _per_asset(
        media.filter(F.col("payload").isNotNull()).select(
            "asset_id", "modality", "payload"
        ),
        row,
        "asset_id long, modality string, payload binary, "
        "n_bytes_in long, n_bytes_out long",
    )


def payload_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata pass over binary payloads (no decode):
    byte length + digest prefix per modality — the cheap pre-filter
    a decode stage runs behind at scale."""
    return media.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length(F.col("payload"))).alias("total_bytes"),
        F.round(F.avg(F.length(F.col("payload"))), 6).alias("mean_bytes"),
    )


_CHANNEL_STATS = (
    "asset_id long, width long, height long, "
    "mean_r double, mean_g double, mean_b double"
)
_MEANS = ("mean_r", "mean_g", "mean_b")

# Deterministic PPM test-image generator parameters: pixel (r, c)
# channel k of asset d is (d*31 + r*7 + c*3 + k*11) % 256. The
# formula IS the oracle contract — DuckDB recomputes the expected
# channel means directly from it, so the REAL decode path
# (generate -> encode P6 -> parse -> stats) is value-checked
# end-to-end without any codec on the oracle side.
PPM_W, PPM_H = 16, 8


def ppm_decode_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """OP-LLM-06 (REAL image decode): build a deterministic P6 PPM
    payload per document with :func:`encode_ppm`, parse it with
    :func:`decode_image` (netpbm header parsing + frombuffer, not the
    fake-feature surrogate), and emit per-image dimensions and
    per-channel means. One :func:`_per_asset` pass."""
    r, c, k = np.ogrid[:PPM_H, :PPM_W, :3]

    def row(d):
        img = decode_image(encode_ppm((d * 31 + r * 7 + c * 3 + k * 11) % 256))
        return (d, img.shape[1], img.shape[0], *channel_means(img))

    ids = docs.select(F.col(id_col).alias("asset_id"))
    return _per_asset(ids, row, _CHANNEL_STATS, _MEANS)


# Deterministic PNG generator: pixel (r, c, k) of asset d is
# (d*13 + r*5 + c*7 + k*9) % 256, 12x10 RGB; row r is written with
# PNG filter r % 5, so all five unfilter paths (None/Sub/Up/
# Average/Paeth) sit on the oracled decode path.
PNG_W, PNG_H = 10, 12


def png_payloads(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stage 1 of the PNG round: a real ``binary`` PNG payload
    column per document (pixel formula above, row filters cycling
    0..4), built by :func:`encode_png`. Split from the decode so the
    payload crosses an Arrow batch boundary as an actual binary
    column — the contract a user decoding STORED media hits —
    instead of living only inside one closure."""
    r, c, k = np.ogrid[:PNG_H, :PNG_W, :3]
    filters = [i % 5 for i in range(PNG_H)]

    def row(d):
        px = (d * 13 + r * 5 + c * 7 + k * 9) % 256
        return d, encode_png(px, row_filters=filters)

    ids = docs.select(F.col(id_col).alias("asset_id"))
    return _per_asset(ids, row, "asset_id long, payload binary")


def png_decode_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """OP-LLM-06 (REAL compressed-image decode): deterministic PNGs
    built as a real binary column (:func:`png_payloads`), then
    decoded by :func:`decode_png` (CRC-checked chunk walk + zlib
    inflate + the five unfilters) in a SECOND mapInPandas stage —
    the payload travels between stages as an Arrow binary column,
    exactly how stored media reaches a decode at scale. Emits
    per-channel means; value-oracled against the pixel formula, so
    a wrong unfilter, stride, or chunk walk shifts every mean."""

    def row(d, payload):
        img = decode_png(bytes(payload))
        return (d, img.shape[1], img.shape[0], *channel_means(img))

    return _per_asset(
        png_payloads(docs, id_col), row, _CHANNEL_STATS, _MEANS, sized=False
    )


# Deterministic WAV generator: sample i of asset d is
# ((d*17 + i*13) % 4096) - 2048, 256 samples, 16 kHz mono 16-bit —
# the formula is the oracle contract (DuckDB recomputes the stats
# directly, so the stdlib-wave parse is what the value-check tests).
WAV_N, WAV_RATE = 256, 16_000


def wav_decode_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """OP-LLM-06 (REAL audio decode): deterministic 16-bit PCM WAV
    per document written by :func:`encode_wav` and parsed by
    :func:`decode_audio` (the stdlib ``wave`` RIFF reader, no audio
    lib), emitting (n_samples, sample_rate, mean_amp, peak) —
    value-oracled against the sample formula."""
    i = np.arange(WAV_N)

    def row(d):
        pcm = encode_wav((d * 17 + i * 13) % 4096 - 2048, WAV_RATE)
        samples, rate = decode_audio(pcm)
        peak = int(np.abs(samples.astype(np.int64)).max())
        return d, len(samples), rate, float(samples.mean()), peak

    return _per_asset(
        docs.select(F.col(id_col).alias("asset_id")),
        row,
        "asset_id long, n_samples long, sample_rate long, "
        "mean_amp double, peak long",
        ("mean_amp",),
    )


# Deterministic y4m generator: byte j of frame f for asset d is
# (d*7 + f*29 + j*3) % 256; 6 frames of 8x4 C444 (96 bytes each);
# sampling keeps every 2nd frame (0, 2, 4).
Y4M_W, Y4M_H, Y4M_FRAMES, Y4M_EVERY = 8, 4, 6, 2


def y4m_sample_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """OP-LLM-06 (REAL video frame sampling): deterministic
    YUV4MPEG2 payload per document, frames walked by
    :func:`sample_video_frames` (header-derived frame size — NOT
    delimiter splitting, since raw pixels may contain the literal
    marker), every 2nd frame kept, per-asset byte mean over the kept
    frames emitted — value-oracled against the pixel formula."""
    j = np.arange(3 * Y4M_W * Y4M_H)
    header = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C444\n" % (Y4M_W, Y4M_H)

    def row(d):
        payload = header + b"".join(
            b"FRAME\n" + ((d * 7 + f * 29 + j * 3) % 256).astype(np.uint8).tobytes()
            for f in range(Y4M_FRAMES)
        )
        kept = sample_video_frames(payload, every_n=Y4M_EVERY)
        mean = np.frombuffer(b"".join(kept), dtype=np.uint8).mean()
        return d, len(kept), float(mean)

    return _per_asset(
        docs.select(F.col(id_col).alias("asset_id")),
        row,
        "asset_id long, n_frames_kept long, mean_byte double",
        ("mean_byte",),
    )
