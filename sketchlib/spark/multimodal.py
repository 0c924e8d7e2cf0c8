"""Multimodal (image/audio/video) column plumbing.

Media are opaque BinaryType columns with typed metadata. The Spark-side
machinery — schemas, Arrow batch shapes, mapInPandas signatures,
partition sizing — is real and tested. Decoding is layered:

* REAL codecs, import-guarded per media type: PIL for images, the
  stdlib ``wave`` module for RIFF/WAVE audio (always available, so the
  audio path is genuinely exercised in this container), PyAV for video.
* ``_decode_stub``: a deterministic fake deriving geometry/feature from
  the byte content — the fallback when a codec library is missing or a
  blob is not parseable media, keeping the distributed path (and the
  DuckDB oracle, which runs on synthetic non-media bytes) identical in
  every environment.

``decode_media(codec_mode=...)``: ``"auto"`` (default) tries the real
codec per record and falls back to the stub; ``"real"`` raises on any
failure (strict production mode — corrupt media must not silently get
fake metadata); ``"stub"`` never touches codec libraries.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType
from pyspark.sql.types import StructField, StructType

MEDIA_SCHEMA = StructType().add("doc_id", LongType()).add("media", BinaryType()).add("media_type", StringType())

_DECODED_FIELDS = StructType(
    [StructField("doc_id", LongType()), StructField("media_type", StringType())]
    + [StructField(c, IntegerType()) for c in ("width", "height", "n_frames")]
    + [StructField("feature", ArrayType(FloatType()))]
)


def _decode_stub(blob: bytes, media_type: str) -> tuple[int, int, int, np.ndarray]:
    """Deterministic fake decode: geometry + 8-dim feature from bytes.

    STUB — raises for unknown types like a real codec would; replace
    with PIL.Image.open / soundfile / pyav for real media."""
    if media_type not in ("image", "audio", "video"):
        raise NotImplementedError(f"no codec for media_type={media_type!r}")
    b = np.frombuffer(blob or b"\x00", np.uint8)
    width = int(b[: 4].sum() % 640) + 1
    height = int(b[4:8].sum() % 480) + 1
    n_frames = 1 if media_type == "image" else int(b.sum() % 250) + 1
    # 8-bucket byte histogram as the stand-in feature vector — the
    # SAME helper the real paths use, so stub/real feature definitions
    # cannot silently diverge
    return width, height, n_frames, _bucket_hist(b)


def _bucket_hist(vals: np.ndarray) -> np.ndarray:
    """8-bucket histogram feature (top-3 bits of a uint8 view)."""
    hist = np.bincount((vals >> 5) & 7, minlength=8).astype(np.float32)
    return hist / max(hist.sum(), 1.0)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_gray(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Pure-stdlib PNG decode → (width, height, gray uint8 array).

    Handles 8-bit non-interlaced grayscale / gray+alpha / RGB / RGBA
    with all five scanline filters (None/Sub/Up/Average/Paeth) — the
    same zlib+struct trick the audio path plays with ``wave``, so the
    image branch of ``_decode_real`` executes genuinely in environments
    without PIL. RGB→gray uses PIL's exact ITU-R 601-2 integer formula
    (L = (R·19595 + G·38470 + B·7471 + 0x8000) >> 16) so the two real
    paths can never diverge bit-for-bit. Raises ValueError for
    non-PNG / unsupported layouts (16-bit, palette, interlaced) —
    ``codec_mode="auto"`` then falls back to the stub, ``"real"``
    propagates, exactly like a missing library."""
    import struct
    import zlib

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # chunk header + data + CRC
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if depth != 8 or channels is None or comp or filt or interlace:
        raise ValueError("unsupported PNG layout (need 8-bit non-interlaced)")
    if not w or not h:
        raise ValueError("empty PNG")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != (stride + 1) * h:
        raise ValueError("IDAT length mismatch")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    bpp = channels
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, stride, y * (stride + 1) + 1)
        if ftype == 0:  # None
            cur = line.astype(np.int32)
        elif ftype == 2:  # Up — vectorized, no left dependency
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth: left-to-right scan
            cur = np.empty(stride, np.int32)
            ln = line.tolist()
            pv = prev.tolist()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0  # left
                b = pv[i]  # above
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = pv[i - bpp] if i >= bpp else 0  # upper-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[i] = (ln[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, channels)
    if channels <= 2:  # gray or gray+alpha: luma is the gray channel
        gray = px[:, :, 0]
    else:
        rgb = px[:, :, :3].astype(np.uint32)
        gray = (
            (rgb[..., 0] * 19595 + rgb[..., 1] * 38470 + rgb[..., 2] * 7471 + 0x8000)
            >> 16
        ).astype(np.uint8)
    return int(w), int(h), gray


def png_blob(width: int, height: int, value: int) -> bytes:
    """One deterministic REAL 8-bit RGB PNG (constant pixel ``value``,
    filter-0 scanlines) — the image sibling of ``wav_blob``."""
    import binascii
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", binascii.crc32(ctype + data) & 0xFFFFFFFF)
        )

    row = b"\x00" + bytes([value & 0xFF]) * (width * 3)
    return (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(row * height, 6))
        + chunk(b"IEND", b"")
    )


def _decode_real(blob: bytes, media_type: str) -> tuple[int, int, int, np.ndarray]:
    """Real codec path. Raises ImportError when the library is absent
    and the codec's own parse error when the blob is not that media
    type — ``codec_mode="auto"`` catches both and falls back to the
    stub, ``"real"`` propagates."""
    import io

    if media_type == "image":
        try:
            from PIL import Image  # first guard: full-format codec
        except ImportError:
            # pure-stdlib PNG path (same gray formula as PIL convert("L"))
            w, h, gray = _png_gray(blob)
            return w, h, 1, _bucket_hist(gray.ravel())

        with Image.open(io.BytesIO(blob)) as img:
            gray = np.asarray(img.convert("L"), np.uint8)
        h, w = gray.shape[:2]
        return int(w), int(h), 1, _bucket_hist(gray.ravel())
    if media_type == "audio":
        import wave  # stdlib: this path runs for real in every env

        with wave.open(io.BytesIO(blob), "rb") as wav:
            n_frames = wav.getnframes()
            channels = wav.getnchannels()
            rate = wav.getframerate()
            width_bytes = wav.getsampwidth()
            raw = np.frombuffer(wav.readframes(n_frames), np.uint8)
        if width_bytes == 2:  # int16 PCM: histogram the high byte
            raw = (raw[1::2].astype(np.int16) ^ 0x80).astype(np.uint8)
        # (width, height) carry (channels, sample_rate) for audio —
        # documented overloading so the output schema stays one shape
        return int(channels), int(rate), int(n_frames), _bucket_hist(raw)
    if media_type == "video":
        import av  # import-guarded: absent in this container

        with av.open(io.BytesIO(blob)) as container:
            stream = container.streams.video[0]
            first = next(container.decode(stream))
            gray = first.to_ndarray(format="gray")
        return (
            int(stream.codec_context.width),
            int(stream.codec_context.height),
            int(stream.frames or 1),
            _bucket_hist(np.asarray(gray, np.uint8).ravel()),
        )
    raise NotImplementedError(f"no codec for media_type={media_type!r}")


def decode_media(
    df: DataFrame, media_col: str = "media", codec_mode: str = "auto"
) -> DataFrame:
    """mapInPandas decode: binary column → typed metadata + feature.

    ``codec_mode``: ``"auto"`` = real codec per record, stub fallback on
    missing library or unparseable blob; ``"real"`` = raise on failure;
    ``"stub"`` = deterministic fake only (what the driver oracle runs on
    its synthetic non-media bytes — "auto" gives the same result there
    because random bytes never carry a valid media magic).

    Batch shape matters at scale: media bytes dominate memory, so the
    Arrow batches of this stage are cut by bytes, not rows
    (spark.sql.execution.arrow.maxBytesPerBatch, 4 MiB under
    ``get_spark``; a batch ends after the row that crosses it)."""
    if codec_mode not in ("auto", "real", "stub"):
        raise ValueError(f"codec_mode must be auto|real|stub, got {codec_mode!r}")

    def decode_one(blob: bytes, mt: str) -> tuple[int, int, int, np.ndarray]:
        if codec_mode == "stub":
            return _decode_stub(blob, mt)
        if codec_mode == "real":
            return _decode_real(blob, mt)
        try:
            return _decode_real(blob, mt)
        except NotImplementedError:
            raise  # unknown media_type is a caller bug in every mode
        except Exception:
            return _decode_stub(blob, mt)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "width": [],
                "height": [],
                "n_frames": [],
                "feature": [],
            }
            for blob, mt in zip(pdf[media_col], pdf["media_type"]):
                w, h, nf, feat = decode_one(blob, mt)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["feature"].append(feat)
            yield pd.DataFrame(out)

    return df.mapInPandas(decode, _DECODED_FIELDS)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plan: one row per sampled frame index.

    Pure DataFrame expression (sequence+explode) — the decode of each
    sampled frame happens in decode_media downstream. Media with
    ``n_frames <= 0`` yield no sampled frames (explode drops the null
    array), rather than a spurious frame 0."""
    return df.withColumn(
        "frame_idx",
        F.explode(
            F.when(
                F.col("n_frames") > 0,
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n)),
            )
        ),
    )


def wav_blob(n_frames: int, rate: int, channels: int, seed: int = 0) -> bytes:
    """One deterministic REAL RIFF/WAVE blob (int16 PCM sine)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        t = np.arange(n_frames * channels, dtype=np.float64)
        w.writeframes(
            (np.sin(t / (7.0 + seed % 13)) * 12000).astype("<i2").tobytes()
        )
    return buf.getvalue()


def synth_audio_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL WAV blobs derived from the id column, encoded
    executor-side with the stdlib ``wave`` module — so
    ``decode_media(codec_mode="real")`` round-trips genuine media in
    any environment. Geometry is a pure function of the id
    (channels = 1 + id % 2, rate = 8000 + (id % 4)·2000,
    frames = 200 + id % 50), which makes the decoded metadata exactly
    SQL-mirrorable for the driver oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                wav_blob(
                    200 + int(i) % 50,
                    8000 + (int(i) % 4) * 2000,
                    1 + int(i) % 2,
                    seed=int(i),
                )
                for i in pdf[id_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "media": blobs,
                    "media_type": ["audio"] * len(pdf),
                }
            )

    return df.select(id_col).mapInPandas(gen, MEDIA_SCHEMA)


def synth_image_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL PNG blobs derived from the id column, encoded
    executor-side with ``png_blob`` (stdlib zlib+struct) — so
    ``decode_media(codec_mode="real")`` round-trips genuine images in
    any environment, PIL or not. Geometry and pixel value are pure
    functions of the id (width = 8 + id % 24, height = 6 + id % 17,
    value = (3 + id·37) % 256), which makes the decoded metadata AND
    the feature histogram (constant image → one-hot at bucket
    value >> 5) exactly SQL-mirrorable for the driver oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                png_blob(8 + int(i) % 24, 6 + int(i) % 17, (3 + int(i) * 37) % 256)
                for i in pdf[id_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "media": blobs,
                    "media_type": ["image"] * len(pdf),
                }
            )

    return df.select(id_col).mapInPandas(gen, MEDIA_SCHEMA)


def synth_media_table(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media fixture (binary payloads + types)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = [
        (
            i,
            rng.integers(0, 256, int(rng.integers(16, 256)), dtype=np.uint8).tobytes(),
            ("image", "audio", "video")[i % 3],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
