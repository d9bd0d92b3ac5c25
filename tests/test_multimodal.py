"""Multimodal: Arrow binary batches through mapInPandas, REAL in-container
PNG/WAV decode kernels (stdlib zlib/wave + numpy), frame-sampling plan."""

from __future__ import annotations

import numpy as np
import pytest

from turboxsl_spark.operators import codecs
from turboxsl_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample,
    gen_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return gen_media(spark, n=30).cache()


def test_png_roundtrip_all_filters_and_depths():
    """Encoder cycles filters 0-4 per row, so a >=5-row image proves
    every unfilter path (None/Sub/Up/Average/Paeth) on gray/RGB/RGBA."""
    rng = np.random.default_rng(3)
    for shape in [(8, 5), (16, 12, 3), (9, 7, 4), (1, 1), (5, 1, 3)]:
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        b = codecs.decode_png(codecs.encode_png(a))
        assert b.shape == a.shape and (a == b).all(), shape
    grad = (np.arange(64)[:, None] * 7 + np.arange(48)[None, :]).astype(np.uint8)
    assert (codecs.decode_png(codecs.encode_png(grad)) == grad).all()


def test_wav_roundtrip():
    rng = np.random.default_rng(4)
    mono = (np.sin(np.arange(4000) / 9) * 25000).astype(np.int16)
    a, sr = codecs.decode_wav(codecs.encode_wav(mono, 16000))
    assert sr == 16000 and (a[:, 0] == mono).all()
    stereo = rng.integers(-32768, 32767, (700, 2)).astype(np.int16)
    b, sr2 = codecs.decode_wav(codecs.encode_wav(stereo, 44100))
    assert sr2 == 44100 and (b == stereo).all()


def test_extract_features_shape_and_determinism(spark, media):
    a = extract_features(media).toPandas().sort_values("media_id").reset_index(drop=True)
    b = extract_features(media).toPandas().sort_values("media_id").reset_index(drop=True)
    assert len(a) == 30
    assert all(len(f) == FEATURE_DIM for f in a["features"])
    assert all(0.0 <= x <= 1.0 for f in a["features"] for x in f)
    for fa, fb in zip(a["features"], b["features"]):
        assert list(fa) == list(fb)
    assert (a["n_bytes"] > 0).all()


def test_real_decode_features_match_payload(spark, media):
    """The kernels genuinely decode: the width/height features of
    every image row must equal the PNG header dims recorded in meta,
    and the sample-rate feature of every audio row must equal meta's."""
    got = (
        extract_features(media.where("kind != 'video'"))
        .toPandas()
        .set_index("media_id")
    )
    meta = (
        media.selectExpr(
            "media_id", "kind", "meta.width AS w", "meta.height AS h",
            "meta.sample_rate AS sr",
        )
        .where("kind != 'video'")
        .toPandas()
        .set_index("media_id")
    )
    assert len(got) == len(meta) > 0
    for mid, row in meta.iterrows():
        f = np.asarray(got.loc[mid, "features"], dtype=np.float64)
        assert (0.0 <= f).all() and (f <= 1.0).all()
        if row["kind"] == "image":
            assert round(f[0] * 4096) == row["w"]
            assert round(f[1] * 4096) == row["h"]
            # histogram fractions sum to 1
            assert abs(f[5:].sum() - 1.0) < 1e-5
        else:
            assert round(f[0] * 48000) == row["sr"]
            # spectral band fractions sum to 1
            assert abs(f[4:].sum() - 1.0) < 1e-5


def test_real_video_decode_demuxes_container(spark, media):
    """Video rows now get a GENUINE ISO-BMFF container demux: the
    feature head must reproduce the recorded meta (dimensions, frame
    count) and the mdat byte statistics — only frame-PIXEL decode
    remains the documented external plug."""
    rows = (
        extract_features(media.where("kind = 'video'"))
        .join(media.select("media_id", "meta", "payload"), "media_id")
        .collect()
    )
    assert rows
    from turboxsl_spark.operators.codecs import parse_mp4_meta

    for r in rows:
        f = np.array(r["features"])
        meta = r["meta"]
        assert abs(f[0] - min(meta["width"] / 4096.0, 1.0)) < 1e-6
        assert abs(f[1] - min(meta["height"] / 4096.0, 1.0)) < 1e-6
        assert abs(f[2] - min(meta["n_frames"] / 300.0, 1.0)) < 1e-6
        m = parse_mp4_meta(bytes(r["payload"]))
        assert (m["width"], m["height"], m["n_frames"]) == (
            meta["width"], meta["height"], meta["n_frames"]
        )
        assert abs(f[3] - min(m["duration_s"] / 60.0, 1.0)) < 1e-6
        assert f[5] > 0  # mdat byte mean of seeded bytes


def test_mp4_stub_roundtrip_and_box_walk():
    """encode_mp4_stub → parse_mp4_meta roundtrip, including the
    box-walk generality: an extra unknown box and a free box before
    moov must not derail parsing."""
    import struct

    from turboxsl_spark.operators.codecs import encode_mp4_stub, parse_mp4_meta

    b = encode_mp4_stub(1280, 720, 150, fps=25, mdat=b"\xab" * 512)
    m = parse_mp4_meta(b)
    assert (m["width"], m["height"], m["n_frames"], m["mdat_bytes"]) == (
        1280, 720, 150, 512
    )
    assert abs(m["duration_s"] - 6.0) < 1e-9 and m["brand"] == "isom"
    # splice an unknown box between ftyp and moov — general walk skips it
    ftyp, rest = b[:20], b[20:]
    free = struct.pack(">I", 16) + b"free" + b"\x00" * 8
    m2 = parse_mp4_meta(ftyp + free + rest)
    assert (m2["width"], m2["n_frames"]) == (1280, 150)
    with pytest.raises(ValueError):
        parse_mp4_meta(b"\x00" * 64)


def test_resize_images_aspect_and_bounds(spark, media):
    from turboxsl_spark.operators.multimodal import resize_images

    out = resize_images(media, max_dim=100).toPandas()
    src = (
        media.where("kind = 'image'")
        .selectExpr("media_id", "meta.width AS w0", "meta.height AS h0")
        .toPandas()
        .set_index("media_id")
    )
    assert len(out) == len(src)
    for _, r in out.iterrows():
        w0, h0 = src.loc[r["media_id"], ["w0", "h0"]]
        assert r["width"] <= 100 and r["height"] <= 100
        assert r["width"] <= w0 and r["height"] <= h0  # never upscale
        # aspect preserved within integer truncation
        if max(w0, h0) > 100:
            scale = 100 / max(w0, h0)
            assert abs(r["width"] - int(w0 * scale)) <= 1
            assert abs(r["height"] - int(h0 * scale)) <= 1
        else:
            assert (r["width"], r["height"]) == (w0, h0)
        # output payload IS the resized image — decode and check
        img = codecs.decode_png(bytes(r["payload"]))
        assert img.shape[0] == r["height"] and img.shape[1] == r["width"]


def test_resize_real_pixels_match_reference(spark, media):
    """The re-encoded payload's pixels equal a local decode→nearest→
    compare reference for one deterministic image."""
    from turboxsl_spark.operators.multimodal import resize_images

    src = (
        media.where("kind = 'image'")
        .select("media_id", "payload")
        .toPandas()
        .set_index("media_id")
    )
    out = (
        resize_images(media, max_dim=40)
        .toPandas()
        .set_index("media_id")
    )
    checked = 0
    for mid in out.index:
        orig = codecs.decode_png(bytes(src.loc[mid, "payload"]))
        h0, w0 = orig.shape[:2]
        if max(h0, w0) <= 40:
            continue
        scale = 40 / max(h0, w0)
        want = codecs.resize_nearest(orig, max(1, int(w0 * scale)), max(1, int(h0 * scale)))
        got = codecs.decode_png(bytes(out.loc[mid, "payload"]))
        assert (got == want).all()
        checked += 1
    assert checked > 0


def test_frame_sample_plan(spark, media):
    fs = frame_sample(media, every_n=30).toPandas()
    assert (fs["frame_idx"] % 30 == 0).all()
    n_videos = media.where("kind = 'video'").count()
    assert fs["media_id"].nunique() == n_videos


def test_binary_meta_jvm_header_parse(spark, media):
    """functions/binary_meta.py parses PNG IHDR / WAV fmt headers with
    pure JVM expressions; decoded values must equal the recorded meta
    struct for every generated payload, and garbage bytes → NULL."""
    from pyspark.sql import functions as F

    from turboxsl_spark.functions.binary_meta import png_meta, wav_meta

    rows = media.select(
        "media_id",
        "kind",
        "meta",
        png_meta(F.col("payload")).alias("pm"),
        wav_meta(F.col("payload")).alias("wm"),
    ).collect()
    n_img = n_aud = 0
    for r in rows:
        if r["kind"] == "image":
            n_img += 1
            assert r["pm"] is not None and r["wm"] is None
            assert r["pm"]["width"] == r["meta"]["width"]
            assert r["pm"]["height"] == r["meta"]["height"]
            assert r["pm"]["bit_depth"] == 8
            assert r["pm"]["channels"] in (1, 2, 3, 4)
        elif r["kind"] == "audio":
            n_aud += 1
            assert r["wm"] is not None and r["pm"] is None
            assert r["wm"]["sample_rate"] == r["meta"]["sample_rate"]
            assert r["wm"]["channels"] == 1
            assert r["wm"]["bits_per_sample"] == 16
        else:  # video stand-in bytes: neither header parses
            assert r["pm"] is None and r["wm"] is None
    assert n_img > 0 and n_aud > 0
    # plan stays Python-free: header math is Catalyst expressions only
    explained = media.select(
        png_meta(F.col("payload")).alias("m")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in explained and "BatchEvalPython" not in explained


def test_multimodal_meta_query_invariant(spark):
    import __spark_entry__ as m

    out = m.q_multimodal_meta(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 48
    for r in out:
        # ALL kinds now JVM-header-validate: PNG IHDR, WAV fmt, and the
        # MP4 stub layout (mvhd/tkhd/stsz at the writer's offsets)
        assert r["hdr_ok"] is True, (r["media_id"], r["kind"])


def test_binary_meta_overflow_guard(spark):
    """A payload that passes the magic check but carries a bit-31
    width must yield NULL (mismatch), never an ANSI cast exception —
    header validation of untrusted bytes cannot abort the stage."""
    from pyspark.sql import functions as F

    from turboxsl_spark.functions.binary_meta import png_meta

    sig = bytes.fromhex("89504E470D0A1A0A")
    evil = sig + (13).to_bytes(4, "big") + b"IHDR" + (0x80000000).to_bytes(4, "big") + (16).to_bytes(4, "big") + bytes([8, 0, 0, 0, 0])
    df = spark.createDataFrame([(1, bytearray(evil))], "id long, payload binary")
    row = df.select(png_meta(F.col("payload")).alias("m")).collect()[0]
    assert row["m"] is not None          # magic matched
    assert row["m"]["width"] is None     # guarded, not thrown
    assert row["m"]["height"] == 16
