"""Pure-stdlib media codecs: PNG (zlib + numpy (un)filtering), WAV
(stdlib ``wave``), and an ISO-BMFF (mp4) container DEMUXER
(``parse_mp4_meta`` — generic box walk, 64-bit largesize, any box
order). These make the ``operators.multimodal`` decode kernels
genuine in-container for ``image/png``, ``audio/wav``, and mp4
container structure — no PIL/ffmpeg required. Only video
frame-PIXEL decode remains an external plug point (ffmpeg/pyav;
documented in operators/multimodal.py).

Reference parity note: the reference engine never stubs its output
serializer (``/root/reference/src/output.c:66-175`` is real
end-to-end); these codecs close the same gap for the media columns.

Scope (everything the synthetic media table and tests need):
  PNG  — 8-bit, color types 0 (gray), 2 (RGB), 6 (RGBA); all five
         scanline filters (None/Sub/Up/Average/Paeth) on decode; the
         encoder CYCLES filter types per row so a round-trip test
         genuinely exercises every decode path.
  WAV  — 16-bit PCM, any channel count / sample rate.
  MP4  — ISO-BMFF box walk (ftyp/moov/mvhd/trak/tkhd/stsz/mdat):
         dimensions, duration, frame count, mdat statistics; encoder
         emits a minimal valid container for round-trip tests.

Everything is per-row numpy; these run inside Arrow-batched
``mapInPandas`` workers, one small payload at a time — the distributed
scale axis is rows, not pixels.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> PNG color type
_CHANNELS = {0: 1, 2: 3, 6: 4}


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _filter_row(ftype: int, raw: np.ndarray, prior: np.ndarray, bpp: int) -> np.ndarray:
    """Apply PNG filter ``ftype`` to one raw scanline (all vectorized:
    the filter is a function of the RAW current and prior rows only)."""
    r = raw.astype(np.int32)
    left = np.concatenate([np.zeros(bpp, np.int32), r[:-bpp]]) if len(r) >= bpp else np.zeros_like(r)
    up = prior.astype(np.int32)
    upleft = np.concatenate([np.zeros(bpp, np.int32), up[:-bpp]]) if len(r) >= bpp else np.zeros_like(r)
    if ftype == 0:
        out = r
    elif ftype == 1:
        out = r - left
    elif ftype == 2:
        out = r - up
    elif ftype == 3:
        out = r - ((left + up) >> 1)
    elif ftype == 4:
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
        out = r - pred
    else:
        raise ValueError(f"bad filter {ftype}")
    return (out & 0xFF).astype(np.uint8)


def _unfilter_row(ftype: int, flt: np.ndarray, prior: np.ndarray, bpp: int) -> np.ndarray:
    """Reconstruct one scanline. None/Up are fully vectorized; Sub is a
    per-lane cumsum (mod distributes over +, so cumsum % 256 is exact);
    Average/Paeth scan pixel-groups left-to-right (vector of ``bpp``
    lanes per step — payloads are small, the scale axis is rows)."""
    f = flt.astype(np.int32)
    up = prior.astype(np.int32)
    n = len(f)
    if ftype == 0:
        return f.astype(np.uint8)
    if ftype == 2:
        return ((f + up) & 0xFF).astype(np.uint8)
    if ftype == 1:
        lanes = f.reshape(-1, bpp)
        return (np.cumsum(lanes, axis=0, dtype=np.int64) % 256).astype(np.uint8).reshape(-1)
    recon = np.zeros(n, np.int32)
    upleft = np.concatenate([np.zeros(bpp, np.int32), up[:-bpp]])
    if ftype == 3:
        for x0 in range(0, n, bpp):
            left = recon[x0 - bpp : x0] if x0 >= bpp else np.zeros(bpp, np.int32)
            recon[x0 : x0 + bpp] = (
                f[x0 : x0 + bpp] + ((left + up[x0 : x0 + bpp]) >> 1)
            ) & 0xFF
        return recon.astype(np.uint8)
    if ftype == 4:
        for x0 in range(0, n, bpp):
            left = recon[x0 - bpp : x0] if x0 >= bpp else np.zeros(bpp, np.int32)
            b = up[x0 : x0 + bpp]
            c = upleft[x0 : x0 + bpp]
            p = left + b - c
            pa, pb, pc = np.abs(p - left), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, b, c))
            recon[x0 : x0 + bpp] = (f[x0 : x0 + bpp] + pred) & 0xFF
        return recon.astype(np.uint8)
    raise ValueError(f"bad filter {ftype}")


def encode_png(arr: np.ndarray) -> bytes:
    """Encode an ``(H, W)`` or ``(H, W, C∈{3,4})`` uint8 array as PNG.

    Row ``i`` is written with filter ``i % 5`` so decoders (ours and
    anyone else's) exercise Sub/Up/Average/Paeth, not just None; output
    remains byte-deterministic.
    """
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        h, w, ch = a.shape[0], a.shape[1], 1
        rows = a.reshape(h, w)
    elif a.ndim == 3 and a.shape[2] in (3, 4):
        h, w, ch = a.shape
        rows = a.reshape(h, w * ch)
    else:
        raise ValueError(f"unsupported array shape {a.shape}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[ch], 0, 0, 0)
    bpp = ch
    out = bytearray()
    prior = np.zeros(w * ch, np.uint8)
    for i in range(h):
        ftype = i % 5
        out.append(ftype)
        out += _filter_row(ftype, rows[i], prior, bpp).tobytes()
        prior = rows[i]
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode PNG bytes → uint8 array ``(H, W)`` or ``(H, W, C)``."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = ch = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype not in _CHANNELS or inter != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth} color={ctype} interlace={inter})"
                )
            ch = _CHANNELS[ctype]
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    raw = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), np.uint8)
    prior = np.zeros(stride, np.uint8)
    for i in range(h):
        out[i] = _unfilter_row(int(raw[i, 0]), raw[i, 1:], prior, ch)
        prior = out[i]
    return out.reshape(h, w) if ch == 1 else out.reshape(h, w, ch)


def resize_nearest(img: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample (pixel-center mapping)."""
    h, w = img.shape[:2]
    ys = np.minimum(((np.arange(new_h) + 0.5) * h / new_h).astype(int), h - 1)
    xs = np.minimum(((np.arange(new_w) + 0.5) * w / new_w).astype(int), w - 1)
    return img[ys][:, xs]


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode int16 samples ``(n,)`` or ``(n, ch)`` as 16-bit PCM WAV."""
    a = np.asarray(samples, dtype=np.int16)
    ch = 1 if a.ndim == 1 else a.shape[1]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(ch)
        wf.setsampwidth(2)
        wf.setframerate(int(sample_rate))
        wf.writeframes(np.ascontiguousarray(a).tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode WAV bytes → (int16 array ``(n, ch)``, sample_rate)."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError(f"unsupported WAV sample width {wf.getsampwidth()}")
        ch = wf.getnchannels()
        sr = wf.getframerate()
        frames = wf.readframes(wf.getnframes())
    a = np.frombuffer(frames, dtype=np.int16).reshape(-1, ch)
    return a, sr


# ---------------------------------------------------------------------------
# MP4 container (ISO BMFF) — metadata-level codec
# ---------------------------------------------------------------------------
#
# A minimal but STRUCTURALLY VALID ISO base-media container: ftyp +
# moov(mvhd + trak(tkhd + mdia(mdhd + minf(stbl(stsz))))) + mdat, all
# version-0 full boxes, moov before mdat. The sample payload (mdat) is
# opaque — there is no stdlib video codec, and none is pretended: what
# IS real is the container layer, which is what a corpus pipeline needs
# for metadata extraction, validation, and routing. Frame-pixel decode
# remains the documented external plug (ffmpeg/pyav) in
# operators/multimodal.py.
#
# The writer emits a FIXED layout (constant box sizes, fields at
# constant offsets), which lets functions/binary_meta.py decode the
# same fields with pure JVM expressions; the PARSER below is a general
# box walker (any box order/extra boxes), not tied to that layout.

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def encode_mp4_stub(
    width: int,
    height: int,
    n_frames: int,
    fps: int = 30,
    mdat: bytes = b"",
    timescale: int = 600,
) -> bytes:
    """Fixed-layout stub MP4: real box tree, opaque sample data.

    Duration is ``n_frames / fps`` in mvhd/mdhd units of ``timescale``;
    tkhd carries width/height as 16.16 fixed point; stsz carries the
    sample (frame) count with sample_size=0 (per-sample sizes omitted —
    there are no real samples)."""
    dur = int(round(n_frames * timescale / fps))
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3xIIII", 0, 0, 0, timescale, dur)  # ver/flags, c/m times, scale, dur
        + struct.pack(">IHH8x", 0x00010000, 0x0100, 0)    # rate, volume, reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)  # matrix
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)            # pre_defined
        + struct.pack(">I", 2),                           # next_track_id
    )
    tkhd = _box(
        b"tkhd",
        struct.pack(">B3xIIII", 0, 0, 0, 1, 0)            # ver/flags, c/m, track_id, reserved
        + struct.pack(">I8x", dur)                        # duration, reserved
        + struct.pack(">HHHH", 0, 0, 0, 0)                # layer, group, volume, reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed
    )
    mdhd = _box(
        b"mdhd",
        struct.pack(">B3xIIII", 0, 0, 0, timescale, dur) + struct.pack(">HH", 0x55C4, 0),
    )
    stsz = _box(b"stsz", struct.pack(">B3xII", 0, 0, n_frames))
    stbl = _box(b"stbl", stsz)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + moov + _box(b"mdat", mdat)


def parse_mp4_meta(data: bytes) -> dict:
    """General ISO-BMFF box walk → container metadata dict with keys
    ``brand, timescale, duration_units, duration_s, width, height,
    n_frames, mdat_bytes``. Raises ValueError on a non-MP4 payload.
    Walks ANY box order (not just the stub writer's fixed layout);
    64-bit largesize boxes are handled; unknown boxes are skipped."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no leading ftyp box)")
    out = {
        "brand": data[8:12].decode("latin1"),
        "timescale": None, "duration_units": None, "duration_s": None,
        "width": None, "height": None, "n_frames": None, "mdat_bytes": None,
    }

    def walk(lo: int, hi: int) -> None:
        pos = lo
        while pos + 8 <= hi:
            size = struct.unpack(">I", data[pos : pos + 4])[0]
            typ = data[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
                body = pos + 16
            elif size == 0:  # box extends to end
                size = hi - pos
            if size < 8 or pos + size > hi:
                raise ValueError(f"corrupt box {typ!r} at {pos}")
            if typ in _MP4_CONTAINERS:
                walk(body, pos + size)
            elif typ == b"mvhd":
                ver = data[body]
                o = body + 4 + (16 if ver == 1 else 8)
                ts = struct.unpack(">I", data[o : o + 4])[0]
                dur = (
                    struct.unpack(">Q", data[o + 4 : o + 12])[0]
                    if ver == 1
                    else struct.unpack(">I", data[o + 4 : o + 8])[0]
                )
                out["timescale"], out["duration_units"] = ts, dur
                out["duration_s"] = dur / ts if ts else None
            elif typ == b"tkhd":
                ver = data[body]
                w_off = pos + size - 8
                w16, h16 = struct.unpack(">II", data[w_off : w_off + 8])
                out["width"], out["height"] = w16 >> 16, h16 >> 16
            elif typ == b"stsz":
                out["n_frames"] = struct.unpack(
                    ">I", data[body + 8 : body + 12]
                )[0]
            elif typ == b"mdat":
                out["mdat_bytes"] = size - (body - pos)
            pos += size

    walk(0, len(data))
    return out
