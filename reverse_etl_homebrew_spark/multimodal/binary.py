"""Multimodal (image/audio/video) column plumbing (SURVEY.md §2.11).

Media is carried as an opaque ``binary`` column plus a typed metadata
struct — the only layout that scales: bytes stay columnar in
parquet/Arrow, metadata prunes without touching payloads, and decode
happens in Arrow-batched Python (``mapInPandas``) only on the rows
that survive metadata pruning.

Codecs (stdlib-only, no external media libraries):

- ``image/png`` — REAL decode: chunk walk, IHDR dims, IDAT zlib
  inflate, per-scanline filter reconstruction (None/Sub/Up/Average/
  Paeth), pixel statistics as features;
- ``audio/wav`` — REAL decode: RIFF/``wave`` parse, PCM samples,
  RMS / zero-crossing / peak features;
- ``video/mp4`` — container demux is REAL: box walk to ``moov/mvhd``
  (timescale+duration) and the full sample table (``stsd/stts/stsz/
  stsc/stco``) → per-frame codec fourcc, dimensions, timestamps, and
  absolute byte ranges (``mp4_sample_table`` / ``video_frame_index``).
  Frame-content features are REAL pixel statistics for the
  uncompressed ``'raw '`` codec (RGB24 planes sliced straight out of
  mdat and decoded) AND for Motion-JPEG (``'jpeg'`` fourcc): each
  frame is a standalone baseline JPEG, decoded by a real stdlib
  Huffman + DC-plane decoder (``decode_jpeg_dc``) to the standard
  8x-downsampled image. Inter-frame-predicted bitstreams (H.264 etc.,
  out of stdlib reach) keep a clearly-marked deterministic stub and
  are labeled ``content_source="stub-hash"`` in the output.

Per-row decode failures become ``decode_ok=false`` rows (the DLQ
pattern applied to media) — a poisoned payload never fails the task.
"""

from __future__ import annotations

import functools
import hashlib
import io
import struct
import wave
import zlib
from typing import Iterator, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

#: media row: opaque payload + typed, prunable metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("kind", T.StringType()),  # image|audio|video
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("decode_ok", T.BooleanType()),
        # decoded FROM the payload, independent of the meta struct —
        # lets callers audit metadata drift against ground truth
        T.StructField("dec_width", T.IntegerType()),
        T.StructField("dec_height", T.IntegerType()),
        T.StructField("dec_duration_ms", T.LongType()),
        # "pixels" | "pcm" | "stub-hash": what the feature vector was
        # computed FROM — consumers can filter out stubbed codecs
        T.StructField("content_source", T.StringType()),
    ]
)


# ---------------------------------------------------------------------------
# PNG codec (stdlib: struct + zlib)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal RGB8 PNG writer (filter 0 rows) — test/demo payloads."""
    assert len(rgb) == width * height * 3
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + rgb[y * width * 3 : (y + 1) * width * 3] for y in range(height)
    )
    idat = zlib.compress(raw)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _png_unfilter(raw: bytes, width: int, height: int, ch: int) -> bytes:
    """PNG scanline filter reconstruction (spec §9, all 5 types)."""
    stride = width * ch
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for x in range(ch, stride):
                line[x] = (line[x] + line[x - ch]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter {ftype}")
        out += line
        prev = line
    return bytes(out)


def decode_png(payload: bytes) -> Tuple[int, int, int, bytes]:
    """→ (width, height, channels, pixel bytes). 8-bit depth only."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, ch, idat = 8, None, None, None, b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
            if depth != 8 or ctype not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG (depth={depth}, type={ctype})")
            if body[12] != 0:  # Adam7 passes would garble the
                raise ValueError("unsupported PNG (interlaced)")  # sequential unfilter
            ch = _PNG_CHANNELS[ctype]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    pixels = _png_unfilter(zlib.decompress(idat), width, height, ch)
    return width, height, ch, pixels


def _png_features(payload: bytes) -> Tuple[list, int, int]:
    import numpy as np

    width, height, ch, pixels = decode_png(payload)
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, ch)
    means = [float(arr[..., c].mean()) / 255.0 for c in range(min(ch, 3))]
    means += [0.0] * (3 - len(means))
    feat = [
        min(width / 4096.0, 1.0),
        min(height / 4096.0, 1.0),
        ch / 4.0,
        *means,
        float(arr.std()) / 255.0,
        min(width / max(height, 1) / 8.0, 1.0),  # aspect, clamped
    ]
    return feat[:FEATURE_DIM], width, height


# ---------------------------------------------------------------------------
# WAV codec (stdlib: wave)
# ---------------------------------------------------------------------------

def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Mono int16 PCM WAV writer — test/demo payloads."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def decode_wav(payload: bytes):
    """→ (sample_rate, n_channels, np.int16 samples)."""
    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM supported")
        rate, nch = w.getframerate(), w.getnchannels()
        data = w.readframes(w.getnframes())
    return rate, nch, np.frombuffer(data, dtype=np.int16)


def _wav_features(payload: bytes) -> Tuple[list, int]:
    import numpy as np

    rate, nch, samples = decode_wav(payload)
    x = samples.astype(np.float64) / 32768.0
    duration_ms = int(len(x) / nch / rate * 1000)
    # a zero-frame WAV is structurally valid — all content features 0
    empty = len(x) == 0
    zcr = float(np.mean(np.abs(np.diff(np.sign(x))) > 0)) if len(x) > 1 else 0.0
    feat = [
        min(duration_ms / 60_000.0, 1.0),
        min(rate / 48_000.0, 1.0),
        nch / 2.0,
        0.0 if empty else float(np.sqrt(np.mean(x**2))),  # rms
        zcr,
        0.0 if empty else float(np.mean(np.abs(x))),
        0.0 if empty else float(np.max(np.abs(x))),
        0.0,
    ]
    return feat[:FEATURE_DIM], duration_ms


# ---------------------------------------------------------------------------
# MP4 container parsing (box walk; REAL: mvhd duration, full sample
# table stsd/stts/stsz/stsc/stco → per-frame byte ranges. Only pixel
# decode of the codec bitstream inside a frame stays stubbed.)
# ---------------------------------------------------------------------------


def _box(tag: bytes, *payloads: bytes) -> bytes:
    body = b"".join(payloads)
    return struct.pack(">I", 8 + len(body)) + tag + body


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (tag, body_start, body_end) for the boxes in buf[start:end]."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        if size < 8 or pos + size > end:
            return
        yield tag, pos + 8, pos + size
        pos += size


def _descend(buf: bytes, start: int, end: int, path: Tuple[bytes, ...]):
    """Body range of the first box at a nested tag path, or None."""
    if not path:
        return start, end
    for tag, b0, b1 in _iter_boxes(buf, start, end):
        if tag == path[0]:
            got = _descend(buf, b0, b1, path[1:])
            if got is not None:
                return got
    return None

def mp4_duration_ms(payload: bytes) -> Optional[int]:
    """Walk top-level boxes to moov/mvhd and read timescale+duration —
    real container parsing; returns None when no mvhd is present."""
    def walk(buf: bytes, start: int, end: int) -> Optional[int]:
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", buf[pos : pos + 4])
            tag = buf[pos + 4 : pos + 8]
            if size < 8:
                return None
            if tag == b"moov":
                got = walk(buf, pos + 8, pos + size)
                if got is not None:
                    return got
            elif tag == b"mvhd":
                body = buf[pos + 8 : pos + size]
                version = body[0]
                if version == 1:
                    timescale, duration = struct.unpack(">IQ", body[20:32])
                else:
                    timescale, duration = struct.unpack(">II", body[12:20])
                return int(duration * 1000 / timescale) if timescale else None
            pos += size
        return None

    if len(payload) < 8 or payload[4:8] != b"ftyp":
        raise ValueError("not an mp4")
    return walk(payload, 0, len(payload))


#: media timescale for encoded skeletons (90 kHz, the MPEG convention)
_MP4_MEDIA_TS = 90_000
_MP4_FPS = 4


def _mp4_frame_bytes(content_seed: bytes, idx: int, size: int) -> bytes:
    """Deterministic per-frame payload bytes (stands in for a codec
    bitstream — the bytes and their container offsets are real)."""
    out = b""
    n = 0
    while len(out) < size:
        out += hashlib.sha256(content_seed + struct.pack(">II", idx, n)).digest()
        n += 1
    return out[:size]


def _rawvideo_frame_bytes(
    content_seed: bytes, idx: int, width: int, height: int
) -> bytes:
    """One REAL uncompressed RGB24 frame: a deterministic gradient that
    shifts per frame (so inter-frame motion is non-zero) and varies
    with the seed (so two videos have distinct pixel content)."""
    s = sum(content_seed) % 256
    return bytes(
        (x * 3 + y * 5 + c * 17 + idx * 11 + s) % 256
        for y in range(height)
        for x in range(width)
        for c in range(3)
    )


def encode_mp4_skeleton(
    duration_ms: int,
    content_seed: bytes = b"",
    codec: str = "avc1",
    width: int = 64,
    height: int = 48,
) -> bytes:
    """ftyp + moov (mvhd, full video trak with a REAL sample table:
    stsd/stts/stsz/stsc/stco) + mdat at ``_MP4_FPS`` frames per second
    — a structurally valid mp4 whose per-frame byte ranges are
    recoverable by any conformant demuxer.

    ``codec="avc1"`` (default): frame contents are deterministic
    pseudo-bitstreams (no pure-stdlib H.264 decoder exists — those
    features stay stubbed and labeled). ``codec="raw "`` (QuickTime
    uncompressed RGB24): frames are REAL packed pixel data that
    ``_rawvideo_content_features`` decodes for pixel-derived features.
    ``codec="jpeg"`` (QuickTime Motion-JPEG): each frame is a REAL
    standalone baseline JPEG (``encode_mjpeg_frame``) that
    ``decode_jpeg_dc`` decodes back to pixels.
    """
    n_samples = max(1, duration_ms * _MP4_FPS // 1000)
    delta = _MP4_MEDIA_TS // _MP4_FPS
    jpeg_frames: list = []
    if codec == "raw ":
        sizes = [width * height * 3] * n_samples
    elif codec == "jpeg":
        jpeg_frames = [
            encode_mjpeg_frame(
                width, height, _rawvideo_frame_bytes(content_seed, i, width, height)
            )
            for i in range(n_samples)
        ]
        sizes = [len(f) for f in jpeg_frames]
    else:
        sizes = [24 + (i % 7) * 8 for i in range(n_samples)]

    ftyp = struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x02\x00"
    mvhd = _box(
        b"mvhd",
        b"\x00" * 4,  # version+flags
        b"\x00" * 8,  # creation/modification
        struct.pack(">II", 1000, duration_ms),  # movie timescale = ms
        b"\x00" * 80,
    )

    def build_moov(first_frame_offset: int) -> bytes:
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07",  # v0, enabled|in-movie|in-preview
            b"\x00" * 8,
            struct.pack(">II", 1, 0),  # track id, reserved
            struct.pack(">I", duration_ms),
            b"\x00" * 60,
        )
        mdhd = _box(
            b"mdhd",
            b"\x00" * 4,
            b"\x00" * 8,
            struct.pack(">II", _MP4_MEDIA_TS, n_samples * delta),
            b"\x00" * 4,  # language + predefined
        )
        hdlr = _box(b"hdlr", b"\x00" * 8, b"vide", b"\x00" * 12, b"\x00")
        # one visual sample entry (78-byte description), fourcc = codec
        entry = _box(
            codec.encode("ascii"),
            b"\x00" * 6 + struct.pack(">H", 1),  # reserved, data_ref_idx
            b"\x00" * 16,
            struct.pack(">HH", width, height),
            b"\x00" * 14,
            b"\x00" * 32,  # compressorname
            struct.pack(">Hh", 24, -1),  # depth, pre_defined
        )
        stsd = _box(b"stsd", b"\x00" * 4, struct.pack(">I", 1), entry)
        stts = _box(
            b"stts", b"\x00" * 4, struct.pack(">III", 1, n_samples, delta)
        )
        stsc = _box(
            b"stsc", b"\x00" * 4, struct.pack(">IIII", 1, 1, n_samples, 1)
        )
        stsz = _box(
            b"stsz",
            b"\x00" * 4,
            struct.pack(">II", 0, n_samples),
            b"".join(struct.pack(">I", s) for s in sizes),
        )
        stco = _box(
            b"stco", b"\x00" * 4, struct.pack(">II", 1, first_frame_offset)
        )
        stbl = _box(b"stbl", stsd, stts, stsc, stsz, stco)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd, hdlr, minf)
        trak = _box(b"trak", tkhd, mdia)
        return _box(b"moov", mvhd, trak)

    # stco holds an absolute file offset into mdat; moov's size is
    # offset-independent (stco is fixed-width), so one sizing pass
    moov_len = len(build_moov(0))
    first_off = len(ftyp) + moov_len + 8  # + mdat header
    moov = build_moov(first_off)
    if codec == "raw ":
        frames = b"".join(
            _rawvideo_frame_bytes(content_seed, i, width, height)
            for i in range(n_samples)
        )
    elif codec == "jpeg":
        frames = b"".join(jpeg_frames)
    else:
        frames = b"".join(
            _mp4_frame_bytes(content_seed, i, s) for i, s in enumerate(sizes)
        )
    mdat = _box(b"mdat", frames)
    return ftyp + moov + mdat


def mp4_sample_table(payload: bytes) -> dict:
    """REAL demux of the mp4 sample table: codec fourcc from stsd,
    per-sample timestamps from stts (run-length expanded against the
    mdhd media timescale), sizes from stsz, absolute byte offsets from
    stsc x stco chunk mapping. Returns
    ``{"codec", "timescale", "samples": [(idx, ts_ms, offset, size)]}``.

    This is the scale path for video: frame sampling = ranged reads at
    these offsets, no full-payload decode. (Reference treats media as
    opaque blobs; this engine indexes them — SURVEY.md §2.11.)
    """
    if len(payload) < 8 or payload[4:8] != b"ftyp":
        raise ValueError("not an mp4")
    stbl = _descend(
        payload, 0, len(payload), (b"moov", b"trak", b"mdia", b"minf", b"stbl")
    )
    if stbl is None:
        raise ValueError("mp4 has no sample table")
    mdhd = _descend(payload, 0, len(payload), (b"moov", b"trak", b"mdia", b"mdhd"))
    if mdhd is None:
        # stbl without mdhd: malformed; raise ValueError so callers'
        # demux except-clauses route it to the media DLQ, never a task
        # failure (a bare TypeError here would escape them)
        raise ValueError("mp4 has no mdhd")
    version = payload[mdhd[0]]
    timescale = struct.unpack(
        ">I", payload[mdhd[0] + (20 if version == 1 else 12) :][:4]
    )[0]

    boxes = {tag: (b0, b1) for tag, b0, b1 in _iter_boxes(payload, *stbl)}
    for need in (b"stsd", b"stts", b"stsz", b"stsc", b"stco"):
        if need not in boxes:
            raise ValueError(f"mp4 sample table missing {need.decode()}")

    b0, b1 = boxes[b"stsd"]
    codec = payload[b0 + 12 : b0 + 16].decode("ascii", "replace")
    # visual sample entry layout: 8B box header, then 8B reserved/dataref,
    # 16B predefined, then width/height — present for 'vide' tracks
    width = height = None
    if b0 + 44 <= b1:
        width, height = struct.unpack(">HH", payload[b0 + 40 : b0 + 44])
        if not (0 < width <= 16384 and 0 < height <= 16384):
            width = height = None

    b0, _ = boxes[b"stts"]
    (n_runs,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
    deltas: list = []
    for i in range(n_runs):
        cnt, dlt = struct.unpack(">II", payload[b0 + 8 + 8 * i : b0 + 16 + 8 * i])
        deltas.extend([dlt] * cnt)

    b0, _ = boxes[b"stsz"]
    uniform, n_samples = struct.unpack(">II", payload[b0 + 4 : b0 + 12])
    if uniform:
        sizes = [uniform] * n_samples
    else:
        sizes = list(
            struct.unpack(f">{n_samples}I", payload[b0 + 12 : b0 + 12 + 4 * n_samples])
        )

    b0, _ = boxes[b"stco"]
    (n_chunks,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
    chunk_offsets = list(
        struct.unpack(f">{n_chunks}I", payload[b0 + 8 : b0 + 8 + 4 * n_chunks])
    )

    b0, _ = boxes[b"stsc"]
    (n_ent,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
    stsc = [
        struct.unpack(">III", payload[b0 + 8 + 12 * i : b0 + 20 + 12 * i])
        for i in range(n_ent)
    ]
    # expand sample-to-chunk runs: entry i applies to chunks
    # [first_chunk_i, first_chunk_{i+1})
    samples_per_chunk = []
    for i, (first, per, _desc) in enumerate(stsc):
        last = stsc[i + 1][0] if i + 1 < n_ent else n_chunks + 1
        samples_per_chunk.extend([per] * (last - first))

    samples = []
    ts_units = 0
    si = 0
    for ci, coff in enumerate(chunk_offsets):
        off = coff
        for _ in range(samples_per_chunk[ci] if ci < len(samples_per_chunk) else 0):
            if si >= n_samples:
                break
            ts_ms = ts_units * 1000 // timescale if timescale else 0
            samples.append((si, ts_ms, off, sizes[si]))
            off += sizes[si]
            ts_units += deltas[si] if si < len(deltas) else 0
            si += 1
    return {
        "codec": codec,
        "timescale": timescale,
        "width": width,
        "height": height,
        "samples": samples,
    }


def _stub_content_features(payload: bytes, k: int) -> list:
    """Deterministic pseudo-features from payload bytes — the
    explicitly-stubbed stand-in for codecs without a stdlib decoder
    (H.264 etc.); outputs carrying these are labeled "stub-hash"."""
    h = hashlib.sha256(payload).digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(k)]


def _video_feature_agg(frames: list, k: int) -> list:
    """Numpy-vectorized feature aggregation over equal-size RGB24
    frame buffers: channel means, mean luma, luma std, inter-frame
    motion (mean |Δluma| of consecutive frames).

    SHARED by the mdat decode paths (`_rawvideo_content_features`,
    `_mjpeg_content_features`) and the generation-time oracle fixture
    (multimodal/fixture.py `_video_content_truth`), so the decoder
    output and the oracle expectation go through bit-identical float
    reductions — numpy's pairwise sums are deterministic for a given
    shape, and both sides see the same shape."""
    import numpy as np

    n_used = len(frames)
    f = (
        np.frombuffer(b"".join(frames), np.uint8)
        .reshape(n_used, -1, 3)
        .astype(np.float64)
    )
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    luma = 0.299 * r + 0.587 * g + 0.114 * b  # (frames, pixels)
    l_m = luma.mean(axis=1)
    lvar = float(((luma - l_m[:, None]) ** 2).mean(axis=1).sum())
    motion = (
        float(np.abs(luma[1:] - luma[:-1]).mean(axis=1).sum())
        if n_used > 1
        else 0.0
    )
    feat = [
        float(r.mean(axis=1).sum()) / n_used / 255.0,
        float(g.mean(axis=1).sum()) / n_used / 255.0,
        float(b.mean(axis=1).sum()) / n_used / 255.0,
        float(l_m.sum()) / n_used / 255.0,
        min((lvar / n_used) ** 0.5 / 255.0, 1.0),
        min(motion / max(n_used - 1, 1) / 255.0, 1.0),
    ]
    return (feat + [0.0] * k)[:k]


# frames the pixel-decoding video paths sample per payload
_SAMPLED_FRAMES = 8


def _rawvideo_content_features(payload: bytes, tab: dict, k: int) -> Optional[list]:
    """REAL pixel decode for 'raw ' (QuickTime uncompressed RGB24)
    video: sample up to ``_SAMPLED_FRAMES`` evenly spaced frames, decode the
    packed pixels sliced straight out of mdat, and reduce to channel
    means, luma statistics, and inter-frame motion (mean |Δluma| of
    consecutive sampled frames). Returns None when the geometry doesn't
    match (caller falls back to the labeled stub)."""
    w, h = tab.get("width"), tab.get("height")
    samples = tab["samples"]
    if not (w and h and samples):
        return None
    frame_len = w * h * 3
    step = max(1, len(samples) // _SAMPLED_FRAMES)
    picked = samples[::step][:_SAMPLED_FRAMES]
    frames = []
    for _idx, _ts, off, size in picked:
        frame = payload[off : off + size]
        if size != frame_len or len(frame) != frame_len:
            return None
        frames.append(frame)
    if not frames:
        return None
    return _video_feature_agg(frames, k)


# ---------------------------------------------------------------------------
# Motion-JPEG codec (stdlib-only baseline JPEG, DC-plane decode)
# ---------------------------------------------------------------------------

#: uniform quantization step for encoded skeleton frames.
_JPEG_Q = 16

# minimal canonical Huffman tables the ENCODER emits (the decoder
# never assumes them — it reads whatever DHT the stream carries):
# DC: categories 0..11, all at code length 4 (12 of 16 length-4 codes,
# all-ones code unused per spec); AC: the single symbol 0x00 (EOB) at
# code length 1.
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_VALS = list(range(12))
_ENC_AC_BITS = [1] + [0] * 15
_ENC_AC_VALS = [0x00]


def _huff_canonical(bits, vals):
    """(length, code) → symbol map from DHT bits/vals (ITU T.81 C.2)."""
    m = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            m[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return m


def _huff_codes(bits, vals):
    """symbol → (length, code) for the encoder (inverse of above)."""
    return {sym: (ln, code) for (ln, code), sym in _huff_canonical(bits, vals).items()}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)


def _dc_category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def encode_mjpeg_frame(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal baseline JPEG (YCbCr 4:4:4, DC-only blocks): each 8x8
    block encodes its mean color — a structurally complete, spec-valid
    JPEG any baseline decoder can read. Width/height must be multiples
    of 8. Used to build REAL Motion-JPEG video fixtures."""
    if width % 8 or height % 8:
        raise ValueError("encode_mjpeg_frame needs multiple-of-8 dims")
    bw, bh = width // 8, height // 8
    # per-block YCbCr means (level-shifted DC = 8*(mean-128), quantized)
    dcs = [[0] * (bw * bh) for _ in range(3)]
    for by in range(bh):
        for bx in range(bw):
            sr = sg = sb = 0
            for y in range(by * 8, by * 8 + 8):
                row = y * width * 3
                for x in range(bx * 8, bx * 8 + 8):
                    sr += rgb[row + x * 3]
                    sg += rgb[row + x * 3 + 1]
                    sb += rgb[row + x * 3 + 2]
            mr, mg, mb = sr / 64.0, sg / 64.0, sb / 64.0
            yy = 0.299 * mr + 0.587 * mg + 0.114 * mb
            cb = 128.0 - 0.168736 * mr - 0.331264 * mg + 0.5 * mb
            cr = 128.0 + 0.5 * mr - 0.418688 * mg - 0.081312 * mb
            for ci, comp_mean in enumerate((yy, cb, cr)):
                dcs[ci][by * bw + bx] = round(8.0 * (comp_mean - 128.0) / _JPEG_Q)

    dc_codes = _huff_codes(_ENC_DC_BITS, _ENC_DC_VALS)
    ac_codes = _huff_codes(_ENC_AC_BITS, _ENC_AC_VALS)
    w = _BitWriter()
    preds = [0, 0, 0]
    for blk in range(bw * bh):
        for ci in range(3):
            diff = dcs[ci][blk] - preds[ci]
            preds[ci] = dcs[ci][blk]
            cat = _dc_category(diff)
            ln, code = dc_codes[cat]
            w.write(code, ln)
            if cat:
                w.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            ln, code = ac_codes[0x00]  # EOB: all 63 ACs are zero
            w.write(code, ln)
    entropy = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, b"\x00" + bytes([_JPEG_Q] * 64))
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + b"".join(struct.pack(">BBB", cid, 0x11, 0) for cid in (1, 2, 3)),
    )
    dht_dc = seg(0xFFC4, b"\x00" + bytes(_ENC_DC_BITS) + bytes(_ENC_DC_VALS))
    dht_ac = seg(0xFFC4, b"\x10" + bytes(_ENC_AC_BITS) + bytes(_ENC_AC_VALS))
    sos = seg(
        0xFFDA,
        b"\x03"
        + b"".join(struct.pack(">BB", cid, 0x00) for cid in (1, 2, 3))
        + b"\x00\x3f\x00",
    )
    return b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + entropy + b"\xff\xd9"


class _BitReader:
    """Entropy-segment reader: FF00 unstuffing; restart markers are
    consumed at MCU boundaries via ``sync_restart`` (T.81 E.2.4 — a
    conformant stream byte-pads before each RSTn, so the reset must
    discard the pad bits, never splice post-marker bits onto them)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.buf[self.pos]
        if b == 0xFF:
            if self.buf[self.pos + 1] == 0x00:
                self.pos += 2
            else:
                raise ValueError("entropy data ended at marker")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def sync_restart(self) -> None:
        """Byte-align (drop pad bits) and consume the RSTn marker."""
        self.acc = 0
        self.nbits = 0
        if (
            self.pos + 1 < len(self.buf)
            and self.buf[self.pos] == 0xFF
            and 0xD0 <= self.buf[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError("expected restart marker")

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")


def _extend(v: int, s: int) -> int:
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_dc(payload: bytes) -> Tuple[int, int, bytes]:
    """REAL baseline-JPEG decode of the DC plane: Huffman-decode every
    coefficient (AC codes are walked to advance the bitstream), keep
    each block's quantized DC, dequantize, and reconstruct one pixel
    per 8x8 block — the standard 8x-downsampled JPEG decode (DC IDCT
    basis is flat, so DC/8 + 128 IS the block mean; T.81 A.3.3).

    Returns (out_w, out_h, rgb) with ``rgb`` packed RGB24 of the
    downsampled image — ONE PIXEL PER MCU (for 4:4:4/grayscale that is
    one per 8x8 block, i.e. the classic 8x downsample; for 4:2:0 one
    per 16x16 macroblock, with the component's blocks averaged).
    Handles grayscale, 4:4:4, 4:2:2 and 4:2:0 baseline streams;
    progressive JPEG raises ValueError (callers fall back to the
    labeled stub)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict = {}
    huff: dict = {}
    comps: list = []
    scan: list = []
    width = height = 0
    ri = 0  # restart interval (MCUs), DRI segment
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad marker")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = list(body[b + 1 : b + 65])
                b += 65
        elif marker == 0xC0:  # SOF0 baseline
            height, width = struct.unpack(">HH", body[1:5])
            n = body[5]
            comps = [
                (body[6 + 3 * i], body[7 + 3 * i] >> 4, body[7 + 3 * i] & 15,
                 body[8 + 3 * i])
                for i in range(n)
            ]
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential JPEG supported")
        elif marker == 0xC4:  # DHT (possibly several tables)
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 15
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                huff[(tc, th)] = _huff_canonical(bits, vals)
                b += 17 + nv
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = body[0]
            scan = [(body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 15)
                    for i in range(ns)]
            pos = pos + 2 + seglen
            break
        pos += 2 + seglen
    if not (width and height and comps and scan):
        raise ValueError("missing SOF/SOS")

    by_id = {cid: (hh, vv, tq) for cid, hh, vv, tq in comps}
    hmax = max(hh for _, hh, _, _ in comps)
    vmax = max(vv for _, vv, _, _ in comps)
    bw = (width + 8 * hmax - 1) // (8 * hmax)
    bh = (height + 8 * vmax - 1) // (8 * vmax)
    reader = _BitReader(payload, pos)
    preds = {cid: 0 for cid, _, _ in scan}
    planes = {cid: [] for cid, _, _ in scan}
    for m in range(bw * bh):
        if ri and m and m % ri == 0:
            reader.sync_restart()
            preds = {cid: 0 for cid, _, _ in scan}
        for cid, td, ta in scan:
            hc, vc, tq = by_id[cid]
            q0 = qt[tq][0]
            acc = 0.0
            # hc*vc data units per MCU for this component (T.81 A.2.3);
            # their DC means are averaged into the MCU's pixel
            for _ in range(hc * vc):
                s = reader.huff(huff[(0, td)])
                preds[cid] += _extend(reader.bits(s) if s else 0, s)
                acc += preds[cid] * q0 / 8.0 + 128.0
                k = 1
                while k <= 63:  # walk AC codes to stay bit-aligned
                    sym = reader.huff(huff[(1, ta)])
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 15
                    if size == 0:
                        if run == 15:  # ZRL
                            k += 16
                            continue
                        break
                    k += run
                    reader.bits(size)
                    k += 1
            planes[cid].append(acc / (hc * vc))

    # YCbCr→RGB over all MCU pixels at once. np.floor(v + 0.5) clipped
    # to [0,255] is exactly the scalar `0 if v<0 else 255 if v>255 else
    # int(v+0.5)` (for v in-range int(v+0.5)=floor(v+0.5); out-of-range
    # values clip to the same endpoints), and elementwise numpy float64
    # ops are IEEE-identical to the scalar expressions they replace.
    import numpy as np

    ids = [cid for cid, _, _ in scan]
    if len(ids) >= 3:
        y = np.asarray(planes[ids[0]], dtype=np.float64)
        cb = np.asarray(planes[ids[1]], dtype=np.float64) - 128.0
        cr = np.asarray(planes[ids[2]], dtype=np.float64) - 128.0
        rgb = np.stack(
            [
                y + 1.402 * cr,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.772 * cb,
            ],
            axis=1,
        )
    else:
        g = np.asarray(planes[ids[0]], dtype=np.float64)
        rgb = np.stack([g, g, g], axis=1)
    out = np.clip(np.floor(rgb + 0.5), 0.0, 255.0).astype(np.uint8)
    return bw, bh, out.tobytes()


def _mjpeg_content_features(payload: bytes, tab: dict, k: int) -> Optional[list]:
    """REAL pixel decode for Motion-JPEG ('jpeg' fourcc): sample up to
    ``_SAMPLED_FRAMES`` evenly spaced frames, DC-decode each standalone
    JPEG sliced out of mdat, and reduce the 8x-downsampled pixels with
    the same statistics as the rawvideo path. Returns None when frames
    don't decode (caller falls back to the labeled stub)."""
    samples = tab["samples"]
    if not samples:
        return None
    step = max(1, len(samples) // _SAMPLED_FRAMES)
    picked = samples[::step][:_SAMPLED_FRAMES]
    geom = None
    frames = []
    for _idx, _ts, off, size in picked:
        try:
            bw, bh, rgb = decode_jpeg_dc(payload[off : off + size])
        except (ValueError, IndexError, struct.error):
            return None
        if geom is None:
            geom = (bw, bh)
        elif geom != (bw, bh):
            return None
        frames.append(rgb)
    if not frames:
        return None
    return _video_feature_agg(frames, k)


def _mp4_features(payload: bytes) -> Tuple[list, Optional[int], str]:
    duration_ms = mp4_duration_ms(payload)  # real container parse
    tab = None
    try:
        tab = mp4_sample_table(payload)
        n_samples = len(tab["samples"])
    except ValueError:
        n_samples = 0  # mvhd-only container: duration but no trak
    # corruption gates (r11 media poison probe): bytes that parse as
    # NO container at all (no mvhd, no trak — e.g. garbage under a
    # lying mime) and sample tables whose declared byte ranges extend
    # past the payload (truncation) must fail LOUD into the per-row
    # DLQ — the silent path previously fell back to stub features,
    # masking real corruption as a decode success.
    if duration_ms is None and tab is None:
        raise ValueError("not an mp4 container (no mvhd/trak parsed)")
    if tab is not None:
        end = len(payload)
        for _idx, _ts, off, size in tab["samples"]:
            if off + size > end:
                raise ValueError(
                    "corrupt mp4: sample data extends past payload end"
                )
    content = None
    source = "stub-hash"
    if tab is not None and tab["codec"] == "raw ":
        content = _rawvideo_content_features(payload, tab, FEATURE_DIM - 2)
        if content is not None:
            source = "pixels"
    if tab is not None and content is None and tab["codec"] == "jpeg":
        content = _mjpeg_content_features(payload, tab, FEATURE_DIM - 2)
        if content is not None:
            source = "pixels"
    if content is None:
        # no stdlib decoder for this codec (e.g. avc1): hash-derived
        # stand-ins, explicitly labeled so consumers can filter
        content = _stub_content_features(payload, FEATURE_DIM - 2)
    feat = [
        min((duration_ms or 0) / 120_000.0, 1.0),
        min(n_samples / 4096.0, 1.0),  # real demuxed frame count
        *content,
    ]
    return feat, duration_ms, source


# ---------------------------------------------------------------------------
# table + operators
# ---------------------------------------------------------------------------

def fake_media_table(spark: SparkSession, n: int = 200) -> DataFrame:
    """Deterministic synthetic media rows with REAL payloads: valid
    PNG images, PCM WAV clips, and mp4 container skeletons — stands in
    for a real parquet/lance media lake. Row payloads are memoized per
    ``n`` (they are pure functions of the index), so repeated calls —
    bench warm+timed passes, multiple queries — pay encoding once."""
    return spark.createDataFrame(list(_fake_media_rows(n)), MEDIA_SCHEMA)


@functools.lru_cache(maxsize=4)
def _fake_media_rows(n: int) -> tuple:
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = 4 + i % 13, 3 + i % 7
            rgb = bytes(
                (x * 7 + y * 13 + c * 29 + i) % 256
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
            payload = encode_png(w, h, rgb)
            width, height, duration = w, h, None
        elif kind == "audio":
            n_samp = 160 + (i * 37) % 640
            samples = [((j * (13 + i)) % 4096) - 2048 for j in range(n_samp)]
            payload = encode_wav(samples, sample_rate=8000)
            width, height, duration = None, None, int(n_samp / 8000 * 1000)
        elif i % 6 == 5:
            # every other video row is REAL uncompressed RGB24 ('raw ')
            # — its frame pixels decode for pixel-derived features
            duration = 500 + (i * 37) % 7500
            width, height = 16, 12
            payload = encode_mp4_skeleton(
                duration,
                content_seed=f"media-{i}".encode(),
                codec="raw ",
                width=width,
                height=height,
            )
        elif i % 12 == 2:
            # Motion-JPEG: every frame a REAL standalone baseline JPEG
            # — decoded by decode_jpeg_dc for pixel-derived features
            duration = 1000 + (i * 53) % 5000
            width, height = 16, 8
            payload = encode_mp4_skeleton(
                duration,
                content_seed=f"media-{i}".encode(),
                codec="jpeg",
                width=width,
                height=height,
            )
        else:
            duration = (i * 37) % 120_000
            payload = encode_mp4_skeleton(duration, content_seed=f"media-{i}".encode())
            width, height = 64 + i % 512, 64 + (i * 7) % 512
        rows.append(
            (
                i,
                bytearray(payload),
                (
                    kind,
                    {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[
                        kind
                    ],
                    width,
                    height,
                    duration,
                    len(payload),
                ),
            )
        )
    return tuple(rows)


def decode_payload(payload: bytes, mime: Optional[str]):
    """One payload through the mime-routed codecs.
    → (features, width, height, duration_ms, content_source).

    content_source labels what the feature vector derives from:
    "pixels" (real PNG / rawvideo decode), "pcm" (real WAV decode), or
    "stub-hash" (codecs without a stdlib decoder, e.g. H.264)."""
    if not payload:
        raise ValueError("empty payload")
    if mime == "image/png":
        feat, w, h = _png_features(payload)
        return feat, w, h, None, "pixels"
    if mime == "audio/wav":
        feat, dur = _wav_features(payload)
        return feat, None, None, dur, "pcm"
    if mime == "video/mp4":
        feat, dur, source = _mp4_features(payload)
        return feat, None, None, dur, source
    raise ValueError(f"no codec for {mime!r}")


def decode_and_featurize(df: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over ``mapInPandas``.

    Scale properties: executors stream Arrow batches (payload bytes
    never materialize as one Python list); failed decodes yield
    decode_ok=false rows instead of failing the task — the DLQ pattern
    applied to media."""
    import pandas as pd

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {
                "media_id": [],
                "kind": [],
                "feature": [],
                "decode_ok": [],
                "dec_width": [],
                "dec_height": [],
                "dec_duration_ms": [],
                "content_source": [],
            }
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                kind = meta["kind"] if meta is not None else None
                mime = meta["mime"] if meta is not None else None
                try:
                    feat, w, h, dur, source = decode_payload(
                        bytes(payload) if payload is not None else b"", mime
                    )
                    ok = True
                except Exception:
                    feat, w, h, dur, ok, source = None, None, None, None, False, None
                out["media_id"].append(media_id)
                out["kind"].append(kind)
                out["feature"].append(feat)
                out["decode_ok"].append(ok)
                out["dec_width"].append(w)
                out["dec_height"].append(h)
                out["dec_duration_ms"].append(dur)
                out["content_source"].append(source)
            yield pd.DataFrame(out)

    return df.mapInPandas(decode_batches, FEATURES_SCHEMA)


#: one row per demuxed video frame: real container byte range + bytes.
FRAME_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("byte_offset", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def video_frame_index(df: DataFrame, every_ms: Optional[int] = None) -> DataFrame:
    """Demux every video payload into one row per frame — REAL sample
    table parse (``mp4_sample_table``), REAL byte ranges, REAL frame
    bytes sliced out of mdat. ``every_ms`` keeps only the first frame
    of each interval (the frame-sampling shape used to cut 30 fps to
    1 fps before feature extraction).

    At cluster scale the payload column is a ranged read from object
    storage, so this mapInPandas stays Arrow-batched and per-frame
    work never loads frames the sampler dropped. A payload that fails
    to demux yields one ``decode_ok=false`` row (media-DLQ pattern),
    never a task failure.
    """
    import pandas as pd

    videos = df.filter(F.col("meta.kind") == "video").select("media_id", "payload")

    def demux(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    tab = mp4_sample_table(bytes(payload))
                except (ValueError, struct.error, IndexError):
                    rows.append((mid, -1, None, None, None, None, None, False))
                    continue
                last_bucket = None
                for idx, ts_ms, off, size in tab["samples"]:
                    if every_ms is not None:
                        bucket = ts_ms // every_ms
                        if bucket == last_bucket:
                            continue
                        last_bucket = bucket
                    rows.append(
                        (
                            mid,
                            idx,
                            ts_ms,
                            off,
                            size,
                            tab["codec"],
                            bytes(payload)[off : off + size],
                            True,
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_INDEX_SCHEMA])

    return videos.mapInPandas(demux, FRAME_INDEX_SCHEMA)


# ---------------------------------------------------------------------------
# Image resize (decode → numpy gather → stats), SURVEY §2.11 multimodal
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        # md5 of the resized RGB24 buffer: proves the resample
        # byte-exactly against the generation-time fixture without
        # shipping pixels through the compare
        T.StructField("resized_md5", T.StringType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def resize_rgb(rgb: bytes, w: int, h: int, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor RGB24 resize: source index = floor(i·src/out)
    per axis (the left-aligned NN convention — deterministic, no
    float sampling grid), as one numpy fancy-index gather. SHARED by
    the operator and the generation-time fixture truth, so resized
    bytes compare md5-exactly whenever the decoded pixels match the
    construction-time pixels (PNG is lossless, so they must)."""
    import numpy as np

    a = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return a[ys][:, xs].tobytes()


def resized_stats(rgb: bytes, out_w: int, out_h: int) -> list:
    """Channel means of a resized RGB24 buffer, rounded to 6 — also
    shared with the fixture truth (same reduction, same rounding)."""
    import numpy as np

    a = (
        np.frombuffer(rgb, np.uint8)
        .reshape(out_w * out_h, 3)
        .astype(np.float64)
        .mean(axis=0)
    )
    return [round(float(x), 6) for x in a]


def resize_images(df: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Arrow-batched PNG decode → nearest-neighbor resize over
    ``mapInPandas`` — the resize stage of a multimodal ingest pipeline
    (normalize every image to a fixed training resolution). Failed or
    non-PNG payloads yield decode_ok=false rows (media-DLQ pattern),
    never task failures. Only ``media_id``/``payload``/``meta`` are
    read; callers filtering ``meta.kind == 'image'`` first keep the
    payload scan pruned to image rows."""
    import hashlib as _hashlib

    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = {k.name: [] for k in RESIZE_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, ch, rgb = decode_png(
                        bytes(payload) if payload is not None else b""
                    )
                    if ch != 3:
                        raise ValueError("resize expects RGB8")
                    rz = resize_rgb(rgb, w, h, out_w, out_h)
                    st = resized_stats(rz, out_w, out_h)
                    row = (
                        True, w, h, out_w, out_h,
                        _hashlib.md5(rz).hexdigest(), st[0], st[1], st[2],
                    )
                except Exception:
                    row = (False, None, None, out_w, out_h, None, None, None, None)
                out["media_id"].append(media_id)
                for f, v in zip(
                    ["decode_ok", "src_w", "src_h", "out_w", "out_h",
                     "resized_md5", "mean_r", "mean_g", "mean_b"],
                    row,
                ):
                    out[f].append(v)
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Audio resample (decode → numpy gather → stats) — the audio twin of
# image-resize in the multimodal ingest pipeline
# ---------------------------------------------------------------------------

RESAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("src_rate", T.IntegerType()),
        T.StructField("src_n", T.IntegerType()),
        T.StructField("out_rate", T.IntegerType()),
        T.StructField("out_n", T.IntegerType()),
        T.StructField("resampled_md5", T.StringType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


def resample_pcm(samples, src_rate: int, out_rate: int):
    """Nearest-sample PCM resample: output index i reads source index
    floor(i·src/out) — the sample-and-hold analog of the image
    resize's left-aligned NN gather (no interpolation, so int16
    values pass through bit-exactly; a real DSP pipeline would swap
    in a polyphase filter here, the Spark-side shape is identical).
    Output length = ceil(n·out/src) so the clip duration is
    preserved. SHARED with the fixture truth."""
    import numpy as np

    n = len(samples)
    out_n = -(-n * out_rate // src_rate)  # ceil
    idx = (np.arange(out_n) * src_rate) // out_rate
    return samples[idx]


def pcm_stats(samples) -> list:
    """RMS and peak of int16 PCM in [-1,1], rounded to 6 — shared
    with the fixture truth (same reduction, same rounding)."""
    import numpy as np

    if len(samples) == 0:
        return [0.0, 0.0]
    x = samples.astype(np.float64) / 32768.0
    return [
        round(float(np.sqrt(np.mean(x**2))), 6),
        round(float(np.max(np.abs(x))), 6),
    ]


def resample_audio(df: DataFrame, out_rate: int = 4000) -> DataFrame:
    """Arrow-batched WAV decode → nearest-sample resample over
    ``mapInPandas`` — normalize every clip to a fixed training sample
    rate. Same contracts as ``resize_images``: failed decodes become
    decode_ok=false rows; audio rows should be routed in by the
    caller's metadata filter so the payload scan stays pruned."""
    import hashlib as _hashlib

    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = {k.name: [] for k in RESAMPLE_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, nch, samples = decode_wav(
                        bytes(payload) if payload is not None else b""
                    )
                    if nch != 1:
                        raise ValueError("resample expects mono PCM")
                    rz = resample_pcm(samples, rate, out_rate)
                    st = pcm_stats(rz)
                    row = (
                        True, rate, len(samples), out_rate, len(rz),
                        _hashlib.md5(rz.tobytes()).hexdigest(), st[0], st[1],
                    )
                except Exception:
                    row = (False, None, None, out_rate, None, None, None, None)
                out["media_id"].append(media_id)
                for f, v in zip(
                    ["decode_ok", "src_rate", "src_n", "out_rate", "out_n",
                     "resampled_md5", "rms", "peak"],
                    row,
                ):
                    out[f].append(v)
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, RESAMPLE_SCHEMA)
