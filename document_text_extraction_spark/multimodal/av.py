"""Real audio (WAV/PCM) and video (AVI/MJPEG) decode for the media
pipeline.

Round-5 follow-on to the PNG/JPEG codecs: the audio/video half of
LIMITS.md §5 narrows from "decode is the deployment hook" to "only
compressed-audio and inter-frame video codecs (mp3/aac/h264 — no
native libs in this container) remain hooks":

``decode_wav``
    RIFF/WAVE parse (fmt + data chunks), PCM integer samples at 8/16
    bits, any channel count → float64 array in [-1, 1). Pure stdlib
    struct + numpy frombuffer; malformed containers raise
    ``ValueError``, non-PCM codecs raise ``NotImplementedError``.

``audio_chunk_features``
    the Arrow-batched kernel the audio chunk PLAN points at: per
    (media_id, chunk) RMS, zero-crossing rate, and peak over REAL
    decoded samples for WAV payloads.

``decode_video_frame`` / ``video_frame_hashes``
    AVI (RIFF 'AVI ') container walk: frame rate from the 'strh'
    video stream header, frames from the 'movi' LIST's '00dc'/'00dd'
    chunks; each frame is a JPEG decoded by the from-scratch
    ``jpegcodec``. ``video_frame_hashes`` is the per-frame aHash
    kernel (the video-near-dup fingerprint — same role as
    ``ahash_images`` for stills).

Both kernels run through ``media._decode_map``, the map the image
kernels use: a payload whose codec is absent (compressed audio,
mp4/h264) gives one ``unsupported_codec`` row and malformed bytes one
``decode_error`` row, each at position 0 with null features.

Fixture encoders (``encode_wav``, ``encode_avi_mjpeg``) emit minimal
valid containers so every decode path is exercised by self-produced
bytes, the same policy as the PNG/JPEG fixtures.

Decode stays inside the Arrow batch with no native dependency.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import media as M

# ---------------------------------------------------------------- WAV


def encode_wav(samples: np.ndarray, rate: int = 16000,
               bits: int = 16) -> bytes:
    """Minimal valid RIFF/WAVE of int PCM samples shaped (n,) mono or
    (n, ch). ``bits`` 8 (unsigned) or 16 (signed little-endian)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    if bits == 16:
        data = samples.astype("<i2").tobytes()
    elif bits == 8:
        data = samples.astype(np.uint8).tobytes()
    else:
        raise ValueError("encode_wav supports 8/16-bit PCM")
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, bits)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """(samples float64 in [-1, 1) shaped (n, ch), sample_rate) from a
    RIFF/WAVE container. PCM (format tag 1) at 8/16 bits only — other
    format tags raise ``NotImplementedError`` (compressed audio is the
    deployment hook); malformed containers raise ``ValueError``."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("wav: truncated chunk")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("wav: short fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt/data chunk")
    tag, ch, rate, _, _, bits = fmt
    if tag != 1:
        raise NotImplementedError(f"wav: non-PCM format tag {tag}")
    if bits not in (8, 16) or ch < 1 or rate <= 0:
        raise ValueError("wav: unsupported PCM shape")
    if bits == 16:
        raw = np.frombuffer(data[:len(data) - (len(data) % (2 * ch))],
                            dtype="<i2").astype(np.float64) / 32768.0
    else:
        raw = (np.frombuffer(data[:len(data) - (len(data) % ch)],
                             dtype=np.uint8).astype(np.float64)
               - 128.0) / 128.0
    return raw.reshape(-1, ch), rate


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("chunk_start_ms", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zcr", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("status", T.StringType()),
])


def audio_chunk_features(media: DataFrame,
                         chunk_ms: int = 5000) -> DataFrame:
    """Per-(media_id, chunk) RMS / zero-crossing-rate / peak — the
    decode step the ``audio_chunk_plan`` ladder points at, as one
    Arrow-batched map over REAL decoded WAV/PCM samples. A codec-absent
    payload gives one ``unsupported_codec`` row and malformed WAV one
    ``decode_error`` row, each at chunk 0 with null features."""
    def chunks(payload: bytes) -> list[tuple]:
        samples, rate = decode_wav(payload)
        mono = samples.mean(axis=1)
        total_ms = max(1, int(len(mono) * 1000 / rate))
        rows = []
        for start in range(0, total_ms, chunk_ms):
            lo = start * rate // 1000
            hi = min(len(mono), (start + chunk_ms) * rate // 1000)
            seg = mono[lo:hi]
            if len(seg) == 0:
                continue
            rms = float(np.sqrt(np.mean(seg * seg)))
            zcr = float(np.mean(np.signbit(seg[1:])
                                != np.signbit(seg[:-1])
                                )) if len(seg) > 1 else 0.0
            rows.append((start, rms, zcr, float(np.abs(seg).max())))
        return rows

    return M._decode_map(media, "audio", AUDIO_FEATURE_SCHEMA, chunks,
                         (0, None, None, None))


# ---------------------------------------------------------------- AVI


def encode_avi_mjpeg(frames: list, fps: int = 10,
                     size: tuple = (0, 0)) -> bytes:
    """Minimal valid AVI (RIFF 'AVI ') wrapping already-encoded JPEG
    frames as an MJPG video stream: hdrl (avih + strl/strh/strf) and a
    movi LIST of '00dc' chunks. Enough container structure for any
    index-free MJPEG reader; frames decode with ``jpegcodec``."""
    w, h = size

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack("<IIIIIIIIIIIIII", 1000000 // max(1, fps), 0, 0,
                       0x10, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0,
                                            0, 1, fps, 0, len(frames),
                                            0, 0, 0, 0))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0x47504A4D,
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def _avi_frames_and_fps(payload: bytes) -> tuple[list, int]:
    """(list of frame byte-slices, fps) from an AVI container — walks
    RIFF chunks; fps from strh (dwRate/dwScale), frames from movi
    '00dc'/'00dd' entries."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise NotImplementedError("not a RIFF/AVI container")

    frames: list = []
    fps = 0

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        nonlocal fps
        # depth cap mirrors mp4_metadata's: a crafted AVI can nest a
        # LIST every ~12 bytes and recurse past Python's limit
        # (ADVICE r5); real containers are 2-3 levels deep
        if depth > 16:
            raise ValueError("avi: LIST nesting too deep")
        pos = lo
        while pos + 8 <= hi:
            cid = payload[pos:pos + 4]
            (clen,) = struct.unpack("<I", payload[pos + 4:pos + 8])
            body_lo = pos + 8
            body_hi = body_lo + clen
            if body_hi > hi:
                raise ValueError("avi: truncated chunk")
            if cid == b"LIST":
                walk(body_lo + 4, body_hi, depth + 1)  # skip list tag
            elif cid == b"strh" and clen >= 32:
                scale, rate = struct.unpack(
                    "<II", payload[body_lo + 20:body_lo + 28])
                if payload[body_lo:body_lo + 4] == b"vids" and scale:
                    fps = rate // scale
            elif cid in (b"00dc", b"00dd"):
                frames.append(payload[body_lo:body_hi])
            pos = body_hi + (clen & 1)

    walk(12, len(payload))
    if not frames:
        raise ValueError("avi: no video frames")
    return frames, fps or 10


def decode_video_frame(payload: bytes, ts_ms: int) -> np.ndarray:
    """The frame at ``ts_ms`` of an AVI/MJPEG payload as (h, w, 3)
    uint8 RGB — container walk + JPEG decode, clamped to the last
    frame past end-of-stream."""
    from . import jpegcodec
    frames, fps = _avi_frames_and_fps(payload)
    idx = min(len(frames) - 1, max(0, ts_ms * fps // 1000))
    return jpegcodec.decode_jpeg(frames[idx])


FRAME_HASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_ts_ms", T.IntegerType()),
    T.StructField("ahash", T.LongType()),
    T.StructField("status", T.StringType()),
])


def video_frame_hashes(media: DataFrame,
                       every_ms: int = 1000) -> DataFrame:
    """Per-frame perceptual hash (aHash) for video payloads — the
    video-near-dup fingerprint (two videos sharing many frame hashes
    are re-encodes/clips of each other; feed the output to
    ``media.phash_near_duplicates`` keyed per frame). REAL decode for
    AVI/MJPEG; a codec-absent container (mp4) gives one
    ``unsupported_codec`` row and malformed AVI one ``decode_error``
    row, each at frame 0 with a null hash."""
    def frame_hashes(payload: bytes) -> list[tuple]:
        from . import jpegcodec
        frames, fps = _avi_frames_and_fps(payload)
        step = max(1, every_ms * fps // 1000)
        return [(i * 1000 // fps,
                 M._ahash_of(jpegcodec.decode_jpeg(frames[i])))
                for i in range(0, len(frames), step)]

    return M._decode_map(media, "video", FRAME_HASH_SCHEMA, frame_hashes,
                         (0, None))


# ---------------------------------------------------------------- MP4


def encode_mp4_stub(duration_ms: int, width: int, height: int,
                    timescale: int = 1000) -> bytes:
    """Minimal ISO-BMFF metadata skeleton (ftyp + moov/mvhd +
    trak/tkhd) — no media data, just the boxes ``mp4_metadata`` reads;
    the fixture for the header-parse path (inter-frame sample decode
    stays the deployment hook)."""
    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    mvhd = box(b"mvhd", b"\x00" + b"\x00" * 3 + b"\x00" * 8
               + struct.pack(">II", timescale,
                             duration_ms * timescale // 1000)
               + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00" + b"\x00\x00\x07" + b"\x00" * 8
               + struct.pack(">I", 1) + b"\x00" * 4
               + struct.pack(">I", duration_ms * timescale // 1000)
               + b"\x00" * 8 + b"\x00" * 8 + b"\x00" * 36
               + struct.pack(">II", width << 16, height << 16))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    return box(b"ftyp", b"mp42\x00\x00\x00\x00mp42isom") + moov


def mp4_metadata(payload: bytes) -> tuple[int, int, int] | None:
    """(duration_ms, width, height) from an ISO-BMFF (mp4/mov)
    container's moov boxes — a pure header walk, no sample decode.
    Returns None when no moov/mvhd is present (e.g. a bare ftyp stub
    or moov-at-end-of-truncated-file); width/height are -1 when no
    sized track exists. Best-effort: a malformed box size stops the
    walk at that level (garbage after ftyp must not crash a feature
    kernel), keeping whatever metadata was already found."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        return None
    dur_ms = None
    w = h = -1

    def walk(lo: int, hi: int, depth: int) -> None:
        nonlocal dur_ms, w, h
        pos = lo
        while pos + 8 <= hi:
            (size,) = struct.unpack(">I", payload[pos:pos + 4])
            btype = payload[pos + 4:pos + 8]
            if size == 0:
                size = hi - pos  # box extends to end
            if size < 8 or pos + size > hi:
                return  # garbage/truncation: keep what we have
            body_lo, body_hi = pos + 8, pos + size
            if btype in (b"moov", b"trak") and depth < 4:
                walk(body_lo, body_hi, depth + 1)
            elif btype == b"mvhd" and body_hi - body_lo >= 24:
                ver = payload[body_lo]
                if ver == 1 and body_hi - body_lo >= 32:
                    ts, = struct.unpack(
                        ">I", payload[body_lo + 20:body_lo + 24])
                    dur, = struct.unpack(
                        ">Q", payload[body_lo + 24:body_lo + 32])
                else:
                    ts, dur = struct.unpack(
                        ">II", payload[body_lo + 12:body_lo + 20])
                if ts:
                    dur_ms = int(dur * 1000 // ts)
            elif btype == b"tkhd" and body_hi - body_lo >= 1:
                # width/height trail version+flags(4) ctime/mtime
                # (8 or 16) track_id+reserved+duration(12 or 16)
                # reserved(8) layer/alt/volume/reserved(8) matrix(36)
                # (empty-body guard: a size-8 tkhd at end of payload
                # must not IndexError — ADVICE r5)
                ver = payload[body_lo]
                off = body_lo + (88 if ver == 1 else 76)
                if off + 8 <= body_hi:
                    fw, fh = struct.unpack(
                        ">II", payload[off:off + 8])
                    if fw and fh and w < 0:
                        w, h = fw >> 16, fh >> 16  # 16.16 fixed point
            pos += size

    walk(0, len(payload), 0)
    if dur_ms is None:
        return None
    return dur_ms, w, h
