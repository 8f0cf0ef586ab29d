"""WAV/PCM audio decode + AVI/MJPEG video frame decode
(multimodal/av.py): container roundtrips, feature kernels over REAL
decoded samples/frames, and the one labelled row, with no values, that
each of the four decode maps gives a codec-absent or malformed
payload.

Reference parity: the reference delegates media decode to OpenCV
(combined_local_model_ocr.py); this repo decodes in the Arrow batch
with no native dependency."""

import hashlib

import numpy as np
import pytest

from document_text_extraction_spark.multimodal import av
from document_text_extraction_spark.multimodal import jpegcodec as J
from document_text_extraction_spark.multimodal import media as M


class TestWav:
    def test_square_wave_roundtrip_rms(self):
        t = np.arange(32000)
        sq = np.where((t // 8) % 2 == 0, 12000, -12000).astype(np.int16)
        samples, rate = av.decode_wav(av.encode_wav(sq, rate=16000))
        assert rate == 16000 and samples.shape == (32000, 1)
        rms = float(np.sqrt((samples ** 2).mean()))
        assert abs(rms - 12000 / 32768) < 1e-6

    def test_stereo_8bit(self):
        st = np.stack([np.arange(100) % 256, (np.arange(100) * 3) % 256],
                      axis=1).astype(np.uint8)
        samples, rate = av.decode_wav(av.encode_wav(st, rate=8000,
                                                    bits=8))
        assert samples.shape == (100, 2) and rate == 8000
        assert samples.min() >= -1.0 and samples.max() < 1.0

    def test_malformed_and_hooks(self):
        with pytest.raises(ValueError):  # valid RIFF/WAVE, no chunks
            av.decode_wav(b"RIFF\x04\x00\x00\x00WAVE")
        with pytest.raises(NotImplementedError):  # not WAVE at all
            av.decode_wav(b"\x00\x00\x00\x18ftypmp42")
        # non-PCM format tag is the deployment hook, not corruption
        import struct
        fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 16)  # mp3
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 2) + b"\x00\x00")
        with pytest.raises(NotImplementedError, match="non-PCM"):
            av.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)

    def test_chunk_features_kernel(self, spark):
        t = np.arange(48000)  # 3 s at 16 kHz
        tone = (10000 * np.sign(np.sin(t / 5.0))).astype(np.int16)
        wav = av.encode_wav(tone, rate=16000)
        rows = [(0, "audio", wav, "audio/wav", -1, -1, 3000)]
        df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
        got = av.audio_chunk_features(df, chunk_ms=1000).collect()
        by_id = {}
        for r in got:
            by_id.setdefault(r.media_id, []).append(r)
        # real decode: 3 one-second chunks, RMS of the square tone
        real = sorted(by_id[0], key=lambda r: r.chunk_start_ms)
        assert [r.chunk_start_ms for r in real] == [0, 1000, 2000]
        for r in real:
            assert r.status == "ok"
            assert abs(r.rms - 10000 / 32768) < 1e-3
            assert 0 < r.zcr < 0.5 and r.peak <= 1.0


class TestAviMjpeg:
    def _avi(self, seeds, fps=2, size=(32, 24), quality=100,
             progressive=False):
        frames = [J.encode_jpeg(M._synth_pixels(size[0], size[1], s),
                                quality=quality, progressive=progressive)
                  for s in seeds]
        return av.encode_avi_mjpeg(frames, fps=fps, size=size)

    def test_frame_decode_by_timestamp(self):
        avi = self._avi([50, 50, 50, 99, 50])
        f0 = av.decode_video_frame(avi, 0)
        f3 = av.decode_video_frame(avi, 1500)  # 2 fps → index 3
        exp0 = M._synth_pixels(32, 24, 50)
        exp3 = M._synth_pixels(32, 24, 99)
        assert np.abs(f0.astype(int) - exp0.astype(int)).max() <= 2
        assert np.abs(f3.astype(int) - exp3.astype(int)).max() <= 2
        # past end-of-stream clamps to the last frame
        assert av.decode_video_frame(avi, 10 ** 6).shape == (24, 32, 3)

    def test_malformed_and_hooks(self):
        with pytest.raises(ValueError):
            av.decode_video_frame(b"RIFF\x04\x00\x00\x00AVI ", 0)
        with pytest.raises(NotImplementedError):
            av.decode_video_frame(b"\x00\x00\x00\x18ftypmp42", 0)

    def test_frame_hash_kernel_finds_video_near_dup(self, spark):
        """Two MJPEG re-encodes of the same frames (baseline vs
        progressive packaging → different bytes, same quantized
        coefficients) share every frame hash; a third distinct video
        shares none — the video-near-dup fingerprint."""
        a = self._avi([10, 11, 12, 13], quality=100)
        b = self._avi([10, 11, 12, 13], quality=100, progressive=True)
        assert a != b  # genuinely different payload bytes
        c = self._avi([70, 71, 72, 73], quality=100)
        rows = [
            (0, "video", a, "video/avi", 32, 24, 2000),
            (1, "video", b, "video/avi", 32, 24, 2000),
            (2, "video", c, "video/avi", 32, 24, 2000),
        ]
        df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
        got = av.video_frame_hashes(df, every_ms=500).collect()
        by_id = {}
        for r in got:
            by_id.setdefault(r.media_id, []).append(r)
        ha = {(r.frame_ts_ms, r.ahash) for r in by_id[0]}
        hb = {(r.frame_ts_ms, r.ahash) for r in by_id[1]}
        hc = {(r.frame_ts_ms, r.ahash) for r in by_id[2]}
        assert len(ha) == 4 and all(r.status == "ok" for r in by_id[0])
        assert ha == hb          # re-encode: identical fingerprints
        assert not (set(h for _, h in ha) & set(h for _, h in hc))

    def test_malformed_avi_status_in_kernel(self, spark):
        rows = [(0, "video", b"RIFF\x04\x00\x00\x00AVI ", "video/avi",
                 -1, -1, 1000)]
        df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
        got = av.video_frame_hashes(df).collect()
        assert [r.status for r in got] == ["decode_error"]


class TestMp4Metadata:
    def test_duration_and_dims(self):
        stub = av.encode_mp4_stub(12500, 640, 360)
        assert av.mp4_metadata(stub) == (12500, 640, 360)

    def test_v1_mvhd_64bit(self):
        import struct

        def box(t, b):
            return struct.pack(">I", len(b) + 8) + t + b

        mvhd1 = box(b"mvhd", b"\x01" + b"\x00" * 3 + b"\x00" * 16
                    + struct.pack(">I", 600) + struct.pack(">Q", 3000))
        stub = box(b"ftyp", b"mp42====") + box(b"moov", mvhd1)
        assert av.mp4_metadata(stub) == (5000, -1, -1)

    def test_best_effort_on_garbage(self):
        # corpus mp4 stub: bare ftyp + md5 garbage → None, never raise
        assert av.mp4_metadata(M.synth_media_row(2)[2]) is None
        assert av.mp4_metadata(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8) is None
        import struct
        bad = (b"\x00\x00\x00\x10ftypmp42mp42"
               + struct.pack(">I", 4) + b"moov")
        assert av.mp4_metadata(bad) is None

    def test_feature_kernel_reports_mp4_dims(self, spark):
        stub = av.encode_mp4_stub(9000, 320, 180)
        rows = [(0, "video", stub, "video/mp4", -1, -1, 9000),
                (1, "video", M.synth_media_row(2)[2], "video/mp4", -1,
                 -1, 9000)]
        df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
        got = {r.media_id: (r.sniffed, r.header_width, r.header_height)
               for r in M.extract_media_features(df).collect()}
        assert got[0] == ("mp4", 320, 180)
        assert got[1] == ("mp4", -1, -1)  # corpus stub has no moov


def _tone_wav() -> bytes:
    t = np.arange(24000)  # 1.5 s at 16 kHz
    return av.encode_wav((10000 * np.sign(np.sin(t / 5.0))).astype(np.int16),
                         rate=16000)


def _two_frame_avi() -> bytes:
    frames = [J.encode_jpeg(M._synth_pixels(32, 24, s), quality=100)
              for s in (10, 11)]
    return av.encode_avi_mjpeg(frames, fps=2, size=(32, 24))


_GIF = b"GIF89a" + bytes(range(64))
_BAD_PNG = M._PNG_SIG + b"\x00\x00\x00\x0dIHDRjunkjunkjunk0"

# map → (run, kind, decodable payload, codec-absent payload, malformed
# payload, the failure row's columns between media_id and status)
DECODE_MAPS = {
    "resize_images": (
        lambda df: M.resize_images(df, 8, 8), "image",
        M.synth_media_row(0)[2], _GIF, _BAD_PNG,
        {"out_width": 8, "out_height": 8, "pixels": b""}),
    "ahash_images": (
        M.ahash_images, "image", M.synth_media_row(0)[2], _GIF, _BAD_PNG,
        {"ahash": None}),
    "audio_chunk_features": (
        lambda df: av.audio_chunk_features(df, chunk_ms=1000), "audio",
        _tone_wav(), b"RIFF" + hashlib.md5(b"a:1").digest() * 32,
        b"RIFF\x04\x00\x00\x00WAVE",
        {"chunk_start_ms": 0, "rms": None, "zcr": None, "peak": None}),
    "video_frame_hashes": (
        lambda df: av.video_frame_hashes(df, every_ms=500), "video",
        _two_frame_avi(), M.synth_media_row(2)[2],
        b"RIFF\x04\x00\x00\x00AVI ", {"frame_ts_ms": 0, "ahash": None}),
}


@pytest.mark.parametrize("name", sorted(DECODE_MAPS))
def test_decode_map_failure_rows_carry_no_values(spark, name):
    """Every decode map gives a codec-absent payload exactly one
    ``unsupported_codec`` row and a malformed payload exactly one
    ``decode_error`` row, both with null features (empty ``pixels`` for
    resize) — nothing is made up. The decodable payload's rows are the
    same whether or not failure rows share its Arrow batch (a null in a
    64-bit hash column must not round the batch's hashes)."""
    run, kind, ok, absent, malformed, failed = DECODE_MAPS[name]
    rows = [(i, kind, p, "", -1, -1, 3000)
            for i, p in enumerate((ok, absent, malformed))]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")  # one batch
    try:
        mixed = run(spark.createDataFrame(rows, M.MEDIA_SCHEMA)).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    alone = run(spark.createDataFrame(rows[:1], M.MEDIA_SCHEMA)).collect()
    assert alone and all(r.status == "ok" for r in alone)
    assert sorted(map(tuple, (r for r in mixed if r.media_id == 0)),
                  key=repr) == sorted(map(tuple, alone), key=repr)
    for mid, status in ((1, "unsupported_codec"), (2, "decode_error")):
        got = [r.asDict() for r in mixed if r.media_id == mid]
        assert got == [{"media_id": mid, **failed, "status": status}]
