"""Pure-numpy media codecs (beats_analytics/codecs.py): BMP and WAV
round-trips, format edge cases (stride padding, top-down rows, 32bpp,
chunk walking, truncation), the Spark stats kernels over REAL decoded
pixels/samples, and the multimodal-seam installation."""

import numpy as np
import pytest

from beats_analytics.codecs import (
    bmp_pixels, decode_bmp_meta, decode_wav_meta, encode_bmp,
    encode_wav, install_builtin_codecs, sniff_mime, wav_samples)


def test_bmp_roundtrip_with_stride_padding():
    # w=5 → row stride pads 15→16 bytes; values must survive exactly
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (3, 5, 3)).astype(np.uint8)
    assert (bmp_pixels(encode_bmp(px)) == px).all()


def test_bmp_top_down_and_32bpp():
    import struct
    px = np.zeros((2, 2, 3), np.uint8)
    px[0, 0] = (255, 0, 0)          # top-left red
    b = bytearray(encode_bmp(px))
    # flip height sign → top-down; rows were written bottom-up, so
    # the decoded image must be vertically flipped
    h = struct.unpack_from("<i", b, 22)[0]
    struct.pack_into("<i", b, 22, -h)
    flipped = bmp_pixels(bytes(b))
    assert (flipped == px[::-1]).all()

    # hand-built 1×1 32bpp BGRA image
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + 4, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 32, 0, 4,
                       0, 0, 0, 0)
    body = bytes([10, 20, 30, 255])          # B G R A
    assert (bmp_pixels(hdr + info + body)[0, 0] == (30, 20, 10)).all()


def test_bmp_rejects_garbage_and_truncation():
    assert bmp_pixels(b"not a bmp") is None
    assert decode_bmp_meta(None) is None
    px = np.zeros((4, 4, 3), np.uint8)
    b = encode_bmp(px)
    assert bmp_pixels(b[:40]) is None        # short header
    assert bmp_pixels(b[:-5]) is None        # truncated pixel data


def test_wav_roundtrip_and_chunk_walk():
    s = (np.arange(-8, 8) * 1000).astype(np.int16)
    w = encode_wav(s, 22_050)
    arr, rate = wav_samples(w)
    assert rate == 22_050 and (arr.ravel() == s).all()
    meta = decode_wav_meta(w)
    assert meta["n_frames"] == 16 and meta["mime"] == "audio/wav"
    # an extra odd-sized chunk between fmt and data must be skipped
    # (chunks pad to even length)
    import struct
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\0"
    patched = w[:12] + extra + w[12:]
    patched = (b"RIFF" + struct.pack("<I", len(patched) - 8)
               + patched[8:])
    arr2, _ = wav_samples(patched)
    assert (arr2.ravel() == s).all()


def test_wav_stereo_and_rejects():
    s = np.array([1, -1, 2, -2, 3, -3], np.int16)   # 3 frames × 2ch
    w = encode_wav(s, 8000, channels=2)
    arr, _ = wav_samples(w)
    assert arr.shape == (3, 2)
    assert decode_wav_meta(w)["n_frames"] == 3
    assert wav_samples(b"RIFFxxxxNOPE") is None
    assert decode_wav_meta(b"") is None


def test_sniff_mime():
    px = np.zeros((1, 1, 3), np.uint8)
    assert sniff_mime(encode_bmp(px)) == "image/bmp"
    assert sniff_mime(encode_wav(np.zeros(2, np.int16))) == "audio/wav"
    assert sniff_mime(b"plain") is None


def test_bmp_color_stats_kernel(spark):
    from beats_analytics.multimodal import bmp_color_stats
    solid = encode_bmp(np.full((4, 6, 3), 100, np.uint8))
    banded = np.zeros((4, 4, 3), np.uint8)
    banded[:2] = 40
    banded[2:] = 200
    rows = [(1, bytearray(solid)), (2, bytearray(encode_bmp(banded))),
            (3, bytearray(b"junk")), (4, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           bmp_color_stats(df).collect()}
    assert got[1]["width"] == 6 and got[1]["height"] == 4
    assert got[1]["mean_r_milli"] == 100_000
    assert got[1]["luma_milli"] == 100_000
    assert got[2]["mean_g_milli"] == (40 + 200) * 1000 // 2
    assert got[3]["width"] is None and got[4]["luma_milli"] is None


def test_wav_audio_stats_kernel(spark):
    from beats_analytics.multimodal import wav_audio_stats
    a = 1200
    sq = np.tile(np.array([a, -a], np.int16), 50)     # 100 samples
    rows = [(1, bytearray(encode_wav(sq, 10_000))), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in wav_audio_stats(df).collect()}
    r = got[1]
    assert r["n_frames"] == 100 and r["sample_rate"] == 10_000
    assert r["duration_ms"] == 10
    assert r["mean_abs_milli"] == a * 1000
    assert r["peak_abs"] == a
    assert r["energy"] == 100 * a * a
    assert got[2]["energy"] is None


def test_builtin_codecs_install_on_seam(spark):
    from beats_analytics.multimodal import attach_media_meta
    install_builtin_codecs()
    try:
        px = np.zeros((2, 3, 3), np.uint8)
        rows = [(1, bytearray(encode_bmp(px))),
                (2, bytearray(b"unknown bytes"))]
        df = spark.createDataFrame(rows,
                                   "media_id long, payload binary")
        out = {r["media_id"]: r["media"] for r in
               attach_media_meta(df, media_type="image").collect()}
        assert out[1]["mime"] == "image/bmp"
        assert out[1]["width"] == 3 and out[1]["height"] == 2
        # real-decoder semantics: unknown payload → NULL, never fake
        assert out[2]["mime"] is None
    finally:
        from beats_analytics import multimodal as mm
        mm._BATCH_DECODERS.pop("image", None)
        mm._BATCH_DECODERS.pop("audio", None)
