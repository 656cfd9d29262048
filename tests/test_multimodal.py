"""Multimodal binary-column plumbing: metadata attach, feature
extraction (binary never crosses the stage boundary), frame sampling,
decoder override."""

from pyspark.sql import functions as F

from beats_analytics.multimodal import (
    attach_media_meta, extract_image_features, sample_video_frames,
    set_decoder, _DECODERS,
)


def _payloads(spark):
    return spark.createDataFrame(
        [(1, b"\x89PNG fake bytes here"), (2, b"GIF89a data"), (3, None)],
        "doc_id bigint, payload binary")


def test_attach_media_meta(spark):
    out = attach_media_meta(_payloads(spark), media_type="image")
    rows = {r["doc_id"]: r["media"] for r in out.collect()}
    assert rows[1]["width"] >= 16 and rows[1]["n_frames"] >= 1
    assert rows[3]["mime"] is None
    # deterministic across runs
    again = {r["doc_id"]: r["media"]
             for r in attach_media_meta(_payloads(spark)).collect()}
    assert rows == again


def test_extract_image_features_drops_binary(spark):
    feats = extract_image_features(_payloads(spark), dim=8)
    assert [f.name for f in feats.schema] == ["doc_id", "features"]
    rows = {r["doc_id"]: r["features"] for r in feats.collect()}
    assert len(rows[1]) == 8 and rows[3] is None
    # seeded by content → stable
    rows2 = {r["doc_id"]: r["features"]
             for r in extract_image_features(_payloads(spark), dim=8)
             .collect()}
    assert rows[1] == rows2[1]


def test_sample_video_frames(spark):
    frames = sample_video_frames(_payloads(spark), every_n=4)
    got = frames.collect()
    assert all(r["frame_idx"] % 4 == 0 for r in got)
    assert {r["doc_id"] for r in got} <= {1, 2}


def test_set_decoder_override(spark):
    def fake(payload):
        return {"mime": "image/test", "width": 1, "height": 2,
                "n_frames": 3, "duration_ms": 4}
    set_decoder("image", fake)
    try:
        out = attach_media_meta(_payloads(spark).limit(1),
                                media_type="image")
        assert out.collect()[0]["media"]["mime"] == "image/test"
    finally:
        _DECODERS.pop("image", None)


def test_sample_video_frames_kernel_is_columnar():
    """The explode is np.repeat/arange — no per-row Python appends.
    Feed the kernel a pandas batch directly and check output arrays
    are numpy-backed AND match the per-row reference computation."""
    import numpy as np
    import pandas as pd
    from beats_analytics.multimodal import _fake_decode

    payloads = [b"\x89PNG fake bytes here", b"GIF89a data", None,
                b"x" * 100]
    pdf = pd.DataFrame({"doc_id": pd.array([1, 2, 3, 4], "int64"),
                        "payload": payloads})

    class _KernelGrab:
        def __init__(self):
            self.fn = None
        def select(self, *a):
            return self
        def mapInPandas(self, fn, schema):
            self.fn = fn
            return self

    grab = _KernelGrab()
    sample_video_frames(grab, every_n=4)
    (out,) = list(grab.fn(iter([pdf])))
    for c in ("doc_id", "frame_idx", "frame_ts_ms"):
        assert isinstance(out[c].values, np.ndarray), c

    expect = []
    for i, p in zip([1, 2, 3, 4], payloads):
        if p is None:
            continue
        m = _fake_decode(p)
        for f in range(0, int(m["n_frames"]), 4):
            expect.append((i, f,
                           int(m["duration_ms"] * f
                               / max(int(m["n_frames"]), 1))))
    got = list(zip(out["doc_id"], out["frame_idx"],
                   out["frame_ts_ms"]))
    assert got == expect


def test_set_batch_decoder_vectorized_seam(spark):
    """A vectorized decoder (the real-model swap point) drives both
    kernels with zero per-item Python."""
    import numpy as np
    from beats_analytics.multimodal import (
        set_batch_decoder, _BATCH_DECODERS)

    def batch_fake(payloads):
        n = payloads.map(lambda p: 0 if p is None else len(p))
        missing = payloads.isna().to_numpy()
        return {
            "mime": np.where(missing, None, "image/batch"),
            "width": np.where(missing, None, n * 2),
            "height": np.where(missing, None, n * 3),
            "n_frames": np.where(missing, None, 8),
            "duration_ms": np.where(missing, None, n * 10),
        }

    set_batch_decoder("image", batch_fake)
    set_batch_decoder("video", batch_fake)
    try:
        rows = {r["doc_id"]: r["media"]
                for r in attach_media_meta(_payloads(spark)).collect()}
        assert rows[2]["mime"] == "image/batch"
        assert rows[2]["width"] == len(b"GIF89a data") * 2
        assert rows[3]["mime"] is None
        frames = sample_video_frames(_payloads(spark), every_n=4)
        got = frames.orderBy("doc_id", "frame_idx").collect()
        # 8 frames every_n=4 → idx 0,4 per non-null payload
        assert [(r["doc_id"], r["frame_idx"]) for r in got] == \
            [(1, 0), (1, 4), (2, 0), (2, 4)]
    finally:
        _BATCH_DECODERS.pop("image", None)
        _BATCH_DECODERS.pop("video", None)


def test_batch_decoder_never_sees_null_or_empty(spark):
    """The NULL shield: a vectorized decoder may assume every element
    is bytes and the batch is non-empty — mixed, all-null, and empty
    inputs all decode without the decoder having to defend itself."""
    import numpy as np
    from beats_analytics.multimodal import (
        set_batch_decoder, _BATCH_DECODERS, _column_decoder)

    def strict_fake(payloads):
        assert len(payloads) > 0, "decoder called on empty batch"
        n = payloads.map(len)  # crashes on None => shield broken
        return {
            "mime": np.full(len(payloads), "video/strict"),
            "width": n * 2, "height": n * 3,
            "n_frames": np.full(len(payloads), 4),
            "duration_ms": n * 10,
        }

    set_batch_decoder("video", strict_fake)
    try:
        dec = _column_decoder("video")
        import pandas as pd
        mixed = dec(pd.Series([b"abc", None, b"defgh"]))
        assert [None if pd.isna(v) else v
                for v in mixed["n_frames"]] == [4, None, 4]
        assert [None if pd.isna(v) else v
                for v in mixed["width"]] == [6, None, 10]
        all_null = dec(pd.Series([None, None], dtype=object))
        assert all(pd.isna(v) for v in all_null["mime"])
        empty = dec(pd.Series([], dtype=object))
        assert len(empty["mime"]) == 0
        # and end-to-end through the Spark kernel
        frames = sample_video_frames(_payloads(spark), every_n=2)
        assert frames.count() == 4  # 2 payloads x 2 sampled frames
    finally:
        _BATCH_DECODERS.pop("video", None)


def test_sample_video_frames_on_null_meta(spark):
    """A decoder that signals corrupt files with NULL metadata:
    on_null_meta='skip' drops them, the default fails loudly and the
    message names both installer APIs."""
    import pytest

    def corrupt_aware(payload):
        if payload.startswith(b"GIF"):
            return {"mime": "video/x-bad", "width": None, "height": None,
                    "n_frames": None, "duration_ms": None}
        return {"mime": "video/ok", "width": 1, "height": 1,
                "n_frames": 2, "duration_ms": 100}

    set_decoder("video", corrupt_aware)
    try:
        ok = sample_video_frames(_payloads(spark), every_n=1,
                                 on_null_meta="skip")
        assert sorted((r["doc_id"], r["frame_idx"])
                      for r in ok.collect()) == [(1, 0), (1, 1)]
        with pytest.raises(Exception) as ei:
            sample_video_frames(_payloads(spark), every_n=1).count()
        assert "set_decoder/set_batch_decoder" in str(ei.value)
        with pytest.raises(ValueError):
            sample_video_frames(_payloads(spark), on_null_meta="nope")
    finally:
        _DECODERS.pop("video", None)


def test_media_fingerprints_null_and_determinism(spark):
    from beats_analytics.multimodal import (
        media_fingerprints, _fake_fingerprint)
    out = {r["doc_id"]: r["fp"]
           for r in media_fingerprints(_payloads(spark)).collect()}
    assert out[3] is None                      # NULL payload → NULL fp
    assert out[1] == _fake_fingerprint(b"\x89PNG fake bytes here")
    assert 0 <= out[1] < 2 ** 60
    # empty payload is the documented fixed point
    empty = spark.createDataFrame([(9, b"")], "doc_id bigint, payload binary")
    assert media_fingerprints(empty).collect()[0]["fp"] == 0


def test_media_phash_pairs_finds_duplicates(spark):
    from beats_analytics.multimodal import media_phash_pairs
    df = spark.createDataFrame(
        [(1, b"same bytes payload AAAA"), (2, b"same bytes payload AAAA"),
         (3, b"utterly different content zzzz qqqq"), (4, None)],
        "doc_id bigint, payload binary")
    rows = media_phash_pairs(df).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in rows} >= {(1, 2, 0)}
    assert all(r["hamming"] <= 5 for r in rows)
    assert not any(4 in (r["id_a"], r["id_b"]) for r in rows)  # NULL excluded
    # banded candidate join, never a cartesian scan over fingerprints
    plan = media_phash_pairs(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_set_fingerprinter_seam(spark):
    from beats_analytics import multimodal as mm
    mm.set_fingerprinter("audio", lambda p: len(p) % 7)
    try:
        out = {r["doc_id"]: r["fp"]
               for r in mm.media_fingerprints(
                   _payloads(spark), media_type="audio").collect()}
        assert out[1] == len(b"\x89PNG fake bytes here") % 7
        assert out[3] is None
    finally:
        mm._FINGERPRINTERS.pop("audio", None)
