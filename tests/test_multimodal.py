"""Binary media plumbing: validity filter, feature extraction, stub gate."""

import sys
import types

import pytest
from pyspark.sql import functions as F

from basicocr_spark.operators import multimodal as MM


def test_validate_media_drops_corrupt(spark):
    refs = [f"m{i:06d}" for i in range(21)]
    blobs = MM.build_blob_table(spark, refs, corrupt_every=7)
    valid = MM.validate_media(blobs)
    rows = valid.collect()
    assert len(rows) == 21 - 3  # every 7th corrupt
    for r in rows:
        assert r.valid and r.dec_width > 0 and r.dec_height == 32


def test_media_features_deterministic(spark):
    refs = [f"m{i:06d}" for i in range(10)]
    blobs = MM.build_blob_table(spark, refs, corrupt_every=0)
    f1 = {r.media_ref: list(r.features) for r in MM.media_features(blobs).collect()}
    f2 = {r.media_ref: list(r.features) for r in MM.media_features(blobs).collect()}
    assert f1 == f2
    assert len(f1) == 10
    for v in f1.values():
        assert len(v) == 3 + 8  # mean, std, aspect + 8-bin hist
        assert -1.0 <= v[0] <= 1.0
        assert v[2] > 0  # aspect ratio


def test_decoder_resolution_defaults_to_fake_codec(monkeypatch):
    """resolve_decoder defaults to the fake codec (the blob tables behind
    the media oracles are fake-encoded), also when imaging libraries are
    importable, and an explicitly injected callable wins."""
    assert MM.resolve_decoder() is MM.decode_fake_image
    marker = lambda buf: None
    assert MM.resolve_decoder(marker) is marker

    pil = types.ModuleType("PIL")
    pil.Image = types.ModuleType("PIL.Image")
    monkeypatch.setitem(sys.modules, "cv2", types.ModuleType("cv2"))
    monkeypatch.setitem(sys.modules, "PIL", pil)
    assert MM.resolve_decoder() is MM.decode_fake_image


def test_injected_decoder_drives_all_media_operators(spark):
    """The adapter-seam contract: a custom decoder (here: one that
    decodes ANY non-empty blob to a fixed 8x4 gradient image) plugs into
    validate/features/dynamic-width with zero engine edits — corrupt
    blobs the fake codec would drop are now valid, dims come from the
    injected decoder, and features reflect its pixels."""

    def gradient_decoder(buf):
        if buf is None or len(buf) == 0:
            return None
        return 8, 4, bytes(range(32))

    refs = [f"m{i:06d}" for i in range(6)]
    blobs = MM.build_blob_table(spark, refs, corrupt_every=2)
    valid = MM.validate_media(blobs, decoder=gradient_decoder).collect()
    assert len(valid) == 6  # nothing dropped: every blob is non-empty
    assert all(r.dec_width == 8 and r.dec_height == 4 for r in valid)

    feats = MM.media_features(blobs, decoder=gradient_decoder).collect()
    assert len(feats) == 6
    vals = {tuple(r.features) for r in feats}
    assert len(vals) == 1  # every image identical under this decoder
    (fv,) = vals
    assert fv[2] == 2.0  # aspect = 8/4

    widths = {
        r.batch_width
        for r in MM.media_batches_dynamic_width(blobs, decoder=gradient_decoder).collect()
    }
    assert widths == {64}  # max_ratio 2.0 * target_h 32


def test_injected_frame_iter_drives_sampling(spark):
    """sample_frames' container walker is pluggable the same way."""

    def two_frame_iter(buf):
        if buf is None:
            return
        yield 0, b"frame-a"
        yield 1, b"frame-b"

    refs = ["v1", "v2"]
    videos = MM.build_video_table(spark, refs, corrupt_every=0)
    out = MM.sample_frames(videos, n_samples=4, frame_iter=two_frame_iter).collect()
    assert len(out) == 4  # 2 videos x 2 frames
    assert {bytes(r.content) for r in out} == {b"frame-a", b"frame-b"}


def test_roundtrip_encoding():
    buf = MM.encode_fake_image("m000001", 80, 32)
    w, h, payload = MM.decode_fake_image(buf)
    assert (w, h) == (80, 32)
    assert len(payload) == 80 * 32
    assert MM.decode_fake_image(b"junk") is None
    assert MM.decode_fake_image(None) is None


def test_dynamic_width_batching(spark):
    refs = [f"m{i:06d}" for i in range(12)]
    blobs = MM.build_blob_table(spark, refs, corrupt_every=0).repartition(2)
    out = MM.media_batches_dynamic_width(blobs).collect()
    assert len(out) == 12
    widths = {r.batch_width for r in out}
    for r in out:
        # every tensor padded exactly to its batch's width
        assert len(r.col_means) == r.batch_width
        assert r.batch_width <= 400
    # width derives from the batch max aspect: 32-high targets, sources
    # are (64..96)x32 so widths in [64, 96]
    assert all(64 <= w <= 96 for w in widths)


def test_video_roundtrip():
    buf = MM.encode_fake_video("v000001", 5)
    frames = list(MM._iter_fake_video_frames(buf))
    assert [i for i, _ in frames] == [0, 1, 2, 3, 4]
    for i, frame in frames:
        w, h, payload = MM.decode_fake_image(frame)
        assert (w, h) == (48, 32)
        # frames differ (content keyed by ref#idx)
    payloads = {MM.decode_fake_image(f)[2] for _, f in frames}
    assert len(payloads) == 5
    assert list(MM._iter_fake_video_frames(b"junk")) == []
    assert list(MM._iter_fake_video_frames(None)) == []


def test_frame_sampling(spark):
    refs = [f"v{i:06d}" for i in range(10)]
    videos = MM.build_video_table(spark, refs, corrupt_every=5).repartition(2)
    out = MM.sample_frames(videos, n_samples=4).collect()
    by_ref = {}
    for r in out:
        by_ref.setdefault(r.media_ref, []).append(r.frame_idx)
    # corrupt blobs (every 5th) emit nothing
    assert set(by_ref) == {r for i, r in enumerate(refs) if i % 5 != 4}
    for i, ref in enumerate(refs):
        if i % 5 == 4:
            continue
        t = 3 + (i % 9)
        want = sorted({(j * (t - 1)) // 3 for j in range(4)}) if t > 4 else list(range(t))
        assert sorted(by_ref[ref]) == want, (ref, t)


def test_frame_sampling_composes_with_image_pipeline(spark):
    refs = [f"v{i:06d}" for i in range(6)]
    videos = MM.build_video_table(spark, refs, corrupt_every=0)
    frames = MM.sample_frames(videos, n_samples=3).withColumn(
        "media_ref", F.concat_ws("#", "media_ref", F.col("frame_idx").cast("string"))
    ).withColumn("mime", F.lit("image/x-bocr"))
    feats = MM.media_features(frames.select("media_ref", "content", "mime")).collect()
    assert len(feats) == 3 * 6
    for r in feats:
        assert len(r.features) == 11


def test_frame_sampling_single_sample(spark):
    videos = MM.build_video_table(spark, [f"v{i:06d}" for i in range(5)], corrupt_every=0)
    out = MM.sample_frames(videos, n_samples=1).collect()
    assert len(out) == 5
    assert all(r.frame_idx == 0 for r in out)
