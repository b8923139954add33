"""Multimodal operator plumbing tests (stubbed decode, real Spark shapes)."""

from __future__ import annotations

import pytest

from docling_core_spark.operators.multimodal import (
    image_features,
    image_metadata,
    sample_video_frames,
    set_decoders,
    synthetic_media_df,
)


@pytest.fixture(scope="module")
def media(spark):
    df = synthetic_media_df(spark, n=50).cache()
    df.count()
    yield df
    df.unpersist()


def test_image_metadata_shapes(spark, media):
    meta = image_metadata(media)
    rows = meta.collect()
    assert len(rows) == 70  # 50 synthetic + 20 real-header
    assert all(r["error"] is None for r in rows)
    assert all(64 <= r["width"] <= 2047 for r in rows)
    assert all(len(r["sha256"]) == 64 for r in rows)
    # deterministic: same input -> same metadata
    again = {r["media_id"]: (r["width"], r["height"]) for r in image_metadata(media).collect()}
    assert {r["media_id"]: (r["width"], r["height"]) for r in rows} == again


def test_image_features_dim(spark, media):
    feats = image_features(media, dim=16).collect()
    assert all(len(r["embedding"]) == 16 for r in feats)
    assert all(all(-1.0 <= v <= 1.0 for v in r["embedding"]) for r in feats)


def test_video_frame_sampling_bounded(spark, media):
    frames = sample_video_frames(media, max_frames=4)
    rows = frames.collect()
    per_media: dict = {}
    for r in rows:
        per_media.setdefault(r["media_id"], []).append(r)
    assert all(len(v) <= 4 for v in per_media.values())
    for v in per_media.values():
        idxs = [r["frame_idx"] for r in v]
        assert idxs == sorted(idxs)
        assert all(len(bytes(r["frame"])) == 32 for r in v)


def test_decoder_swap(spark, media):
    """Any real decoder drops in through set_decoders."""
    calls = {"n": 0}

    def fake(data: bytes) -> dict:
        calls["n"] += 1
        return {"width": 1, "height": 1, "format": "raw", "n_channels": 1}

    from docling_core_spark.operators import multimodal

    orig = dict(multimodal._DECODERS)
    try:
        set_decoders(image_decode=fake)
        out = image_metadata(media.limit(3)).collect()
        assert all(r["width"] == 1 and r["format"] == "raw" for r in out)
    finally:
        multimodal._DECODERS.update(orig)


def test_empty_payload_isolated(spark):
    df = spark.createDataFrame([("m0", None), ("m1", b"x")], "media_id string, data binary")
    rows = {r["media_id"]: r for r in image_metadata(df).collect()}
    assert rows["m0"]["error"] is not None  # empty payload -> per-row error
    assert rows["m1"]["error"] is None


def test_parse_image_header_png_and_jpeg():
    """Real header parsing without PIL: dims, format, and channel count come
    from the actual PNG IHDR / JPEG SOF bytes."""
    from docling_core_spark.operators.multimodal import (
        jpeg_header_bytes,
        parse_image_header,
        png_header_bytes,
    )

    assert parse_image_header(png_header_bytes(640, 480, color_type=2)) == {
        "width": 640, "height": 480, "format": "png", "n_channels": 3,
    }
    assert parse_image_header(png_header_bytes(10, 20, color_type=6)) == {
        "width": 10, "height": 20, "format": "png", "n_channels": 4,
    }
    assert parse_image_header(jpeg_header_bytes(1920, 1080)) == {
        "width": 1920, "height": 1080, "format": "jpeg", "n_channels": 3,
    }
    assert parse_image_header(jpeg_header_bytes(8, 8, n_components=1)) == {
        "width": 8, "height": 8, "format": "jpeg", "n_channels": 1,
    }
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(b"") is None


def test_image_metadata_mixed_real_and_stub(spark):
    """The default decoder handles a mixed corpus: real-header rows decode
    to their true dims/format; hashed payloads fall back to the stub."""
    from docling_core_spark.operators.multimodal import (
        image_metadata,
        synthetic_media_df,
    )

    out = {r["media_id"]: r for r in image_metadata(synthetic_media_df(spark, n=30)).collect()}
    assert len(out) == 50  # 30 synthetic + 20 real-header
    png0 = out["media-png-0"]
    assert (png0["width"], png0["height"], png0["format"]) == (100, 80, "png")
    jpg1 = out["media-jpg-1"]
    assert (jpg1["width"], jpg1["height"], jpg1["format"], jpg1["n_channels"]) == (
        113, 87, "jpeg", 3,
    )
    # stub rows still decode deterministically, no errors anywhere
    assert all(r["error"] is None for r in out.values())
    assert out["media-0"]["format"] in ("png", "jpeg", "webp")
