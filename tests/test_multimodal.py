"""Multimodal plumbing tests: schema/batch-shape of every stage is
real even though the byte-level decode is a deterministic stub.
"""

from __future__ import annotations

import pytest

from utility_service_areas_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_media,
    decode_media,
    extract_features,
    fake_decode_meta,
    sample_frames,
)


@pytest.fixture()
def media(spark):
    df = spark.createDataFrame(
        [(0, "an image doc"), (1, "an audio doc"), (2, "a video doc"), (3, "img two")],
        ["doc_id", "text"],
    )
    return attach_media(df, "doc_id", "text")


def test_attach_schema(media):
    assert [f.name for f in media.schema.fields] == ["doc_id", "media_bytes", "mime"]
    assert media.schema["media_bytes"].dataType.simpleString() == "binary"
    mimes = {r.doc_id: r.mime for r in media.collect()}
    assert mimes == {0: "image/png", 1: "audio/wav", 2: "video/mp4", 3: "image/png"}


def test_fake_decode_deterministic_and_typed(media, spark):
    decoded = decode_media(media)
    rows = {r.doc_id: r.meta for r in decoded.collect()}
    again = {r.doc_id: r.meta for r in decode_media(media).collect()}
    assert rows == again  # deterministic across runs
    assert 1 <= rows[0].width <= 1024 and rows[0].duration_ms == 0  # image
    assert rows[2].duration_ms >= 1  # video
    # python-level contract matches the distributed result
    local = fake_decode_meta(b"a video doc", "video/mp4")
    assert (rows[2].width, rows[2].duration_ms) == (local["width"], local["duration_ms"])


def test_frame_sampling_counts(media):
    decoded = decode_media(media)
    frames = sample_frames(decoded, every_ms=1000)
    rows = frames.collect()
    assert all(r.frame_ts_ms % 1000 == 0 for r in rows)
    video_meta = {r.doc_id: r.meta for r in decoded.collect()}[2]
    expected = (video_meta.duration_ms - 1) // 1000 + 1
    assert len([r for r in rows if r.doc_id == 2]) == expected


def test_pdf_source_stub(spark, tmp_path):
    from utility_service_areas_spark.sources.pdf import pdf_metadata

    (tmp_path / "a.pdf").write_bytes(b"%PDF-1.4 fake body")
    (tmp_path / "b.pdf").write_bytes(b"not actually a pdf")
    df = spark.read.format("binaryFile").load(str(tmp_path / "*.pdf"))
    meta = {r.path.split("/")[-1]: r for r in pdf_metadata(df).collect()}
    assert meta["a.pdf"].is_pdf == "yes" and meta["b.pdf"].is_pdf == "no"
    assert meta["a.pdf"].n_bytes == 18 and 1 <= meta["a.pdf"].n_pages <= 40


def test_feature_extraction_shape(media):
    feats = extract_features(media)
    rows = feats.collect()
    assert all(len(r.features) == FEATURE_DIM for r in rows)
    assert all(-1.0 <= v <= 1.0 for r in rows for v in r.features)
