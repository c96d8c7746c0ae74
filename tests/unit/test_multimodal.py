"""L1 unit tests for the multimodal plumbing (operators/multimodal.py).

Pinned here: the real Spark surface (posexplode provenance, mapInPandas
schema/batch shape, nullability by kind, determinism), and the codec
scope premise — every payload the synthetic fetch emits decodes for real,
and every other flavor reaches the labeled stubs without raising."""

from __future__ import annotations

import pytest

from openie_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_FEATURES_SCHEMA,
    media_feature_stage,
    media_spans,
)
from openie_spark.sources.tables import load_docs


@pytest.fixture(scope="module")
def docs(spark, golden_docs_path):
    return load_docs(spark, golden_docs_path)


def test_media_spans_provenance(spark, docs):
    """Every non-text span appears exactly once with its array position."""
    m = media_spans(docs)
    rows = m.collect()
    assert all(r["kind"] != "text" for r in rows)
    from pyspark.sql import functions as F

    n_media = docs.select(
        F.sum(
            F.size(F.filter("spans", lambda s: s["kind"] != F.lit("text")))
        ).alias("n")
    ).collect()[0]["n"]
    assert len(rows) == n_media
    # span_pos must index into the original array (kind matches)
    sample = docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select("doc_id", "pos", "s.kind").where(F.col("kind") != "text")
    expect = {(r["doc_id"], r["pos"]) for r in sample.collect()}
    assert {(r["doc_id"], r["span_pos"]) for r in rows} == expect


def test_feature_stage_schema_and_nullability(spark, docs):
    feats = media_feature_stage(docs)
    assert feats.schema == MEDIA_FEATURES_SCHEMA
    rows = feats.collect()
    assert rows
    for r in rows:
        assert len(r["feature"]) == FEATURE_DIM
        if r["kind"] == "image":
            assert r["width"] is not None and r["height"] is not None
            assert r["duration_ms"] is None
        elif r["kind"] == "audio":
            assert r["duration_ms"] is not None
            assert r["width"] is None
        assert r["n_bytes"] > 0


def test_feature_stage_deterministic(spark, docs):
    a = sorted(map(repr, media_feature_stage(docs).collect()))
    b = sorted(map(repr, media_feature_stage(docs).collect()))
    assert a == b


def test_resize_images(spark, docs):
    from openie_spark.operators.multimodal import (
        RESIZED_SCHEMA,
        fetch_media_bytes,
        resize_images,
    )

    media = fetch_media_bytes(media_spans(docs))
    out = resize_images(media, max_side=128)
    assert out.schema == RESIZED_SCHEMA
    rows = out.collect()
    n_images = media.where("kind = 'image'").count()
    assert len(rows) == n_images and n_images > 0
    for r in rows:
        assert max(r["thumb_w"], r["thumb_h"]) <= 128
        # aspect preserved within integer truncation
        assert abs(r["width"] / r["height"] - r["thumb_w"] / r["thumb_h"]) < 0.25
        assert len(r["thumb"]) > 0


def test_sample_frames(spark, docs):
    from openie_spark.operators.multimodal import (
        FRAMES_SCHEMA,
        fetch_media_bytes,
        sample_frames,
    )

    media = fetch_media_bytes(media_spans(docs))
    out = sample_frames(media, every_ms=500, max_frames=4)
    assert out.schema == FRAMES_SCHEMA
    rows = out.collect()
    assert rows
    by_span: dict = {}
    for r in rows:
        by_span.setdefault((r["doc_id"], r["span_pos"]), []).append(r)
    for frames in by_span.values():
        idxs = sorted(f["frame_idx"] for f in frames)
        assert idxs == list(range(len(idxs)))  # contiguous from 0
        assert len(idxs) <= 4
        for f in frames:
            assert f["ts_ms"] == f["frame_idx"] * 500
            assert len(f["feature"]) == 16


def test_every_synth_payload_decodes_for_real(monkeypatch):
    """The codecs decode exactly the flavors ``synth_media_bytes`` emits,
    so no payload it produces may reach a stub: over the sf0.01 fixture
    corpus's media refs plus seeded refs, decode_media_row must take the
    real path for every row (the stubs are patched to fail loudly), and
    all seven containers must occur."""
    from openie_spark.fixtures.gen_media_twin import _media_items
    from openie_spark.operators import multimodal as mm
    from openie_spark.plans.registry import ORACLE_SF_DIR

    def stub_reached(*_a, **_k):
        raise AssertionError("a synth payload fell back to a stub")

    for name in ("_feature_stub", "_decode_image_stub", "_duration_stub"):
        monkeypatch.setattr(mm, name, stub_reached)
    items = [(kind, content) for *_, kind, _, content in _media_items(ORACLE_SF_DIR)]
    for i in range(3000):
        kind = ("image", "audio", "video")[i % 3]
        ref = f"media://seeded{i:05d}/{i % 7}"
        items.append((kind, mm.synth_media_bytes(kind, ref)))
    magics = (b"P6", b"BM", b"\x89PNG", b"GIF8", b"\xff\xd8", b"RIFF", b"YUV4MPEG2")
    seen = set()
    for kind, content in items:
        width, height, duration, feature = mm.decode_media_row(kind, content)
        assert len(feature) == FEATURE_DIM
        assert (duration is None) == (kind == "image")
        assert (width is None) == (kind == "audio")
        seen.update(m for m in magics if content.startswith(m))
    assert seen == set(magics)


def test_unsupported_flavors_reach_labeled_stubs():
    """One header-patched synth payload per flavor outside the codec
    scope, plus compressed containers the codecs never decoded (MP3,
    ADTS AAC, H.264): each must land on the labeled stubs, never raise."""
    import struct

    import numpy as np

    from openie_spark.functions.audiocodec import encode_wav
    from openie_spark.functions.imagecodec import encode_bmp, encode_png
    from openie_spark.functions.jpegcodec import encode_jpeg
    from openie_spark.operators.multimodal import (
        _decode_image_stub,
        _duration_stub,
        _feature_stub,
        decode_media_row,
    )

    def patch(buf: bytes, at: int, value: bytes) -> bytes:
        return buf[:at] + value + buf[at + len(value) :]

    rgb = bytes(range(48)) * 4  # 8x8
    jpg = encode_jpeg(8, 8, rgb)
    sof = jpg.find(b"\xff\xc0")
    png = encode_png(8, 8, rgb)
    wav = encode_wav(8000, np.arange(64, dtype=np.int16))
    images = [  # progressive JPEG: test_jpegcodec's media-chain test
        patch(jpg, sof + 11, b"\x22"),  # 4:2:0 luma sampling
        patch(jpg, sof + 9, b"\x01"),  # greyscale
        patch(png, 24, b"\x10"),  # 16-bit
        patch(png, 25, b"\x03"),  # palette
        patch(png, 28, b"\x01"),  # Adam7
        patch(encode_bmp(8, 8, rgb), 28, b"\x20"),  # 32 bpp
    ]
    for content in images:
        assert decode_media_row("image", content) == (
            *_decode_image_stub(content), None, _feature_stub(content)
        )
    audio = [
        patch(wav, 34, struct.pack("<H", 24)),  # 24-bit
        patch(wav, 20, struct.pack("<H", 3)),  # IEEE float
        patch(wav, 20, struct.pack("<H", 0xFFFE)),  # EXTENSIBLE
        b"\xff\xfb\x90\x00" * 200,  # MP3 frame headers
        b"\xff\xf1\x50\x80\x02\x1f\xfc" * 50,  # ADTS headers
    ]
    video = [b"\x00\x00\x00\x01\x67\x42\x00\x1e" * 20]  # H.264 SPS NAL
    for kind, payloads in (("audio", audio), ("video", video)):
        for content in payloads:
            assert decode_media_row(kind, content) == (
                None, None, _duration_stub(content), _feature_stub(content)
            )
