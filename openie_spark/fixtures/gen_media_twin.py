"""Pure-Python single-process twin of the multimodal path — the oracle
side for ``media_features``, ``media_thumbnails`` and ``media_frames``.

Same fixture discipline as gen_spec_triples / gen_dedup_twin: the twin
shares ONLY the frozen per-item kernels (the synthetic fetch, the
ONE-HOMED decode → stub chain ``multimodal.decode_media_row``,
and the image resize/frame-sample kernels) and re-executes the span
explosion, fetch, decode, resize and frame-sampling loops single-process
over plain lists.  Everything the CLUSTER adds — posexplode provenance,
the two mapInPandas fences, Arrow float32 round-trips, the JVM
micro-quantized serialization of the feature vector and the JVM md5 over
thumbnail bytes — is then value-hash pinned by a DuckDB identity scan.

Serialization single-home: feature strings come from
``multimodal.feature_micro`` (the Python twin of ``feature_micro_col``);
thumbnail md5 from hashlib over the identical PPM bytes.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pyarrow as pa

from openie_spark.fixtures import store

FEATURES_PA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("span_pos", pa.int32(), nullable=False),
        pa.field("kind", pa.string(), nullable=False),
        pa.field("media_ref", pa.string(), nullable=False),
        pa.field("n_bytes", pa.int64(), nullable=False),
        pa.field("width", pa.int32(), nullable=False),
        pa.field("height", pa.int32(), nullable=False),
        pa.field("duration_ms", pa.int32(), nullable=False),
        pa.field("feature_q", pa.string(), nullable=False),
    ]
)

THUMBS_PA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("span_pos", pa.int32(), nullable=False),
        pa.field("media_ref", pa.string(), nullable=False),
        pa.field("width", pa.int32(), nullable=False),
        pa.field("height", pa.int32(), nullable=False),
        pa.field("thumb_w", pa.int32(), nullable=False),
        pa.field("thumb_h", pa.int32(), nullable=False),
        pa.field("thumb_md5", pa.string(), nullable=False),
        pa.field("thumb_bytes", pa.int32(), nullable=False),
    ]
)

FRAMES_PA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("span_pos", pa.int32(), nullable=False),
        pa.field("media_ref", pa.string(), nullable=False),
        pa.field("frame_idx", pa.int32(), nullable=False),
        pa.field("ts_ms", pa.int32(), nullable=False),
        pa.field("feature_q", pa.string(), nullable=False),
    ]
)


def _media_items(sf_dir: str) -> list[tuple[str, int, str, str, bytes]]:
    """(doc_id, span_pos, kind, media_ref, content) per non-text span —
    the twin of media_spans → fetch_media_bytes (the fetch kernel itself
    is the shared single home ``synth_media_bytes``)."""
    from openie_spark.fixtures.gen_docs import docs_interleaved
    from openie_spark.fixtures.gen_golden import golden_docs
    from openie_spark.operators.multimodal import synth_media_bytes

    items = []
    for d in docs_interleaved(sf_dir) + golden_docs():
        for pos, s in enumerate(d["spans"]):
            if s["kind"] == "text":
                continue
            ref = s["media_ref"]
            items.append(
                (d["doc_id"], pos, s["kind"], ref, synth_media_bytes(s["kind"], ref))
            )
    return items


def media_feature_rows(sf_dir: str) -> list[dict]:
    # the per-row decode → stub chain is ONE-HOMED in
    # multimodal.decode_media_row (shared with the Spark fence) — the
    # twin only adds the sentinel encoding and the serialization twin
    from openie_spark.operators.multimodal import decode_media_row, feature_micro

    rows = []
    for doc_id, pos, kind, ref, content in _media_items(sf_dir):
        width, height, duration, feature = decode_media_row(kind, content)
        rows.append(
            {
                "doc_id": doc_id,
                "span_pos": pos,
                "kind": kind,
                "media_ref": ref,
                "n_bytes": len(content),
                "width": -1 if width is None else width,
                "height": -1 if height is None else height,
                "duration_ms": -1 if duration is None else duration,
                "feature_q": feature_micro(feature),
            }
        )
    return rows


def media_thumb_rows(sf_dir: str, max_side: int = 256) -> list[dict]:
    # per-image chain ONE-HOMED in multimodal.thumbnail_row (shared with
    # the Spark fence)
    from openie_spark.operators.multimodal import thumbnail_row

    rows = []
    for doc_id, pos, kind, ref, content in _media_items(sf_dir):
        if kind != "image":
            continue
        w, h, tw, th, thumb = thumbnail_row(content, max_side)
        rows.append(
            {
                "doc_id": doc_id,
                "span_pos": pos,
                "media_ref": ref,
                "width": w,
                "height": h,
                "thumb_w": tw,
                "thumb_h": th,
                "thumb_md5": hashlib.md5(thumb).hexdigest(),
                "thumb_bytes": len(thumb),
            }
        )
    return rows


def media_frame_rows(
    sf_dir: str, every_ms: int = 1000, max_frames: int = 8
) -> list[dict]:
    from openie_spark.operators.multimodal import feature_micro, sampled_frame_rows

    rows = []
    for doc_id, pos, kind, ref, content in _media_items(sf_dir):
        if kind not in ("audio", "video"):
            continue
        for k, ts, feature in sampled_frame_rows(kind, content, every_ms, max_frames):
            rows.append(
                {
                    "doc_id": doc_id,
                    "span_pos": pos,
                    "media_ref": ref,
                    "frame_idx": k,
                    "ts_ms": ts,
                    "feature_q": feature_micro(feature),
                }
            )
    return rows


def media_features_path(sf_dir: str) -> str:
    fp = store.file_fingerprint(Path(sf_dir) / "documents.parquet")
    name = f"media_twin_features_v8_{Path(sf_dir).name}_{fp}"
    return store.ensure(
        name, lambda p: store.write_rows(media_feature_rows(sf_dir), FEATURES_PA, p)
    )


def media_thumbs_path(sf_dir: str) -> str:
    fp = store.file_fingerprint(Path(sf_dir) / "documents.parquet")
    name = f"media_twin_thumbs_v8_{Path(sf_dir).name}_{fp}"
    return store.ensure(
        name, lambda p: store.write_rows(media_thumb_rows(sf_dir), THUMBS_PA, p)
    )


def media_frames_path(sf_dir: str) -> str:
    fp = store.file_fingerprint(Path(sf_dir) / "documents.parquet")
    name = f"media_twin_frames_v8_{Path(sf_dir).name}_{fp}"
    return store.ensure(
        name, lambda p: store.write_rows(media_frame_rows(sf_dir), FRAMES_PA, p)
    )
