"""Multimodal column plumbing: media as opaque binary + typed metadata.

The container ships no image/audio libraries, so every codec is a
pure-stdlib kernel scoped to exactly the seven flavors the synthetic
fetch (``synth_media_bytes``) emits:

  - **REAL image decode** for binary PPM (P6), 24-bpp BMP, 8-bit RGB
    non-interlaced PNG, palette GIF (functions/imagecodec.py) and
    baseline 3-component 4:4:4 JPEG (functions/jpegcodec.py) — header
    parse, pixel decode, nearest-neighbor resize, and luminance-histogram
    features all compute from actual pixels, end-to-end through the Spark
    plan.  The synthetic fetch rotates image payloads over all five
    containers, so every codec runs e2e in the tests and registry queries.
  - **REAL audio decode** for PCM16 RIFF/WAVE (the fetch emits mono) via
    functions/audiocodec.py: duration, energy features and per-frame
    windowed features all compute from actual samples.
  - **REAL video decode** for YUV4MPEG2 C444 via functions/videocodec.py:
    dims, exact duration, poster-frame features and per-instant frame
    seek + luma features all compute from actual frames.

Any other payload (another flavor of these containers, or MP3/AAC/H.264
and friends) falls through to **deterministic STUBS** (clearly marked).
Swapping a stub for PIL/soundfile/ffmpeg changes one inner function, not
the plan.

Everything Spark-side is real and tested either way: schemas, Arrow batch
shapes, mapInPandas iterator signatures, partition-size controls.

Pipeline shape for 100 TB of media:
  docs(spans) → explode media spans → (fetch bytes: here synthesized
  deterministically from media_ref) → mapInPandas decode/feature batches →
  feature table keyed by (doc_id, span_pos).

mapInPandas (not a scalar UDF) because decode output is wide and variable
(feature vectors, frame arrays) and because batch-level amortization of
decoder init matters; maxRecordsPerBatch in session.py bounds batch memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_pos", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("content", BinaryType(), True),
    ]
)

MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_pos", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("width", IntegerType(), True),  # images + video
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),  # audio + video
        StructField("feature", ArrayType(FloatType(), containsNull=False), False),
    ]
)

FEATURE_DIM = 16


def feature_micro_col(col: str):
    """Engine-portable serialization of a float32 feature vector: each
    element → micro-quantized bigint (floor(x*1e6 + 0.5) over the exact
    float32→double widening) → comma-joined string.  SINGLE HOME with the
    Python twin below — the oracle fixture (gen_media_twin) must serialize
    identically or the driver hash forks."""
    return F.concat_ws(
        ",",
        F.transform(
            F.col(col),
            lambda x: F.floor(x.cast("double") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
        ),
    )


def feature_micro(vals: list[float]) -> str:
    """Python twin of feature_micro_col: vals are the float32 values the
    Arrow schema stores (cast exactly as Spark does before widening)."""
    import math

    return ",".join(
        str(math.floor(float(np.float32(v)) * 1e6 + 0.5)) for v in vals
    )


def media_spans(docs: DataFrame) -> DataFrame:
    """Explode non-text spans with their array position (posexplode so the
    span-order provenance survives into the feature table)."""
    return docs.select(
        "doc_id", F.posexplode("spans").alias("span_pos", "s")
    ).where(F.col("s.kind") != "text").select(
        "doc_id",
        F.col("span_pos").cast("int"),
        F.col("s.kind").alias("kind"),
        F.col("s.media_ref").alias("media_ref"),
    )


def _synth_image(media_ref: str) -> bytes:
    """Deterministic REAL image payload for an image span: dims and pixels
    derive from the ref hash, and the CONTAINER rotates over
    PPM/BMP/PNG/GIF/JPEG (h[10] % 5) — so every pure-stdlib codec is
    driven by the e2e media path, not just by unit tests.  The lossless
    true-color containers share identical pixel content; the GIF branch
    draws its pixels from a ref-derived 64-color palette (GIF is an
    indexed format — the encoder refuses true-color input by design); the
    JPEG branch carries the same true-color pixels through the lossy
    baseline codec (downstream features compute from the DECODED pixels
    on both the Spark and the oracle side, so loss cannot fork parity)."""
    from openie_spark.functions.imagecodec import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_ppm,
    )
    from openie_spark.functions.jpegcodec import encode_jpeg

    h = hashlib.sha256(media_ref.encode()).digest()
    w, hgt = 8 + h[0] % 56, 8 + h[1] % 56
    rng = np.random.default_rng(int.from_bytes(h[2:10], "big"))
    if h[10] % 5 == 3:
        pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
        rgb = pal[rng.integers(0, 64, w * hgt)].tobytes()
        return encode_gif(w, hgt, rgb)
    rgb = rng.integers(0, 256, w * hgt * 3, dtype=np.uint8).tobytes()
    return (encode_ppm, encode_bmp, encode_png, None, encode_jpeg)[h[10] % 5](
        w, hgt, rgb
    )


def _synth_audio(media_ref: str) -> bytes:
    """Deterministic REAL audio payload: a genuine RIFF/WAVE PCM16 file
    whose rate, duration and samples derive from the ref hash — so the
    pure-stdlib WAV codec is driven by the e2e media path.  Durations are
    kept to 0.2-2.2 s at 8/16 kHz mono so fixture payloads stay small."""
    from openie_spark.functions.audiocodec import encode_wav

    h = hashlib.sha256(media_ref.encode()).digest()
    rate = (8000, 16000)[h[0] % 2]
    dur_ms = 200 + int.from_bytes(h[2:4], "big") % 2000
    n = rate * dur_ms // 1000
    rng = np.random.default_rng(int.from_bytes(h[4:12], "big"))
    samples = rng.integers(-32768, 32768, n, dtype=np.int16)
    return encode_wav(rate, samples)


def _synth_video(media_ref: str) -> bytes:
    """Deterministic REAL video payload: a genuine YUV4MPEG2 C444 stream
    whose dims, frame rate, frame count and pixels derive from the ref
    hash — so the pure-stdlib y4m codec is driven by the e2e media path.
    Small dims / few frames keep fixture payloads modest."""
    from openie_spark.functions.videocodec import encode_y4m

    h = hashlib.sha256(media_ref.encode()).digest()
    w, hgt = 8 + h[0] % 17, 8 + h[1] % 17
    fps = (2, 4, 8)[h[2] % 3]
    n_frames = 3 + h[3] % 8
    rng = np.random.default_rng(int.from_bytes(h[4:12], "big"))
    frames = [
        rng.integers(0, 256, 3 * w * hgt, dtype=np.uint8).tobytes()
        for _ in range(n_frames)
    ]
    return encode_y4m(w, hgt, fps, 1, frames)


def synth_media_bytes(kind: str, media_ref: str) -> bytes:
    """SINGLE HOME for the synthetic fetch kernel — the Spark fetch fence
    and the single-process oracle twin (fixtures/gen_media_twin.py) must
    both call this, or the driver hash forks.  All three modalities emit
    REAL containers (PPM/BMP/PNG/GIF/JPEG, WAV, y4m); unknown kinds keep
    the sha256-hexdigest stub payload."""
    if kind == "image":
        return _synth_image(media_ref)
    if kind == "audio":
        return _synth_audio(media_ref)
    if kind == "video":
        return _synth_video(media_ref)
    return hashlib.sha256(media_ref.encode()).hexdigest().encode()


def fetch_media_bytes(media: DataFrame) -> DataFrame:
    """SYNTHETIC fetch: real deployments read from object storage by
    media_ref — which is a per-row Python/connector task, so a Python
    fence here matches the plan shape of the real thing.  All three
    modalities get REAL deterministic containers via synth_media_bytes
    (image: PPM/BMP/PNG/GIF/JPEG; audio: WAV; video: y4m); only unknown
    kinds keep the sha256-hexdigest stub payload."""
    out_schema = MEDIA_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = [
                synth_media_bytes(kind, ref)
                for kind, ref in zip(pdf["kind"], pdf["media_ref"])
            ]
            pdf = pdf.assign(content=content)
            yield pdf[[f.name for f in out_schema.fields]]

    return media.mapInPandas(run, out_schema)


def _decode_image_stub(content: bytes) -> tuple[int, int]:
    """STUB for image flavors without an in-container codec.
    Deterministic fake dimensions derived from the content hash.  Replace
    with PIL: ``img = PIL.Image.open(io.BytesIO(content)); return
    img.size``."""
    h = hashlib.sha256(content or b"").digest()
    return 64 + h[0] % 512, 64 + h[1] % 512


def _duration_stub(content: bytes) -> int:
    """STUB — deterministic fake duration for ANY timed modality whose
    container does not decode (audio and video share it on
    purpose — the fallback is modality-neutral); replace with
    soundfile/ffmpeg."""
    h = hashlib.sha256(content or b"").digest()
    return 250 + int.from_bytes(h[2:4], "big") % 60_000


def _feature_stub(content: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """STUB feature extractor — a deterministic hash-derived vector with the
    exact shape/dtype a real encoder would emit."""
    h = hashlib.sha256(content or b"").digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
    return [float(x) for x in np.round(rng.standard_normal(dim), 6)]


def decode_media_row(kind: str, content: bytes):
    """SINGLE HOME for the per-row decode → labeled-stub chain — the
    Spark fence (decode_media) and the oracle twin
    (fixtures/gen_media_twin.py:media_feature_rows) must BOTH call this,
    or the two sides' value hashes fork.  Returns ``(width, height,
    duration_ms, feature)`` with None for fields the format does not
    carry; ``feature`` is always a FEATURE_DIM float list (real where
    pixels/PCM decode, the labeled stub otherwise)."""
    from openie_spark.functions.audiocodec import (
        decode_wav,
        pcm_features,
        wav_duration_ms,
    )
    from openie_spark.functions.imagecodec import decode_image, rgb_features
    from openie_spark.functions.videocodec import (
        decode_y4m,
        y4m_duration_ms,
        y_features,
    )

    width = height = duration = None
    feature = None
    if kind == "image":
        decoded = decode_image(content)
        if decoded is not None:
            width, height, rgb = decoded
            feature = rgb_features(width, height, rgb, FEATURE_DIM)
        else:
            width, height = _decode_image_stub(content)
    elif kind == "audio":
        wav = decode_wav(content)
        if wav is not None:
            rate, ch, samples = wav
            duration = wav_duration_ms(rate, ch, samples)
            feature = pcm_features(samples, ch, FEATURE_DIM)
        else:
            duration = _duration_stub(content)
    elif kind == "video":
        vid = decode_y4m(content)
        if vid is not None:
            w, h, num, den, frames = vid
            width, height = w, h
            duration = y4m_duration_ms(num, den, len(frames))
            # poster-frame convention: the stream-level feature is the
            # first frame's luma profile
            feature = y_features(w, h, frames[0], FEATURE_DIM)
        else:
            duration = _duration_stub(content)
    if feature is None:
        feature = _feature_stub(content)
    return width, height, duration, feature


def decode_media(media_with_bytes: DataFrame) -> DataFrame:
    """mapInPandas decode/feature-extraction over Arrow batches.  Images
    in a supported flavor (PPM/BMP/PNG/GIF/JPEG) get a REAL decode + pixel
    features; WAV audio a REAL decode + sample-energy features; y4m video
    a REAL decode + dims/duration/poster-frame luma features.  Anything
    else falls through to the stubs.  The per-row chain is one-homed in
    ``decode_media_row`` (shared with the oracle twin)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content = bytes(r.content) if r.content is not None else b""
                width, height, duration, feature = decode_media_row(
                    r.kind, content
                )
                rows.append(
                    {
                        "doc_id": r.doc_id,
                        "span_pos": r.span_pos,
                        "kind": r.kind,
                        "media_ref": r.media_ref,
                        "n_bytes": len(content),
                        "width": width,
                        "height": height,
                        "duration_ms": duration,
                        "feature": feature,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_FEATURES_SCHEMA.fields]
            )

    return media_with_bytes.mapInPandas(decode, MEDIA_FEATURES_SCHEMA)


def media_feature_stage(docs: DataFrame) -> DataFrame:
    """Full media path: explode → synthetic fetch → decode (real for the
    supported image/audio/video flavors; labeled stubs otherwise) →
    features."""
    return decode_media(fetch_media_bytes(media_spans(docs)))


# ---------------------------------------------------------------------------
# resize / frame-sample (PPM/BMP/PNG/GIF/JPEG resize is REAL pixels; other
# formats keep the stub discipline: Spark plumbing real, codec kernels
# replaceable one function at a time)
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_pos", IntegerType(), False),
        StructField("media_ref", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("thumb_w", IntegerType(), False),
        StructField("thumb_h", IntegerType(), False),
        StructField("thumb", BinaryType(), False),
    ]
)


def _resize_stub(content: bytes, max_side: int) -> tuple[int, int, bytes]:
    """STUB for non-decodable formats.  Computes the exact
    aspect-preserving target dims a real resize would, and emits a
    deterministic hash-derived byte payload of plausible thumbnail size.
    Replace with PIL: ``img.thumbnail((max_side, max_side)); buf = ...``."""
    w, h = _decode_image_stub(content)
    scale = min(1.0, max_side / max(w, h))
    tw, th = max(1, int(w * scale)), max(1, int(h * scale))
    h0 = hashlib.sha256(content + max_side.to_bytes(4, "big")).digest()
    payload = (h0 * ((tw * th * 3) // len(h0) + 1))[: tw * th * 3 // 64 + 16]
    return tw, th, payload


def thumbnail_row(content: bytes, max_side: int):
    """SINGLE HOME for the per-image thumbnail chain (real decode →
    nearest resize → PPM re-encode, stub for unparseable bytes) — shared
    by the Spark fence (resize_images) and the oracle twin
    (gen_media_twin.media_thumb_rows), same rule as decode_media_row.
    Returns ``(width, height, thumb_w, thumb_h, thumb_bytes)``."""
    from openie_spark.functions.imagecodec import (
        decode_image,
        encode_ppm,
        resize_nearest,
    )

    decoded = decode_image(content)
    if decoded is not None:
        w, h, rgb = decoded
        tw, th, trgb = resize_nearest(w, h, rgb, max_side)
        return w, h, tw, th, encode_ppm(tw, th, trgb)
    w, h = _decode_image_stub(content)
    tw, th, thumb = _resize_stub(content, max_side)
    return w, h, tw, th, thumb


def resize_images(media_with_bytes: DataFrame, max_side: int = 256) -> DataFrame:
    """Aspect-preserving thumbnail pass over image spans (mapInPandas).
    Supported flavors (PPM/BMP/PNG/GIF/JPEG) run a REAL nearest-neighbor
    downscale and emit the thumbnail re-encoded as PPM; anything else
    uses the stub.  Per-image chain one-homed in ``thumbnail_row``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.kind != "image":
                    continue
                content = bytes(r.content) if r.content is not None else b""
                w, h, tw, th, thumb = thumbnail_row(content, max_side)
                rows.append(
                    {
                        "doc_id": r.doc_id,
                        "span_pos": r.span_pos,
                        "media_ref": r.media_ref,
                        "width": w,
                        "height": h,
                        "thumb_w": tw,
                        "thumb_h": th,
                        "thumb": thumb,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return media_with_bytes.mapInPandas(run, RESIZED_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_pos", IntegerType(), False),
        StructField("media_ref", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("ts_ms", IntegerType(), False),
        StructField("feature", ArrayType(FloatType(), containsNull=False), False),
    ]
)


def frame_window_feature(
    samples: "np.ndarray", n_channels: int, rate: int, ts_ms: int, every_ms: int
) -> list[float]:
    """REAL per-frame audio feature: energy profile of the samples inside
    [ts, ts+every_ms).  SINGLE HOME with the oracle twin (kernel shared
    the same way as pcm_features)."""
    from openie_spark.functions.audiocodec import pcm_features

    lo = ts_ms * rate // 1000
    hi = (ts_ms + every_ms) * rate // 1000
    return pcm_features(
        samples[lo * n_channels : hi * n_channels], n_channels, FEATURE_DIM
    )


def sampled_frame_rows(
    kind: str, content: bytes, every_ms: int, max_frames: int
) -> list[tuple[int, int, list[float]]]:
    """(frame_idx, ts_ms, feature) triples for one audio/video span —
    SINGLE HOME for the sampling kernel, shared by the Spark fence and the
    oracle twin.  WAV audio: REAL windowed sample-energy features.  y4m
    video: REAL decoded frame at each sample instant, luma features.
    Anything else: the labeled stubs."""
    from openie_spark.functions.audiocodec import decode_wav, wav_duration_ms
    from openie_spark.functions.videocodec import (
        decode_y4m,
        frame_at_ms,
        y4m_duration_ms,
        y_features,
    )

    wav = decode_wav(content) if kind == "audio" else None
    vid = decode_y4m(content) if kind == "video" else None
    if wav is not None:
        rate, ch, samples = wav
        duration = wav_duration_ms(rate, ch, samples)
    elif vid is not None:
        w, h, num, den, frames = vid
        duration = y4m_duration_ms(num, den, len(frames))
    else:
        duration = _duration_stub(content)
    n = min(max_frames, max(1, duration // every_ms))
    out = []
    for k in range(int(n)):
        ts = k * every_ms
        if wav is not None:
            feature = frame_window_feature(samples, ch, rate, ts, every_ms)
        elif vid is not None:
            feature = y_features(
                w, h, frames[frame_at_ms(num, den, len(frames), ts)], FEATURE_DIM
            )
        else:
            feature = _feature_stub(content + ts.to_bytes(4, "big"))
        out.append((k, ts, feature))
    return out


def sample_frames(
    media_with_bytes: DataFrame, every_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Uniform frame sampling over audio/video spans: one output row per
    sampled frame with a per-frame feature vector (mapInPandas).  WAV
    audio and y4m video run REAL per-instant features (see
    sampled_frame_rows); anything else keeps the stub (replace with
    ffmpeg seek+decode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.kind not in ("audio", "video"):
                    continue
                content = bytes(r.content) if r.content is not None else b""
                for k, ts, feature in sampled_frame_rows(
                    r.kind, content, every_ms, max_frames
                ):
                    rows.append(
                        {
                            "doc_id": r.doc_id,
                            "span_pos": r.span_pos,
                            "media_ref": r.media_ref,
                            "frame_idx": k,
                            "ts_ms": ts,
                            "feature": feature,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAMES_SCHEMA.fields])

    return media_with_bytes.mapInPandas(run, FRAMES_SCHEMA)
