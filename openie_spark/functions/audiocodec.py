"""Pure-stdlib WAV (RIFF) codec + deterministic PCM features.

Same discipline as functions/imagecodec.py: no codec dependencies, so the
multimodal audio path can decode REAL payloads end-to-end (header parse,
sample decode, windowed energy features) instead of the labeled stubs.
The format is the public RIFF/WAVE spec (Microsoft/IBM 1991):
``RIFF <size> WAVE`` followed by ``fmt `` and ``data`` chunks.
Scope is the flavor ``encode_wav`` emits (the synth path's one home):
integer PCM (format 1) at 16 bits.  Every other sample format — 8/24/32
bit, IEEE float, WAVE_FORMAT_EXTENSIBLE, compressed — returns None and
the caller falls back to its stub (replace it with soundfile), exactly
like decode_image on an unsupported container.

Determinism contract: encode/decode round-trip bit-exactly, and
``pcm_features`` computes in float64 from exact int16 values before the
final float32-bound rounding — the single-process oracle twin
(fixtures/gen_media_twin.py) replays the identical kernel, so the Spark
and DuckDB sides cannot fork.
"""

from __future__ import annotations

import struct

import numpy as np


def encode_wav(sample_rate: int, samples: np.ndarray, n_channels: int = 1) -> bytes:
    """int16 samples (1-D, channel-interleaved when n_channels > 1) →
    RIFF/WAVE PCM16 bytes."""
    data = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * n_channels * 2
    block_align = n_channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH",
        b"fmt ",
        16,
        1,  # PCM
        n_channels,
        sample_rate,
        byte_rate,
        block_align,
        16,  # bits per sample
    )
    body = b"WAVE" + fmt + struct.pack("<4sI", b"data", len(data)) + data
    if len(data) % 2:
        body += b"\x00"  # RIFF chunks are word-aligned
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray] | None:
    """bytes → (sample_rate, n_channels, int16 sample array) or None when
    the payload is not a PCM16 RIFF/WAVE."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos = 12
    rate = channels = None
    fmt = bits = None
    pcm: bytes | None = None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        pos += 8
        chunk = data[pos : pos + size]
        if len(chunk) < size:
            return None  # truncated chunk
        if cid == b"fmt ":
            if size < 16:
                return None
            fmt, channels, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", chunk, 0
            )
        elif cid == b"data":
            pcm = chunk
        pos += size + (size % 2)  # word alignment padding
    if fmt != 1 or bits != 16 or not rate or channels < 1 or pcm is None:
        return None
    usable = len(pcm) - len(pcm) % (2 * channels)
    return rate, channels, np.frombuffer(pcm[:usable], dtype="<i2")


def wav_duration_ms(sample_rate: int, n_channels: int, samples: np.ndarray) -> int:
    """Exact integer duration: frames * 1000 // rate."""
    return int(len(samples) // n_channels) * 1000 // int(sample_rate)


def pcm_features(samples: np.ndarray, n_channels: int, dim: int = 16) -> list[float]:
    """Deterministic real audio features: [normalized mean |amplitude|,
    normalized peak, zero-crossing rate, then a (dim-3)-bin per-bin RMS
    energy profile over equal time slices] — the audio analogue of
    rgb_features, same shape/dtype contract as the stub vector."""
    mono = (
        samples.astype(np.float64).reshape(-1, n_channels).mean(axis=1)
        if n_channels > 1
        else samples.astype(np.float64)
    )
    n = len(mono)
    if n == 0:
        return [0.0] * dim
    scale = 32768.0
    mean_abs = float(np.abs(mono).mean()) / scale
    peak = float(np.abs(mono).max()) / scale
    zcr = float(np.count_nonzero(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) / n
    bins = np.array_split(mono, dim - 3)
    rms = [
        (float(np.sqrt((b * b).mean())) / scale if len(b) else 0.0) for b in bins
    ]
    out = [mean_abs, peak, zcr, *rms]
    return [float(round(float(x), 6)) for x in out]
