"""WAV codec (functions/audiocodec.py): round-trip bit-exactness, chunk
walking, refusal of every flavor but PCM16, and feature determinism."""

from __future__ import annotations

import struct

import numpy as np

from openie_spark.functions.audiocodec import (
    decode_wav,
    encode_wav,
    pcm_features,
    wav_duration_ms,
)


def test_round_trip_mono():
    rng = np.random.default_rng(7)
    samples = rng.integers(-32768, 32768, 12345, dtype=np.int16)
    rate, ch, got = decode_wav(encode_wav(16000, samples))
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(got, samples)
    assert wav_duration_ms(rate, ch, got) == 12345 * 1000 // 16000


def test_round_trip_stereo_and_odd_data_padding():
    rng = np.random.default_rng(8)
    # odd FRAME count and interleaved stereo; data chunk of odd byte size
    # cannot occur at 16-bit, so also check an extra unknown chunk instead
    samples = rng.integers(-2000, 2000, 2 * 501, dtype=np.int16)
    buf = encode_wav(8000, samples, n_channels=2)
    rate, ch, got = decode_wav(buf)
    assert (rate, ch) == (8000, 2)
    assert np.array_equal(got, samples)
    assert wav_duration_ms(rate, ch, got) == 501 * 1000 // 8000


def test_unknown_chunks_are_skipped():
    samples = np.arange(100, dtype=np.int16)
    buf = encode_wav(8000, samples)
    # splice a LIST chunk (odd size -> exercises word-alignment padding)
    extra = struct.pack("<4sI", b"LIST", 3) + b"abc\x00"
    spliced = bytearray(buf[:12] + extra + buf[12:])
    spliced[4:8] = struct.pack("<I", len(spliced) - 8)
    rate, ch, got = decode_wav(bytes(spliced))
    assert (rate, ch) == (8000, 1)
    assert np.array_equal(got, samples)


def test_refuses_non_wav_and_non_pcm16():
    assert decode_wav(b"") is None
    assert decode_wav(b"not a wav at all") is None
    assert decode_wav(b"RIFF\x00\x00\x00\x00JUNK") is None
    # every sample width but 16 and every format but PCM refuse (caller
    # falls back to the stub): the synth stream, header-patched
    for bits in (8, 12, 24, 32):
        buf = bytearray(encode_wav(8000, np.arange(10, dtype=np.int16)))
        buf[34] = bits  # bits-per-sample field
        assert decode_wav(bytes(buf)) is None, bits
    for fmt in (2, 3, 7):  # ADPCM, IEEE float, mu-law
        buf = bytearray(encode_wav(8000, np.arange(10, dtype=np.int16)))
        buf[20] = fmt  # audio_format
        assert decode_wav(bytes(buf)) is None, fmt
    # a zero sample rate has no duration
    buf = bytearray(encode_wav(8000, np.arange(10, dtype=np.int16)))
    buf[24:28] = bytes(4)
    assert decode_wav(bytes(buf)) is None
    # truncated data chunk
    assert decode_wav(encode_wav(8000, np.arange(10, dtype=np.int16))[:-4]) is None


def test_features_shape_and_determinism():
    rng = np.random.default_rng(9)
    samples = rng.integers(-32768, 32768, 4000, dtype=np.int16)
    f1 = pcm_features(samples, 1, 16)
    f2 = pcm_features(samples.copy(), 1, 16)
    assert f1 == f2 and len(f1) == 16
    assert all(0.0 <= x <= 1.0 for x in f1)
    assert pcm_features(np.array([], dtype=np.int16), 1, 16) == [0.0] * 16
    # silence -> zero energy everywhere but well-defined
    assert pcm_features(np.zeros(100, dtype=np.int16), 1, 16) == [0.0] * 16


def test_synth_audio_is_real_wav(spark):
    from openie_spark.operators.multimodal import synth_media_bytes

    buf = synth_media_bytes("audio", "s3://bucket/a-clip-42")
    wav = decode_wav(buf)
    assert wav is not None
    rate, ch, samples = wav
    assert rate in (8000, 16000) and ch == 1 and len(samples) > 0
    # video stays the labeled stub (no pure-stdlib codec)
    assert decode_wav(synth_media_bytes("video", "s3://bucket/v-1")) is None


def test_wav_extensible_wrapper_and_compressed_refusals():
    """WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping PCM16 and compressed
    formats are outside the decode scope: each refuses, never raises."""
    s16 = np.array([5, -7, 300], "<i2").tobytes()
    sub = struct.pack("<H", 1) + b"\x00\x00" + bytes(12)  # SubFormat GUID
    fchunk = (
        struct.pack("<4sIHHIIHH", b"fmt ", 40, 0xFFFE, 1, 16000, 0, 0, 16)
        + struct.pack("<HHI", 22, 16, 0)
        + sub
    )
    body = b"WAVE" + fchunk + struct.pack("<4sI", b"data", len(s16)) + s16
    assert decode_wav(struct.pack("<4sI", b"RIFF", len(body)) + body) is None
    for fmt, bits in ((2, 4), (6, 8), (7, 8)):  # ADPCM, a-law, mu-law
        buf = bytearray(encode_wav(8000, np.arange(8, dtype=np.int16)))
        struct.pack_into("<H", buf, 20, fmt)
        struct.pack_into("<H", buf, 34, bits)
        assert decode_wav(bytes(buf)) is None, fmt
