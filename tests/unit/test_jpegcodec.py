"""JPEG codec (functions/jpegcodec.py): baseline round-trip error bounds,
hand-computable flat blocks, marker/unsupported-flavor refusals, and the
decode_image dispatch."""

from __future__ import annotations

import numpy as np

from openie_spark.functions.jpegcodec import decode_jpeg, encode_jpeg


def _rt(w, h, rgb: bytes):
    out = decode_jpeg(encode_jpeg(w, h, rgb))
    assert out is not None
    dw, dh, drgb = out
    assert (dw, dh) == (w, h)
    return np.frombuffer(drgb, np.uint8).astype(np.int64), np.frombuffer(
        rgb, np.uint8
    ).astype(np.int64)


def test_flat_gray_block_near_exact():
    # flat 8x8 gray: DC-only in every component; quantization error is
    # sub-unit, so the decoded image must match within 1 LSB everywhere
    rgb = bytes([128]) * (8 * 8 * 3)
    got, want = _rt(8, 8, rgb)
    assert np.abs(got - want).max() <= 1


def test_flat_color_image_non_multiple_of_8():
    # edge-replicated padding must not bleed error into the crop
    rgb = bytes([40, 200, 90]) * (13 * 11)
    got, want = _rt(13, 11, rgb)
    assert np.abs(got - want).max() <= 2


def test_smooth_gradient_small_error():
    w, h = 24, 16
    img = np.zeros((h, w, 3), np.uint8)
    for y in range(h):
        for x in range(w):
            img[y, x] = (x * 8, y * 12, 100)
    got, want = _rt(w, h, img.tobytes())
    assert np.abs(got - want).max() <= 12
    assert np.abs(got - want).mean() <= 3.0


def test_random_noise_bounded_error_and_determinism():
    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, 31 * 17 * 3, dtype=np.uint8).tobytes()
    buf1, buf2 = encode_jpeg(31, 17, rgb), encode_jpeg(31, 17, rgb)
    assert buf1 == buf2  # bit-deterministic encode
    got, want = _rt(31, 17, rgb)
    # worst-case bound from the mild quant tables (see module docstring)
    assert np.abs(got - want).max() <= 60
    assert np.abs(got - want).mean() <= 12.0


def test_dc_prediction_across_blocks():
    # two horizontally adjacent flat blocks with different levels: the
    # second block's DC is coded as a diff — both must survive
    img = np.zeros((8, 16, 3), np.uint8)
    img[:, :8] = 50
    img[:, 8:] = 200
    got, want = _rt(16, 8, img.tobytes())
    assert np.abs(got - want).max() <= 1


def test_refusals():
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"\x00\x01") is None
    buf = encode_jpeg(8, 8, bytes(8 * 8 * 3))
    # progressive (SOF2) frames are outside the decode scope
    assert decode_jpeg(buf.replace(b"\xff\xc0", b"\xff\xc2", 1)) is None
    # truncated entropy data refused
    assert decode_jpeg(buf[: len(buf) // 2]) is None
    # chroma subsampling is outside the decode scope: a 2x2 luma
    # sampling byte refuses (4:2:0 / 4:2:2 streams carry it)
    sof = buf.find(b"\xff\xc0")
    patched = bytearray(buf)
    patched[sof + 11] = 0x22  # component 1 h/v factors
    assert decode_jpeg(bytes(patched)) is None
    # single-component (greyscale) frames are outside the decode scope
    patched = bytearray(buf)
    patched[sof + 9] = 1  # SOF component count
    assert decode_jpeg(bytes(patched)) is None


def test_decode_image_dispatch():
    from openie_spark.functions.imagecodec import decode_image

    rgb = bytes([10, 20, 30]) * (8 * 8)
    out = decode_image(encode_jpeg(8, 8, rgb))
    assert out is not None and out[:2] == (8, 8)


def test_zrl_long_zero_run_round_trip():
    # Build pixels from a synthetic spectrum whose only AC energy sits late
    # in zigzag order (index 35), forcing the encoder through ZRL (run>15)
    # and the decoder through the k+=16 path.
    from openie_spark.functions import jpegcodec as J

    coef = np.zeros(64)
    zz_idx = int(J._ZIGZAG[35])
    coef.reshape(64)[zz_idx] = 400.0  # well above the quant step there
    block = np.clip(J._idct(coef.reshape(8, 8)) + 128.0, 0, 255)
    img = np.repeat(
        np.floor(block + 0.5).astype(np.uint8)[:, :, None], 3, axis=-1
    )
    buf = encode_jpeg(8, 8, img.tobytes())
    # the stream must actually contain a ZRL symbol: re-encode the luma
    # block by hand and check the quantized spectrum shape we engineered
    q = J._quantize(J._fdct(block - 128.0)).reshape(64)[J._ZIGZAG]
    nz = np.nonzero(q[1:])[0] + 1
    assert len(nz) >= 1 and nz[0] >= 17  # >15 zeros before first AC nonzero
    out = decode_jpeg(buf)
    assert out is not None
    got = np.frombuffer(out[2], np.uint8).astype(np.int64)
    want = img.astype(np.int64).ravel()
    assert np.abs(got - want).max() <= 40  # late-spectrum quant is coarser


def test_refusals_dri_and_16bit_dqt():
    import struct as _struct

    buf = encode_jpeg(8, 8, bytes([60, 70, 80]) * 64)
    # splice a DRI segment just before SOS -> refused
    sos = buf.find(b"\xff\xda")
    dri = _struct.pack(">HHH", 0xFFDD, 4, 8)
    assert decode_jpeg(buf[:sos] + dri + buf[sos:]) is None
    # 16-bit DQT precision nibble -> refused
    dqt = buf.find(b"\xff\xdb")
    patched = bytearray(buf)
    patched[dqt + 4] |= 0x10
    assert decode_jpeg(bytes(patched)) is None


def test_refusals_all_unsupported_sof_flavors():
    """Every frame marker outside SOF0 — extended sequential,
    progressive, lossless, differential, and all arithmetic-coded
    flavors — must refuse (None), never raise: refused images fall back
    to the labeled stub in the media pipeline."""
    buf = encode_jpeg(8, 8, bytes([90, 100, 110]) * 64)
    for sof in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
        assert decode_jpeg(buf.replace(b"\xff\xc0", bytes([0xFF, sof]), 1)) is None, hex(sof)


def test_refusals_structured_malformations_refuse_not_raise():
    """Self-consistent-but-short segment lengths (a crafted or corrupt
    file, not a random bit flip) must return None — a raise here would
    kill the Spark task instead of stubbing the row."""
    import struct as _struct

    buf = encode_jpeg(8, 8, bytes(192))
    sof = buf.find(b"\xff\xc0")
    sof_len = _struct.unpack_from(">H", buf, sof + 2)[0]
    rest = buf[sof + 2 + sof_len:]
    hdr = buf[sof + 4: sof + 4 + 6]  # precision, h, w, ncomp=3
    # SOF claims 3 components but carries bytes for only one
    short_sof = (buf[:sof] + b"\xff\xc0" + _struct.pack(">H", 2 + 6 + 3)
                 + hdr + buf[sof + 4 + 6: sof + 4 + 9] + rest)
    assert decode_jpeg(short_sof) is None
    # empty SOF segment
    assert decode_jpeg(buf[:sof] + b"\xff\xc0" + _struct.pack(">H", 2) + rest) is None
    # 12-bit sample precision
    patched = bytearray(buf)
    patched[sof + 4] = 12
    assert decode_jpeg(bytes(patched)) is None
    # SOS claims 3 scan components but carries one spec
    sos = buf.find(b"\xff\xda")
    sos_len = _struct.unpack_from(">H", buf, sos + 2)[0]
    sos_seg = buf[sos + 4: sos + 2 + sos_len]
    short_sos = (buf[:sos] + b"\xff\xda" + _struct.pack(">H", 2 + 1 + 2)
                 + bytes([3]) + sos_seg[1:3] + buf[sos + 2 + sos_len:])
    assert decode_jpeg(short_sos) is None


def test_refused_jpeg_falls_back_to_labeled_stub_in_media_chain():
    """A REFUSED JPEG (here: the synth stream relabeled progressive)
    through the one-homed per-row decode chain (decode_media_row) must
    land on the deterministic stub dims + stub feature — the honest
    capability boundary — instead of raising."""
    from openie_spark.operators.multimodal import (
        FEATURE_DIM,
        _decode_image_stub,
        _feature_stub,
        decode_media_row,
    )

    buf = encode_jpeg(8, 8, bytes([10, 20, 30]) * 64)
    refused = buf.replace(b"\xff\xc0", b"\xff\xc2", 1)
    width, height, duration, feature = decode_media_row("image", refused)
    assert (width, height) == _decode_image_stub(refused)
    assert duration is None and feature == _feature_stub(refused)
    assert len(feature) == FEATURE_DIM
    # the baseline original really decodes (8x8, real feature)
    w2, h2, _, f2 = decode_media_row("image", buf)
    assert (w2, h2) == (8, 8) and f2 != feature


def test_progressive_scan_script_refusals():
    """Progressive scan scripts are outside the decode scope: a SOF2
    frame refuses whatever its scans look like — a DC-first scan
    (Ss=Se=0, Al=1), a single-component AC scan, or a full-band one —
    and so does a baseline frame carrying a progressive scan header."""
    import struct as _struct

    buf = encode_jpeg(8, 8, bytes([50, 60, 70]) * 64)
    sos = _struct.pack(">HHB", 0xFFDA, 12, 3) + bytes(
        [1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]
    )
    assert sos in buf
    dc_first = sos[:-3] + bytes([0, 0, 0x01])
    one_comp_ac = _struct.pack(">HHB", 0xFFDA, 8, 1) + bytes([1, 0x00, 1, 63, 0x01])
    prog = buf.replace(b"\xff\xc0", b"\xff\xc2", 1)
    for scan in (sos, dc_first, one_comp_ac):
        assert decode_jpeg(prog.replace(sos, scan, 1)) is None
        if scan != sos:
            assert decode_jpeg(buf.replace(sos, scan, 1)) is None


def test_sampling_factors_above_two_still_refused():
    buf = encode_jpeg(16, 16, bytes([70, 80, 90]) * 256)
    sof = buf.find(b"\xff\xc0")
    for comp, factors in ((0, 0x41), (0, 0x22), (0, 0x21), (1, 0x22), (2, 0x12)):
        patched = bytearray(buf)
        patched[sof + 11 + 3 * comp] = factors
        assert decode_jpeg(bytes(patched)) is None, (comp, hex(factors))
