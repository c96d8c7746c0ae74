"""Pure-stdlib image codec (functions/imagecodec.py): encode/decode
round-trips for PPM, BMP, PNG and GIF, refusal of every other flavor,
nearest-neighbor resize geometry, pixel features, and the end-to-end
REAL decode through the multimodal Spark path (the synthetic fetch emits
genuine payloads for image spans)."""

from __future__ import annotations

import numpy as np
import pytest

from openie_spark.functions.imagecodec import (
    decode_bmp,
    decode_image,
    decode_ppm,
    encode_bmp,
    encode_ppm,
    resize_nearest,
    rgb_features,
)


def _px(w, h, seed=7) -> bytes:
    return np.random.default_rng(seed).integers(0, 256, w * h * 3, np.uint8).tobytes()


@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (17, 5), (64, 64)])
def test_ppm_roundtrip(w, h):
    rgb = _px(w, h)
    assert decode_ppm(encode_ppm(w, h, rgb)) == (w, h, rgb)


@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (17, 5), (64, 64)])
def test_bmp_roundtrip(w, h):
    """Exercises the 4-byte row padding (w=17 -> stride 52 != 51) and the
    bottom-up row order + BGR channel swap."""
    rgb = _px(w, h)
    assert decode_bmp(encode_bmp(w, h, rgb)) == (w, h, rgb)


def test_ppm_header_comments_and_whitespace():
    rgb = _px(2, 2)
    data = b"P6 # a comment\n# another\n 2\t2\n255\n" + rgb
    assert decode_ppm(data) == (2, 2, rgb)


def test_bmp_known_pixels():
    """Hand-checkable 2x1: red then blue, stored bottom-up BGR padded."""
    rgb = bytes([255, 0, 0, 0, 0, 255])
    data = encode_bmp(2, 1, rgb)
    # pixel data starts at 54: BGR for red = 00 00 FF, blue = FF 00 00
    assert data[54:60] == bytes([0, 0, 255, 255, 0, 0])
    assert decode_bmp(data) == (2, 1, rgb)


def test_decode_image_sniffs_and_rejects():
    rgb = _px(4, 3)
    assert decode_image(encode_ppm(4, 3, rgb)) == (4, 3, rgb)
    assert decode_image(encode_bmp(4, 3, rgb)) == (4, 3, rgb)
    assert decode_image(b"\x89PNG\r\n\x1a\nnot-supported") is None
    assert decode_image(b"") is None
    # truncated raster must not crash, just refuse
    assert decode_ppm(encode_ppm(4, 3, rgb)[:-5]) is None
    assert decode_bmp(encode_bmp(4, 3, rgb)[:-5]) is None
    # BMP bit depths other than 24 (32 bpp BGRX, 8 bpp palette) refuse
    for bpp in (32, 8):
        patched = bytearray(encode_bmp(4, 3, rgb))
        patched[28] = bpp  # DIB biBitCount
        assert decode_bmp(bytes(patched)) is None, bpp


def test_resize_nearest_geometry_and_identity():
    rgb = _px(40, 20)
    tw, th, out = resize_nearest(40, 20, rgb, max_side=10)
    assert (tw, th) == (10, 5) and len(out) == 10 * 5 * 3
    # never upscales
    assert resize_nearest(4, 2, _px(4, 2), max_side=100)[:2] == (4, 2)
    # solid color survives resampling exactly
    solid = bytes([9, 99, 199]) * (8 * 8)
    _, _, sout = resize_nearest(8, 8, solid, max_side=3)
    assert sout == bytes([9, 99, 199]) * 9


def test_rgb_features_shape_and_values():
    solid = bytes([255, 0, 0]) * 12  # pure red 4x3
    f = rgb_features(4, 3, solid, dim=16)
    assert len(f) == 16
    assert f[0] == 1.0 and f[1] == 0.0 and f[2] == 0.0
    assert abs(f[3] - 4 / 7) < 1e-6  # features are rounded to 6 decimals
    assert abs(sum(f[4:]) - 1.0) < 1e-6  # histogram normalized


def test_media_feature_stage_uses_real_decode(spark, golden_docs_path):
    """End-to-end: image spans get REAL PPM payloads from the synthetic
    fetch, so decoded dims must sit in the synth range (8..63) — the stub
    range starts at 64, so any stub fallback here would fail."""
    from openie_spark.operators.multimodal import media_feature_stage
    from openie_spark.sources.tables import load_docs

    rows = (
        media_feature_stage(load_docs(spark, golden_docs_path))
        .where("kind = 'image'")
        .collect()
    )
    assert rows
    for r in rows:
        assert 8 <= r["width"] < 64 and 8 <= r["height"] < 64
        # PPM/BMP carry the full raster (+header); PNG/GIF compress, but
        # even their container overhead keeps a real payload non-trivial
        assert r["n_bytes"] > 100


def test_resize_images_real_thumbnails_decode_back(spark, golden_docs_path):
    """Thumbnails of decodable images are themselves decodable PPMs with
    the declared dims."""
    from openie_spark.operators.multimodal import (
        fetch_media_bytes,
        media_spans,
        resize_images,
    )
    from openie_spark.sources.tables import load_docs

    media = fetch_media_bytes(media_spans(load_docs(spark, golden_docs_path)))
    rows = resize_images(media, max_side=16).collect()
    assert rows
    for r in rows:
        got = decode_image(bytes(r["thumb"]))
        assert got is not None
        w, h, rgb = got
        assert (w, h) == (r["thumb_w"], r["thumb_h"])
        assert max(w, h) <= 16 and len(rgb) == w * h * 3


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(payload))
        + typ
        + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def _png_build(w, h, depth, color, interlace, raster, plte=None) -> bytes:
    import struct
    import zlib

    from openie_spark.functions.imagecodec import _PNG_SIG

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte.tobytes())
    return out + _png_chunk(b"IDAT", zlib.compress(raster)) + _png_chunk(b"IEND", b"")


def _png_rows(samples2d, depth) -> bytes:
    """Filter-0 scanlines of 8- or 16-bit samples (one row per line)."""
    if depth == 16:
        samples2d = (samples2d.astype(np.uint16) * 257).astype(">u2")
    return b"".join(b"\x00" + row.tobytes() for row in samples2d)


def _forward_filter(f, row, prev, bpp):
    """Reference FORWARD filter (spec §6) — the inverse of what the
    decoder reverses; per-byte, independent of the decoder's vectorization."""
    out = bytearray()
    for x in range(len(row)):
        a = row[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if f == 0:
            out.append(row[x])
        elif f == 1:
            out.append((row[x] - a) % 256)
        elif f == 2:
            out.append((row[x] - b) % 256)
        elif f == 3:
            out.append((row[x] - ((a + b) >> 1)) % 256)
        elif f == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((row[x] - pred) % 256)
    return bytes([f]) + bytes(out)


def test_png_roundtrip_rgb():
    from openie_spark.functions.imagecodec import decode_png, encode_png

    w, h = 13, 7
    rgb = bytes((x * 37 + 11) % 256 for x in range(w * h * 3))
    got = decode_png(encode_png(w, h, rgb))
    assert got == (w, h, rgb)


def test_png_all_filters_reconstruct():
    """Every scanline filter (0,1,2,3,4) on the same known image must
    reconstruct identical pixels — pinned against the reference forward
    filter, not the decoder's own math."""
    from openie_spark.functions.imagecodec import decode_png

    w, h, bpp = 9, 5, 3
    pixels = [bytes(((x * 31 + y * 17 + 7) % 256) for x in range(w * bpp)) for y in range(h)]
    for f in range(5):
        rows, prev = [], bytes(w * bpp)
        for y in range(h):
            rows.append(_forward_filter(f, pixels[y], prev, bpp))
            prev = pixels[y]
        got = decode_png(_png_build(w, h, 8, 2, 0, b"".join(rows)))
        assert got is not None and got[2] == b"".join(pixels), f"filter {f}"


def test_png_rejects_unsupported():
    import struct

    from openie_spark.functions.imagecodec import _PNG_SIG, decode_image, decode_png

    from openie_spark.functions.imagecodec import encode_png

    # palette (color type 3) and 16-bit fall through to None
    for bitdepth, color in ((8, 3), (16, 2)):
        ihdr = struct.pack(">IIBBBBB", 2, 2, bitdepth, color, 0, 0, 0)
        data = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
        assert decode_png(data) is None
    assert decode_png(b"nope") is None
    # every flavor but 8-bit RGB non-interlaced refuses: the synth stream
    # with its IHDR patched (bit depth, color type, interlace bytes)
    synth = encode_png(2, 2, bytes(12))
    ihdr = len(_PNG_SIG) + 8
    for field, value in (
        (8, 16), (8, 4), (8, 1),  # 16-bit, sub-8-bit
        (9, 0), (9, 3), (9, 4), (9, 6),  # grey, palette, grey+alpha, RGBA
        (12, 1),  # Adam7 interlace
    ):
        patched = bytearray(synth)
        patched[ihdr + field] = value
        assert decode_image(bytes(patched)) is None, (field, value)
    # sniffing dispatch
    assert decode_image(synth)[0] == 2


def test_png_malformed_falls_through_to_none():
    """Sniff-and-fall-back contract: payloads that LOOK like PNG but are
    malformed must return None (stub fallback), never raise into the
    Spark task — truncated IHDR and an out-of-range filter byte."""
    import struct
    import zlib

    from openie_spark.functions.imagecodec import _PNG_SIG, decode_png

    truncated = _PNG_SIG + _png_chunk(b"IHDR", b"\x00\x00\x00\x01")
    assert decode_png(truncated) is None

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad_filter = bytes([5]) + bytes(6)  # filter byte 5 is out of spec
    data = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bad_filter * 2))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_png(data) is None


# ---------------------------------------------------------------------------
# GIF (palette + variable-width LZW + interlace)
# ---------------------------------------------------------------------------


def _pal_image(seed: int, w: int, h: int, ncolors: int = 61):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    return pal[rng.integers(0, ncolors, w * h)].tobytes()


def test_gif_roundtrip_and_sniff():
    from openie_spark.functions.imagecodec import decode_gif, encode_gif

    # 61 colors + 120x97 forces LZW code-width growth past mcs+1
    rgb = _pal_image(7, 120, 97)
    g = encode_gif(120, 97, rgb)
    assert g[:6] == b"GIF89a"
    assert decode_gif(g) == (120, 97, rgb)
    assert decode_image(g) == (120, 97, rgb)
    # degenerate palettes: 1 color (bits floor) and 2 colors
    one = b"\x05\x06\x07" * 12
    assert decode_gif(encode_gif(4, 3, one)) == (4, 3, one)
    two = b"\x00\x00\x00\xff\xff\xff" * 8
    assert decode_gif(encode_gif(4, 4, two)) == (4, 4, two)


def test_gif_lzw_table_cap_roundtrip():
    """A long 256-symbol structured stream drives the LZW table to the
    4096-entry cap — encoder and decoder must freeze it at the same code
    (deferred clear) or the streams desync."""
    from openie_spark.functions.imagecodec import _lzw_decode, _lzw_encode

    seq = bytes((i * 7 + (i * i) // 3) % 256 for i in range(100_000))
    assert _lzw_decode(_lzw_encode(seq, 8), 8, len(seq)) == seq


def test_gif_interlaced_decode():
    """Hand-build an interlaced GIF: store display rows in 4-pass order and
    set the interlace bit; the decoder must reorder them back."""
    from openie_spark.functions.imagecodec import decode_gif, encode_gif

    w, h = 9, 13
    rgb = _pal_image(11, w, h, ncolors=17)
    rows = np.frombuffer(rgb, np.uint8).reshape(h, w * 3)
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    stored = rows[order].tobytes()  # what an interlaced writer would store
    g = bytearray(encode_gif(w, h, stored))
    bits = (g[10] & 7) + 1  # GCT size field -> palette entries = 2^bits
    ip_off = 13 + 3 * (1 << bits) + 9  # header + GCT + 0x2c + 8 geom bytes
    assert g[ip_off - 9] == 0x2C
    g[ip_off] |= 0x40  # interlace flag
    assert decode_gif(bytes(g)) == (w, h, rgb)


def test_gif_malformed_falls_through_to_none():
    from openie_spark.functions.imagecodec import decode_gif, encode_gif

    g = encode_gif(6, 5, _pal_image(3, 6, 5, ncolors=9))
    assert decode_gif(g[:30]) is None  # truncated mid-palette/descriptor
    assert decode_gif(b"GIF89a") is None
    assert decode_gif(b"nope") is None
    # >256 distinct colors must be refused at encode time
    rng = np.random.default_rng(1)
    true_color = rng.integers(0, 256, 32 * 32 * 3, dtype=np.uint8).tobytes()
    with pytest.raises(ValueError):
        encode_gif(32, 32, true_color)


def test_png_refusals_and_fuzz_safety():
    """Palette stream without PLTE, index past the palette end, bad
    interlace mode → None; truncations and random bit flips of the synth
    flavor and of refused flavors must refuse or decode, never raise."""
    import random

    from openie_spark.functions.imagecodec import decode_png, encode_png

    rng = random.Random(3)
    z4 = np.zeros((4, 4), np.uint8)
    assert decode_png(_png_build(4, 4, 8, 3, 0, _png_rows(z4, 8))) is None
    assert (
        decode_png(
            _png_build(1, 1, 8, 3, 0, _png_rows(np.array([[3]], np.uint8), 8),
                       np.array([[1, 2, 3]], np.uint8))
        )
        is None
    )
    ihdr_bad = _png_build(4, 4, 8, 2, 2, _png_rows(np.zeros((4, 12), np.uint8), 8))
    assert decode_png(ihdr_bad) is None
    img = np.array(
        [[[rng.randrange(256) for _ in range(3)] for _ in range(9)] for _ in range(7)],
        np.uint8,
    )
    payloads = [
        encode_png(9, 7, img.tobytes()),
        _png_build(9, 7, 8, 2, 1, _png_rows(img.reshape(7, 27), 8)),
        _png_build(9, 7, 16, 2, 0, _png_rows(img.reshape(7, 27), 16)),
    ]
    for buf in payloads:
        for cut in range(0, len(buf), 7):
            decode_png(buf[:cut])  # must not raise
        for _ in range(400):
            b = bytearray(buf)
            b[rng.randrange(len(b))] = rng.randrange(256)
            decode_png(bytes(b))  # must not raise
