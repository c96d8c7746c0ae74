"""Pure-stdlib image codecs: 24-bit BMP, binary PPM (P6), 8-bit RGB PNG,
and palette GIF.

The container ships no image libraries (no PIL/opencv), but these four
formats are fully specified public formats decodable with nothing beyond
`struct`/`zlib` and numpy — so the multimodal decode path (multimodal.py)
can be REAL end-to-end for them instead of a stub: header parse, pixel
decode, nearest-neighbor resize, and histogram features all compute from
actual pixels.  Decode scope is the flavor each encoder here emits (the
ones the synthetic fetch produces); every other flavor returns None and
falls back to the clearly-marked stubs (replace them with PIL).

Formats (public specs):
  - PPM P6 (Netpbm): ``P6<ws>width<ws>height<ws>maxval<single-ws>`` then
    raw RGB rows top-down.  Comments (``#`` to EOL) allowed in the header.
  - BMP (Windows BITMAPINFOHEADER): 14-byte file header ('BM', size,
    pixel-data offset) + 40-byte DIB (width, height, planes, bpp,
    compression); BI_RGB at 24 bpp (BGR) only, rows bottom-up (top-down
    when height < 0), stride padded to 4 bytes.
  - PNG (W3C spec): 8-bit RGB (color type 2), non-interlaced; chunked
    container, zlib-inflated raster, the five scanline filters (none /
    sub / up / average / paeth) reversed per spec §6.
  - GIF (CompuServe 87a/89a): logical screen + global/local color table,
    variable-width LZW (LSB-first bit packing, clear/end codes, 12-bit
    cap with deferred-clear table freeze), 4-pass interlace supported on
    decode; FIRST frame only (extensions skipped).  GIF is an indexed
    format — the encoder derives a palette from the pixels and refuses
    > 256 distinct colors (callers quantize first).

All functions work on/return raw top-down RGB byte buffers (h*w*3).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    if len(rgb) != width * height * 3:
        raise ValueError(f"encode_ppm: need {width * height * 3} bytes, got {len(rgb)}")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def _ppm_header_tokens(data: bytes, n: int, start: int) -> tuple[list[int], int]:
    """Read n whitespace-separated ints, skipping '#' comments."""
    vals: list[int] = []
    i = start
    while len(vals) < n and i < len(data):
        c = data[i : i + 1]
        if c == b"#":
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j : j + 1].isspace():
                j += 1
            vals.append(int(data[i:j]))
            i = j
    return vals, i


def decode_ppm(data: bytes) -> tuple[int, int, bytes] | None:
    if data[:2] != b"P6":
        return None
    try:
        (w, h, maxval), i = _ppm_header_tokens(data, 3, 2)
    except ValueError:
        return None
    if maxval != 255 or w <= 0 or h <= 0:
        return None
    i += 1  # exactly one whitespace byte separates header and raster
    rgb = data[i : i + w * h * 3]
    if len(rgb) != w * h * 3:
        return None
    return w, h, bytes(rgb)


# ---------------------------------------------------------------------------
# BMP (24 bpp BI_RGB, BITMAPINFOHEADER)
# ---------------------------------------------------------------------------


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    if len(rgb) != width * height * 3:
        raise ValueError(f"encode_bmp: need {width * height * 3} bytes, got {len(rgb)}")
    stride = (3 * width + 3) & ~3
    img = np.frombuffer(rgb, np.uint8).reshape(height, width, 3)
    rows = np.zeros((height, stride), np.uint8)
    rows[:, : 3 * width] = img[::-1, :, ::-1].reshape(height, 3 * width)  # bottom-up BGR
    pixel_data = rows.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(pixel_data), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    return header + dib + pixel_data


def decode_bmp(data: bytes) -> tuple[int, int, bytes] | None:
    """Uncompressed (BI_RGB) 24 bpp BMP → top-down RGB.  Bottom-up rows
    (h > 0) flipped, top-down (h < 0) kept; other bit depths and
    compressions return None (fall through to the labeled stubs)."""
    if data[:2] != b"BM" or len(data) < 54:
        return None
    (off,) = struct.unpack_from("<I", data, 10)
    dib_size, w, h = struct.unpack_from("<Iii", data, 14)
    if dib_size < 40:  # BITMAPCOREHEADER not supported
        return None
    planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if planes != 1 or bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    stride = (3 * w + 3) & ~3
    if len(data) < off + stride * h:
        return None
    rows = np.frombuffer(data, np.uint8, count=stride * h, offset=off).reshape(
        h, stride
    )
    img = rows[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        img = img[::-1]
    return w, h, np.ascontiguousarray(img).tobytes()


# ---------------------------------------------------------------------------
# PNG (8-bit RGB, non-interlaced — W3C PNG spec)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal encoder (filter 0 every row, one IDAT) — round-trip tests
    and synthetic payloads; any spec-conforming reader accepts it."""
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError(f"encode_png: need {width * height * 3} bytes, got {len(rgb)}")

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)  # 8-bit RGB
    rows = np.frombuffer(rgb, np.uint8).reshape(height, width * 3)
    raster = np.hstack([np.zeros((height, 1), np.uint8), rows]).tobytes()
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: np.ndarray, h: int, rowbytes: int, bpp: int) -> np.ndarray:
    """Reverse the five scanline filters (spec §6): returns (h, rowbytes)
    reconstructed bytes.  Filters 0/1/2 vectorize (none / per-lane
    cumulative sum / add-previous-row); 3 (average) and 4 (paeth) are
    sequentially dependent along x and run as per-byte loops."""
    out = np.zeros((h, rowbytes), np.uint16)
    raw = raw.reshape(h, rowbytes + 1)
    for y in range(h):
        f, row = int(raw[y, 0]), raw[y, 1:].astype(np.uint16)
        prev = out[y - 1] if y else np.zeros(rowbytes, np.uint16)
        if f == 0:
            out[y] = row
        elif f == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp]  (mod 256)
            lanes = row.reshape(-1, bpp).astype(np.uint64)
            out[y] = (np.cumsum(lanes, axis=0) % 256).astype(np.uint16).reshape(-1)
        elif f == 2:  # Up
            out[y] = (row + prev) % 256
        elif f == 3:  # Average
            r = out[y]
            for x in range(rowbytes):
                a = r[x - bpp] if x >= bpp else 0
                r[x] = (row[x] + ((a + prev[x]) >> 1)) % 256
        elif f == 4:  # Paeth
            r = out[y]
            for x in range(rowbytes):
                a = int(r[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(out[y - 1, x - bpp]) if (x >= bpp and y) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                r[x] = (row[x] + pred) % 256
        else:
            raise ValueError(f"png: unknown filter {f}")
    return out.astype(np.uint8)


def decode_png(data: bytes) -> tuple[int, int, bytes] | None:
    """8-bit RGB non-interlaced PNG → top-down RGB.  Other color types,
    bit depths and Adam7 interlace return None, as do malformed images
    (fall through to the labeled stubs)."""
    import zlib

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        return None
    # Malformed payloads must fall through to the stubs like the sibling
    # decoders (sniff-and-fall-back contract), never crash the Spark task:
    # truncated IHDR -> struct.error, filter byte > 4 -> ValueError.
    try:
        i, w = len(_PNG_SIG), 0
        h = bitdepth = color = interlace = -1
        idat = bytearray()
        while i + 8 <= len(data):
            (length,), typ = struct.unpack_from(">I", data, i), data[i + 4 : i + 8]
            payload = data[i + 8 : i + 8 + length]
            if typ == b"IHDR":
                w, h, bitdepth, color, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", payload
                )
            elif typ == b"IDAT":
                idat += payload
            elif typ == b"IEND":
                break
            i += 12 + length  # len + type + payload + crc
        if (bitdepth, color, interlace) != (8, 2, 0) or w <= 0 or h <= 0:
            return None
        raster = zlib.decompress(bytes(idat))
        if len(raster) != h * (3 * w + 1):
            return None
        img = _png_unfilter(np.frombuffer(raster, np.uint8), h, 3 * w, 3)
    except (struct.error, ValueError, zlib.error):
        return None
    return w, h, img.tobytes()


# ---------------------------------------------------------------------------
# GIF (87a/89a 'GIF' + version, palette-indexed, variable-width LZW —
# CompuServe spec; LSB-first bit packing, 12-bit code cap)
# ---------------------------------------------------------------------------


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-flavor LZW over palette indices.  Codes start at mcs+1 bits and
    widen when the NEXT table code would not fit (mirror of the decoder's
    bump-on-table-size rule, derived below); at the 4096-entry cap the
    table freezes (deferred clear — the decoder freezes at the same
    point, keeping the streams in lockstep)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    d = {bytes([i]): i for i in range(1 << mcs)}
    nxt, w = end + 1, mcs + 1
    emit(clear, w)
    seq = b""
    for k in indices:
        cand = seq + bytes([k])
        if cand in d:
            seq = cand
            continue
        emit(d[seq], w)
        # encoder adds entry n right after emitting code n; the decoder
        # adds entry n-1 right after reading code n — so the decoder's
        # table size when READING code n+1 is nxt-1, and its
        # bump-at-2^w rule lands here as nxt == 2^w + 1
        if nxt < 4096:
            d[cand] = nxt
            nxt += 1
            if nxt == (1 << w) + 1 and w < 12:
                w += 1
        seq = bytes([k])
    if seq:
        emit(d[seq], w)
    emit(end, w)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int, npix: int) -> bytes | None:
    clear, end = 1 << mcs, (1 << mcs) + 1
    base = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    table = list(base)
    w = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    buf = nbits = i = 0
    while len(out) < npix:
        while nbits < w:
            if i >= len(data):
                return None
            buf |= data[i] << nbits
            i += 1
            nbits += 8
        code = buf & ((1 << w) - 1)
        buf >>= w
        nbits -= w
        if code == clear:
            table = list(base)
            w = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and (code < clear or code > end):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            return None
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << w) and w < 12:
                w += 1
        prev = entry
    return bytes(out[:npix]) if len(out) >= npix else None


def encode_gif(width: int, height: int, rgb: bytes) -> bytes:
    """GIF89a encoder: palette derived from the pixels (<= 256 distinct
    colors or ValueError — GIF is an indexed format; true-color callers
    quantize first), global color table only, one non-interlaced frame,
    real LZW."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"encode_gif: need {width * height * 3} bytes, got {len(rgb)}")
    img = np.frombuffer(rgb, np.uint8).reshape(-1, 3)
    colors, inverse = np.unique(img, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"encode_gif: {len(colors)} distinct colors > 256")
    bits = max(1, (len(colors) - 1).bit_length())  # GCT = 2^bits entries
    pal = np.zeros((1 << bits, 3), np.uint8)
    pal[: len(colors)] = colors
    mcs = max(2, bits)
    packed = 0x80 | ((bits - 1) & 7)  # GCT present, size field = bits-1
    head = b"GIF89a" + struct.pack("<HHBBB", width, height, packed, 0, 0)
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    lzw = _lzw_encode(inverse.astype(np.uint8).tobytes(), mcs)
    blocks = bytearray([mcs])
    for j in range(0, len(lzw), 255):
        chunk = lzw[j : j + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return head + pal.tobytes() + desc + bytes(blocks) + b"\x3b"


def decode_gif(data: bytes) -> tuple[int, int, bytes] | None:
    """First frame of a GIF87a/89a → top-down RGB.  Local color table
    overrides global; 4-pass interlace reordered; extensions (GCE,
    comments, app blocks) skipped; later frames ignored.  Malformed
    payloads return None (the sniff-and-fall-back contract)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    try:
        _sw, _sh, packed, _bg, _par = struct.unpack_from("<HHBBB", data, 6)
        i = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 7)
            gct = np.frombuffer(data, np.uint8, count=3 * n, offset=i).reshape(n, 3)
            i += 3 * n
        while i < len(data):
            b0 = data[i]
            if b0 == 0x21:  # extension: label then 0-terminated sub-blocks
                i += 2
                while data[i] != 0:
                    i += 1 + data[i]
                i += 1
            elif b0 == 0x2C:  # image descriptor
                _l, _t, w, h, ip = struct.unpack_from("<HHHHB", data, i + 1)
                i += 10
                pal = gct
                if ip & 0x80:
                    n = 2 << (ip & 7)
                    pal = np.frombuffer(
                        data, np.uint8, count=3 * n, offset=i
                    ).reshape(n, 3)
                    i += 3 * n
                if pal is None or w <= 0 or h <= 0:
                    return None
                mcs = data[i]
                i += 1
                if not 2 <= mcs <= 11:
                    return None
                chunks = []
                while data[i] != 0:
                    ln = data[i]
                    chunks.append(data[i + 1 : i + 1 + ln])
                    i += 1 + ln
                idx = _lzw_decode(b"".join(chunks), mcs, w * h)
                if idx is None:
                    return None
                arr = np.frombuffer(idx, np.uint8)
                if int(arr.max(initial=0)) >= len(pal):
                    return None
                img = pal[arr].reshape(h, w, 3)
                if ip & 0x40:  # 4-pass interlace: stored rows -> display rows
                    order = (
                        list(range(0, h, 8))
                        + list(range(4, h, 8))
                        + list(range(2, h, 4))
                        + list(range(1, h, 2))
                    )
                    disp = np.empty_like(img)
                    disp[order] = img
                    img = disp
                return w, h, img.tobytes()
            elif b0 == 0x3B:
                break
            else:
                return None
    except (struct.error, IndexError, ValueError):
        return None
    return None


# ---------------------------------------------------------------------------
# sniff / resize / features
# ---------------------------------------------------------------------------


def decode_image(data: bytes) -> tuple[int, int, bytes] | None:
    """Sniff-and-decode: (width, height, top-down RGB) or None if the
    payload is not a supported format."""
    if data[:2] == b"P6":
        return decode_ppm(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(data)
    if data[:2] == b"\xff\xd8":
        from openie_spark.functions.jpegcodec import decode_jpeg

        return decode_jpeg(data)
    return None


def resize_nearest(
    width: int, height: int, rgb: bytes, max_side: int
) -> tuple[int, int, bytes]:
    """Aspect-preserving nearest-neighbor downscale (never upscales)."""
    scale = min(1.0, max_side / max(width, height))
    tw, th = max(1, int(width * scale)), max(1, int(height * scale))
    img = np.frombuffer(rgb, np.uint8).reshape(height, width, 3)
    ys = np.arange(th) * height // th
    xs = np.arange(tw) * width // tw
    return tw, th, img[ys][:, xs].tobytes()


def rgb_features(width: int, height: int, rgb: bytes, dim: int = 16) -> list[float]:
    """Deterministic real pixel features: [mean R, mean G, mean B,
    aspect w/(w+h), then a (dim-4)-bin normalized luminance histogram].
    Matches the shape/dtype contract of the stub feature vector."""
    img = np.frombuffer(rgb, np.uint8).reshape(-1, 3).astype(np.float64)
    means = img.mean(axis=0) / 255.0
    lum = img @ np.array([0.299, 0.587, 0.114])
    hist, _ = np.histogram(lum, bins=dim - 4, range=(0.0, 255.0))
    hist = hist / max(1, len(lum))
    out = [means[0], means[1], means[2], width / (width + height), *hist]
    return [float(round(float(x), 6)) for x in out]
