"""Pure-stdlib baseline JPEG (ITU-T T.81 / JFIF) codec.

Same discipline as functions/{image,audio,video}codec.py: no codec
dependencies, so the multimodal image path can decode REAL JPEG payloads
end-to-end.  Scope is exactly the flavor ``encode_jpeg`` emits (the one
the synthetic fetch produces):

  - **Encoder**: baseline sequential DCT, 8-bit, 3 components at 4:4:4
    (no chroma subsampling), JFIF color (RGB→YCbCr), edge-replicated
    padding to 8×8 MCUs, and SELF-DEFINED canonical Huffman tables
    written to DHT (the spec lets any valid tables ride in the file —
    emitting our own removes any dependence on remembering Annex K
    byte-for-byte; every conforming decoder, including this one, reads
    tables from DHT).
  - **Decoder**: baseline sequential (SOF0), 8-bit, 3 components at
    1×1 sampling, one interleaved full-band scan; tables taken from the
    stream, 0xFF00 byte-stuffing, EOB/ZRL runs, DC prediction.  Anything
    else — progressive, subsampled or greyscale frames, arithmetic
    coding, lossless/differential frames, restart intervals, 16-bit
    tables — returns None and the caller falls back to its labeled stub
    (replace it with PIL for foreign JPEGs), exactly like decode_image on
    an unknown container.

Determinism contract: FDCT/IDCT run in float64 through one fixed 8×8
DCT matrix; quantization is floor(x/q + 0.5) with half-away-from-zero
for negatives.  Both the Spark fence and the single-process oracle twin
import THIS module, so JVM/DuckDB sides cannot fork.  JPEG is lossy:
round-trips are near-exact for smooth content and bounded for noise
(tests pin the bounds); all downstream features compute from the DECODED
pixels on both sides, so loss never breaks parity.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constants: zigzag order, quant tables, our canonical Huffman tables
# ---------------------------------------------------------------------------

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Mild quantization (values 4..18): small loss, deterministic, valid.
_U, _V = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
_QTABLE = (4 + _U + _V).astype(np.int64)  # used for luma AND chroma

# Our canonical Huffman tables: all 12 DC categories at code length 5;
# all 162 AC symbols at code length 8.  Canonical assignment in symbol
# order keeps codes well below the forbidden all-ones code.
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_DC_BITS = [0] * 16
_DC_BITS[4] = len(_DC_SYMBOLS)  # length 5 (BITS index 4)
_AC_BITS = [0] * 16
_AC_BITS[7] = len(_AC_SYMBOLS)  # length 8


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 canonical code construction: symbol → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length_minus_1, count in enumerate(bits):
        for _ in range(count):
            out[symbols[k]] = (code, length_minus_1 + 1)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_SYMBOLS)

# one fixed DCT-II matrix (float64) drives both transforms
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _fdct(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _idct(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


def _quantize(coef: np.ndarray) -> np.ndarray:
    x = coef / _QTABLE
    return np.where(x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5)).astype(np.int64)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    return np.stack(
        [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ],
        axis=-1,
    )


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    return np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )


# ---------------------------------------------------------------------------
# bit I/O with 0xFF00 stuffing
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per the spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int | None:
        while self.nbits < n:
            if self.pos >= len(self.data):
                return None
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data):
                    return None
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    return None  # a real marker inside entropy data
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        self.nbits -= n
        val = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return val


def _size_cat(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _dht_segment(tc: int, th: int, bits: list[int], symbols: list[int]) -> bytes:
    payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(symbols)
    return struct.pack(">HH", 0xFFC4, 2 + len(payload)) + payload


def _quantize_image(width: int, height: int, rgb: bytes) -> np.ndarray:
    """RGB bytes → quantized zigzag-order coefficients (3, bh, bw, 64)."""
    img = (
        np.frombuffer(rgb, np.uint8)
        .reshape(height, width, 3)
        .astype(np.float64)
    )
    ycc = _rgb_to_ycbcr(img)
    ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
    padded = np.empty((ph, pw, 3))
    padded[:height, :width] = ycc
    padded[height:, :width] = ycc[height - 1 : height, :]  # edge replicate
    padded[:, width:] = padded[:, width - 1 : width]
    out = np.zeros((3, ph // 8, pw // 8, 64), np.int64)
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            for comp in range(3):
                block = padded[by : by + 8, bx : bx + 8, comp] - 128.0
                q = _quantize(_fdct(block))
                out[comp, by // 8, bx // 8] = q.reshape(64)[_ZIGZAG]
    return out


def _headers(width: int, height: int) -> list[bytes]:
    """SOI..DHT header segments of the baseline 4:4:4 stream."""
    qzz = bytes(int(_QTABLE.reshape(64)[z]) for z in _ZIGZAG)
    return [
        b"\xff\xd8",  # SOI
        struct.pack(">HH", 0xFFE0, 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00",
        struct.pack(">HH", 0xFFDB, 2 + 65) + b"\x00" + qzz,  # DQT id 0
        struct.pack(">HH", 0xFFDB, 2 + 65) + b"\x01" + qzz,  # DQT id 1
        # SOF0: 8-bit, 3 components, 1×1 sampling; luma DQT 0, chroma 1
        struct.pack(">HHBHHB", 0xFFC0, 17, 8, height, width, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
        _dht_segment(0, 0, _DC_BITS, _DC_SYMBOLS),
        _dht_segment(1, 0, _AC_BITS, _AC_SYMBOLS),
        _dht_segment(0, 1, _DC_BITS, _DC_SYMBOLS),
        _dht_segment(1, 1, _AC_BITS, _AC_SYMBOLS),
    ]


def _write_magnitude(w: _BitWriter, enc, sym: int, v: int, size: int) -> None:
    code, length = enc[sym]
    w.write(code, length)
    if size:
        w.write(v if v >= 0 else v + (1 << size) - 1, size)


def _encode_block_entropy(w: _BitWriter, zz, prev_dc: int) -> int:
    """One baseline block (DC diff + AC runs/EOB) → bitstream; returns
    the new DC predictor."""
    diff = int(zz[0]) - prev_dc
    new_dc = int(zz[0])
    size = _size_cat(diff)
    _write_magnitude(w, _DC_ENC, size, diff, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            if k > last_nz:
                code, length = _AC_ENC[0x00]  # EOB
                w.write(code, length)
                break
            run += 1
            continue
        while run > 15:
            code, length = _AC_ENC[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        size = _size_cat(v)
        _write_magnitude(w, _AC_ENC, (run << 4) | size, v, size)
        run = 0
    return new_dc


def encode_jpeg(width: int, height: int, rgb: bytes) -> bytes:
    """Top-down RGB bytes → baseline 4:4:4 JFIF JPEG."""
    coefs = _quantize_image(width, height, rgb)
    _, bh, bw, _ = coefs.shape
    w = _BitWriter()
    prev_dc = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw):
            for comp in range(3):
                prev_dc[comp] = _encode_block_entropy(
                    w, coefs[comp, by, bx], prev_dc[comp]
                )
    out = _headers(width, height)
    out += [
        # SOS: 3 components; luma uses tables (0,0), chroma (1,1)
        struct.pack(">HHB", 0xFFDA, 12, 3)
        + bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]),
        w.flush(),
        b"\xff\xd9",  # EOI
    ]
    return b"".join(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _build_decode_table(bits: list[int], symbols: list[int]) -> dict[tuple[int, int], int]:
    enc = _canonical_codes(bits, symbols)
    return {(length, code): sym for sym, (code, length) in enc.items()}


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _read_symbol(r: _BitReader, table: dict[tuple[int, int], int]) -> int | None:
    code = 0
    for length in range(1, 17):
        bit = r.read(1)
        if bit is None:
            return None
        code = (code << 1) | bit
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _entropy_end(data: bytes, start: int) -> int | None:
    """Index of the first real marker after ``start`` (skipping stuffed
    0xFF00 pairs) — the end of the scan's entropy-coded segment."""
    i = start
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= len(data):
            return None
        if data[j + 1] == 0x00:
            i = j + 2
            continue
        return j


def _decode_block(zz, r, dct, act, prev_dc: int) -> int | None:
    """One baseline block (DC diff + full AC band) into ``zz``; returns
    the new DC predictor or None on error."""
    size = _read_symbol(r, dct)
    if size is None or size > 11:
        return None
    diff = 0
    if size:
        v = r.read(size)
        if v is None:
            return None
        diff = _extend(v, size)
    prev_dc += diff
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = _read_symbol(r, act)
        if sym is None:
            return None
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if sym != 0xF0:
                return None
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            return None
        v = r.read(size)
        if v is None:
            return None
        zz[k] = _extend(v, size)
        k += 1
    return prev_dc


def _decode_scan(coefs, scan, htables, r) -> bool:
    """One interleaved full-band 4:4:4 scan → per-component zigzag
    coefficient grids, plain block raster with the scan's components
    interleaved per block."""
    prev_dc = [0] * len(coefs)
    _, bh, bw, _ = coefs.shape
    for by in range(bh):
        for bx in range(bw):
            for ci, dc_id, ac_id in scan:
                dct = htables.get((0, dc_id))
                act = htables.get((1, ac_id))
                if dct is None or act is None:
                    return False
                dc = _decode_block(coefs[ci, by, bx], r, dct, act, prev_dc[ci])
                if dc is None:
                    return False
                prev_dc[ci] = dc
    return True


def decode_jpeg(data: bytes) -> tuple[int, int, bytes] | None:
    """Baseline 8-bit 4:4:4 three-component JPEG bytes → (width, height,
    top-down RGB), or None for any other flavor and for malformed
    streams (see the module docstring)."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    qids: list[int] = []  # per-component DQT id, SOF order
    cids: list[int] = []  # per-component id, SOF order
    coefs = qt = None  # set by the one scan (tables as of its SOS)
    pos = 2
    saw_eoi = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            return None
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if pos + 4 > len(data):
            return None
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        seg = data[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            return None
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            sp = 0
            while sp < len(seg):
                prec, tid = seg[sp] >> 4, seg[sp] & 0x0F
                if prec != 0:
                    return None  # 16-bit tables: unsupported
                vals = np.frombuffer(seg[sp + 1 : sp + 65], np.uint8).astype(np.int64)
                if len(vals) != 64:
                    return None
                q = np.zeros(64, np.int64)
                q[_ZIGZAG] = vals
                qtables[tid] = q.reshape(8, 8)
                sp += 65
        elif marker == 0xC0:  # SOF0 baseline
            # malformed-but-self-consistent segment lengths must refuse,
            # not raise: a crafted short SOF would otherwise throw out of
            # the slice unpack and kill the task instead of stubbing
            if width is not None or len(seg) < 15 or seg[0] != 8 or seg[5] != 3:
                return None
            height, width = struct.unpack_from(">HH", seg, 1)
            for c in range(3):
                cid, sampling, qid = seg[6 + 3 * c : 9 + 3 * c]
                if sampling != 0x11:
                    return None  # chroma subsampling: unsupported
                cids.append(cid)
                qids.append(qid)
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # progressive/lossless/arithmetic SOF flavors
        elif marker == 0xC4:  # DHT (possibly several tables)
            sp = 0
            while sp + 17 <= len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0x0F
                bits = list(seg[sp + 1 : sp + 17])
                n = sum(bits)
                symbols = list(seg[sp + 17 : sp + 17 + n])
                if len(symbols) != n:
                    return None
                htables[(tc, th)] = _build_decode_table(bits, symbols)
                sp += 17 + n
        elif marker == 0xDD:  # DRI restart interval
            return None  # unsupported (our encoder never emits it)
        elif marker == 0xDA:  # SOS
            if width is None or coefs is not None or len(seg) != 10 or seg[0] != 3:
                return None  # baseline carries exactly one 3-component scan
            scan = []
            for c in range(3):
                cid, tsel = seg[1 + 2 * c], seg[2 + 2 * c]
                if cid not in cids:
                    return None
                scan.append((cids.index(cid), tsel >> 4, tsel & 0x0F))
            if sorted(ci for ci, _, _ in scan) != [0, 1, 2]:
                return None  # a component missing from the scan
            if tuple(seg[7:10]) != (0, 63, 0):
                return None  # spectral selection / successive approximation
            if any(q not in qtables for q in qids):
                return None
            qt = [qtables[q] for q in qids]
            entropy_start = pos + 2 + seglen
            end = _entropy_end(data, entropy_start)
            if end is None:
                return None
            coefs = np.zeros((3, -(-height // 8), -(-width // 8), 64), np.int64)
            if not _decode_scan(
                coefs, scan, htables, _BitReader(data[entropy_start:end])
            ):
                return None
            pos = end
            continue
        pos += 2 + seglen
    if not saw_eoi or coefs is None:
        return None

    _, bh, bw, _ = coefs.shape
    planes = np.zeros((bh * 8, bw * 8, 3))
    for ci in range(3):
        for by in range(bh):
            for bx in range(bw):
                coef = np.zeros(64, np.int64)
                coef[_ZIGZAG] = coefs[ci, by, bx]
                planes[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, ci] = (
                    _idct(coef.reshape(8, 8) * qt[ci]) + 128.0
                )
    rgb = _ycbcr_to_rgb(planes[:height, :width])
    out = np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)
    return width, height, out.tobytes()
