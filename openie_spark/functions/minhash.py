"""Deterministic MinHash + LSH banding (OP-31/32/33 core, SURVEY.md §2.4).

Shared by the Spark Arrow fence (operators/linking.py) and the pure-Python
oracle link computation, so both sides produce bit-identical signatures —
the linking P/R gate then measures only distributed-execution fidelity.

Scheme (frozen, MMDS ch.3):
  - shingles: character 3-grams of mention_norm (the whole string if
    len < 3), deduplicated;
  - base hash: first 8 bytes of blake2b(shingle) as uint64 (stable across
    processes — NOT Python's salted hash());
  - k = 64 permutations h_i(x) = (a_i * x + b_i) mod p, p = 2^61 - 1,
    a_i/b_i derived from sha256(f"kg-minhash-{i}") (a_i forced odd, nonzero);
  - banding: 16 bands x 4 rows; band key = blake2b of (band_idx, 4 sig
    values) as int64.

Not spark.ml.MinHashLSH: that keeps a JVM-random model object; this is
seed-frozen, dependency-light, and replicable in the oracle.
"""

from __future__ import annotations

import hashlib

import numpy as np

K = 64
BANDS = 16
ROWS = K // BANDS
P = (1 << 61) - 1
JACCARD_THRESHOLD = 0.5


def _derive_params() -> tuple[np.ndarray, np.ndarray]:
    a = np.empty(K, dtype=np.uint64)
    b = np.empty(K, dtype=np.uint64)
    for i in range(K):
        d = hashlib.sha256(f"kg-minhash-{i}".encode()).digest()
        ai = int.from_bytes(d[:8], "big") % P
        bi = int.from_bytes(d[8:16], "big") % P
        a[i] = ai | 1  # odd, nonzero
        b[i] = bi
    return a, b


_A, _B = _derive_params()


def shingles(s: str, n: int = 3) -> list[str]:
    if len(s) < n:
        return [s] if s else []
    seen: dict[str, None] = {}
    for i in range(len(s) - n + 1):
        seen.setdefault(s[i : i + n])
    return list(seen)


def _base_hash(sh: str) -> int:
    return int.from_bytes(hashlib.blake2b(sh.encode(), digest_size=8).digest(), "big")


def signature(shingle_list: list[str]) -> np.ndarray:
    """k-dim MinHash signature as uint64 array; empty input → all p (sentinel)."""
    if not shingle_list:
        return np.full(K, P, dtype=np.uint64)
    x = np.array([_base_hash(s) % P for s in shingle_list], dtype=np.uint64)
    # (a*x + b) mod p in python-int space to avoid uint64 overflow: use object
    # math only at K*|shingles| scale per mention — vectorize via uint128 trick:
    # split a*x into high/low via np.uint64 multiply-with-carry is messy; the
    # shingle sets here are tiny (<100), so python ints are fine and exact.
    xs = x.tolist()
    out = np.empty(K, dtype=np.uint64)
    for i in range(K):
        ai = int(_A[i])
        bi = int(_B[i])
        out[i] = min(((ai * v + bi) % P) for v in xs)
    return out


def band_keys(sig: np.ndarray) -> list[int]:
    """16 int64 LSH bucket keys (band index baked into the hash)."""
    keys = []
    for b in range(BANDS):
        h = hashlib.blake2b(digest_size=8)
        h.update(b.to_bytes(2, "big"))
        h.update(sig[b * ROWS : (b + 1) * ROWS].tobytes())
        keys.append(int.from_bytes(h.digest(), "big", signed=False) - (1 << 63))
    return keys


def band_keys_for(s: str) -> list[int]:
    return band_keys(signature(shingles(s)))


# ---------------------------------------------------------------------------
# Vectorized batch path (bit-identical to the scalar path above; the scalar
# path stays as the oracle reference and the batch path is asserted equal in
# tests/unit/test_minhash_batch.py).  Used by the Arrow fences so signature
# cost is numpy-vectorized across a whole Arrow batch instead of per-row
# Python — this is the 100 TB hot path for both entity linking and
# document-level MinHash dedup.
# ---------------------------------------------------------------------------

_MASK32 = np.uint64(0xFFFFFFFF)
_P64 = np.uint64(P)
# Shingle occurrences per window in signatures_batch: every (K, window)
# temporary is at most K * 4 Ki * 8 B = 2 MiB however many shingles a batch
# or a row holds; what grows with the batch is 1-D (a few 8 B entries per
# occurrence and per distinct shingle).
_CHUNK = 1 << 12
_BAND_PREFIX = np.array(
    [list(b.to_bytes(2, "big")) for b in range(BANDS)], dtype=np.uint8
)
_MSG = 2 + 8 * ROWS  # band index + ROWS signature values, as band_keys hashes
_TOP_BIT = np.uint64(1 << 63)


def _mulmod_p(a, x: np.ndarray) -> np.ndarray:
    """Exact (a * x) mod p for p = 2^61-1, vectorized over uint64 x < p
    (``a`` an int or a uint64 array broadcastable against ``x``).

    Splits both operands into 32-bit halves so every partial product fits
    in uint64, then reduces with 2^61 ≡ 1 (mod p):
      a*x = hh·2^64 + mid·2^32 + ll
      hh·2^64 ≡ hh·8;  mid·2^32 ≡ (mid >> 29) + (mid & (2^29-1))·2^32;
      ll ≡ (ll >> 61) + (ll & (2^61-1)).
    """
    a = np.asarray(a, dtype=np.uint64)
    a_hi = a >> np.uint64(32)
    a_lo = a & _MASK32
    x_hi = x >> np.uint64(32)
    x_lo = x & _MASK32
    hh = a_hi * x_hi                      # < 2^58
    mid = a_hi * x_lo + a_lo * x_hi       # < 2^62
    ll = a_lo * x_lo                      # < 2^64 (wraps nothing: fits)
    t = hh * np.uint64(8)
    t = (t >> np.uint64(61)) + (t & _P64)
    m = (mid >> np.uint64(29)) + ((mid & np.uint64((1 << 29) - 1)) << np.uint64(32))
    l = (ll >> np.uint64(61)) + (ll & _P64)
    s = t + m + l                          # < 5·2^61, fits uint64
    s = (s >> np.uint64(61)) + (s & _P64)
    s = np.where(s >= _P64, s - _P64, s)
    return s


def signatures_batch(shingle_lists: list[list[str]]) -> np.ndarray:
    """(n, K) uint64 signatures for a batch of shingle lists; row of p for
    empty inputs — bit-identical to ``signature`` applied per row.

    Each distinct shingle of the batch is hashed once.  The occurrences
    are then sorted by shingle id and walked in ``_CHUNK``-wide windows.
    A window holds a contiguous id range no wider than itself, so it
    permutes each distinct shingle about once however often the batch
    repeats it (a batch of names repeats a few hundred 3-grams thousands
    of times; a batch of documents repeats few).  Each window then takes
    its rows' minima with one ``np.minimum.reduceat`` and folds them into
    the running per-row minimum."""
    n = len(shingle_lists)
    out = np.full((n, K), P, dtype=np.uint64)
    ids: dict[str, int] = {}
    occ: list[int] = []
    lens = np.zeros(n, dtype=np.int64)
    for r, lst in enumerate(shingle_lists):
        lens[r] = len(lst)
        for sh in lst:
            occ.append(ids.setdefault(sh, len(ids)))
    if not ids:
        return out
    x = np.fromiter((_base_hash(sh) % P for sh in ids), dtype=np.uint64, count=len(ids))
    occ_a = np.array(occ, dtype=np.intp)
    order = np.argsort(occ_a, kind="stable")
    sid = occ_a[order]
    srow = np.repeat(np.arange(n), lens)[order]
    for lo in range(0, len(sid), _CHUNK):
        hi = min(lo + _CHUNK, len(sid))
        i0 = sid[lo]
        y = _mulmod_p(_A[:, None], x[None, i0 : sid[hi - 1] + 1]) + _B[:, None]
        y = np.where(y >= _P64, y - _P64, y)
        o = np.argsort(srow[lo:hi], kind="stable")
        r = srow[lo:hi][o]
        seg = np.flatnonzero(np.r_[True, r[1:] != r[:-1]])
        mins = np.minimum.reduceat(y[:, sid[lo:hi][o] - i0], seg, axis=1).T
        r = r[seg]
        out[r] = np.minimum(out[r], mins)
    return out


def band_keys_batch(sigs: np.ndarray) -> np.ndarray:
    """(n, BANDS) int64 band keys for an (n, K) signature matrix; row-wise
    identical to ``band_keys``.  Every band message (2-byte band index +
    the band's ROWS values in native byte order, as ``band_keys`` hashes
    them) is laid out in one contiguous buffer and hashed in place."""
    n = len(sigs)
    msgs = np.empty((n, BANDS, _MSG), dtype=np.uint8)
    msgs[:, :, :2] = _BAND_PREFIX
    msgs[:, :, 2:] = np.ascontiguousarray(sigs).view(np.uint8).reshape(n, BANDS, _MSG - 2)
    buf = memoryview(msgs.reshape(-1))
    digests = b"".join(
        hashlib.blake2b(buf[o : o + _MSG], digest_size=8).digest()
        for o in range(0, len(buf), _MSG)
    )
    # unsigned digest - 2^63 (band_keys) == the digest with its top bit
    # flipped, read as a signed int64
    u = np.frombuffer(digests, dtype=">u8").astype(np.uint64) ^ _TOP_BIT
    return u.view(np.int64).reshape(n, BANDS)


def band_keys_matrix(shingle_lists: list[list[str]]) -> tuple[np.ndarray, np.ndarray]:
    """Band keys of a batch of shingle lists as an (n, BANDS) int64
    matrix, plus the mask of rows that have keys (an empty list has
    none)."""
    has_keys = np.fromiter(
        (bool(lst) for lst in shingle_lists), dtype=bool, count=len(shingle_lists)
    )
    return band_keys_batch(signatures_batch(shingle_lists)), has_keys


def band_keys_for_batch(norms: list[str | None]) -> list[list[int]]:
    """Vectorized ``band_keys_for`` over a batch of mention strings
    (``None`` and ``''`` have no shingles, hence no keys)."""
    keys, has_keys = band_keys_matrix([shingles(s) if s else [] for s in norms])
    return [k if ok else [] for k, ok in zip(keys.tolist(), has_keys.tolist())]


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)
