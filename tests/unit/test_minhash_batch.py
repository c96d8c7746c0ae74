"""The vectorized MinHash batch path must be bit-identical to the scalar
(oracle-reference) path — signatures, band keys, and empty handling."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from openie_spark.functions import minhash as mh


def test_mulmod_exact_random():
    rng = np.random.default_rng(3)
    a_vals = [int(x) for x in rng.integers(1, mh.P, 20)]
    x = rng.integers(0, mh.P, 1000).astype(np.uint64)
    for a in a_vals:
        got = mh._mulmod_p(a, x)
        expect = np.array([(a * int(v)) % mh.P for v in x], dtype=np.uint64)
        assert np.array_equal(got, expect)


def test_mulmod_edges():
    edges = np.array([0, 1, 2, mh.P - 1, mh.P - 2, (1 << 32) - 1, 1 << 32],
                     dtype=np.uint64)
    for a in (1, 2, mh.P - 1, (1 << 32) + 1, 0x9E3779B97F4A7C15 % mh.P):
        got = mh._mulmod_p(a, edges)
        expect = np.array([(a * int(v)) % mh.P for v in edges], dtype=np.uint64)
        assert np.array_equal(got, expect)


def test_signatures_batch_matches_scalar():
    strings = ["acme corp", "acme corporation", "x", "", "delta works",
               "the same", "the same", "ünïcode naïve"]
    lists = [mh.shingles(s) for s in strings]
    batch = mh.signatures_batch(lists)
    for i, lst in enumerate(lists):
        assert np.array_equal(batch[i], mh.signature(lst)), strings[i]


def test_band_keys_for_batch_matches_scalar():
    strings = ["acme corp", "", "ab", "abc", "vertex group holdings", None]
    got = mh.band_keys_for_batch(strings)
    for s, keys in zip(strings, got):
        expect = mh.band_keys_for(s) if s else []
        assert keys == expect


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=12), min_size=0, max_size=8))
def test_batch_property(strs):
    got = mh.band_keys_for_batch(strs)
    for s, keys in zip(strs, got):
        assert keys == (mh.band_keys_for(s) if s else [])


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet="ab c", min_size=0, max_size=10), min_size=0, max_size=64),
       st.sampled_from([1, 3, 7, mh._CHUNK]))
def test_batch_property_repeated_shingles(strs, chunk):
    """A small alphabet makes rows share shingles, and small windows split
    rows across windows: every row must still get its own scalar
    signature and band keys."""
    lists = [mh.shingles(s) for s in strs]
    saved = mh._CHUNK
    mh._CHUNK = chunk
    try:
        sigs = mh.signatures_batch(lists)
        got = mh.band_keys_for_batch(strs)
    finally:
        mh._CHUNK = saved
    for lst, sig in zip(lists, sigs):
        assert np.array_equal(sig, mh.signature(lst))
    for s, keys in zip(strs, got):
        assert keys == (mh.band_keys_for(s) if s else [])


def test_band_keys_batch_on_non_contiguous_signatures():
    strings = ["acme corp", "x", "delta works", "the same", "vertex group"]
    sigs = mh.signatures_batch([mh.shingles(s) for s in strings])
    wide = np.zeros((len(strings) * 2, 2 * mh.K), dtype=np.uint64)
    wide[::2, ::2] = sigs
    view = wide[::2, ::2]
    assert not view.flags["C_CONTIGUOUS"]
    got = mh.band_keys_batch(view)
    assert got.shape == (len(strings), mh.BANDS)
    for row, sig in zip(got.tolist(), sigs):
        assert row == mh.band_keys(sig)


def _distinct_shingle_rows(lengths: list[int]) -> list[list[str]]:
    """Rows of shingles that never repeat, like a batch of documents'
    word 3-grams."""
    out, k = [], 0
    for n in lengths:
        out.append([f"w{i} w{i + 1} w{i + 2}" for i in range(k, k + n)])
        k += n
    return out


def test_signatures_batch_spans_windows_with_distinct_shingles():
    """More distinct shingles than one window holds, with rows that cross
    window edges and one row longer than a whole window."""
    lists = _distinct_shingle_rows([3000, 0, 2500, mh._CHUNK + 900, 1, 17])
    batch = mh.signatures_batch(lists)
    for i, lst in enumerate(lists):
        assert np.array_equal(batch[i], mh.signature(lst)), i


def test_signatures_batch_memory_is_bounded_by_the_window():
    """A batch of 200k distinct shingles: a (K, distinct) matrix alone
    would be ~98 MiB.  The windowed kernel holds 2 MiB windows plus what
    grows by one entry per shingle (the id dict, the occurrence index),
    under 64 MiB in all."""
    import tracemalloc

    lists = _distinct_shingle_rows([2000] * 100)
    tracemalloc.start()
    try:
        mh.signatures_batch(lists)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 64 << 20, peak
