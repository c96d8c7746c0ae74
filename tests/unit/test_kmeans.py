"""Integer-exact Lloyd's k-means (operators/kmeans.py): equality with a
pure-Python twin (quantization + seeding + assignment + trunc-div update
all replayed single-process), empty-cluster semantics, determinism across
parallelism, and the seed-count guard.

Test vectors use dyadic milli-exact floats (x*1000 integral in binary
float) so the twin's round() can never diverge from Spark/DuckDB ROUND."""

from __future__ import annotations

import hashlib

import pytest

from openie_spark.operators.kmeans import KMEANS_TIE_SCALE, _trunc_div, kmeans_int8


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _quant(vec: list[float]) -> list[int]:
    vm = [round(x * 1000) for x in vec]  # exact by construction (dyadic)
    sc = max((abs(v) for v in vm), default=0)
    if sc == 0:
        return [0] * len(vm)
    return [-((-v) * 127 // sc) if v < 0 else (v * 127) // sc for v in vm]


def _reference(rows: list[tuple[int, list[float]]], k: int, iters: int):
    q = {vid: _quant(v) for vid, v in rows}
    seed_ids = sorted(q, key=lambda vid: (_h60(str(vid)), vid))[:k]
    cents = [list(q[vid]) for vid in seed_ids]

    def assign():
        out = {}
        for vid, v in q.items():
            best = min(
                (sum((x - c) * (x - c) for x, c in zip(v, cv)), cid)
                for cid, cv in enumerate(cents)
            )
            out[vid] = best  # (dist, cid)
        return out

    for _ in range(iters):
        a = assign()
        sums = {}
        for vid, (_, cid) in a.items():
            s, n = sums.setdefault(cid, ([0] * len(q[vid]), 0))
            sums[cid] = ([x + y for x, y in zip(s, q[vid])], n + 1)
        for cid, (s, n) in sums.items():
            cents[cid] = [_trunc_div(x, n) for x in s]
    return {vid: (cid, dist) for vid, (dist, cid) in assign().items()}


def _collect(df):
    return {r["vec_id"]: (r["cluster"], r["dist"]) for r in df.collect()}


def test_trunc_div_matches_duckdb_semantics():
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-7, 2) == -3  # python -7 // 2 == -4 (floor) — not this
    assert _trunc_div(0, 5) == 0


def test_matches_python_reference(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.875, 0.125, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.25]),
        (4, [0.0, 0.125, 0.875, 0.5]),
        (5, [-0.5, 0.0, 0.5, 0.0]),
        (6, [0.75, -0.25, 0.0, 0.125]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = _collect(kmeans_int8(df, k=2, iters=2))
    assert got == _reference(rows, 2, 2)


def test_identical_vectors_all_land_in_lowest_cluster(spark):
    # all points identical → every distance ties at 0 → cluster 0 wins;
    # cluster 1 goes empty and must keep its (identical) centroid
    rows = [(i, [0.5, -0.5, 0.25, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = _collect(kmeans_int8(df, k=2, iters=2))
    assert got == {i: (0, 0) for i in range(5)}
    assert got == _reference(rows, 2, 2)


def test_separated_blobs_recovered(spark):
    # two far-apart groups: whatever the seeds, 2-means at 2 iters must
    # put each blob in one cluster
    a = [(i, [1.0, 1.0, 0.0, 0.0]) for i in range(3)]
    b = [(10 + i, [-1.0, -1.0, 0.0, 0.0]) for i in range(3)]
    df = spark.createDataFrame(a + b, "vec_id bigint, embedding array<float>")
    got = _collect(kmeans_int8(df, k=2, iters=2))
    assert got == _reference(a + b, 2, 2)
    ca = {got[i][0] for i, _ in a}
    cb = {got[i][0] for i, _ in b}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb


def test_deterministic_across_parallelism(spark):
    rows = [
        (i, [((i * 7 + d * 3) % 16) / 8.0 - 1.0 for d in range(4)])
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    one = _collect(kmeans_int8(df.repartition(1), k=3, iters=3))
    par = _collect(kmeans_int8(df.repartition(4), k=3, iters=3))
    assert one == par == _reference(rows, 3, 3)


def test_too_few_rows_raises(spark):
    df = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="needs >= 3"):
        kmeans_int8(df, k=3, iters=1)


def test_k_at_tie_scale_raises(spark):
    """The oracle fuses (dist, cid) as dist·TIE_SCALE + cid, which is the
    Spark struct-min only while cid < TIE_SCALE: k = TIE_SCALE must
    refuse loudly instead of silently diverging."""
    df = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match=f"needs k < {KMEANS_TIE_SCALE}"):
        kmeans_int8(df, k=KMEANS_TIE_SCALE, iters=1)


def test_adaptive_k_bounds_cluster_size():
    """The scale-knob guarantee: expected cluster size n / adaptive_k(n)
    never exceeds the target, for any corpus size — this is what bounds
    the per-cluster all-pairs population in SemDeDup."""
    from openie_spark.operators.kmeans import (
        KMEANS_K,
        KMEANS_TARGET_CLUSTER_SIZE,
        adaptive_k,
    )

    for n in (0, 1, 7, 8, 100, 4095, 4096, 4097, 8192, 10**6, 10**9, 10**12):
        k = adaptive_k(n)
        assert k >= KMEANS_K
        assert n <= k * KMEANS_TARGET_CLUSTER_SIZE
    for target in (1, 2, 10, 1000):
        for n in (0, 5, 99, 1000, 12345):
            k = adaptive_k(n, target)
            assert k >= KMEANS_K and n <= k * target


def test_adaptive_default_equals_floor_on_small_corpus(spark):
    """Below KMEANS_K * target vectors the adaptive k resolves to the
    KMEANS_K floor — the guard that keeps every existing golden hash
    (sf0.01/sf0.1 embeddings are far below the threshold) unchanged."""
    rows = [
        (i, [((i * 5 + d * 7) % 16) / 8.0 - 1.0 for d in range(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    assert _collect(kmeans_int8(df, iters=2)) == _collect(
        kmeans_int8(df, k=8, iters=2)
    )


def test_distributed_plan_bit_identical_to_literal(spark):
    """The large-k distributed plan (centroids as a DataFrame, broadcast
    dim-join assignment, distributed update — no k-sized driver state)
    must be bit-identical to the literal-codegen plan AND the pure-Python
    twin: the selection rule is physical-plan-oblivious."""
    import random

    rng = random.Random(31)
    rows = [
        (i, [rng.randint(-8, 8) / 8.0 for _ in range(4)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    lit = _collect(kmeans_int8(df, k=5, iters=2))
    dist = _collect(kmeans_int8(df, k=5, iters=2, literal_max_k=0))
    assert lit == dist == _reference(rows, 5, 2)


def test_distributed_plan_too_few_rows_raises(spark):
    rows = [(i, [0.5, -0.5]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="needs >= 5"):
        kmeans_int8(df, k=5, iters=1, literal_max_k=0)


def test_fuzz_spark_matches_twin(spark):
    """Seeded random dyadic-float corpora (x*1000 exactly integral) must
    produce bit-identical assignments from the Spark operator and the
    pure-Python twin across k and iteration counts."""
    import random

    for seed, k, iters in ((5, 2, 2), (17, 3, 3), (99, 4, 1)):
        rng = random.Random(seed)
        rows = [
            (i, [rng.randint(-8, 8) / 8.0 for _ in range(4)])
            for i in range(rng.randint(k + 2, 25))
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        got = _collect(kmeans_int8(df, k=k, iters=iters))
        assert got == _reference(rows, k, iters), f"seed {seed}"


def test_empty_vector_kept_by_both_plans(spark):
    """A zero-length NON-SEED embedding must not silently vanish from
    the distributed plan (posexplode emits no rows for it): both plans
    emit (vec_id, cluster 0, dist 0) for it — the literal plan's
    null-safe zip_with fold over the empty array.  (vec_id 99 hashes far
    outside the k=3 seed set for this id range; empty SEEDS are refused
    — see the test below.)"""
    rows = [(i, [float(i % 5) / 4, 0.5, -0.25, 0.125]) for i in range(12)]
    rows.append((99, []))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    lit = _collect(kmeans_int8(df, k=3, iters=1))
    dist = _collect(kmeans_int8(df, k=3, iters=1, literal_max_k=0))
    assert lit == dist
    assert lit[99] == (0, 0)
    assert set(lit) == {r[0] for r in rows}


def test_empty_seed_vector_refused_identically_by_both_plans(spark):
    """An empty vector whose id ranks inside the k smallest
    (portable_hash60, vec_id) pairs becomes a SEED: the literal plan
    would crash in the centroid update (IndexError on the empty centroid
    list) and the distributed plan would silently drop the centroid from
    the dim-join — both must instead refuse up front with the same
    ValueError."""
    ids = list(range(20))
    seed_id = min(ids, key=lambda vid: (_h60(str(vid)), vid))
    rows = [
        (i, [] if i == seed_id else [((i * 7 + d * 3) % 16) / 8.0 - 1.0 for d in range(4)])
        for i in ids
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="fixed-dimension non-empty"):
        kmeans_int8(df, k=3, iters=1)
    with pytest.raises(ValueError, match="fixed-dimension non-empty"):
        kmeans_int8(df, k=3, iters=1, literal_max_k=0)
