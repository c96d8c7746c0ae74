"""Deterministic random walks (operators/walks.py): equality with a pure
Python replay of the hash-argmin selection, the never-dies row invariant,
arc validity, and determinism across parallelism."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from openie_spark.operators.walks import (
    random_walks,
    skipgram_pairs,
    symmetrize,
)

EDGES = [
    ("knows", 1, 2),
    ("knows", 2, 3),
    ("likes", 2, 4),
    ("likes", 4, 5),
    ("knows", 5, 1),
    ("cites", 3, 4),
    # hub: node 9 with many out-arcs, so argmin has real candidates
    ("cites", 9, 1),
    ("cites", 9, 2),
    ("cites", 9, 3),
    ("cites", 9, 4),
    ("cites", 9, 5),
]
SEEDS = [1, 2, 9]


def _h60(*parts) -> int:
    joined = "|".join(str(p) for p in parts)
    return int(hashlib.md5(joined.encode()).hexdigest()[:15], 16)


def _reference(edges, seeds, walk_len, walks_per_seed):
    """Single-process replay: symmetrize, then per step pick the
    out-neighbor minimizing (H(walk, step, tail, pred), tail, pred)."""
    sym: dict[int, list[tuple[str, int]]] = {}
    for p, h, t in edges:
        sym.setdefault(h, []).append((p, t))
        sym.setdefault(t, []).append((p + "_inv", h))
    rows = []
    for sd in seeds:
        for j in range(walks_per_seed):
            wid = sd * walks_per_seed + j
            cur = sd
            rows.append((wid, 0, "seed", cur))
            for s in range(1, walk_len + 1):
                _, pred, cur = min(
                    (_h60(wid, s, t, p), p, t) for p, t in sym[cur]
                )
                rows.append((wid, s, pred, cur))
    return sorted(rows)


def _run(spark, edges, seeds, walk_len=3, walks_per_seed=2, n_parts=None):
    e = spark.createDataFrame(edges, "pred string, head bigint, tail bigint")
    if n_parts:
        e = e.repartition(n_parts)
    s = spark.createDataFrame([(x,) for x in seeds], "id bigint")
    df = random_walks(e, s, walk_len=walk_len, walks_per_seed=walks_per_seed)
    return sorted(
        (r["walk_id"], r["step"], r["pred"], r["node"]) for r in df.collect()
    )


def test_matches_python_reference(spark):
    assert _run(spark, EDGES, SEEDS) == _reference(EDGES, SEEDS, 3, 2)


def test_row_invariant_and_arc_validity(spark):
    walk_len, wps = 4, 3
    rows = _run(spark, EDGES, SEEDS, walk_len, wps)
    # never-dies: exactly n_walks * (walk_len + 1) rows
    assert len(rows) == len(SEEDS) * wps * (walk_len + 1)
    # every consecutive transition is a real symmetrized arc
    sym = {(p, h, t) for p, h, t in EDGES} | {
        (p + "_inv", t, h) for p, h, t in EDGES
    }
    by_walk: dict[int, list[tuple[int, str, int]]] = {}
    for wid, step, pred, node in rows:
        by_walk.setdefault(wid, []).append((step, pred, node))
    for wid, seq in by_walk.items():
        seq.sort()
        assert [s for s, _, _ in seq] == list(range(walk_len + 1))
        assert seq[0][1] == "seed" and seq[0][2] == wid // wps
        for (_, _, u), (_, pred, v) in zip(seq, seq[1:]):
            assert (pred, u, v) in sym, (wid, pred, u, v)


def test_deterministic_across_parallelism(spark):
    assert _run(spark, EDGES, SEEDS, n_parts=1) == _run(
        spark, EDGES, SEEDS, n_parts=7
    )


def test_skipgram_pairs_matches_python_reference(spark):
    walk_len, wps, window = 3, 2, 2
    e = spark.createDataFrame(EDGES, "pred string, head bigint, tail bigint")
    s = spark.createDataFrame([(x,) for x in SEEDS], "id bigint")
    got = sorted(
        map(
            tuple,
            skipgram_pairs(
                random_walks(e, s, walk_len=walk_len, walks_per_seed=wps),
                window=window,
            ).collect(),
        )
    )
    # replay: pairs within +-window on the same walk, direction kept
    rows = _reference(EDGES, SEEDS, walk_len, wps)
    by_walk: dict[int, list[tuple[int, int]]] = {}
    for wid, step, _, node in rows:
        by_walk.setdefault(wid, []).append((step, node))
    counts: dict[tuple[int, int], int] = {}
    for seq in by_walk.values():
        for s1, u in seq:
            for s2, v in seq:
                if 1 <= abs(s1 - s2) <= window:
                    counts[(u, v)] = counts.get((u, v), 0) + 1
    assert got == sorted((u, v, n) for (u, v), n in counts.items())


def test_randomized_graph_matches_reference(spark):
    """Seeded random graph (dense small node space: parallel arcs under
    different preds, self-loops, hubs arise naturally) — the walk must
    equal the pure-Python replay of the hash-argmin selection."""
    import random

    rnd = random.Random(42)
    preds = ["knows", "likes", "cites"]
    edges = sorted(
        {
            (rnd.choice(preds), rnd.randrange(12), rnd.randrange(12))
            for _ in range(60)
        }
    )
    seeds = sorted({rnd.randrange(12) for _ in range(5)})
    ref = _reference(edges, seeds, 4, 2)
    assert _run(spark, edges, seeds, walk_len=4, walks_per_seed=2) == ref


def test_symmetrize_preserves_direction_labels(spark):
    e = spark.createDataFrame(EDGES, "pred string, head bigint, tail bigint")
    sym = symmetrize(e)
    assert sym.count() == 2 * len(EDGES)
    inv = sym.where(F.col("pred").endswith("_inv")).count()
    assert inv == len(EDGES)
