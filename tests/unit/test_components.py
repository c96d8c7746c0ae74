"""L1/L3 tests for OP-40..44: known graph shapes (FIXTURES.md §5),
idempotence, rep = min(component)."""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from openie_spark.fixtures.gen_graphs import all_graphs, chain, cliques, star
from openie_spark.operators import components
from openie_spark.operators.components import (
    canonical_edges,
    connected_components,
    star_components,
)


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.id: r.rep for r in connected_components(df).collect()}


@pytest.mark.parametrize(
    "maker",
    [
        lambda: (*chain(200), None),
        lambda: (*cliques(10, 10), None),
        lambda: (*star(1000), 0),  # already the converged star forest
    ],
)
def test_known_shapes(spark, monkeypatch, maker):
    """Known shapes give the expected map; rounds are counted through
    `large_star`, and a star-forest input runs none."""
    calls = []
    real = components.large_star
    monkeypatch.setattr(
        components, "large_star", lambda e: calls.append(1) or real(e)
    )
    edges, expected, rounds = maker()
    got = _run(spark, edges)
    assert got == expected
    if rounds is None:
        assert 0 < len(calls) < components.MAX_ROUNDS
    else:
        assert len(calls) == rounds


def test_all_graphs_mixed(spark):
    edges, expected = all_graphs()
    got = _run(spark, edges)
    assert got == expected
    # rep = min(component) by construction of expected


def test_idempotence(spark):
    """cc(cc(E)) = cc(E): running CC over its own (id, rep) edges is stable."""
    edges, expected = cliques(5, 8)
    df = spark.createDataFrame(edges, "src long, dst long")
    assign = connected_components(df)
    again = connected_components(
        assign.selectExpr("id as src", "rep as dst")
    )
    got = {r.id: r.rep for r in again.collect()}
    assert got == expected


@pytest.mark.parametrize(
    "edges, want",
    [
        ([], True),
        ([(1, 2), (1, 3), (4, 5)], True),  # two stars, centres 1 and 4
        ([(1, 2), (2, 3)], True),  # a star centred on 2
        ([(1, 3), (2, 3)], True),  # a star centred on 3, its maximum
        ([(1, 2), (1, 3), (3, 4)], False),  # edge (1, 3): both ends degree 2
        ([(2, 1), (3, 1), (1, 2)], True),  # reversed and duplicate edges
        ([(7, 7), (1, 2)], True),  # a self-loop is degree 0
        ([(1, 2), (2, 3), (3, 1)], False),  # a triangle
    ],
)
def test_star_forest_truth_table(spark, edges, want):
    """The convergence test: true exactly when every edge has an end of
    degree 1, i.e. every component is a star centred anywhere — and then
    the closed-form rep is each component's minimum."""
    df = spark.createDataFrame(edges, "src long, dst long")
    assign, is_star = star_components(canonical_edges(df))
    assert is_star is want
    if want:
        assert {r.id: r.rep for r in assign.collect()} == _union_find(edges)


def _union_find(edges) -> dict:
    """id → min(component), single-process: the reference for the CC
    property test."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _every_edge_has_a_leaf(edges) -> bool:
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    deg: dict = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return all(deg[a] == 1 or deg[b] == 1 for a, b in und)


@st.composite
def _graphs(draw):
    """Disjoint components of known shapes on shuffled labels (so a star's
    centre is often not its minimum), plus optional stray edges across
    them, then duplicated and reversed edges in shuffled order."""
    shapes = draw(st.lists(
        st.tuples(
            st.sampled_from(["star", "k2", "loop", "chain", "cycle", "clique"]),
            st.integers(1, 5),
        ),
        max_size=5,
    ))
    labels = draw(st.permutations(range(-20, 20)))
    edges, i = [], 0
    for shape, k in shapes:
        n = {"k2": 2, "loop": 1, "cycle": k + 2}.get(shape, k + 1)
        ids = labels[i:i + n]
        i += n
        if shape == "loop":
            edges.append((ids[0], ids[0]))
        elif shape in ("star", "k2"):
            edges += [(ids[0], v) for v in ids[1:]]
        elif shape == "chain":
            edges += list(zip(ids, ids[1:]))
        elif shape == "cycle":
            edges += list(zip(ids, ids[1:] + ids[:1]))
        else:
            edges += [(a, b) for j, a in enumerate(ids) for b in ids[j + 1:]]
    pool = labels[:max(i, 1)]
    edges += draw(st.lists(st.tuples(st.sampled_from(pool), st.sampled_from(pool)), max_size=2))
    edges += draw(st.lists(st.sampled_from(edges), max_size=3)) if edges else []
    flip = draw(st.lists(st.booleans(), min_size=len(edges), max_size=len(edges)))
    edges = [(b, a) if f else (a, b) for (a, b), f in zip(edges, flip)]
    return draw(st.permutations(edges))


@settings(max_examples=25, deadline=None)
@given(_graphs())
def test_cc_matches_union_find(spark, edges):
    """connected_components == a pure-Python union-find on random small
    graphs; zero rounds run exactly when every edge has an end of degree 1
    (counted through the `large_star` spy)."""
    calls = []
    real = components.large_star
    with mock.patch.object(components, "large_star", lambda e: calls.append(1) or real(e)):
        got = _run(spark, edges)
    assert got == _union_find(edges)
    assert (len(calls) == 0) == _every_edge_has_a_leaf(edges)
