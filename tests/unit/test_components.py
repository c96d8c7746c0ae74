"""L1/L3 tests for OP-40..44: known graph shapes (FIXTURES.md §5),
idempotence, rep = min(component)."""

from __future__ import annotations

import pytest

from openie_spark.fixtures.gen_graphs import all_graphs, chain, cliques, star
from openie_spark.operators import components
from openie_spark.operators.components import connected_components, is_star_forest


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
        ([(1, 2), (2, 3)], False),  # 2 is both a dst and a src
        ([(1, 3), (2, 3)], False),  # dst 3 has two srcs (c1 < c2 < v)
        ([(1, 2), (1, 3), (3, 4)], False),  # a leaf carries its own star
    ],
)
def test_star_forest_truth_table(spark, edges, want):
    """The convergence test: true exactly on the state a round leaves
    unchanged.  The two-src case is not converged — a round rewires
    (2, 3) to (1, 2) — so the test must say false there."""
    df = spark.createDataFrame(edges, "src long, dst long")
    assert is_star_forest(df) is want
