"""Canonicalization: connected components on DataFrames (OP-40..44).

Iterative large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014) — the published O(log n)-round algorithm
the north star names.  GraphX has no Python API and GraphFrames is not
installable here; more importantly this formulation is pure DataFrame ops
(groupBy-min + join + union), so Catalyst/AQE handle partial aggregation and
skew, and it scales to the 10^12-node posture with nothing but shuffles.

Round shape (all edges kept canonically src<dst between rounds, OP-40):
  large-star: connect every strictly-larger neighbor of u to
              m(u) = min(Γ(u) ∪ {u})
  small-star: connect every neighbor ≤ u (and u itself) to m(u)
Convergence (OP-43) is tested BEFORE each round with one action: does
every edge have an end of degree 1?  Then every component is a star
centred on ANY node, and its minimum has a closed form (OP-44): with
m(u) = least(u, min Γ(u)), rep(u) = least(u, min of m(v) over Γ(u)) =
least(centre, min(leaves)).  One node aggregate gives deg (self-loops
count 0, so it is also the vertex universe) and m; one join + aggregate
gives rep and the test.  The sameAs graph (each mention node has one
link) thus runs no round; other graphs run rounds until their converged
state, stars centred on the minimum, passes the same test.  Each round's
output is a lineage cut (SURVEY.md §4.2-E) — without it plan analysis
time doubles every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.functions.lineage import cut_lineage

MAX_ROUNDS = 50


def canonical_edges(edges: DataFrame) -> DataFrame:
    """OP-40: undirect + dedup; self-loops kept (they pin isolated nodes
    into the vertex universe) but normalized."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )


def _neighbors(edges: DataFrame) -> DataFrame:
    """Both orientations: (u, v) for every undirected edge."""
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    rev = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    return fwd.unionByName(rev)


def _with_min(nbrs: DataFrame) -> DataFrame:
    """m(u) = min over Γ(u) ∪ {u} — groupBy-min (map-side partial agg) then
    join back on u."""
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
    return nbrs.join(mins, "u")


def _star(edges: DataFrame, emit_v) -> DataFrame:
    """Connect u, and v where `emit_v` holds, to m(u) for every (u, v).

    One explode over the joined rows: a union of two projections of the
    join is pruned differently per branch, so Spark cannot reuse the
    exchange and runs the join and the groupBy twice."""
    ends = F.when(emit_v, F.array("u", "v")).otherwise(F.array("u"))
    # m(u) ≤ u and m(u) ≤ every neighbour v, so (m, end) is already src<dst
    return (
        _with_min(_neighbors(edges))
        .select(F.col("m").alias("src"), F.explode(ends).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def large_star(edges: DataFrame) -> DataFrame:
    return _star(edges, F.col("v") > F.col("u"))


def small_star(edges: DataFrame) -> DataFrame:
    return _star(edges, F.col("v") <= F.col("u"))


def star_components(edges: DataFrame) -> tuple[DataFrame, bool]:
    """The convergence test and the closed-form answer, in one action.

    ``edges`` must be canonical (``canonical_edges``: distinct, src ≤ dst;
    self-loops allowed).  Returns ``(assign, is_star)``: ``is_star`` is
    true iff every non-loop edge has an end of degree 1, and then
    ``assign(id, rep)`` maps every node, self-loop-only ones included, to
    the minimum of its component.  ``assign`` is a lineage cut that the
    test's action has filled."""
    nbrs = _neighbors(edges)
    ring = F.col("u") != F.col("v")  # a self-loop is no neighbour
    deg = F.count(F.when(ring, 1))
    nodes = nbrs.groupBy("u").agg(
        deg.alias("deg"), F.least(F.col("u"), F.min("v")).alias("m")
    )
    assign = cut_lineage(
        nbrs.join(
            nodes.select(
                F.col("u").alias("v"), F.col("deg").alias("dv"), F.col("m").alias("mv")
            ),
            "v",
        )
        .groupBy("u")
        .agg(
            F.least(F.col("u"), F.min("mv")).alias("rep"),
            # an edge whose two ends both have degree ≥ 2
            ((deg >= 2) & (F.max(F.when(ring, F.col("dv"))) >= 2)).alias("bad"),
        )
        .select(F.col("u").alias("id"), "rep", "bad")
    )
    is_star = assign.where("bad").count() == 0
    return assign.select("id", "rep"), is_star


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src,dst) → assignments(id, rep) with rep = min(component).

    OP-43: driver-side loop; before each round one action tests whether
    every component is already a star and, if so, yields the answer
    (``star_components``); each round's output is a lineage cut.  Isolated
    nodes must arrive as self-loops; rounds drop self-loops, so the input's
    are re-attached to each round's output."""
    # lazy cut: the first test's action fills it, and it is read again
    # only if a round runs
    cur = cut_lineage(canonical_edges(edges))
    loops = cur.where(F.col("src") == F.col("dst"))
    for _ in range(MAX_ROUNDS):
        assign, is_star = star_components(cur)
        if is_star:
            return assign
        cur = cut_lineage(small_star(large_star(cur)).unionByName(loops))
    raise RuntimeError(  # pragma: no cover
        f"connected components did not converge in {MAX_ROUNDS} rounds"
    )
