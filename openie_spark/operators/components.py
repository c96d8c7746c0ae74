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
Convergence (OP-43) is tested BEFORE each round with one action: the edge
set is a star forest — no node is both a src and a dst, and every dst has
exactly one src.  With src<dst each star is centred on its component's
minimum, which is the state the rounds converge to and a fixed point of
both operations, so no confirming round is needed.  Each round's output
is a lineage cut (SURVEY.md §4.2-E) — without it plan analysis time
doubles every round.
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


def is_star_forest(edges: DataFrame) -> bool:
    """True iff no node is both a src and a dst and every dst has exactly
    one src — i.e. every node that is a dst has degree 1.  One action."""
    ends = edges.select(
        F.inline(
            F.array(
                F.struct(F.col("src").alias("n"), F.lit(0).alias("is_dst")),
                F.struct(F.col("dst").alias("n"), F.lit(1).alias("is_dst")),
            )
        )
    )
    bad = (
        ends.groupBy("n")
        .agg(F.max("is_dst").alias("is_dst"), F.count("*").alias("deg"))
        .where((F.col("is_dst") == 1) & (F.col("deg") > 1))
    )
    return bad.count() == 0


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src,dst) → assignments(id, rep) with rep = min(component).

    OP-43: driver-side loop; before each round one action tests whether the
    edges already form a star forest (the converged state), and each round's
    output is a lineage cut.  Isolated nodes must arrive as self-loops."""
    # remember the full vertex universe before dropping self-loops
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    vertices = cut_lineage(vertices, eager=True)

    cur = canonical_edges(edges).where(F.col("src") != F.col("dst"))
    # lazy cuts: the star-forest test is the FIRST action on each cut
    # dataset, so one job both materializes the checkpoint blocks and
    # decides convergence — at vocab-bounded edge counts the loop is pure
    # fixed per-job overhead
    cur = cut_lineage(cur)
    for _ in range(MAX_ROUNDS):
        if is_star_forest(cur):
            break
        cur = cut_lineage(small_star(large_star(cur)))
    else:  # pragma: no cover
        raise RuntimeError(f"connected components did not converge in {MAX_ROUNDS} rounds")

    # after convergence every edge is (rep, member) with rep = min(component);
    # canonical form is src=min, so rep = src side
    assign = cur.select(F.col("dst").alias("id"), F.col("src").alias("rep"))
    # nodes that are themselves representatives (or isolated) map to self
    return (
        vertices.join(assign, "id", "left")
        .select("id", F.coalesce("rep", F.col("id")).alias("rep"))
    )
