"""Iterative PageRank on DataFrames — integer-mass formulation (OP-4x
family companion to connected components; PageRank, Brin & Page 1998).

Why INTEGER mass: the engine's oracle discipline (registry.py) requires
bit-identical values against DuckDB, and float PageRank accumulates in a
join-order-dependent way — never hash-comparable across engines.  This
formulation is exact: every node starts with ``total_mass`` integer units;
each iteration a node sends ``(mass * 17) div (20 * outdeg)`` units along
every out-edge (= 0.85 damping via integral division, floor-exact in both
Spark's ``div`` and DuckDB's ``//``) and every node is re-based with
``total_mass * 15 // 100`` units.  Dangling mass (floor losses + sinks) is
deliberately dropped — frozen as part of the spec, mirrored by the oracle.

Plan shape: the loop-invariant (edge, out-degree) frame materializes
ONCE, hash-clustered on src (_weighted_edges); per iteration that frame
⋈ ranks (one ranks-side shuffle onto the reused clustering) → groupBy(dst)
sum (map-side combinable) → left join back to the node universe.
Lineage is cut per round exactly like the CC loop —
without it plan analysis doubles per iteration.  At the 10^12-edge posture
every step is shuffle-on-id; no driver-side state beyond the loop counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.functions.lineage import cut_lineage


def _weighted_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, d): every edge annotated with its source's out-degree,
    materialized ONCE and hash-clustered on src.  The out-degree is
    loop-invariant, so joining it inside the iteration (the naive shape)
    re-runs a full edge aggregation + join every round; hoisting it
    leaves each round exactly one ranks-side shuffle onto the reused src
    clustering plus the groupBy(dst) contribution exchange — the two
    shuffles inherent to mass propagation."""
    outdeg = edges.groupBy(F.col("src").alias("_oid")).agg(
        F.count("*").alias("d")
    )
    return cut_lineage(
        edges.join(outdeg, edges.src == outdeg._oid)
        .select("src", "dst", "d")
        .repartition("src"),
        eager=True,
    )


def pagerank_mass(
    edges: DataFrame,
    iters: int = 5,
    total_mass: int = 1_000_000,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """edges(src, dst) directed → (id, mass) after ``iters`` exact-integer
    PageRank iterations.  Nodes without in-edges settle at the base mass;
    nodes without out-edges leak their mass (standard no-sink-handling
    variant, frozen).

    ``seeds(id)`` given: Personalized PageRank (topic-sensitive PageRank,
    Haveliwala WWW 2002) — the initial and re-base mass land ONLY on the
    seed set, non-seeds start at 0 and receive exclusively propagated
    mass, so the result ranks nodes by proximity to the seeds.  The seed
    flag joins in broadcast once, up front; the loop is the same."""
    base = total_mass * 15 // 100
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    if seeds is None:
        init, rebase = F.lit(int(total_mass)), F.lit(base)
    else:
        s = seeds.select(F.col("id")).distinct().withColumn("_sb1", F.lit(1))
        # carry the seed FLAG, not a derived sb>0 proxy: base is an integer
        # floor of total_mass and can be 0 (total_mass < 7), in which case a
        # proxy would zero every node's initial mass
        nodes = nodes.join(F.broadcast(s), "id", "left").select(
            "id",
            F.when(F.col("_sb1").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("seed"),
        )
        is_seed = F.col("seed") == 1
        init = F.when(is_seed, F.lit(int(total_mass))).otherwise(F.lit(0))
        rebase = F.when(is_seed, F.lit(base)).otherwise(F.lit(0))
    nodes = cut_lineage(nodes, eager=True)
    e_w = _weighted_edges(edges)
    ranks = nodes.select("id", init.cast("long").alias("mass"))
    for _ in range(iters):
        contrib = (
            e_w.join(ranks, e_w.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                F.expr("(mass * 17) div (20 * d)").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = nodes.join(contrib, "id", "left").select(
            "id", (rebase + F.coalesce("in_mass", F.lit(0))).cast("long").alias("mass")
        )
        ranks = cut_lineage(ranks)
    return ranks
