"""Multi-source k-hop BFS distances on DataFrames (OP-4x iterative family
companion to connected components / PageRank).

Semantics: given directed ``edges(src, dst)`` and a seed set, compute for
every node reachable within ``k`` hops its MINIMUM hop distance from any
seed.  Callers wanting undirected reachability union the reversed edges
first (the registry query does).

Plan shape per round: frontier ⋈ edges equi-join on the node id →
distinct new ids → anti-join against the already-settled set.  Only the
FRONTIER is expanded each round — a node is never re-expanded after its
first (= minimal) discovery, so total work is O(sum of frontier degrees),
not O(k·|E|).  That is the property that survives a 10^12-edge graph: each
round is one hash shuffle on the id, the settled set grows monotonically,
and lineage is cut per round exactly like the CC loop (without it the plan
doubles per iteration).  The eager cut doubles as the convergence probe:
an empty frontier terminates the loop before k.

No driver-side state beyond the loop counter and the per-round frontier
count (a single long), like components.py's one-action-per-round
star-forest convergence test.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.functions.lineage import cut_lineage


def khop_distances(
    edges: DataFrame, sources: Iterable[int] | DataFrame, k: int
) -> DataFrame:
    """edges(src, dst) + seed ids → (id, dist) for every node within ``k``
    directed hops of any seed; ``dist`` is the minimum hop count (0 for the
    seeds themselves).  Nodes not reached within ``k`` hops are absent."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    spark = edges.sparkSession
    if isinstance(sources, DataFrame):
        seed_df = sources.select(F.col(sources.columns[0]).alias("id"))
    else:
        seed_df = spark.createDataFrame(
            [(int(s),) for s in sources], "id bigint"
        )
    dist = seed_df.distinct().withColumn("dist", F.lit(0).cast("int"))
    dist = cut_lineage(dist, eager=True)
    frontier = dist.select("id")
    for r in range(1, k + 1):
        reached = (
            frontier.join(edges, frontier.id == edges.src)
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new = reached.join(dist.select("id"), "id", "left_anti").withColumn(
            "dist", F.lit(r).cast("int")
        )
        new = cut_lineage(new, eager=True)
        if new.isEmpty():
            break
        dist = dist.unionByName(new)
        frontier = new.select("id")
    return dist


SSSP_MAX_DIST = (1 << 62) - 1
SSSP_MAX_ROUNDS = 64


def sssp_distances(
    edges: DataFrame, sources: Iterable[int] | DataFrame
) -> DataFrame:
    """Weighted single-source (multi-seed) shortest paths: directed
    ``edges(src, dst, w)`` with NON-NEGATIVE integer weights + seed ids →
    ``(id, dist)`` for every reachable node, ``dist`` = minimum total
    weight from any seed (0 for the seeds).  Unreached nodes are absent
    (the khop_distances contract).

    Unlike the hop-BFS above, a node discovered early may later be
    reached more cheaply through a longer-hop path, so nodes cannot be
    settled on first touch: this is the Bellman-Ford fixpoint — per round
    ONE equi-join (current distances ⋈ edges) + ONE map-side-combinable
    groupBy-min, merged with a full-outer join; distances only decrease
    and the changed-row count (riding the per-round lineage cut) is the
    convergence probe.  Rounds = the shortest-path hop depth (≤ |V|-1 by
    Bellman-Ford; bounded by SSSP_MAX_ROUNDS with a raise — a partial
    distance map would be silently wrong).  Integer weights keep the
    result exactly hash-comparable across engines (the pagerank
    integer-mass rule)."""
    spark = edges.sparkSession
    if isinstance(sources, DataFrame):
        seed_df = sources.select(F.col(sources.columns[0]).alias("id"))
    else:
        seed_df = spark.createDataFrame([(int(s),) for s in sources], "id bigint")
    dist = seed_df.distinct().withColumn("dist", F.lit(0).cast("long"))
    dist = cut_lineage(dist, eager=True)
    for _ in range(SSSP_MAX_ROUNDS):
        cand = (
            edges.join(
                dist.select(F.col("id").alias("src"), F.col("dist").alias("sd")),
                "src",
            )
            .select(
                F.col("dst").alias("id"),
                (F.col("sd") + F.col("w").cast("long")).alias("nd"),
            )
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        merged = dist.join(cand, "id", "full_outer").select(
            "id",
            F.col("dist"),
            F.least(
                F.coalesce(F.col("dist"), F.lit(SSSP_MAX_DIST)),
                F.coalesce(F.col("nd"), F.lit(SSSP_MAX_DIST)),
            ).alias("d2"),
        )
        merged = cut_lineage(merged, eager=True)
        changed = merged.where(
            F.col("dist").isNull() | (F.col("d2") < F.col("dist"))
        ).count()
        dist = merged.select("id", F.col("d2").alias("dist"))
        if changed == 0:
            return dist
    raise RuntimeError("sssp: did not converge (negative weights or depth > bound?)")
