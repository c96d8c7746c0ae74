"""AMIE-style path-rule mining support (Galárraga et al., WWW 2013 —
public knowledge): for every relation composition r1∘r2 (paths
h -r1-> x -r2-> t) count the DISTINCT (h,t) pairs it derives
(body_count) and, for every predicate r3 actually connecting such a
pair, the overlap (support); std confidence = support / body_count in
exact micro-unit integral division, so DuckDB replays it bit-for-bit.

Scale shape (100 TB posture).  The r1∘r2 composition join fans out
d_in(x)·d_out(x) paths per mid entity x — the same hub bomb as wedge
enumeration, and on a dense KG a single celebrity entity emits 10^10+
paths while contributing near-zero distinct rule evidence.  The
mitigation mirrors linkpred's center-degree cap (linkpred.py:37): mid
entities whose in-degree OR out-degree exceeds ``MAX_MID_DEGREE`` are
EXCLUDED from the composition.  The hot set is bounded by m/K entities,
so it broadcasts; the exclusion is one broadcast anti-join on the e1
side (killing one side kills the path).  The cap is part of the
operator's declared semantics and the DuckDB twin applies the same
constant, so results stay bit-exact.  Coverage is observable via
``hot_mid_entities`` for callers that want to log exclusions.

Remaining shape, engineered for the ~18.5M path rows even a capped
composition legitimately produces (measured sf0.1: 68 s naive → ~13-15 s;
the residual is the one 18M-row (h,t) exchange + exact dedup — the
dedup factor is 1.06, so map-side partial dedup cannot shrink it, and
exact body counting admits no smaller shuffle):

  - the edge set is **materialized once** (the cut_lineage seam) — it feeds
    five consumers (two degree aggs, e1, e2, heads) and Spark has no
    common-subexpression reuse across differently-partitioned self-join
    branches, so the union+DISTINCT subtree would otherwise recompute
    per consumer;
  - predicates are **dictionary-encoded to int ids** (broadcast join
    against the predicate-vocabulary dict, decoded back at the end), so
    the 25M-row shuffles carry 2 ints + 2 longs instead of two strings;
  - the path set is **repartitioned by (h, t) once**: HashPartitioning
    on (h,t) satisfies the ClusteredDistribution of the full-key
    dropDuplicates AND the (h,t) support join, so ONE exchange serves
    both (the naive plan shuffles the 25M rows twice);
  - the two aggregates are map-side combinable and
    predicate-pair-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openie_spark.functions.lineage import cut_lineage

MIN_SUPPORT = 25
MAX_MID_DEGREE = 512


def hot_mid_entities(edges: DataFrame, max_mid_degree: int = MAX_MID_DEGREE) -> DataFrame:
    """edges(..., head, tail) → single-column ``x`` frame of entities with
    in-degree or out-degree above the cap (only head/tail are referenced).
    Size-bounded by m/K — always broadcastable."""
    d_in = edges.groupBy(F.col("tail").alias("x")).agg(F.count("*").alias("d"))
    d_out = edges.groupBy(F.col("head").alias("x")).agg(F.count("*").alias("d"))
    return (
        d_in.where(F.col("d") > max_mid_degree)
        .select("x")
        .unionByName(d_out.where(F.col("d") > max_mid_degree).select("x"))
        .distinct()
    )


def rule_support(
    edges: DataFrame,
    min_support: int = MIN_SUPPORT,
    max_mid_degree: int = MAX_MID_DEGREE,
) -> DataFrame:
    """edges(pred, head, tail) → (r1, r2, r3, support, body_count,
    conf_micro), compositions through hot mid entities excluded.

    NOTE: eagerly materializes the (pred-encoded) edge set through the
    cut_lineage seam at call time — see module docstring for why."""
    # deterministic predicate dictionary (vocabulary-bounded, broadcast).
    # Materialized once: it has FOUR consumers (the encode join + three
    # decode joins) and without the cut each one re-derives the dict from
    # scratch — a full scan of the raw `edges` relation (which may itself
    # be a composed multi-join plan) per consumer, plus the
    # single-partition ranking window each time.
    preds = cut_lineage(
        edges.select("pred")
        .distinct()
        .withColumn("pid", F.row_number().over(Window.orderBy("pred")).cast("int")),
        eager=True,
    )
    enc = cut_lineage(
        edges.join(F.broadcast(preds), "pred").select("pid", "head", "tail"), eager=True
    )
    hot = hot_mid_entities(enc, max_mid_degree)
    e1 = enc.select(
        F.col("pid").alias("p1"), F.col("head").alias("h"), F.col("tail").alias("x")
    ).join(F.broadcast(hot), "x", "left_anti")
    e2 = enc.select(
        F.col("pid").alias("p2"), F.col("head").alias("x"), F.col("tail").alias("t")
    )
    body = (
        e1.join(e2, "x")
        .select("p1", "p2", "h", "t")
        .repartition("h", "t")  # ONE exchange serves dedup AND the (h,t) join
        .dropDuplicates(["p1", "p2", "h", "t"])
    )
    body_counts = body.groupBy("p1", "p2").agg(F.count("*").alias("body_count"))
    heads = enc.select(
        F.col("pid").alias("p3"), F.col("head").alias("h"), F.col("tail").alias("t")
    )
    support = (
        body.join(heads, ["h", "t"])
        .groupBy("p1", "p2", "p3")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
    )
    def name(pid_col: str, out: str) -> DataFrame:
        return preds.select(F.col("pid").alias(pid_col), F.col("pred").alias(out))

    return (
        support.join(body_counts, ["p1", "p2"])
        .join(F.broadcast(name("p1", "r1")), "p1")
        .join(F.broadcast(name("p2", "r2")), "p2")
        .join(F.broadcast(name("p3", "r3")), "p3")
        .select(
            "r1",
            "r2",
            "r3",
            "support",
            "body_count",
            F.expr("CAST(support * 1000000 AS BIGINT) div body_count").alias(
                "conf_micro"
            ),
        )
    )


def rule_support_sql(
    edges_sql: str,
    min_support: int = MIN_SUPPORT,
    max_mid_degree: int = MAX_MID_DEGREE,
) -> str:
    """DuckDB twin over any edges(pred, head, tail) relation SQL.  MUST
    stay in lockstep with :func:`rule_support` — one constant drives both
    (the registry interpolates the same module-level defaults)."""
    return f"""
WITH edges AS ({edges_sql}),
hot AS (
  SELECT tail AS x FROM edges GROUP BY tail HAVING COUNT(*) > {max_mid_degree}
  UNION
  SELECT head AS x FROM edges GROUP BY head HAVING COUNT(*) > {max_mid_degree}
),
body AS (
  SELECT DISTINCT e1.pred AS r1, e2.pred AS r2, e1.head AS h, e2.tail AS t
  FROM edges e1 JOIN edges e2 ON e1.tail = e2.head
  WHERE e1.tail NOT IN (SELECT x FROM hot)
),
body_counts AS (
  SELECT r1, r2, COUNT(*) AS body_count FROM body GROUP BY r1, r2
),
support AS (
  SELECT b.r1, b.r2, e.pred AS r3, COUNT(*) AS support
  FROM body b JOIN edges e ON e.head = b.h AND e.tail = b.t
  GROUP BY 1, 2, 3
  HAVING COUNT(*) >= {min_support}
)
SELECT s.r1, s.r2, s.r3, s.support, bc.body_count,
       (s.support * 1000000) // bc.body_count AS conf_micro
FROM support s JOIN body_counts bc USING (r1, r2)
ORDER BY r1, r2, r3
"""
