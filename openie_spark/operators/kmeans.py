"""Integer-exact Lloyd's k-means over int8-quantized embeddings — the
clustering member of the similarity family (Lloyd 1982; the int8 posture
of similarity.py's quantized ANN path).

Why integer: float k-means accumulates centroid sums in a join-order-
dependent way — never hash-comparable across engines (the same argument
as pagerank.py / hits.py).  Here every stage is exact int64 arithmetic:

  1. quantize vectors to int8 (similarity.quantize_embeddings — the
     one-home; elements in [-127, 127]);
  2. deterministic seeding: the k vectors with the smallest
     (portable_hash60(vec_id), vec_id) become centroids 0..k-1 in that
     order (hash-spread, reproducible, no RNG);
  3. assignment: nearest centroid by integer squared L2 distance,
     ties toward the smaller centroid id — realized on the Spark side as
     a lexicographic struct(dist, cid) minimum and on the oracle side as
     arg_min on the fused priority dist·TIE_SCALE + cid (identical
     because dist ≥ 0 and cid < TIE_SCALE — kmeans_int8 refuses
     k ≥ TIE_SCALE, which the adaptive rule reaches at ~4.1e9 vectors);
  4. update: per-dimension integer mean, TRUNCATED TOWARD ZERO (Spark
     div == DuckDB // semantics; the driver-side Python mirrors it with an
     explicit sign split because Python // floors — see
     tests/unit/test_intdiv_twin.py); clusters that lose every member
     keep their previous centroid (frozen).

k is the SCALE KNOB (the SemDeDup argument, semdedup.py): ``k=None``
resolves to ``adaptive_k(n)`` = max(KMEANS_K, ceil(n /
KMEANS_TARGET_CLUSTER_SIZE)), so the EXPECTED cluster size — and with it
the per-cluster all-pairs population any downstream consumer builds — is
bounded by the target constant instead of growing with the corpus.  The
DuckDB oracle computes the same k from the same constants inside the SQL
(registry._kmeans_cte_body), so lockstep is automatic at any input size.

TWO bit-identical physical plans, chosen by the resolved k:

  * k ≤ KMEANS_LITERAL_MAX_K — centroids as codegen literals: assignment
    is k distance folds over literal arrays (no join, no Python), the
    update collects exactly k·dim tiny rows to the driver.  O(k·d)
    driver state; the fastest plan while the unrolled expression stays
    compilable.
  * k > KMEANS_LITERAL_MAX_K — fully distributed: centroids live in a
    (cid, dim, cv) DataFrame, assignment is a broadcast equi-join on dim
    + per-(vec, cid) integer sum + lexicographic struct-min, the update
    is a distributed left join back onto the centroid frame.  NOTHING
    k-sized ever reaches the driver, so k can scale ∝ corpus size.  The
    selection rule (min over (dist, cid)) is identical in both plans and
    physical-plan-oblivious, so the two are bit-identical wherever both
    run — pinned by tests/unit/test_kmeans.py.  Degenerate inputs are
    pinned too: an empty NON-seed vector assigns (cluster 0, dist 0) in
    both plans; an empty or ragged SEED vector is refused up front with
    the same ValueError in both (it would crash the literal centroid
    update but silently drop out of the distributed dim-join).

Scale shape: the corpus is scanned once per iteration either way.
max |dist| = d·254² ≈ 4.1e6 at d=64, so dist·TIE_SCALE (≤ 4.2e12) and
all sums sit far inside int64.  The tie fusion caps k below TIE_SCALE,
i.e. the adaptive rule serves up to ~4.1e9 vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openie_spark.functions.hashing import portable_hash60
from openie_spark.functions.lineage import cut_lineage
from openie_spark.operators.similarity import quantize_embeddings

KMEANS_K = 8  # floor for adaptive k (and the frozen k of the demo corpora)
KMEANS_ITERS = 3
# > any cluster id the adaptive rule produces below ~4.1e9 vectors
# (k = ceil(n / 4096)); kmeans_int8 refuses k >= TIE_SCALE.
# dist * TIE_SCALE stays < 4.2e12 at d = 64, far inside int64.
KMEANS_TIE_SCALE = 1_000_000
# Adaptive-k target: expected cluster size n/k never exceeds this, which
# bounds the per-cluster candidate-pair population of any all-pairs
# consumer (SemDeDup) to ~TARGET² per cluster regardless of corpus size.
KMEANS_TARGET_CLUSTER_SIZE = 4096
# Above this k the unrolled literal-centroid expression stops being a
# reasonable codegen unit (k·d literals) and the distributed plan takes
# over.  Plan choice, not semantics — both plans are bit-identical.
KMEANS_LITERAL_MAX_K = 64


def adaptive_k(
    n_vectors: int, target_cluster_size: int = KMEANS_TARGET_CLUSTER_SIZE
) -> int:
    """The resolved cluster count for ``k=None``: ceil(n / target) with a
    KMEANS_K floor.  Guarantees n / k ≤ target for every n ≥ 0 — the
    bound tests/unit/test_kmeans.py fuzzes."""
    return max(KMEANS_K, -(-n_vectors // target_cluster_size))


def _trunc_div(a: int, b: int) -> int:
    """Truncate-toward-zero integer division for non-negative ``b`` —
    the Python twin of Spark ``div`` / DuckDB ``//`` (Python ``//``
    floors, so negatives must be sign-split)."""
    return -((-a) // b) if a < 0 else a // b


def _dist_expr(centroid: list[int]):
    # null-safe accumulate: zip_with pads a SHORT q_vec with nulls, which
    # would otherwise poison the whole sum — coalescing each term to 0
    # makes the distance "sum over the dims the vector actually has",
    # exactly what the distributed plan's dim-join computes, so the two
    # plans agree even on degenerate (empty/short) vectors.  Real inputs
    # are fixed-dimension; this only pins the degenerate-case parity.
    lits = F.array(*[F.lit(int(x)).cast("bigint") for x in centroid])
    return F.aggregate(
        F.zip_with("q_vec", lits, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda a, v: a + F.coalesce(v, F.lit(0).cast("bigint")),
    )


def _seed_frame(q: DataFrame, k: int) -> DataFrame:
    """The k seed rows with their centroid ids: (cid, vec_id, q_vec),
    cid 0..k-1 in (portable_hash60, vec_id) order.  The row_number window
    is unpartitioned but runs over the already-LIMITed k-row frame, so
    the single-partition sort is k rows, never n."""
    seeds = (
        q.select(
            "vec_id",
            "q_vec",
            portable_hash60(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("_h", "vec_id")
    return seeds.withColumn(
        "cid", (F.row_number().over(w) - 1).cast("bigint")
    ).select("cid", "vec_id", "q_vec")


def _kmeans_literal(q: DataFrame, seeds: list, k: int, iters: int) -> DataFrame:
    """Driver-literal plan (k ≤ KMEANS_LITERAL_MAX_K): centroids as
    codegen literal arrays; update collects k·dim tiny rows."""
    cents: list[list[int]] = [list(r["q_vec"]) for r in seeds]

    def assign() -> DataFrame:
        scored = F.array(
            *[
                F.struct(
                    _dist_expr(c).alias("d"), F.lit(cid).cast("bigint").alias("c")
                )
                for cid, c in enumerate(cents)
            ]
        )
        best = F.array_min(scored)
        return q.select(
            "vec_id",
            best["c"].alias("cluster"),
            best["d"].alias("dist"),
            "q_vec",
        )

    for _ in range(iters):
        stats = (
            assign()
            .select("cluster", F.posexplode("q_vec").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()  # exactly k*dim tiny rows — data-size-independent
        )
        nxt = [list(c) for c in cents]  # empty clusters keep their centroid
        for r in stats:
            nxt[r["cluster"]][r["pos"]] = _trunc_div(int(r["s"]), int(r["n"]))
        cents = nxt
    return assign().select("vec_id", "cluster", "dist")


def _kmeans_distributed(q: DataFrame, k: int, iters: int) -> DataFrame:
    """Distributed plan (large k): centroids as a (cid, dim, cv)
    DataFrame, assignment via broadcast dim-join + struct-min, update via
    distributed left join.  No k-sized driver state anywhere."""
    vecs = cut_lineage(
        q.select(
            "vec_id", F.posexplode("q_vec").alias("dim", "x")
        ).withColumn("x", F.col("x").cast("bigint")),
        eager=True,
    )
    cents = _seed_frame(q, k).select(
        "cid", F.posexplode("q_vec").alias("dim", "cv")
    ).withColumn("cv", F.col("cv").cast("bigint"))
    cents = cut_lineage(cents, eager=True)

    def assign(c: DataFrame) -> DataFrame:
        d = (
            vecs.join(F.broadcast(c), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("x") - F.col("cv")) * (F.col("x") - F.col("cv"))
                ).alias("d")
            )
        )
        best = d.groupBy("vec_id").agg(
            F.min(F.struct(F.col("d"), F.col("cid"))).alias("b")
        )
        return best.select(
            "vec_id",
            F.col("b.cid").alias("cluster"),
            F.col("b.d").alias("dist"),
        )

    for _ in range(iters):
        stats = (
            assign(cents)
            .join(vecs, "vec_id")
            .groupBy(F.col("cluster").alias("s_cid"), F.col("dim").alias("s_dim"))
            .agg(F.sum("x").alias("sm"), F.count("*").alias("n"))
        )
        cents = (
            cents.join(
                stats,
                (cents["cid"] == stats["s_cid"])
                & (cents["dim"] == stats["s_dim"]),
                "left",
            )
            .select(
                "cid",
                "dim",
                F.coalesce(F.expr("sm div n"), F.col("cv")).alias("cv"),
            )
        )
        cents = cut_lineage(cents, eager=True)  # k·d rows, plan stays flat
    # Restore vectors whose zero-length q_vec explodes to NO (dim, x)
    # rows and therefore never reaches the dim-join: the literal plan
    # scores them as distance 0 to every centroid (null-safe zip_with
    # fold over the empty array) and assigns cluster 0 / dist 0, so
    # coalesce to exactly that.  ONCE, on the final result — inside the
    # update loop the restored rows would be immediately dropped by the
    # inner join with vecs, so the per-iteration left join would be a
    # wasted full-corpus shuffle.  (Empty SEEDS are refused up front by
    # kmeans_int8's seed-dimension validation — identically in both
    # plans.)
    return q.select("vec_id").join(assign(cents), "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("cluster"), F.lit(0).cast("bigint")).alias("cluster"),
        F.coalesce(F.col("dist"), F.lit(0).cast("bigint")).alias("dist"),
    )


def kmeans_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    iters: int = KMEANS_ITERS,
    target_cluster_size: int = KMEANS_TARGET_CLUSTER_SIZE,
    literal_max_k: int = KMEANS_LITERAL_MAX_K,
) -> DataFrame:
    """vectors(id, array<float>) → (vec_id, cluster, dist): the final
    assignment after ``iters`` exact-integer Lloyd rounds (dist = squared
    L2 in quantized units to the winning centroid).  ``k=None`` resolves
    to ``adaptive_k(count, target_cluster_size)`` — the scale knob;
    requires at least ``k`` input rows and ``k < KMEANS_TIE_SCALE`` (the
    oracle's fused dist·TIE_SCALE + cid tie rule needs cid < TIE_SCALE)."""
    q = cut_lineage(
        quantize_embeddings(vectors, vec_col, "q_vec").select(
            F.col(id_col).alias("vec_id"), "q_vec"
        ),
        eager=True,
    )
    n = None
    if k is None:
        n = q.count()
        k = adaptive_k(n, target_cluster_size)
    if k >= KMEANS_TIE_SCALE:
        raise ValueError(f"k-means needs k < {KMEANS_TIE_SCALE}, got {k}")
    if k <= literal_max_k:
        # driver-side seeding: collect the k ordered rows directly (their
        # list position IS the cid) — no window needed on this path
        seeds = (
            q.select(
                "vec_id",
                "q_vec",
                portable_hash60(F.col("vec_id").cast("string")).alias("_h"),
            )
            .orderBy("_h", "vec_id")
            .limit(k)
            .collect()
        )
        if len(seeds) < k:
            raise ValueError(f"k-means needs >= {k} vectors, got {len(seeds)}")
        dims = {len(r["q_vec"]) for r in seeds}
        if len(dims) != 1 or 0 in dims:
            raise ValueError(
                "k-means seeds must be fixed-dimension non-empty vectors; "
                f"seed dims seen: {sorted(dims)}"
            )
        return _kmeans_literal(q, seeds, k, iters)
    if n is None:  # adaptive path already counted once — reuse it
        n = q.count()
    if n < k:
        raise ValueError(f"k-means needs >= {k} vectors, got {n}")
    # same seed validation as the literal plan, without k-sized driver
    # state: an empty/ragged SEED would crash the literal centroid update
    # but silently drop out of the distributed dim-join — refuse both,
    # identically (non-seed degenerate vectors keep the (0, 0) parity)
    sz = (
        _seed_frame(q, k)
        .select(F.size("q_vec").alias("s"))
        .agg(F.countDistinct("s").alias("nd"), F.min("s").alias("mn"))
        .first()
    )
    if sz["nd"] != 1 or sz["mn"] == 0:
        raise ValueError(
            "k-means seeds must be fixed-dimension non-empty vectors"
        )
    return _kmeans_distributed(q, k, iters)
