"""Deterministic negative sampling for KG-embedding training.

Given positive (head, tail) edges, emit `n_neg` corrupted-tail negatives per
positive — the standard local-closed-world corruption used to train
TransE-family models (Bordes et al. 2013, public knowledge).  Corruption must
be (a) uniform over the entity vocabulary, (b) reproducible run-to-run, and
(c) engine-portable so the DuckDB oracle can replay it bit-for-bit; all
three come from one PORTABLE integer hash:

    H(x) = int(md5(x)[:15 hex], 16)          -- 60 bits, fits int64
    Spark : conv(substr(md5(x),1,15),16,10)::long
    DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT)

(the md5-lockstep family used by stratified sampling / lang_id in
plans/registry.py, extended from threshold-compare to index arithmetic).

Scale shape (100 TB posture): the tail vocabulary is ENTITY-bounded, not
corpus-bounded — indexed once with a vocabulary-local row_number and met by
the hashed index via broadcast (vocabularies up to ~100M ids broadcast fine
as a two-column long table).  Everything else is map-side column arithmetic
on the positives; the filtered-setting anti-join shuffles on the (head,
tail) key the positives are already grouped by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# canonical home: functions/hashing.py (re-exported here for existing
# imports; the scheme must stay in ONE place so its DuckDB twin can't fork)
from openie_spark.functions.hashing import portable_hash60 as portable_hash60
from openie_spark.functions.lineage import cut_lineage


def negative_samples(
    edges: DataFrame,
    head_col: str = "head",
    tail_col: str = "tail",
    n_neg: int = 2,
) -> DataFrame:
    """Corrupted-tail negatives: for each positive edge and j in [0, n_neg),
    neg_tail = vocab[ H(head, tail, j) % |vocab| ].

    Negatives that happen to be true edges are dropped (the "filtered
    setting" of KG-embedding evaluation) via a left-anti join — so the
    emitted count can be < n_neg per positive; the hash argument `j` keeps
    the survivors reproducible.  Self-corruptions (neg == original
    tail) are a subset of that filter.

    Output: (head, tail, neg_rank, neg_tail) with neg_rank = j.
    """
    # Materialized once: `e` has THREE consumers (vocab build, candidate
    # explode, filtered-setting anti-join) and the caller's relation may
    # be a composed plan (the registry feeds a distinct over lineitem) —
    # without the cut each consumer re-runs it (rules.py precedent).
    e = cut_lineage(
        edges.select(F.col(head_col).alias("head"), F.col(tail_col).alias("tail")),
        eager=True,
    )

    # Vocabulary index: tail entities, densely numbered by a total order.
    # The global-sort window runs over the ENTITY vocabulary only (same
    # bounded-side argument as the IVF centroid collect, similarity.py).
    # Also materialized: consumed by the count() below AND the join.
    vocab = cut_lineage(
        e.select("tail").distinct().select(
            (F.row_number().over(Window.orderBy("tail")) - 1).alias("neg_idx"),
            F.col("tail").alias("neg_tail"),
        ),
        eager=True,
    )
    n_vocab = vocab.count()  # one vocab-bounded job; reused as a plain literal

    cand = (
        e.select(
            "head",
            "tail",
            F.explode(F.sequence(F.lit(0), F.lit(n_neg - 1))).alias("neg_rank"),
        )
        .withColumn(
            "neg_idx",
            portable_hash60("head", "tail", "neg_rank") % F.lit(n_vocab),
        )
    )
    return (
        cand.join(F.broadcast(vocab), "neg_idx")
        .join(
            e.select(F.col("head"), F.col("tail").alias("neg_tail")),
            ["head", "neg_tail"],
            "left_anti",
        )
        .select("head", "tail", "neg_rank", "neg_tail")
    )
