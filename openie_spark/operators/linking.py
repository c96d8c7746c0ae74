"""Entity linking (OP-30..35, SURVEY.md §2.4).

Three decisions, in order of precedence, over the DISTINCT mentions:
  1. OP-30 exact: broadcast hash left join mentions ⟕ alias_dict on
     mention_norm = alias_norm, grouped to the min entity per mention (the
     dict is the small dimension the north star calls the "broadcast
     alias dictionary").  Its null rows are the LSH input.
  2. OP-31..34 MinHash-LSH for the remainder: char-3-gram shingles
     (JVM-side higher-order functions — no UDF), 64-perm MinHash + 16x4
     banding (one mapInArrow fence over the shared frozen scheme in
     functions/minhash.py), candidate generation by shuffled equi-join on
     band keys, exact-Jaccard verification (array_intersect/array_union,
     JVM-side) at threshold 0.5, best match per mention by
     (jaccard desc, entity_id asc) — a total order, so deterministic.
  3. OP-35 minting: still-unlinked mentions get entity_id =
     xxhash64(mention_norm) — deterministic, partition-independent (never
     monotonically_increasing_id).
Each mention is resolved by one left join of the exact rows with the LSH
rows: coalesce(exact, lsh, xxhash64) and the matching method.

Scale notes (10^12-doc posture): the LSH join is a plain shuffled equi-join
on 16 exploded band keys per side — linear fan-out, no cross product; the
distinct-mentions projection upstream collapses the join input to unique
mention_norm values (bounded by vocabulary, not corpus size); the alias dict
is broadcast once.  Hot mention_norm values are irrelevant here because the
join runs on DISTINCT mentions; the hot-key problem lives in the
triples→links join back, handled by AQE skew split + optional salting
(operators/skew.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType
from pyspark.sql.window import Window

from openie_spark.functions import minhash as mh
from openie_spark.functions.lineage import cut_lineage


def shingles_col(col: str):
    """OP-31 char-3-gram shingles, computed JVM-side with higher-order
    array functions (sequence/transform/array_distinct) — no Python."""
    c = F.col(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.length(c) - 3),
        lambda i: c.substr(i + 1, F.lit(3)),
    )
    return F.when(F.length(c) >= 3, F.array_distinct(grams)).otherwise(
        F.when(F.length(c) > 0, F.array(c)).otherwise(F.array().cast("array<string>"))
    )


def _band_key_batches(batches):
    """mapInArrow kernel of ``band_key_rows``: each row once per band key
    of its first column, with the key appended as ``band_key``; a shingle
    array column is consumed, not passed through."""
    for batch in batches:
        col = batch.column(0)
        if pa.types.is_list(col.type):  # shingles as given
            lists = [lst or [] for lst in col.to_pylist()]
            first = 1
        else:  # a string: its char-3-gram shingles
            lists = [mh.shingles(s) if s else [] for s in col.to_pylist()]
            first = 0
        keys, has_keys = mh.band_keys_matrix(lists)
        rows = pa.array(np.repeat(np.flatnonzero(has_keys), mh.BANDS))
        yield pa.RecordBatch.from_arrays(
            [*(c.take(rows) for c in batch.columns[first:]),
             pa.array(keys[has_keys].reshape(-1))],
            names=[*batch.schema.names[first:], "band_key"],
        )


def band_key_rows(df: DataFrame) -> DataFrame:
    """OP-32/33: MinHash signature → 16 LSH band keys (frozen scheme) of
    ``df``'s first column, exploded: one output row per (row, band key),
    with ``band_key`` appended.  A string first column is shingled into
    char 3-grams (a NULL or empty string has none) and passed through; an
    ``array<string>`` first column is taken as the shingles themselves (a
    NULL or empty array has none) and dropped, so the array is not copied
    once per band key.  Every other column is passed through.  A row
    without shingles emits no row.  ONE Arrow fence for every MinHash user
    (entity linking and document dedup), numpy-vectorized across the
    batch (minhash.py batch path, bit-identical to the scalar oracle
    path)."""
    fields = df.schema.fields
    if isinstance(fields[0].dataType, ArrayType):
        fields = fields[1:]
    schema = StructType([*fields, StructField("band_key", LongType(), False)])
    return df.mapInArrow(_band_key_batches, schema)


def lsh_links(unlinked: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """OP-31..34: LSH candidate blocking + exact-Jaccard verify + best match.

    unlinked: DataFrame[mention_norm] (distinct).
    Returns (mention_norm, entity_id, method='lsh').
    """
    # band keys only through the 16x-replicated explode/join; the shingle
    # arrays are recomputed as a JVM expression on the (far fewer)
    # candidate pairs instead of being carried through the shuffle
    #
    # explicit repartition before the MinHash fence: `unlinked` arrives from
    # a grouped cut whose output AQE coalesces to ~1 partition at small
    # scale, which serializes the Python signature work (measured 7.9 s →
    # ~1 s at 92k mentions on 32 cores).  Partition count = cluster slots
    # (defaultParallelism), NOT spark.sql.shuffle.partitions: the right
    # sizing for a Python-UDF stage is one task per core — byte-based AQE
    # coalescing under-parallelizes it and more tasks than cores just pay
    # Arrow/worker dispatch per task.  The repartitioned data is
    # vocabulary-bounded, so this shuffle never grows with corpus size.
    n_part = unlinked.sparkSession.sparkContext.defaultParallelism
    m_exp = band_key_rows(
        unlinked.repartition(n_part, "mention_norm").select("mention_norm")
    )
    a_exp = band_key_rows(alias_dict.select("alias_norm", "entity_id"))
    cand = (
        m_exp.join(a_exp, "band_key")
        .dropDuplicates(["mention_norm", "alias_norm", "entity_id"])
        # same AQE-coalesce hazard for the JVM-side O(|shingles|^2) verify
        .repartition(n_part, "mention_norm", "alias_norm")
        .withColumn("m_shingles", shingles_col("mention_norm"))
        .withColumn("a_shingles", shingles_col("alias_norm"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("m_shingles", "a_shingles"))
            / F.size(F.array_union("m_shingles", "a_shingles")),
        )
        .where(F.col("jaccard") >= mh.JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("mention_norm").orderBy(
        F.desc("jaccard"), F.asc("entity_id"), F.asc("alias_norm")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("mention_norm", "entity_id", F.lit("lsh").alias("method"))
    )


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Full linking stage: distinct mentions → exact, else lsh, else minted
    links.  Input needs a mention_norm column; output one row per distinct
    mention_norm with (entity_id, method).

    Two EAGER lineage cuts, both vocabulary-bounded: the exact rows
    (every distinct mention, its min exact entity or null) and the LSH
    rows over the nulls.  Each is read twice, and one job over the whole
    tree recomputes shared subtrees — concurrent stages race the lazy
    cache (measured 12 s vs ~6 s eager at 92k distinct mentions).  The
    resolving join stays lazy: the caller's write runs it."""
    aliases = F.broadcast(alias_dict.select("alias_norm", "entity_id"))
    distinct = mentions.select("mention_norm").distinct()
    exact = cut_lineage(
        distinct.join(aliases, distinct.mention_norm == aliases.alias_norm, "left")
        # a mention may hit several aliases of several entities; keep the
        # deterministic min entity per mention
        .groupBy("mention_norm")
        .agg(F.min("entity_id").alias("exact_id")),
        eager=True,
    )
    unlinked = exact.where(F.col("exact_id").isNull()).select("mention_norm")
    lsh = cut_lineage(lsh_links(unlinked, alias_dict), eager=True)
    resolved = exact.join(
        lsh.select("mention_norm", F.col("entity_id").alias("lsh_id")),
        "mention_norm",
        "left",
    )
    return resolved.select(
        "mention_norm",
        F.coalesce("exact_id", "lsh_id", F.xxhash64("mention_norm")).alias("entity_id"),
        F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
        .when(F.col("lsh_id").isNotNull(), F.lit("lsh"))
        .otherwise(F.lit("minted"))
        .alias("method"),
    )


def blocking_quality(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Blocking-quality metrics for the LSH candidate blocker — ONE row of
    exact integers (Christen, "Data Matching", 2012):

      pairs completeness  = blocking recall: fraction of truly-matching
                            (mention, alias) pairs (exact Jaccard >= the
                            frozen threshold) that share >= 1 LSH band;
      reduction ratio     = fraction of the |mentions| x |aliases| pair
                            space the blocker prunes.

    Ground truth is a brute-force pass against the BROADCAST alias
    dictionary — linear in distinct mentions because the dictionary is the
    bounded small dimension (the north star's "broadcast alias dict"), so
    the truth pass costs one broadcast nested-loop over a
    vocabulary-bounded frame, never a corpus-sized cross product.  At a
    10^9-alias dictionary you would run the truth pass on a deterministic
    hash-sample of mentions instead; the metric definition is unchanged.

    Ratios are reported in exact integer ppm (floor division) so the
    driver value-hash is bit-comparable — no float accumulation.  The
    pure-Python twin (fixtures/gen_blocking_twin.py) replays the same
    frozen scheme single-process and is the DuckDB oracle.
    """
    distinct = mentions.select("mention_norm").distinct()
    aliases = cut_lineage(
        alias_dict.select("alias_norm").distinct(), eager=True
    )
    # the blocker's actual input: mentions the exact path did NOT consume
    rest = cut_lineage(
        distinct.join(aliases, distinct.mention_norm == aliases.alias_norm, "left_anti"),
        eager=True,
    )
    n_part = mentions.sparkSession.sparkContext.defaultParallelism
    m_exp = band_key_rows(rest.repartition(n_part, "mention_norm").select("mention_norm"))
    a_exp = band_key_rows(aliases.select("alias_norm"))
    cand = (
        m_exp.join(a_exp, "band_key")
        .select("mention_norm", "alias_norm")
        .dropDuplicates(["mention_norm", "alias_norm"])
    )
    truth = (
        rest.crossJoin(F.broadcast(aliases))
        .withColumn("m_shingles", shingles_col("mention_norm"))
        .withColumn("a_shingles", shingles_col("alias_norm"))
        .where(
            F.size(F.array_intersect("m_shingles", "a_shingles"))
            / F.size(F.array_union("m_shingles", "a_shingles"))
            >= mh.JACCARD_THRESHOLD
        )
        .select("mention_norm", "alias_norm")
    )
    per_pair = (
        cand.withColumn("is_cand", F.lit(1)).withColumn("is_true", F.lit(0))
        .unionByName(
            truth.withColumn("is_cand", F.lit(0)).withColumn("is_true", F.lit(1))
        )
        .groupBy("mention_norm", "alias_norm")
        .agg(F.max("is_cand").alias("is_cand"), F.max("is_true").alias("is_true"))
    )
    counts = per_pair.agg(
        F.coalesce(F.sum("is_cand"), F.lit(0)).cast("bigint").alias("n_cand_pairs"),
        F.coalesce(F.sum("is_true"), F.lit(0)).cast("bigint").alias("n_true_pairs"),
        F.coalesce(F.sum(F.col("is_cand") * F.col("is_true")), F.lit(0))
        .cast("bigint")
        .alias("n_found_pairs"),
    )
    sizes = rest.agg(F.count("*").alias("n_mentions")).crossJoin(
        aliases.agg(F.count("*").alias("n_aliases"))
    )
    return sizes.crossJoin(counts).select(
        "n_mentions",
        "n_aliases",
        "n_true_pairs",
        "n_cand_pairs",
        "n_found_pairs",
        F.when(
            F.col("n_true_pairs") > 0,
            F.expr("n_found_pairs * 1000000 div n_true_pairs"),
        )
        .otherwise(F.lit(1000000))
        .cast("bigint")
        .alias("pairs_completeness_ppm"),
        F.when(
            F.col("n_mentions") * F.col("n_aliases") > 0,
            F.expr(
                "(n_mentions * n_aliases - n_cand_pairs) * 1000000"
                " div (n_mentions * n_aliases)"
            ),
        )
        .otherwise(F.lit(1000000))
        .cast("bigint")
        .alias("reduction_ratio_ppm"),
    )
