"""Exact discrete percentiles with BOUNDED aggregation state — the
scale-safe spelling of ``percentile_disc`` for 10^12-row columns.

Spark's exact percentile aggregates (``percentile``/``percentile_disc``)
buffer the per-group value multiset in the aggregation buffer: state
grows with the group's distinct-value count, which on an unbounded
numeric column is a memory hazard, not just a cost.  This module
computes the identical result from the value DISTRIBUTION instead:

  1. histogram: groupBy (keys, v) count — a plain hash aggregate whose
     per-task state is the distinct (keys, v) pairs of that task's
     partitions, map-side combined, spill-capable;
  2. CDF: cumulative count over a window partitioned by keys ordered by
     v — Spark's window is SORT-based and spills to disk, so per-group
     distinct-value cardinality costs I/O, never memory;
  3. pick: ``percentile_disc(p)`` is the smallest v whose cumulative
     count reaches ceil(p·n).  With p = num/den the threshold test is
     the exact integer cross-multiplication ``cum·den ≥ num·n`` (for
     integer cum, cum ≥ ceil(x) ⇔ cum ≥ x) — no division, no floats.

The registry's DuckDB oracles for ``value_percentiles`` / ``value_mad``
deliberately KEEP the engine-native ``percentile_disc`` spelling, so the
driver hash-compare doubles as an independent proof that this
distribution form equals the true discrete percentile.

Callers quantize to milli/micro-unit bigints first (the repo's standard
exactness trick); quantization also shrinks the histogram but is NOT
what bounds memory here — the plan above is memory-safe at any
cardinality."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def disc_percentiles(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    ps: dict[str, tuple[int, int]],
) -> DataFrame:
    """df → one row per distinct ``keys`` with ``n`` (group row count,
    COUNT(*)-style: NULL values included), one column per ``ps`` entry
    (name → (num, den), the exact discrete p = num/den percentile of
    ``val_col``), plus min/max as ``<val_col>_min`` / ``<val_col>_max``.

    NULL semantics match ``percentile_disc`` / MIN / MAX / COUNT(*)
    exactly: NULL values are EXCLUDED from the percentile multiset (the
    position threshold uses the non-null count) and from min/max, but
    counted in ``n`` — so a nullable value column cannot fork this
    spelling from the engine-native oracle."""
    nn = F.when(F.col(val_col).isNotNull(), F.col("_c")).otherwise(F.lit(0))
    h = df.groupBy(*keys, val_col).agg(F.count("*").alias("_c"))
    by = Window.partitionBy(*keys)
    # NULLS FIRST: the null-group row then sits before every value, so
    # its _cum is 0 and the non-null cumulative counts exclude it
    cum_w = by.orderBy(F.col(val_col).asc_nulls_first()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    h = (
        h.withColumn("_cum", F.sum(nn).over(cum_w))
        .withColumn("_n", F.sum("_c").over(by))
        .withColumn("_nn", F.sum(nn).over(by))
    )

    def pick(num: int, den: int) -> Column:
        # v is NULL on the null-group row, so F.min skips it even though
        # its _cum (0) can satisfy the test when _nn = 0
        return F.min(
            F.when(
                F.col("_cum") * F.lit(den) >= F.lit(num) * F.col("_nn"),
                F.col(val_col),
            )
        )

    return h.groupBy(*keys).agg(
        F.max("_n").alias("n"),
        *[pick(num, den).alias(name) for name, (num, den) in ps.items()],
        F.min(val_col).alias(f"{val_col}_min"),
        F.max(val_col).alias(f"{val_col}_max"),
    )
