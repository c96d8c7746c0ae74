"""The lineage-cut seam must be semantics-preserving in both modes —
``local`` (sandbox default) and ``reliable`` (replicated checkpoint for
fault-tolerant clusters) — so the fault-tolerance trade is config-only,
and any other value must be refused.  The reliable mode must also
truncate the plan through the ITERATIVE connected-components loop (a
persist-based mode does not — its plan doubles per round and analysis
hangs, which is why it was removed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openie_spark.functions.lineage import CKPT_DIR_KEY, CONF_KEY, cut_lineage
from openie_spark.operators.skew import hot_keys


def test_reliable_mode_requires_checkpoint_dir(spark):
    """setCheckpointDir is sticky for the SparkContext, so the missing-dir
    error is only observable with the context's dir cleared: clear it for
    the test and put back whatever an earlier test left."""
    jsc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    saved = jsc.getCheckpointDir()
    set_dir = getattr(jsc, "checkpointDir_$eq")
    set_dir(jvm.scala.Option.apply(None))
    spark.conf.set(CONF_KEY, "reliable")
    try:
        with pytest.raises(Exception, match="checkpointDir"):
            cut_lineage(spark.range(3), eager=True)
    finally:
        spark.conf.unset(CONF_KEY)
        set_dir(saved)


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_cut_lineage_modes_preserve_results(spark, mode, tmp_path):
    spark.conf.set(CONF_KEY, mode)
    spark.conf.set(CKPT_DIR_KEY, str(tmp_path / "ck"))
    try:
        df = spark.range(100).withColumn("k", F.pmod("id", F.lit(7)))
        cut = cut_lineage(df, eager=True)
        assert cut.count() == 100
        assert cut.groupBy("k").count().count() == 7
        # hot_keys goes through the seam internally
        skewed = spark.range(100).select(
            F.when(F.col("id") < 60, F.lit("hot")).otherwise(
                F.concat(F.lit("k"), F.col("id"))
            ).alias("k")
        )
        assert hot_keys(skewed, "k", 0.1) == ["hot"]
    finally:
        spark.conf.unset(CONF_KEY)
        spark.conf.unset(CKPT_DIR_KEY)


def test_unknown_mode_is_refused(spark):
    """A misspelt ``reliable`` must raise, not fall back to the
    non-replicated local cut."""
    spark.conf.set(CONF_KEY, "relaible")
    try:
        with pytest.raises(ValueError, match=f"{CONF_KEY}.*'relaible'"):
            cut_lineage(spark.range(3), eager=True)
    finally:
        spark.conf.unset(CONF_KEY)


def test_reliable_mode_survives_cc_iteration(spark, tmp_path):
    """Reliable checkpoints must truncate the plan through the iterative
    large-star/small-star loop (the case plain persist cannot handle)."""
    from openie_spark.fixtures.gen_graphs import all_graphs
    from openie_spark.operators.components import connected_components

    spark.conf.set(CONF_KEY, "reliable")
    spark.conf.set(CKPT_DIR_KEY, str(tmp_path / "cc_ck"))
    try:
        edges, expected = all_graphs()
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r["id"]: r["rep"] for r in connected_components(df).collect()}
        assert got == expected
    finally:
        spark.conf.unset(CONF_KEY)
        spark.conf.unset(CKPT_DIR_KEY)


def test_kg_operators_cut_through_seam_under_reliable(spark, tmp_path, monkeypatch):
    """rule_support, random_walks and negative_samples materialize their
    intermediates through the seam: under ``reliable`` none of them may
    fall back to a bare localCheckpoint (non-replicated blocks), and each
    must return exactly its ``local`` result."""
    from conftest import SF0001

    from openie_spark.operators.kg_sampling import negative_samples
    from openie_spark.operators.rules import rule_support
    from openie_spark.operators.walks import random_walks
    from openie_spark.plans.registry import star_kg_edges

    edges = star_kg_edges(spark, SF0001)
    seeds = edges.select(F.col("head").alias("id")).distinct().orderBy("id").limit(20)

    def run():
        return (
            sorted(rule_support(edges, min_support=1).collect()),
            sorted(random_walks(edges, seeds).collect()),
            sorted(negative_samples(edges).collect()),
        )

    local = run()
    assert all(local)
    saved = {k: spark.conf.get(k, None) for k in (CONF_KEY, CKPT_DIR_KEY)}
    spark.conf.set(CONF_KEY, "reliable")
    spark.conf.set(CKPT_DIR_KEY, str(tmp_path / "kg_ck"))

    def no_local_cut(self, *a, **kw):
        raise AssertionError("bare localCheckpoint under lineageCut=reliable")

    monkeypatch.setattr(type(edges), "localCheckpoint", no_local_cut)
    try:
        assert run() == local
    finally:
        monkeypatch.undo()
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_reliable_mode_follows_checkpoint_dir_conf_change(spark, tmp_path):
    """A checkpointDir conf set after the session's first reliable cut must
    take effect: the next cut writes its files under the new dir."""
    from pathlib import Path

    saved = {k: spark.conf.get(k, None) for k in (CONF_KEY, CKPT_DIR_KEY)}
    dir_a, dir_b = tmp_path / "a", tmp_path / "b"

    def files(d: Path) -> list:
        return [p for p in d.rglob("*") if p.is_file()] if d.exists() else []

    spark.conf.set(CONF_KEY, "reliable")
    try:
        spark.conf.set(CKPT_DIR_KEY, str(dir_a))
        assert cut_lineage(spark.range(10), eager=True).count() == 10
        assert files(dir_a)
        spark.conf.set(CKPT_DIR_KEY, str(dir_b))
        assert cut_lineage(spark.range(20), eager=True).count() == 20
        assert files(dir_b)
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
