"""OP-52 salted-join equivalence gates: salting must be a PHYSICAL rewrite
only — bit-identical join output with salting on and off, under AQE, both
on a planted hot key and through the full pipeline's materialize joins at
a skewed zipf scale corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openie_spark.catalog import ParquetCatalog
from openie_spark.operators.skew import hot_keys, salted_join
from openie_spark.plans import pipeline
from openie_spark.plans.pipeline import PipelineConfig, run_pipeline
from openie_spark.sources.tables import load_alias_dict, load_docs


def test_salted_join_equals_plain_join_on_planted_hot_key(spark):
    """A 20%-share key (well past the 10% planted-entity bar) must produce
    identical inner AND left join results through the salted path."""
    n = 50_000
    big = spark.range(n).select(
        F.when(F.col("id") % 10 < 2, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 997)))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("k500", 3), ("absent", 4)], "k string, v int"
    )
    hot = hot_keys(big, "k", 0.1)
    assert hot == ["hot"]
    for how in ("inner", "left"):
        a = sorted(
            map(
                tuple,
                salted_join(
                    big, small, "k", hot, 8, salt_src=["payload"], how=how
                ).collect(),
            )
        )
        b = sorted(map(tuple, big.join(small, "k", how).collect()))
        assert a == b, how


@pytest.fixture(scope="module")
def skewed_corpus_path() -> str:
    from openie_spark.fixtures.gen_scale import ensure_scale_corpus

    return ensure_scale_corpus(10_000, n_chunks=8)


def _run(spark, docs, aliases, tmp, broadcast=False):
    cat = ParquetCatalog(spark, str(tmp))
    cfg = PipelineConfig(
        run_id="salteq",
        broadcast_canon=broadcast,  # False → the salted SHUFFLE path runs
        collect_counts=False,
        check_invariant=False,
    )
    res = run_pipeline(spark, docs, aliases, cat, cfg)
    edges = sorted(map(tuple, cat.load_table("edges").collect()))
    vertices = sorted(map(tuple, cat.load_table("vertices").collect()))
    return res, edges, vertices


def test_pipeline_edges_identical_salted_plain_broadcast(
    spark, skewed_corpus_path, alias_dict_path, tmp_path, monkeypatch
):
    """The zipf(1.2) scale corpus's top entity carries >10% of mentions, so
    manual salting genuinely engages; the edge and vertex tables must be
    byte-identical across all three physical strategies for the
    triples⋈canonical joins: salted shuffle, plain shuffle (a hot-key
    share no key can reach, so the hot list is empty), and broadcast
    (AQE on throughout)."""
    docs = load_docs(spark, skewed_corpus_path)
    aliases = load_alias_dict(spark, alias_dict_path)
    res_on, e_on, v_on = _run(spark, docs, aliases, tmp_path / "on")
    res_bc, e_bc, v_bc = _run(spark, docs, aliases, tmp_path / "bc", broadcast=True)
    monkeypatch.setattr(pipeline, "HOT_SHARE", 1.01)
    res_off, e_off, v_off = _run(spark, docs, aliases, tmp_path / "off")
    assert res_on["n_hot_keys"] >= 1  # salting actually exercised
    assert res_off["n_hot_keys"] == 0
    assert len(e_on) > 0
    assert e_on == e_off == e_bc
    assert v_on == v_off == v_bc
