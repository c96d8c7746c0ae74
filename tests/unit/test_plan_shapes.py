"""Physical-plan shape gates (SURVEY.md §4): the optimizations the engine
relies on at 100 TB must actually appear in the executed plans — predicate
pushdown and column pruning into the parquet scan, broadcast joins for small
dims, whole-stage codegen on the relational path, no Python in JVM-only
operators, no cartesian products anywhere in the LSH paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openie_spark.plans import registry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    """OP-12 + §4.1: a where on a parquet scan must become PushedFilters."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan


def test_column_pruning_reaches_scan(spark):
    """§4.1: a two-column projection must scan only those columns."""
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = _formatted(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_star_join_broadcasts(spark):
    """OP-50: region/nation joins must be broadcast hash joins, never SMJ."""
    plan = _plan(registry.q_region_customers(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_relational_path_codegen_no_python(spark):
    """The relational operators must stay inside whole-stage codegen with
    zero Python evaluation nodes."""
    for q in (
        registry.q_pricing_summary,
        registry.q_segment_revenue,
        registry.q_latest_order,
        registry.q_events_hourly,
        registry.q_exact_dedup,
        registry.q_quality_scores,
        registry.q_embedding_stats,
    ):
        df = q(spark, SF)
        df.collect()  # AQE: the final (codegen-annotated) plan exists only post-run
        plan = _plan(df)
        # codegen stages print as "*(n)" in the executed-plan string
        assert "*(1)" in plan, q.__name__
        assert "EvalPython" not in plan, q.__name__


def test_approx_distinct_error_bound(spark):
    """OP-62: HLL++ estimate within 10% of exact (default rsd is 5%)."""
    for r in registry.q_approx_distinct(spark, SF).collect():
        assert abs(r["approx_users"] - r["exact_users"]) <= max(
            2, 0.1 * r["exact_users"]
        )


def test_lsh_paths_no_cartesian(spark):
    """Every similarity/dedup path must block through equi-join keys —
    a cartesian product or nested-loop join (except the deliberate
    broadcast of the tiny ANN probe set) is a scale bug."""
    from openie_spark.operators.dedup import minhash_dup_pairs, simhash_dup_pairs
    from openie_spark.operators.similarity import cosine_near_dup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in (
        minhash_dup_pairs(docs, "doc_id", "text"),
        simhash_dup_pairs(docs, "doc_id", "text"),
        cosine_near_dup_pairs(emb),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_extraction_single_python_fence(spark, golden_docs_path):
    """§4.2-B: the fused extraction stage must contain exactly ONE
    ArrowEvalPython node (segmentation/tokenize/tag/extract fused)."""
    from openie_spark.operators.extract import extract_stage
    from openie_spark.sources.tables import load_docs

    plan = _plan(extract_stage(load_docs(spark, golden_docs_path)))
    fences = plan.count("MapInArrow") + plan.count("ArrowEvalPython")
    assert fences == 1, plan
    assert "BatchEvalPython" not in plan  # no row-oriented Python UDF


def test_mention_normalization_jvm_side(spark, golden_docs_path):
    """OP-24 downstream normalization uses built-ins only: the mentions
    fan-out adds no second Python fence beyond extraction's one."""
    from openie_spark.operators.extract import extract_stage, mentions_from_triples
    from openie_spark.sources.tables import load_docs

    plan = _plan(mentions_from_triples(extract_stage(load_docs(spark, golden_docs_path))))
    fences = plan.count("MapInArrow") + plan.count("ArrowEvalPython")
    assert fences <= 2, plan  # one per union branch, same kernel
    assert "BatchEvalPython" not in plan


def test_pipeline_stage_tables_read_back(
    spark, golden_docs_path, alias_dict_path, tmp_path, monkeypatch
):
    """Link and canonicalize write their plan straight to `links` and
    `cc_assign`, and materialize reads both back from the catalog: its
    inputs are bare parquet scans of those tables, on a computed run and
    on a resumed one alike."""
    import shutil

    from openie_spark.catalog import ParquetCatalog
    from openie_spark.plans import pipeline as pl
    from openie_spark.sources.tables import load_alias_dict, load_docs

    seen = []
    real = pl._materialize

    def spy(cat, cfg, triples, mentions, links, cc, alias_dict):
        seen.append((links, cc))
        return real(cat, cfg, triples, mentions, links, cc, alias_dict)

    monkeypatch.setattr(pl, "_materialize", spy)
    docs = load_docs(spark, golden_docs_path).where(
        F.pmod(F.xxhash64("doc_id"), F.lit(8)) == 0
    )
    aliases = load_alias_dict(spark, alias_dict_path)
    cat = ParquetCatalog(spark, str(tmp_path))
    pl.run_pipeline(spark, docs, aliases, cat, pl.PipelineConfig(run_id="rb"))
    # a resumed run with materialize's table gone: link and canonicalize
    # are skipped, materialize recomputes from the tables read back
    shutil.rmtree(tmp_path / "edges")
    res = pl.run_pipeline(spark, docs, aliases, cat, pl.PipelineConfig(run_id="rb"))
    assert res["link_skipped"] and res["canonicalize_skipped"]
    assert len(seen) == 2
    for links, cc in seen:
        for df, table in ((links, "links"), (cc, "cc_assign")):
            plan = df._jdf.queryExecution().analyzed().toString()
            assert plan.startswith("Relation ") and "parquet" in plan, plan
            assert str(tmp_path / table) in df.inputFiles()[0], df.inputFiles()
