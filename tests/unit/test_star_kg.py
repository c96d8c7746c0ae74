"""star_kg_edges memo (plans/registry.py): one materialized edge frame per
SparkContext and star-table file state.  A repeat call must cost no
Spark job; a rewritten table and a second sf_dir must each get their own
freshly derived KG, equal to the DuckDB twin STAR_KG_EDGES_SQL."""

from __future__ import annotations

import shutil
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
from conftest import SF001, SF0001

from openie_spark.plans.registry import STAR_KG_EDGES_SQL, STAR_KG_TABLES, star_kg_edges


def _duck_edge_count(sf_dir) -> int:
    con = duckdb.connect()
    try:
        for t in STAR_KG_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{Path(sf_dir)}/{t}.parquet')"
            )
        return con.sql(f"SELECT COUNT(*) FROM ({STAR_KG_EDGES_SQL})").fetchone()[0]
    finally:
        con.close()


def test_repeat_call_returns_same_frame_and_runs_no_job(spark):
    first = star_kg_edges(spark, SF0001)
    sc = spark.sparkContext
    group = "star-kg-memo-repeat"
    sc.setJobGroup(group, "second star_kg_edges call")
    try:
        again = star_kg_edges(spark, SF0001)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert again is first
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_rewritten_table_rederives(spark, tmp_path):
    for t in STAR_KG_TABLES:
        shutil.copy(Path(SF0001) / f"{t}.parquet", tmp_path / f"{t}.parquet")
    before = star_kg_edges(spark, str(tmp_path))
    n_before = before.count()
    assert n_before == _duck_edge_count(tmp_path)

    nation = pq.read_table(tmp_path / "nation.parquet")
    pq.write_table(nation.slice(1), tmp_path / "nation.parquet")

    after = star_kg_edges(spark, str(tmp_path))
    assert after is not before
    n_after = after.count()
    assert n_after == _duck_edge_count(tmp_path) == n_before - 1  # one in_region edge fewer


def test_interleaved_dirs_keep_their_own_kg(spark):
    expected = {d: _duck_edge_count(d) for d in (SF0001, SF001)}
    assert expected[SF0001] != expected[SF001]
    seen = {}
    for d in (SF0001, SF001, SF0001, SF001):
        e = star_kg_edges(spark, d)
        assert e.count() == expected[d]
        assert seen.setdefault(d, e) is e  # the other dir did not evict it
