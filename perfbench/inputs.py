"""Seeded benchmark inputs and their reference answers.

Everything here is pure Python / pyarrow / DuckDB and runs before the
SparkSession starts, so the fork-based corpus generator never forks a
process that already holds JVM gateway threads.
"""

from __future__ import annotations

import time
from pathlib import Path

import pyarrow.parquet as pq

from openie_spark.fixtures import store

DELTA_CHUNK = 9000  # chunk id of the delta docs; base chunks are 0..63

# The TPC-H-shaped star tables the KG queries read, copied unchanged from
# the project's deterministic test tables (seed 42) at two scale factors.
STAR_DATA = Path(__file__).resolve().parent / "data"
STAR_TABLES = ("nation", "customer", "supplier", "orders", "lineitem")


def corpus(root: Path, n_docs: int, seed: int) -> tuple[str, str]:
    """Generate the seeded `gen_scale` corpus and the alias dictionary.

    `gen_scale.ensure_scale_corpus` caches on `n_docs` alone, so a second
    seed would get the first seed's corpus back.  Pointing
    `store.FIXTURE_DIR` at a directory named after (n_docs, seed) keys the
    cache on both without touching the generator."""
    from openie_spark.fixtures.entities import ensure_alias_dict
    from openie_spark.fixtures.gen_scale import ensure_scale_corpus

    store.FIXTURE_DIR = root / f"corpus-n{n_docs}-seed{seed}"
    return ensure_scale_corpus(n_docs, seed=seed), ensure_alias_dict()


def delta_docs(root: Path, n_docs: int, seed: int) -> str:
    """`n_docs` new documents from the same grammar, with doc ids that no
    base chunk uses, written as one parquet file."""
    from openie_spark.fixtures.gen_scale import _gen_chunk

    d = root / f"delta-n{n_docs}-seed{seed}"
    d.mkdir(parents=True, exist_ok=True)
    _gen_chunk((str(d), DELTA_CHUNK, n_docs, seed))
    return str(d)


def kernel_triples(paths: list[str]) -> tuple[int, int, float]:
    """Run the frozen rule kernel in-process over every doc under `paths`.
    Returns (docs, triples, kernel seconds); the parquet decode is not timed."""
    from openie_spark.spec.rules import extract_pairs

    payload = []
    for p in paths:
        for f in sorted(Path(p).glob("*.parquet")):
            for spans in pq.read_table(f, columns=["spans"]).column("spans").to_pylist():
                payload.append([(s["kind"], s["text"]) for s in spans])
    t0 = time.perf_counter()
    n = sum(len(extract_pairs(doc)) for doc in payload)
    return len(payload), n, time.perf_counter() - t0


def star_oracle(sf_dir: str, names: list[str]) -> tuple[dict, int]:
    """DuckDB answers for the named registry queries over the star tables,
    plus the number of distinct KG edges they read.

    The SQL is `registry.ORACLE_SQL`, which `registry.build_oracle_sql()`
    returns unchanged for these queries; the entries it adds are for other
    queries and materialize spec fixtures first."""
    import duckdb

    from openie_spark.plans.registry import ORACLE_SQL, STAR_KG_EDGES_SQL

    con = duckdb.connect()
    try:
        for t in STAR_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        frames = {n: con.sql(ORACLE_SQL[n]).df() for n in names}
        n_edges = con.sql(f"SELECT COUNT(*) FROM ({STAR_KG_EDGES_SQL})").fetchone()[0]
        return frames, int(n_edges)
    finally:
        con.close()
