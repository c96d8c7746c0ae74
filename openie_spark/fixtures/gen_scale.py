"""Large deterministic bench corpus for the scaling-efficiency protocol
(BASELINE.md): same grammar + interleaving rules as the golden corpus
(gen_golden.py), generated in parallel seed-stamped chunks and written
directly as a multi-file parquet dataset (one file per chunk — which also
gives Spark a parallel scan with no repartition).

Determinism: chunk c uses rng seed (seed, c); doc ids are s{c:04d}{i:07d};
re-running with the same (n_docs, n_chunks, seed) is byte-stable, and the
corpus is cached under .fixtures/scale_docs_{n_docs}_c{n_chunks}_s{seed}/
behind a _SUCCESS marker — keyed on all three, since each changes the docs.
"""

from __future__ import annotations

import multiprocessing as mp
import os
from pathlib import Path

import numpy as np

from openie_spark.fixtures import store
from openie_spark.fixtures.entities import entity_names, zipf_probs
from openie_spark.fixtures.gen_golden import _sentence
from openie_spark.fixtures.interleave import interleave_spans

SEED = 2026


def _gen_chunk(args: tuple) -> int:
    out_dir, ci, n, seed = args
    rng = np.random.default_rng([seed, ci])
    entities = entity_names()
    probs = zipf_probs(len(entities))
    docs = []
    for i in range(n):
        doc_id = f"s{ci:04d}{i:07d}"
        n_sent = int(rng.integers(1, 7))
        text = " ".join(_sentence(rng, entities, probs) for _ in range(n_sent))
        docs.append(
            {"doc_id": doc_id, "spans": interleave_spans(ci * 1_000_003 + i, doc_id, text)}
        )
    store.write_docs(docs, Path(out_dir) / f"part-{ci:04d}.parquet")
    return n


def ensure_scale_corpus(n_docs: int, n_chunks: int = 64, seed: int = SEED) -> str:
    """Build-once cache keyed on every generator input; returns the
    dataset directory path."""
    d = store.FIXTURE_DIR / f"scale_docs_{n_docs}_c{n_chunks}_s{seed}"
    marker = d / "_SUCCESS"
    if marker.exists():
        return str(d)
    d.mkdir(parents=True, exist_ok=True)
    per = [n_docs // n_chunks + (1 if c < n_docs % n_chunks else 0) for c in range(n_chunks)]
    args = [(str(d), c, per[c], seed) for c in range(n_chunks) if per[c] > 0]
    procs = min(len(args), os.cpu_count() or 8)
    with mp.Pool(procs) as pool:
        pool.map(_gen_chunk, args)
    marker.touch()
    return str(d)
