"""Scale-corpus cache (fixtures/gen_scale.py): the cache is keyed on every
generator input, so a different chunk count or seed never gets another
corpus back."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from openie_spark.fixtures import gen_scale, store


def _docs(path: str) -> dict[str, str]:
    t = pq.read_table(path, columns=["doc_id", "spans"]).to_pydict()
    return {
        d: "".join(s["text"] or "" for s in spans)
        for d, spans in zip(t["doc_id"], t["spans"])
    }


def test_cache_keyed_on_chunks_and_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(store, "FIXTURE_DIR", Path(tmp_path))
    base = gen_scale.ensure_scale_corpus(40, n_chunks=4, seed=1)
    rechunked = gen_scale.ensure_scale_corpus(40, n_chunks=2, seed=1)
    reseeded = gen_scale.ensure_scale_corpus(40, n_chunks=4, seed=2)
    assert len({base, rechunked, reseeded}) == 3
    a, b, c = _docs(base), _docs(rechunked), _docs(reseeded)
    assert len(a) == len(b) == len(c) == 40
    assert set(a) != set(b)  # chunk count shapes the doc ids
    assert set(a) == set(c) and a != c  # the seed shapes the text
    # a repeat call is a cache hit on the same directory
    assert gen_scale.ensure_scale_corpus(40, n_chunks=4, seed=1) == base
