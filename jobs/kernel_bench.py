"""Micro-benchmark the frozen extraction kernel (spec/rules.py) on the
real bench corpus — the per-core feedback loop for hot-path plumbing
changes (which must stay output-identical; the pinned golden/v1/v2/v3
tests are the semantic gate, this file is the speed gate).

Usage: python jobs/kernel_bench.py [n_files]
Prints one JSON line: docs/s/core, triples/s/core over N corpus chunks.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from openie_spark.spec.rules import extract_pairs


def load_payload(n_files: int = 2) -> list[list[tuple[str, str]]]:
    from openie_spark.fixtures.gen_scale import ensure_scale_corpus

    d = Path(ensure_scale_corpus(200000))
    payload = []
    for f in sorted(d.glob("part-*.parquet"))[:n_files]:
        t = pq.read_table(f, columns=["spans"])
        for spans in t.column("spans").to_pylist():
            payload.append([(s["kind"], s["text"]) for s in spans])
    return payload


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    payload = load_payload(n_files)
    # warm (imports, caches)
    for p in payload[:200]:
        extract_pairs(p)
    walls = []
    n_triples = 0
    for _ in range(reps):
        t0 = time.perf_counter()
        n_triples = 0
        for p in payload:
            n_triples += len(extract_pairs(p))
        walls.append(time.perf_counter() - t0)
    best = min(walls)
    print(
        json.dumps(
            {
                "docs": len(payload),
                "triples": n_triples,
                "walls_sec": [round(w, 3) for w in walls],
                "best_docs_per_sec_core": round(len(payload) / best, 1),
                "best_triples_per_sec_core": round(n_triples / best, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
