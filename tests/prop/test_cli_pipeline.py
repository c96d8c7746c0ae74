"""CLI-level incremental smoke (SURVEY §7 round-5 candidate "incremental
pipeline", CLI half): two separate ``python jobs/run_pipeline.py``
subprocess invocations — i.e. two spark-submit apps, the real production
delta-append shape — over base then base ∪ delta.  The second app must
re-extract ONLY the delta buckets and leave the triples table identical to
a from-scratch run (pinned via the golden-corpus triple count).

The library-level equivalents (same-session, byte-equality) live in
test_pipeline_e2e.py::test_incremental_*; this gate adds the process
boundary: checkpoint state must round-trip through parquet across JVMs,
with no help from in-session caches.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from openie_spark.functions.hashing import xxh64

REPO = Path(__file__).resolve().parents[2]
N_BUCKETS = 64  # run_pipeline.py --n-buckets default


def _run_cli(inp: str, alias: str, out: str) -> dict:
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "jobs" / "run_pipeline.py"),
            "--input", inp,
            "--alias-dict", alias,
            "--output", out,
            "--run-id", "cli-inc",
            "--stage", "extract",
            "--master", "local[4]",
            "--no-invariant",  # pytest L3a owns the thorough gate; keep the smoke lean
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(l for l in reversed(proc.stdout.splitlines()) if l.startswith("{"))
    return json.loads(line)


def test_cli_delta_append_recomputes_only_delta(
    golden_docs_path, alias_dict_path, tmp_path
):
    t = pq.read_table(golden_docs_path)
    # pure-Python twin of the pipeline's bucket id
    # (checkpoint.with_partition_id = pmod(xxhash64(doc_id), n_buckets));
    # delta = buckets {0,1,2}, confined by construction
    pids = [xxh64(d.encode()) % N_BUCKETS for d in t.column("doc_id").to_pylist()]
    base_mask = [p >= 3 for p in pids]
    n_delta = base_mask.count(False)
    assert 0 < n_delta < len(pids)
    base_path = tmp_path / "base.parquet"
    pq.write_table(t.filter(pa.array(base_mask)), base_path)

    out = str(tmp_path / "kg")
    r1 = _run_cli(str(base_path), alias_dict_path, out)
    assert r1["extract_pending_docs"] == sum(base_mask)

    r2 = _run_cli(golden_docs_path, alias_dict_path, out)
    assert r2["extract_pending_docs"] == n_delta  # only the delta buckets
    assert r2["extract_stale_partitions"] == 0
    # incremental end state == from-scratch: the golden corpus's pinned
    # RULESET v3 triple count (tests/spec/test_ruleset_v3.py)
    assert r2["n_triples"] == 2687


def test_cli_rejects_stage_list_that_is_not_a_prefix(tmp_path, capsys):
    """The pipeline stops at the first stage missing from its list, so a
    list that skips one (``materialize`` alone, ``extract,materialize``)
    would silently run a prefix: the CLI refuses it before Spark starts."""
    import importlib.util

    import pytest

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_cli", REPO / "jobs" / "run_pipeline.py"
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    for stages in ("materialize", "extract,materialize"):
        with pytest.raises(SystemExit) as exc:
            cli.main([
                "--input", str(tmp_path / "docs.parquet"),
                "--alias-dict", str(tmp_path / "alias.parquet"),
                "--output", str(tmp_path / "kg"),
                "--run-id", "bad-stage",
                "--stage", stages,
            ])
        assert exc.value.code == 2
        assert "prefix" in capsys.readouterr().err
