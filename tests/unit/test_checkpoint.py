"""Checkpoint resume-gate semantics (plans/checkpoint.py).

The e2e kill/resume behavior is covered by tests/prop/test_pipeline_e2e.py;
this file pins the driver-side gate in isolation — in particular that
collect_run_state/done_pids are LATEST-wins per (stage, partition_id), not
presence-based: a partition recomputed under a newer fingerprint overwrote
the stage output written under the old one, so reverting the input to the
old fingerprint must force recompute, not resurrect the stale 'done'.
"""

from __future__ import annotations

import time

from openie_spark.catalog import ParquetCatalog
from openie_spark.plans import checkpoint as ckpt


def _mark_done(spark, cat, run_id, stage, fingerprint, pids):
    stats = spark.createDataFrame(
        [(int(p), 1, 1) for p in pids], "partition_id int, n_in long, n_triples long"
    )
    ckpt.record_done(cat, run_id, stage, fingerprint, stats, wall_ms=1)


def test_done_pids_is_latest_wins_on_fingerprint_revert(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))

    _mark_done(spark, cat, "r", "extract", "fpA", [0, 1, 2])
    state = ckpt.collect_run_state(cat, "r")
    assert ckpt.done_pids(state, "extract", "fpA") == {0, 1, 2}

    # partitions 1 and 2 recomputed under fpB — their on-disk output now
    # belongs to B, so A's old rows must no longer gate them
    time.sleep(0.01)  # ts strictly after the fpA rows
    _mark_done(spark, cat, "r", "extract", "fpB", [1, 2])
    state = ckpt.collect_run_state(cat, "r")
    assert ckpt.done_pids(state, "extract", "fpB") == {1, 2}
    # input reverted to fpA: only pid 0 (never overwritten) is still done
    assert ckpt.done_pids(state, "extract", "fpA") == {0}


def test_done_pids_scoped_by_stage_run_and_ruleset(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    _mark_done(spark, cat, "r1", "extract", "fp", [0])
    _mark_done(spark, cat, "r1", "link", "fp", [ckpt.STAGE_SENTINEL_PID])

    state = ckpt.collect_run_state(cat, "r1")
    assert ckpt.done_pids(state, "extract", "fp") == {0}
    assert ckpt.done_pids(state, "link", "fp") == {ckpt.STAGE_SENTINEL_PID}
    assert ckpt.done_pids(state, "extract", "other") == set()
    assert ckpt.collect_run_state(cat, "r2") == set()


def test_global_fingerprint_matches_whole_input(spark, golden_docs_path):
    """The per-bucket fingerprint sums must reassemble to exactly the
    whole-input fingerprint — the downstream stage chain is unchanged by
    incremental gating."""
    from openie_spark.sources.tables import load_docs

    docs = load_docs(spark, golden_docs_path)
    with_pid = ckpt.with_partition_id(docs, 64)
    pid_fps = ckpt.partition_fingerprints(with_pid)
    assert len(pid_fps) > 1
    assert ckpt.global_fingerprint(pid_fps) == ckpt.input_fingerprint(docs)
    assert ckpt.global_fingerprint({}) == "0:None"


def test_record_dropped_neutralizes_done(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    _mark_done(spark, cat, "r", "extract", "fpA", [0, 1])
    time.sleep(0.01)
    ckpt.record_dropped(cat, "r", "extract", [1])
    state = ckpt.collect_run_state(cat, "r")
    assert ckpt.done_pids(state, "extract", "fpA") == {0}
    # by-fp gate agrees: pid 1's latest verdict is 'dropped'
    assert ckpt.done_pids_by_fp(state, "extract", {0: "fpA", 1: "fpA"}) == {0}


def test_stage_and_dropped_rows_append_one_file_each(spark, tmp_path):
    """record_stage_done and record_dropped append their rows as ONE
    parquet file per call, whatever the session's parallelism, and the
    latest-wins snapshot reads them as before."""
    from openie_spark.spec.rules import RULESET_VERSION

    cat = ParquetCatalog(spark, str(tmp_path))

    def n_files() -> int:
        return len(list((tmp_path / ckpt.CHECKPOINT_TABLE).rglob("*.parquet")))

    _mark_done(spark, cat, "r", "extract", "fpA", [0, 1, 2])
    time.sleep(0.01)
    before = n_files()
    ckpt.record_stage_done(cat, "r", "link", "fpL", 7, wall_ms=1)
    assert n_files() == before + 1
    ckpt.record_dropped(cat, "r", "extract", [1, 2])
    assert n_files() == before + 2
    assert ckpt.collect_run_state(cat, "r") == {
        ("extract", 0, "fpA", RULESET_VERSION),
        ("link", ckpt.STAGE_SENTINEL_PID, "fpL", RULESET_VERSION),
    }
    link_row = (
        cat.load_table(ckpt.CHECKPOINT_TABLE).where("stage = 'link'").collect()
    )
    assert [(r.partition_id, r.n_in, r.n_triples, r.status) for r in link_row] == [
        (ckpt.STAGE_SENTINEL_PID, -1, 7, "done")
    ]


def test_ensure_stream_fixture_wipes_partial_build(tmp_path):
    """A marker-less fixture dir (failed prior build: stale streaming
    checkpoint + partial sink) must be wiped before rebuilding; a marked
    dir must be served untouched, unless it was built somewhere else (a
    streaming sink's metadata log records absolute paths, so a copied
    cache does not read back)."""
    import shutil

    from openie_spark.plans.registry import _ensure_stream_fixture

    base = tmp_path / "fx"
    (base / "ck").mkdir(parents=True)
    (base / "ck" / "offsets").write_text("stale")
    calls = []

    def build(p):
        calls.append(p)
        assert not (p / "ck").exists()  # stale state gone before build
        (p / "out").mkdir()

    _ensure_stream_fixture(base, build)
    assert calls == [base] and (base / "_SUCCESS").exists()
    _ensure_stream_fixture(base, build)  # marked: no rebuild
    assert len(calls) == 1
    moved = tmp_path / "copy" / "fx"
    shutil.copytree(base, moved)
    (moved / "ck").mkdir()
    _ensure_stream_fixture(moved, build)  # built elsewhere: rebuilt here
    _ensure_stream_fixture(moved, build)
    _ensure_stream_fixture(base, build)
    assert calls == [base, moved]
