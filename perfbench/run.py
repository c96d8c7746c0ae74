#!/usr/bin/env python3
"""KG benchmark: fresh knowledge-graph build and KG queries, end to end.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

One process drives Spark at local[CORES] (half the host's CPUs) with
2 x CORES shuffle partitions and the JVM's JIT at C1 only.  Set-up makes
the seeded inputs and their reference answers, starts the session and
runs one small job to start the workers; then ops run one at a time
(closed loop) until --seconds have passed, at least one.  The first op
is the one a `spark-submit` of the pipeline pays for: plans are compiled
and the JVM is still warming up.  A traced run traces every op.  Every
op's output is checked; a failed check counts the op as failed.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1.  The line before it holds the host stamps, the per-op samples
and, when tracing, every span.  README.md next to this file lists what
each metric measures and which end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import procstat  # noqa: E402

# Spark's task threads get half the CPUs; the other half run what an op
# needs beside its tasks: the JVM's compiler and GC threads, the driver and
# the Python workers.  On a 4-vCPU host, back to back on one seed, a first
# kg_build op took 33.6 s at local[2] and 41.4 s at local[4], whose threads
# oversubscribe the host; a warm op took 13-14 s against 16-19 s.
CORES = max(1, (os.cpu_count() or 2) // 2)

QUERIES = ("relation_cardinality", "kg_bgp", "kg_walks", "entity_salience", "rule_support")

SIZES = {
    # n_docs: kg_build corpus; delta_docs: the refresh probed by traced
    # kg_build runs; delta_check: compare that refresh with a fresh build
    # (one more build, which a full-size traced run has no time for);
    # star: scale factor of the star tables the queries read
    "full": {"n_docs": 12_000, "delta_docs": 16, "delta_check": False, "star": "sf0.01",
             "setup_reps": 2},
    "smoke": {"n_docs": 2_000, "delta_docs": 16, "delta_check": True, "star": "sf0.001",
              "setup_reps": 2},
}

END_TO_END = {
    "wall_s": "s",
    "triples_per_s": "triples/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "bytes_written_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "checkpoint.fingerprint_s": "s",
    "checkpoint.run_state_s": "s",
    "checkpoint.record_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.delta_s": "s",
    "extract.kernel_docs_per_s_core": "docs/s",
    "extract.fence_s": "s",
    "extract.shuffle_s": "s",
    "extract.pending_s": "s",
    "extract.write_s": "s",
    "extract.redo_docs": "count",
    "extract.redo_ratio": "ratio",
    "extract.shuffle_mb": "MB",
    "invariant.check_s": "s",
    "linking.link_s": "s",
    "linking.distinct_mentions": "count",
    "linking.lsh_accept_ratio": "ratio",
    "linking.shuffle_mb": "MB",
    "components.cc_s": "s",
    "components.rounds": "count",
    "components.edges_in": "count",
    "materialize.write_s": "s",
    "materialize.shuffle_mb": "MB",
    "catalog.files_written": "count",
    "catalog.bytes_written_mb": "MB",
    "catalog.count_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.trace_overhead_s": "s",
    "pipeline.delta_wall_s": "s",
    **{f"query.{q}_s": "s" for q in QUERIES},
    **{f"query.{q}.shuffle_mb": "MB" for q in QUERIES},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "spark.spill_mb": "MB",
    "session.start_s": "s",
    "session.worker_warm_s": "s",
}

# span name -> the per-layer time metric it adds to
SPAN_METRICS = {
    "checkpoint.fingerprint": "checkpoint.fingerprint_s",
    "checkpoint.run_state": "checkpoint.run_state_s",
    "checkpoint.record": "checkpoint.record_s",
    "extract.pending": "extract.pending_s",
    "extract.write": "extract.write_s",
    "invariant.check": "invariant.check_s",
    "linking.link": "linking.link_s",
    "components.cc": "components.cc_s",
    "materialize.write": "materialize.write_s",
    "catalog.count": "catalog.count_s",
    **{f"query.{q}": f"query.{q}_s" for q in QUERIES},
}

# per-layer metrics every workload measures; the others belong to the
# workload whose layers they time (query.* to kg_query, the rest to kg_build)
SHARED_LAYERS = ("spark.", "session.", "pipeline.trace_overhead_s")
# per-layer metrics that read 0 on a healthy run
MAY_BE_ZERO = {"spark.failed_tasks", "spark.spill_mb", "spark.gc_s"}


def measures(workload: str, metric: str) -> bool:
    """Whether a run of `workload` must produce samples of `metric`."""
    if metric.startswith(SHARED_LAYERS):
        return True
    return metric.startswith("query.") == (workload == "kg_query")


@contextmanager
def metered(rec: dict):
    """Wall time, process-tree CPU and peak summed RSS of the block, into rec."""
    cpu0 = procstat.tree_cpu_s()
    with procstat.PeakRss() as rss:
        t0 = time.perf_counter()
        yield rec
        rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = procstat.tree_cpu_s() - cpu0
    rec["peak_rss_mb"] = rss.peak_mb


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def identity_batches(batches):
    """The extract stage's Arrow fence with nothing inside it."""
    yield from batches


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.size = SIZES[size]
        self.work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
        self.ops: list[dict] = []  # one record per attempted measured op
        self.failed = 0
        self.extra_checks = 0  # oracle pass, delta refresh
        self.reference = None  # first op's output, which later ops must repeat
        self.layers: dict[str, list[float]] = {}
        self.setup: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self.spans: list[dict] = []
        self.spark = None
        self.status = None  # Spark status-store reader, shared by every tracer
        self.n_tracers = 0

    # -- plumbing -----------------------------------------------------------
    def check(self, ok: bool, why: str) -> None:
        """An output check outside the measured ops; it counts as one op."""
        self.extra_checks += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {why}", file=sys.stderr)

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    @contextmanager
    def phase(self, name: str):
        """Time untimed work outside the ops, for the context line."""
        with procstat.Stopwatch() as sw:
            yield
        self.phases[name] = self.phases.get(name, 0.0) + sw.s

    def start_session(self) -> None:
        from openie_spark.session import get_spark

        with procstat.Stopwatch() as sw:
            self.spark = get_spark(
                app="perfbench",
                master=f"local[{CORES}]",
                shuffle_partitions=2 * CORES,
                extra_conf={
                    "spark.driver.memory": "3g",
                    "spark.local.dir": str(self.work / "spark-local"),
                    "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
                        " -Xms3g -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages"
                        # C1 only: the C2 compiler threads burn more CPU in a
                        # first op than its tasks do (a first kg_build op at
                        # local[2]: 27.2-27.6 s and 52-54 s CPU with C1 only,
                        # 29.0 s and 93 s CPU with C2)
                        " -XX:TieredStopAtLevel=1",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    # the corpus files are a few MB: size scan splits to them
                    "spark.sql.files.maxPartitionBytes": "4m",
                    "spark.sql.files.openCostInBytes": "512k",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] = sw.s
        from tracer import StatusStore

        self.status = StatusStore(self.spark.sparkContext)

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def measure(self, op, traced: bool) -> dict:
        """Run one op; it returns a dict with at least 'ok' and the
        `metered` readings.  An exception fails the op."""
        try:
            rec = op(traced)
        except Exception:
            traceback.print_exc()
            rec = {"ok": False, "wall_s": None}
        rec["traced"] = traced
        if not rec["ok"]:
            self.failed += 1
        return rec

    def loop(self, op) -> None:
        """Closed loop until --seconds have passed, at least one op.  A
        traced run traces every op; its end-to-end numbers are not reported."""
        t_end = time.perf_counter() + self.seconds
        while True:
            self.ops.append(self.measure(op, self.trace))
            if time.perf_counter() >= t_end:
                break

    def tracer(self):
        from tracer import Tracer

        self.n_tracers += 1
        return Tracer(self.spark, f"perfbench-{self.n_tracers}", self.status)

    def shuffle_bytes(self) -> int:
        """Shuffle bytes written by the stages completed since the last read."""
        return self.status.new_stages()["shuffleWriteBytes"]

    def record_spans(self, tr, wall_s: float) -> None:
        """Fold one traced op's spans into per-layer samples.  Only layers
        that opened a span get a sample; spans without a metric of their own
        fall into `pipeline.unattributed_s`, so the samples sum to the wall."""
        totals: dict[str, float] = {}
        shuffle: dict[str, float] = {}
        ck_jobs = 0
        spark = tr.leftover()
        for s in tr.spans:
            m = SPAN_METRICS.get(s["name"])
            if m is not None:
                totals[m] = totals.get(m, 0.0) + s["wall_s"]
            layer = s["name"] if s["name"].startswith("query.") else s["name"].split(".")[0]
            shuffle[layer] = shuffle.get(layer, 0.0) + s["shuffle_mb"]
            if layer == "checkpoint":
                ck_jobs += s["jobs"]
            for k in ("jobs", "tasks", "failed_tasks", "gc_s", "executor_run_s", "spill_mb"):
                spark[k] += s[k]
        for m, v in totals.items():
            self.layer(m, v)
        self.layer("pipeline.unattributed_s", wall_s - sum(totals.values()))
        for layer, mb in shuffle.items():
            if f"{layer}.shuffle_mb" in PER_LAYER:
                self.layer(f"{layer}.shuffle_mb", mb)
        if "checkpoint" in shuffle:
            self.layer("checkpoint.jobs", ck_jobs)
        for k in ("jobs", "tasks", "failed_tasks", "gc_s", "executor_run_s", "spill_mb"):
            self.layer(f"spark.{k}", spark[k])
        self.layer("pipeline.trace_overhead_s", tr.bookkeeping_s)
        self.spans.append({"op": len(self.ops), "wall_s": wall_s,
                           "tracer_bookkeeping_s": tr.bookkeeping_s,
                           "spans": [{**s, "start": s["start"] - tr.spans[0]["start"]}
                                     for s in tr.spans] if tr.spans else []})

    # -- kg_build -----------------------------------------------------------
    def setup_build(self) -> None:
        import inputs

        reps, rates = [], []
        for r in range(self.size["setup_reps"]):
            root = self.work / f"inputs-{r}"
            with procstat.Stopwatch() as sw:
                self.docs_path, self.alias_path = inputs.corpus(root, self.size["n_docs"], self.seed)
                n_docs, self.n_triples, kernel_s = inputs.kernel_triples([self.docs_path])
            reps.append(sw.s)
            rates.append(n_docs / kernel_s)
            if r + 1 < self.size["setup_reps"]:
                shutil.rmtree(root)
        self.setup["inputs_s"] = median(reps)
        self.kernel_rate = median(rates)
        self.start_session()
        from openie_spark.operators.extract import extract_stage
        from openie_spark.sources.tables import load_alias_dict, load_docs

        self.docs = load_docs(self.spark, self.docs_path)
        self.aliases = load_alias_dict(self.spark, self.alias_path)
        with procstat.Stopwatch() as sw:
            extract_stage(self.docs.limit(2048)).count()
        self.setup["session.worker_warm_s"] = sw.s

    def build(self, cat_root: Path, docs, traced: bool = False, run_id: str = "bench") -> dict:
        from openie_spark.catalog import ParquetCatalog
        from openie_spark.plans.pipeline import PipelineConfig, run_pipeline

        cat = ParquetCatalog(self.spark, str(cat_root))
        before = procstat.dir_snapshot(str(cat_root))
        self.shuffle_bytes()  # baseline
        tr = self.tracer() if traced else None
        rec = {"cat": cat_root, "tracer": tr}
        with metered(rec), tr.patched() if tr else nullcontext():
            rec["out"] = run_pipeline(self.spark, docs, self.aliases, cat, PipelineConfig(run_id=run_id))
        rec["files"], rec["bytes"] = procstat.written_since(
            before, procstat.dir_snapshot(str(cat_root)))
        if not traced:  # a tracer's spans have read the stages already
            rec["bytes_written_mb"] = (rec["bytes"] + self.shuffle_bytes()) / 2**20
        return rec

    @staticmethod
    def triple_count(cat_root: Path) -> int:
        import pyarrow.dataset as ds

        return ds.dataset(str(cat_root / "triples"), format="parquet").count_rows()

    @staticmethod
    def kg_digest(cat_root: Path) -> tuple:
        """Order-insensitive digest of the edges and vertices tables."""
        import pandas as pd
        import pyarrow.dataset as ds

        out = []
        for t in ("edges", "vertices"):
            df = ds.dataset(str(cat_root / t), format="parquet").to_table().to_pandas()
            df = df[sorted(df.columns)]
            out.append((len(df), int(pd.util.hash_pandas_object(df, index=False).sum())))
        return tuple(out)

    def build_op(self, traced: bool) -> dict:
        r = self.build(self.work / f"cat-{len(self.ops)}", self.docs, traced)
        r["digest"] = self.kg_digest(r["cat"])
        self.reference = self.reference or r["digest"]
        r["ok"] = self.triple_count(r["cat"]) == self.n_triples and r["digest"] == self.reference
        if traced:
            with self.phase("record_layers"):
                self.record_build_layers(r)
            with self.phase("delta_probe"):
                self.delta_probe(r["cat"])
        shutil.rmtree(r["cat"])
        return {k: r.get(k) for k in ("ok", "wall_s", "cpu_s", "peak_rss_mb", "bytes_written_mb", "digest")}

    def record_build_layers(self, r: dict) -> None:
        import pyarrow.dataset as ds

        tr = r["tracer"]
        self.record_spans(tr, r["wall_s"])
        links = ds.dataset(str(r["cat"] / "links"), format="parquet").to_table(columns=["method"])
        n_links = links.num_rows
        n_lsh = sum(1 for m in links.column("method").to_pylist() if m == "lsh")
        self.layer("linking.distinct_mentions", n_links)
        # every link row becomes one sameAs edge or one minted self-loop
        self.layer("components.edges_in", n_links)
        self.layer("components.rounds", tr.counts["components.rounds"])
        self.layer("catalog.files_written", r["files"])
        self.layer("catalog.bytes_written_mb", r["bytes"] / 2**20)
        self.layer("linking.lsh_accept_ratio", n_lsh / max(1, self.lsh_candidates(r["cat"])))

    def lsh_candidates(self, cat_root: Path) -> int:
        """Distinct (mention, alias) pairs that share an LSH band key: the
        candidates the blocker hands to the Jaccard verify.  The blocker's
        input is every mention the exact join did not link.  This is the
        `n_cand_pairs` of `linking.blocking_quality`, counted in-process
        with the same frozen band scheme; `blocking_quality` also runs a
        brute-force truth pass that takes minutes."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        from openie_spark.functions import minhash as mh

        links = ds.dataset(str(cat_root / "links"), format="parquet").to_table(
            columns=["mention_norm", "method"]).to_pydict()
        rest = sorted({m for m, how in zip(links["mention_norm"], links["method"])
                       if how != "exact"})
        aliases = sorted(set(pq.read_table(self.alias_path, columns=["alias_norm"])
                             .column("alias_norm").to_pylist()) - {None})
        by_band: dict[int, list[int]] = {}
        for i, keys in enumerate(mh.band_keys_for_batch(aliases)):
            for k in keys:
                by_band.setdefault(k, []).append(i)
        return sum(len({a for k in keys for a in by_band.get(k, ())})
                   for keys in mh.band_keys_for_batch(rest))

    def delta_probe(self, base_cat: Path) -> None:
        """Traced incremental refresh: base catalog + a seeded delta; at
        toy size checked against a fresh build over base ∪ delta."""
        import inputs
        from openie_spark.sources.tables import load_docs

        n_delta = self.size["delta_docs"]
        delta = load_docs(self.spark, inputs.delta_docs(self.work, n_delta, self.seed))
        both = self.docs.unionByName(delta)
        r = self.build(base_cat, both, traced=True)
        tr = r["tracer"]
        redo = r["out"]["extract_pending_docs"]
        self.layer("extract.redo_docs", redo)
        self.layer("extract.redo_ratio", redo / n_delta)
        self.layer("pipeline.delta_wall_s", r["wall_s"])
        self.layer("checkpoint.delta_s", sum(s["wall_s"] for s in tr.spans
                                            if s["name"].startswith("checkpoint.")))
        self.spans.append({"op": "delta", "wall_s": r["wall_s"], "spans": tr.spans})
        if not self.size["delta_check"]:
            return
        with self.phase("delta_fresh_build"):
            fresh = self.build(self.work / "cat-fresh", both)
        self.check(self.kg_digest(fresh["cat"]) == self.kg_digest(base_cat),
                   "delta refresh differs from a fresh build over base + delta")
        shutil.rmtree(fresh["cat"])

    def extract_layers(self) -> None:
        """The extract stage's data movement without its kernel, timed on
        the same corpus: the Arrow fence alone and the salted shuffle alone."""
        from openie_spark.operators.skew import salted_repartition

        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        docs = self.docs.select("doc_id", "spans")
        for name, df in (
            ("extract.fence_s", docs.mapInArrow(identity_batches, docs.schema)),
            ("extract.shuffle_s", salted_repartition(docs, nparts, "doc_id")),
        ):
            with procstat.Stopwatch() as sw:
                df.write.format("noop").mode("overwrite").save()
            self.layer(name, sw.s)
        self.layer("extract.kernel_docs_per_s_core", self.kernel_rate)

    # -- kg_query -----------------------------------------------------------
    def setup_query(self) -> None:
        import inputs

        # the star tables are fixed; the seed does not change this workload
        self.sf_dir = str(inputs.STAR_DATA / self.size["star"])
        reps = []
        for _ in range(self.size["setup_reps"]):
            with procstat.Stopwatch() as sw:
                oracle, self.n_edges = inputs.star_oracle(self.sf_dir, list(QUERIES))
            reps.append(sw.s)
        self.setup["inputs_s"] = median(reps)
        self.oracle = oracle
        self.start_session()
        with procstat.Stopwatch() as sw:
            self.spark.range(0, 1 << 16).selectExpr("sum(id)").collect()
        self.setup["session.worker_warm_s"] = sw.s

    def query_pass(self, tr=None, walls: dict | None = None) -> dict:
        from openie_spark.plans import registry

        out = {}
        for q in QUERIES:
            t0 = time.perf_counter()
            with tr.span(f"query.{q}") if tr else nullcontext():
                out[q] = getattr(registry, f"q_{q}")(self.spark, self.sf_dir).toPandas()
            if walls is not None:
                walls[q] = time.perf_counter() - t0
        return out

    def query_op(self, traced: bool) -> dict:
        from openie_spark.plans.compare import compare_frames, value_hash

        self.shuffle_bytes()  # baseline
        tr = self.tracer() if traced else None
        rec: dict = {"queries": {}}
        with metered(rec):
            frames = self.query_pass(tr, rec["queries"])
        if tr is not None:
            self.record_spans(tr, rec["wall_s"])
        else:
            rec["bytes_written_mb"] = self.shuffle_bytes() / 2**20
        if self.reference is None:  # the oracle check, once per invocation
            for q in QUERIES:
                cmp = compare_frames(frames[q], self.oracle[q])
                self.check(cmp["hash_match"], f"{q} differs from the DuckDB oracle: {cmp}")
            self.reference = {q: value_hash(self.oracle[q]) for q in QUERIES}
        rec["ok"] = all(value_hash(frames[q]) == self.reference[q] for q in QUERIES)
        return rec

    # -- driver -------------------------------------------------------------
    def run(self) -> dict:
        for d in ("tmp", "spark-local"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        if self.workload == "kg_build":
            self.setup_build()
            self.loop(self.build_op)
            if self.trace:
                with self.phase("extract_layers"):
                    self.extract_layers()
        else:
            self.setup_query()
            self.loop(self.query_op)
        s = self.setup
        setup_s = s["inputs_s"] + s["session.start_s"] + s["session.worker_warm_s"]
        done = [o for o in self.ops if o["ok"]]
        if self.trace:
            self.layer("session.start_s", s["session.start_s"])
            self.layer("session.worker_warm_s", s["session.worker_warm_s"])
            missing = [m for m in PER_LAYER if measures(self.workload, m) and m not in self.layers]
            if missing:
                raise RuntimeError(f"no samples of {missing}: a span wrapper did not fire")
            # metrics of the other workload's layers read 0
            metrics = {m: (median(self.layers.get(m, [])), u) for m, u in PER_LAYER.items()}
        else:
            wall = median([o["wall_s"] for o in done])
            work = self.n_triples if self.workload == "kg_build" else self.n_edges
            metrics = {
                "wall_s": (wall, "s"),
                "triples_per_s": (work / wall if wall else 0.0, "triples/s"),
                "cpu_s": (median([o["cpu_s"] for o in done]), "s"),
                "peak_rss_mb": (median([o["peak_rss_mb"] for o in done]), "MB"),
                "bytes_written_mb": (median([o["bytes_written_mb"] for o in done]), "MB"),
                "setup_s": (setup_s, "s"),
            }
        return {
            "correct": self.failed == 0 and bool(done),
            "attempted": len(self.ops) + self.extra_checks,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def host_stamp() -> dict:
    sys.path.insert(0, str(ROOT / "jobs"))
    from host_probe import probe

    steal, total = procstat.steal_ticks()
    return {"probe": probe(steal_window_s=0.25), "steal_ticks": steal, "total_ticks": total,
            "t": time.time()}


def run_once(args) -> int:
    try:
        import openie_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    try:
        before = host_stamp()
        result = bench.run()
        bench.stop_session()
        after = host_stamp()
        steal = after["steal_ticks"] - before["steal_ticks"]
        context = {
            "workload": args.workload, "seed": args.seed, "size": bench.size,
            "nproc": os.cpu_count(), "cores": CORES, "setup": bench.setup,
            "phases": bench.phases,
            "stamps": {"before": before, "after": after,
                       "steal_pct": 100 * steal / max(1, after["total_ticks"] - before["total_ticks"])},
            "ops": bench.ops,
            "spans": bench.spans,
        }
        print(json.dumps({"perfbench_context": context}, default=str))
        print(json.dumps(result))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.stop_session()
        shutil.rmtree(bench.work, ignore_errors=True)


def smoke() -> int:
    """Toy-size pass over every workload, traced and not: every metric in
    BENCHMARK.json must come back with its unit, and every check pass."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, __file__, "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                bad.append(f"{w} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"]:
                bad.append(f"{w} trace={trace}: output check failed")
            got = res["metrics"]
            for m in wanted:
                name = m["name"]
                if got.get(name, {}).get("unit") != m["unit"]:
                    bad.append(f"{w} trace={trace}: {name} missing or wrong unit")
                elif (not got[name]["value"] and name not in MAY_BE_ZERO
                      and (not trace or measures(w, name))):
                    bad.append(f"{w} trace={trace}: {name} reads 0")
            print(f"{w} trace={trace}: {len(got)} metrics, correct={res['correct']}")
    for b in bad:
        print("FAIL", b, file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", choices=("kg_build", "kg_query"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true", help="toy-size self-check of every metric")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
