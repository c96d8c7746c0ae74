"""Spans around calls into the program, with per-span Spark counters.

Tracing lives in the benchmark, not in the program: `patched()` swaps the
names that `plans/pipeline.py` resolves (and two `ParquetCatalog`
methods) for wrappers that open a span, then restores them.  Spark is
lazy, so a span sits on the call that runs the jobs: a `write_table`,
a lineage cut, a fingerprint scan, a `count()`.  Only the outermost
wrapped call opens a span; calls nested inside it are part of it.

Each span tags its jobs with `setJobGroup` and reads Spark's status store
before and after (with `spark.ui.enabled=false` the store is still kept),
so a span carries its own job, task, GC, run-time, spill and shuffle
counts.
"""

from __future__ import annotations

import linecache
import sys
import time
from collections import Counter
from contextlib import contextmanager

STAGE_FIELDS = (
    "numCompleteTasks",
    "numFailedTasks",
    "executorRunTime",
    "jvmGcTime",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "shuffleWriteBytes",
)

# table written -> span name
TABLE_SPANS = {
    "triples": "extract.write",
    "links": "linking.link",
    "cc_assign": "components.cc",
    "vertices": "materialize.write",
    "edges": "materialize.write",
    "checkpoint": "checkpoint.record",
}


class StatusStore:
    """Completed-stage counters from the driver's AppStatusStore."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._seen: set[tuple[int, int]] = set()

    def new_stages(self) -> Counter:
        """Summed counters of every stage attempt not returned before."""
        self._jsc.listenerBus().waitUntilEmpty()
        stages = self._jsc.statusStore().stageList(
            None, False, False, self._no_quantiles, None
        )
        out: Counter = Counter()
        # newest first: stop at the first attempt already seen
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen:
                break
            self._seen.add(key)
            out["stages"] += 1
            for f in STAGE_FIELDS:
                out[f] += getattr(s, f)()
        return out

    def jobs(self, group: str) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(group))


def spark_counters(c: Counter, jobs: int) -> dict:
    return {
        "jobs": jobs,
        "tasks": c["numCompleteTasks"] + c["numFailedTasks"],
        "failed_tasks": c["numFailedTasks"],
        "gc_s": c["jvmGcTime"] / 1e3,
        "executor_run_s": c["executorRunTime"] / 1e3,
        "spill_mb": (c["memoryBytesSpilled"] + c["diskBytesSpilled"]) / 2**20,
        "shuffle_mb": c["shuffleWriteBytes"] / 2**20,
    }


class Tracer:
    def __init__(self, spark, group: str, store: StatusStore):
        self.sc = spark.sparkContext
        self.store = store
        self.group = group
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._open = 0
        self._context = "pipeline.other"
        self._n = 0
        self.bookkeeping_s = 0.0  # counter reads inside the traced op
        self.store.new_stages()  # baseline: stages of earlier work are not ours
        self._between: Counter = Counter()  # stages of jobs outside every span

    @contextmanager
    def span(self, name: str):
        if self._open:
            yield
            return
        self._open += 1
        self._n += 1
        group = f"{self.group}:{self._n}:{name}"
        t = time.perf_counter()
        self._between += self.store.new_stages()
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - t
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setJobGroup(self.group, "unattributed")
            self._open -= 1
            self.spans.append(
                {"name": name, "start": t0, "wall_s": wall,
                 **spark_counters(self.store.new_stages(), self.store.jobs(group))}
            )
            self.bookkeeping_s += time.perf_counter() - t0 - wall

    def leftover(self) -> dict:
        """Counters of jobs run outside every span since the last call."""
        return spark_counters(self._between + self.store.new_stages(), self.store.jobs(self.group))

    # -- wrappers -----------------------------------------------------------
    def _wrap(self, fn, name_of):
        tracer = self

        def wrapper(*args, **kwargs):
            name = name_of(*args, **kwargs)
            if name is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def _labelled(self, fn, name: str, context: str | None = None):
        def name_of(*_a, **_k):
            if context:
                self._context = context
            return name

        return self._wrap(fn, name_of)

    @contextmanager
    def patched(self):
        """Trace one `run_pipeline` call: wrap the names it resolves."""
        from pyspark.sql.classic.dataframe import DataFrame

        from openie_spark.catalog import ParquetCatalog
        from openie_spark.operators import components
        from openie_spark.plans import checkpoint as ck
        from openie_spark.plans import pipeline as pl

        run_pipeline_code = pl.run_pipeline.__code__

        def count_name(df):
            caller = sys._getframe(2)
            if caller.f_code is not run_pipeline_code:
                return None
            line = linecache.getline(caller.f_code.co_filename, caller.f_lineno)
            # counts stored into the result dict vs. the extract work gate
            return "catalog.count" if 'out["n_' in line else "extract.pending"

        def large_star(fn):
            def counted(*a, **k):
                self.counts["components.rounds"] += 1
                return fn(*a, **k)

            return counted

        plan = [
            (ck, "collect_run_state", self._labelled(ck.collect_run_state, "checkpoint.run_state")),
            (ck, "partition_fingerprints", self._labelled(ck.partition_fingerprints, "checkpoint.fingerprint")),
            (ck, "table_fingerprint", self._labelled(ck.table_fingerprint, "checkpoint.fingerprint")),
            (ck, "record_done", self._labelled(ck.record_done, "checkpoint.record")),
            (ck, "record_stage_done", self._labelled(ck.record_stage_done, "checkpoint.record")),
            (ck, "record_dropped", self._labelled(ck.record_dropped, "checkpoint.record")),
            (pl, "check_span_invariant", self._labelled(pl.check_span_invariant, "invariant.check")),
            (pl, "link_mentions", self._labelled(pl.link_mentions, "linking.link", "linking.link")),
            (pl, "connected_components", self._labelled(pl.connected_components, "components.cc", "components.cc")),
            (pl, "cut_lineage", self._wrap(pl.cut_lineage, lambda *a, **k: self._context)),
            (ParquetCatalog, "write_table", self._wrap(
                ParquetCatalog.write_table,
                lambda cat, df, name, *a, **k: TABLE_SPANS.get(name, "catalog.write"))),
            (ParquetCatalog, "append_table", self._wrap(
                ParquetCatalog.append_table,
                lambda cat, df, name: TABLE_SPANS.get(name, "catalog.write"))),
            (DataFrame, "count", self._wrap(DataFrame.count, count_name)),
            (components, "large_star", large_star(components.large_star)),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in plan]
        try:
            for obj, attr, new in plan:
                setattr(obj, attr, new)
            self.sc.setJobGroup(self.group, "unattributed")
            yield self
        finally:
            for obj, attr, old in saved:
                setattr(obj, attr, old)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
