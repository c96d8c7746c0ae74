"""Checkpoint / lineage / idempotent resume (OP-05, OP-06, EP-3).

The north rule requires: "writes per-partition lineage + triple-count
metrics to a checkpoint table so any failed stage resumes idempotently".

Design (format-agnostic through the catalog seam):
  - work is partitioned by partition_id = pmod(xxhash64(doc_id), n_buckets)
    — deterministic, data-independent bucketing, so "partition" survives
    restarts and cluster-size changes;
  - stage outputs are WRITTEN partitioned by partition_id with dynamic
    partition-overwrite: a re-executed partition REPLACES its prior output,
    never duplicates it (exactly-once materialization);
  - after a successful stage write, one checkpoint row per partition is
    appended: (run_id, stage, partition_id, status, n_in, n_triples,
    input_fingerprint, ruleset, wall_ms, ts).  Both catalogs take the
    rows through append_table, and reads resolve latest-wins (row_number
    over ts desc), so no catalog needs an upsert;
  - resume (OP-06) drops partitions already 'done' for this (run_id,
    stage, ruleset) whose LATEST row's fingerprint equals the partition's
    OWN current fingerprint (partition_fingerprints) — INCREMENTAL: a
    delta append/modify invalidates exactly the buckets it touched, a
    vanished bucket is purged + neutralized (record_dropped), and a
    ruleset bump invalidates everything.  The run-global fingerprint that
    chains into the downstream stage gates derives from the per-bucket
    sums (global_fingerprint) — one scan serves both.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from openie_spark.catalog import ParquetCatalog
from openie_spark.operators.invariant import span_fingerprint_col
from openie_spark.spec.rules import RULESET_VERSION

CHECKPOINT_TABLE = "checkpoint"


# Sentinel partition_id for STAGE-LEVEL checkpoint rows.  Extract is
# resumable per doc-bucket; link/canonicalize/materialize outputs are
# GLOBAL (mention-vocabulary / component-level — not doc-partitionable),
# so their unit of resume is the whole stage: one 'done' row with
# partition_id = -1, keyed on the same (run_id, stage, input_fingerprint,
# ruleset) invalidation tuple.  Losing a worker mid-stage costs at most
# that one stage's recompute from its already-materialized inputs.
STAGE_SENTINEL_PID = -1


def driver_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-held rows as a one-partition, JVM-side frame.

    ``spark.createDataFrame(<list>)`` is a pickled Python RDD: Spark forks
    a second Python daemon and its workers only to unpickle the rows, and
    an append of it writes one file per ``defaultParallelism`` slice.  An
    Arrow table becomes a JVM ``LocalRelation`` instead, which no Python
    worker touches; one partition makes an append one file."""
    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def with_partition_id(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def input_fingerprint(docs: DataFrame) -> str:
    """Order-insensitive exact fingerprint of (doc_id, span-sequence) —
    resuming against a changed input is detected, not silently merged."""
    row = docs.agg(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64("doc_id", span_fingerprint_col()).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def partition_fingerprints(docs_with_pid: DataFrame) -> dict[int, str]:
    """Per-bucket order-insensitive exact fingerprints in ONE scan
    (bounded: one row per bucket).  The incremental-resume primitive: a
    delta append/modify changes exactly the fingerprints of the buckets
    it touches, so ``done_pids_by_fp`` re-extracts only those.  Buckets
    are doc_id hashes, so d new documents touch n·(1−(1−1/n)^d) of n
    buckets on average: with n = 64 that is about 63 at d = 300, i.e. a
    large append re-extracts nearly the whole corpus.  The run-global
    fingerprint (downstream stage chain) derives from these sums via
    ``global_fingerprint`` — no second scan."""
    rows = (
        docs_with_pid.groupBy("partition_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64("doc_id", span_fingerprint_col()).cast("decimal(38,0)")
            ).alias("h"),
        )
        .collect()
    )
    return {int(r["partition_id"]): f"{int(r['n'])}:{int(r['h'])}" for r in rows}


def global_fingerprint(pid_fps: dict[int, str]) -> str:
    """Derive the whole-input fingerprint from the per-bucket ones —
    identical to ``input_fingerprint`` on the same docs (count and hash
    sums are associative), so the downstream link/canonicalize/
    materialize fingerprint chain is unchanged by incremental gating."""
    if not pid_fps:
        return "0:None"  # input_fingerprint's empty-input form (SUM -> NULL)
    parts = [v.split(":") for v in pid_fps.values()]
    return f"{sum(int(n) for n, _ in parts)}:{sum(int(h) for _, h in parts)}"


def table_fingerprint(df: DataFrame, cols: list[str] | None = None) -> str:
    """Order-insensitive exact fingerprint over arbitrary columns — the
    generic form of ``input_fingerprint`` for non-document stage inputs
    (e.g. the alias dictionary feeding the link stage)."""
    cols = cols or df.columns
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def latest_checkpoint(cat: ParquetCatalog) -> DataFrame | None:
    """Read-side latest-wins dedup on (run_id, stage, partition_id) — what
    stands in for a MERGE upsert on every catalog (OP-05)."""
    if not cat.exists(CHECKPOINT_TABLE):
        return None
    ck = cat.load_table(CHECKPOINT_TABLE)
    w = Window.partitionBy("run_id", "stage", "partition_id").orderBy(F.desc("ts"))
    return ck.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def collect_run_state(cat: ParquetCatalog, run_id: str) -> set[tuple]:
    """ONE checkpoint read per pipeline run: the LATEST 'done'
    (stage, partition_id, input_fingerprint, ruleset) tuple per
    (stage, partition_id) for this run_id, collected to the driver.

    Latest-wins matters even though only 'done' rows are ever appended
    (record_done): a partition recomputed under fingerprint B OVERWROTE
    the stage output written under A, so an older (stage, pid, A) row no
    longer describes what is on disk.  If the input later reverts to A,
    presence semantics would skip recompute and leave B's rows live —
    latest-wins sees B as the current verdict and forces the recompute.
    The result is bounded by #stages × (n_buckets+1) tuples regardless of
    how many times the run was resumed.  Replaces the ~5 per-stage
    control-flow Spark jobs (resume read + three stage-done reads) a run
    otherwise pays — on a 1000-executor cluster those are scheduler
    round-trips spent deciding whether to do work, not doing it."""
    ck = latest_checkpoint(cat)
    if ck is None:
        return set()
    rows = (
        ck.where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("stage", "partition_id", "input_fingerprint", "ruleset")
        .collect()
    )
    return {
        (r["stage"], r["partition_id"], r["input_fingerprint"], r["ruleset"])
        for r in rows
    }


def done_pids(state: set[tuple], stage: str, fingerprint: str) -> set[int]:
    """Partitions whose LATEST checkpoint row matches this exact
    (stage, input_fingerprint, ruleset) — the driver-side resume gate."""
    return {
        pid
        for (s, pid, fp, rs) in state
        if s == stage and fp == fingerprint and rs == RULESET_VERSION
    }


def done_pids_by_fp(
    state: set[tuple], stage: str, pid_fps: dict[int, str]
) -> set[int]:
    """Incremental form of ``done_pids``: a partition gates only when its
    LATEST row's fingerprint equals ITS OWN current per-bucket
    fingerprint — buckets a delta touched fingerprint differently and
    recompute; untouched buckets skip."""
    return {
        pid
        for (s, pid, fp, rs) in state
        if s == stage and rs == RULESET_VERSION and pid_fps.get(pid) == fp
    }


def record_stage_done(
    cat: ParquetCatalog,
    run_id: str,
    stage: str,
    fingerprint: str,
    n_out: int,
    wall_ms: int,
) -> None:
    """Append the single stage-level 'done' row (partition_id sentinel).
    A global stage's input is not counted, so ``n_in`` is -1; ``n_out`` of
    -1 means 'not counted' (collect_counts=False runs skip informational
    count actions)."""
    stats = driver_frame(
        cat.spark,
        [(STAGE_SENTINEL_PID, -1, int(n_out))],
        "partition_id int, n_in long, n_triples long",
    )
    record_done(cat, run_id, stage, fingerprint, stats, wall_ms)


def record_done(
    cat: ParquetCatalog,
    run_id: str,
    stage: str,
    fingerprint: str,
    part_stats: DataFrame,
    wall_ms: int,
) -> None:
    """Append one 'done' row per partition.  part_stats:
    DataFrame[partition_id:int, n_in:long, n_triples:long] and optionally
    an ``input_fingerprint`` column — when present it carries each
    bucket's OWN fingerprint (incremental resume) and the ``fingerprint``
    argument is ignored for those rows."""
    fp_col = (
        F.col("input_fingerprint")
        if "input_fingerprint" in part_stats.columns
        else F.lit(fingerprint)
    )
    rows = part_stats.select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.col("partition_id").cast("int"),
        F.lit("done").alias("status"),
        F.col("n_in").cast("long"),
        F.col("n_triples").cast("long"),
        fp_col.alias("input_fingerprint"),
        F.lit(RULESET_VERSION).alias("ruleset"),
        F.lit(int(wall_ms)).alias("wall_ms"),
        F.current_timestamp().alias("ts"),
    )
    cat.append_table(rows, CHECKPOINT_TABLE)


def record_dropped(
    cat: ParquetCatalog, run_id: str, stage: str, pids: list[int]
) -> None:
    """Neutralize 'done' rows for buckets whose input vanished from the
    run's docs: one 'dropped' row per bucket becomes the LATEST verdict
    (collect_run_state keeps only status='done' after latest-wins), so if
    identical content later reappears in the bucket it recomputes — its
    data partition was deleted alongside this marker."""
    rows = driver_frame(
        cat.spark, [(int(p),) for p in pids], "partition_id int"
    ).select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.col("partition_id").cast("int"),
        F.lit("dropped").alias("status"),
        F.lit(-1).cast("long").alias("n_in"),
        F.lit(-1).cast("long").alias("n_triples"),
        F.lit("").alias("input_fingerprint"),
        F.lit(RULESET_VERSION).alias("ruleset"),
        F.lit(int(0)).alias("wall_ms"),
        F.current_timestamp().alias("ts"),
    )
    cat.append_table(rows, CHECKPOINT_TABLE)


class StageTimer:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False
