"""Lineage-truncation seam (SURVEY.md §4.2-E, fault-tolerance caveat).

``localCheckpoint`` truncates lineage into executor-local, NON-replicated
blocks: the recompute-avoidance is free in this single-JVM sandbox, but on a
real multi-executor cluster a single lost executor makes every downstream
stage unrecoverable.  All pipeline lineage cuts go through this seam,
configured by ``spark.openie.lineageCut``:

  - ``local`` (default): ``localCheckpoint`` — fastest; sandbox/dev, and
    clusters where rerunning the stage is an acceptable recovery story;
  - ``reliable``: ``checkpoint`` to the replicated checkpoint directory
    (``spark.openie.checkpointDir`` must point at shared storage) — a lost
    executor costs nothing; the right setting at the 1000-executor posture.

Any other value raises: a misspelt ``reliable`` must not fall back to
non-replicated blocks.  There is no cut-free mode: the iterative stages
(connected components) grow their logical plan every round without a cut,
and plain ``persist`` has the same flaw (it caches data but does NOT
truncate the plan — a persist-based mode hung the CC loop in testing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CONF_KEY = "spark.openie.lineageCut"
CKPT_DIR_KEY = "spark.openie.checkpointDir"


def cut_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate a stage-boundary lineage per the session conf."""
    spark = df.sparkSession
    mode = spark.conf.get(CONF_KEY, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode != "reliable":
        raise ValueError(
            f"{CONF_KEY} must be 'local' or 'reliable', got {mode!r}"
        )
    sc = spark.sparkContext
    in_use = sc._jsc.sc().getCheckpointDir()  # <dir>/<uuid> once set
    ckdir = spark.conf.get(CKPT_DIR_KEY, "")
    if ckdir:
        # a dir configured after an earlier cut takes effect as well
        want = sc._jvm.org.apache.hadoop.fs.Path(ckdir)
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
        if not in_use.isDefined() or in_use.get().rsplit("/", 1)[0] != str(want):
            sc.setCheckpointDir(ckdir)
    elif not in_use.isDefined():
        raise RuntimeError(
            f"{CONF_KEY}=reliable requires {CKPT_DIR_KEY} (a shared "
            "checkpoint directory) or a prior setCheckpointDir call"
        )
    # Reliable checkpoints have Spark's classic double-computation: the
    # checkpoint write is a SECOND job that recomputes the RDD from
    # scratch unless it is cached.  Persist around an eager checkpoint
    # (the cache is dropped as soon as the checkpoint files exist), and
    # force eager — a lazy reliable cut would recompute at first action
    # AND at checkpoint time, doubling per-round work in exactly the
    # multi-executor posture this mode targets.
    df = df.persist()
    try:
        out = df.checkpoint(eager=True)
    finally:
        df.unpersist()
    return out
