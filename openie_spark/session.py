"""SparkSession factory with the scale-posture defaults this engine assumes.

Tests/bench run local[N]; on a real cluster the same confs apply, plus the
Iceberg catalog conf documented in catalog.py.  Everything here is chosen for
the 10^12-document design target and merely exercised small in the sandbox:

  - AQE on (runtime coalescing + skew-join splitting),
  - Arrow execution on, batch size tuned so a batch of interleaved docs is
    tens of MB, not thousands of tiny batches,
  - shuffle partitions scaled with cores (AQE coalesces down as needed).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app: str = "openie-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python workers are forked from a daemon the JVM launches with THIS
    # process's environment — the driver's sys.path does not propagate, so
    # export the package root or UDFs fail to unpickle when the process was
    # started outside the repo (on clusters --py-files serves this purpose)
    pkg_root = str(Path(__file__).resolve().parents[1])
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pp if pp else "")

    master = master or os.environ.get("OPENIE_MASTER", "local[*]")
    cores = _core_count(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst deliberately left at its default (true): measured
        # here, size-based coalescing (false + 64m advisory) serializes the
        # LSH/jaccard stages — compute-heavy per byte, so byte-size advisory
        # under-parallelizes them (link stage 12s → 32s at local[8])
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd beats snappy on this workload both ways: triples/edges files
        # ~25% smaller (the deps arc text compresses well) AND the
        # bucket-clustered write measured faster (fewer bytes through the
        # page cache on a membw-bound host).  At 100 TB smaller files are
        # strictly better for the downstream link/materialize scans.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("OPENIE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _core_count(master: str) -> int:
    if master == "local":
        return 1  # Spark runs a bare ``local`` master with one task thread
    if master.startswith("local["):
        # local[N] or local[N,maxFailures]: the cores are the part before
        # the comma
        inner = master[len("local[") : -1].split(",")[0].strip()
        if inner == "*":
            return os.cpu_count() or 4
        try:
            return int(inner)
        except ValueError:
            return 4
    return os.cpu_count() or 4
