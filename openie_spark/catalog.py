"""Catalog seam (SURVEY.md §2.1 Iceberg note, OP-01/04/05).

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar and no network, so all pipeline code talks to this seam and never to a
concrete format.  Two implementations:

  - ParquetCatalog (default here): plain parquet directories under a root,
    with dynamic partition-overwrite for idempotent re-writes.
  - IcebergCatalog (documented, unexercised in-sandbox): on a real cluster
    add
        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
        --conf spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog
        --conf spark.sql.catalog.kg.type=hive   (or hadoop/rest)
    and tables resolve as ``kg.db.<name>``; write_table uses
    ``df.writeTo(name).overwritePartitions()``.

Both expose the same six calls the pipeline and checkpoint code make:
exists, load_table, write_table, append_table, list_partitions and
drop_partitions.  Checkpoint rows go through append_table on both, with
latest-wins resolved on read (plans/checkpoint.py).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class ParquetCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = str(root)

    def _path(self, name: str) -> str:
        return str(Path(self.root) / name)

    def exists(self, name: str) -> bool:
        p = Path(self._path(name))
        return p.exists() and any(p.glob("**/*.parquet"))

    def load_table(self, name: str, schema: StructType | None = None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._path(name))

    def write_table(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """Full overwrite, or dynamic partition-overwrite when partitioned —
        a re-executed partition replaces its previous output, never
        duplicates it (exactly-once materialization, SURVEY.md §4.2-H)."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def append_table(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self._path(name))

    def list_partitions(self, name: str, part_col: str) -> list[int]:
        """Partition values currently ON DISK (``<col>=<val>`` dir names)
        — incremental resume derives its stale set from this listing, not
        from checkpoint state, so the purge is idempotent under a crash at
        any point.  Driver-side O(#partitions) listing, like any table-
        maintenance planner."""
        root = Path(self._path(name))
        if not root.exists():
            return []
        pre = f"{part_col}="
        return sorted(
            int(d.name[len(pre) :])
            for d in root.iterdir()
            if d.is_dir() and d.name.startswith(pre)
        )

    def drop_partitions(self, name: str, part_col: str, values: list) -> None:
        """Remove whole hive partitions (``<col>=<val>`` dirs) — the
        parquet twin of Iceberg's ``DELETE WHERE part_col IN (...)``.
        Used by incremental resume to purge buckets whose input vanished;
        missing dirs and an empty list are ignored (idempotent no-op)."""
        import shutil

        root = Path(self._path(name))
        for v in values:
            shutil.rmtree(root / f"{part_col}={v}", ignore_errors=True)


class IcebergCatalog:
    """Config-documented Iceberg implementation; requires the runtime jar
    (absent in this sandbox).  Method bodies mirror ParquetCatalog on the
    DataSourceV2 API."""

    def __init__(self, spark: SparkSession, namespace: str = "kg.db"):
        self.spark = spark
        self.namespace = namespace

    def _tbl(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(name))

    def load_table(self, name: str, schema=None) -> DataFrame:
        return self.spark.read.format("iceberg").load(self._tbl(name))

    def write_table(self, df: DataFrame, name: str, partition_by=None) -> None:
        writer = df.writeTo(self._tbl(name))
        if self.exists(name):
            writer.overwritePartitions()
        else:
            writer.create()

    def append_table(self, df: DataFrame, name: str) -> None:
        df.writeTo(self._tbl(name)).append()

    def list_partitions(self, name: str, part_col: str) -> list:
        """Live partition values (incremental-resume twin of
        ParquetCatalog.list_partitions)."""
        return sorted(
            r[0]
            for r in self.spark.sql(
                f"SELECT DISTINCT {part_col} FROM {self._tbl(name)}"
            ).collect()
        )

    def drop_partitions(self, name: str, part_col: str, values: list) -> None:
        """Transactional partition purge (incremental-resume twin of
        ParquetCatalog.drop_partitions).  Empty list = no-op, matching the
        parquet twin."""
        if not values:
            return
        vals = ", ".join(str(int(v)) for v in values)
        self.spark.sql(
            f"DELETE FROM {self._tbl(name)} WHERE {part_col} IN ({vals})"
        )
