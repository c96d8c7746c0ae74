"""Catalog-seam CONTRACT suite (VERDICT r3 item 6): every catalog
implementation must pass these format-agnostic semantics tests through
the seam API alone (exists/load/write/append) — no direct
filesystem pokes, so the same class is runnable against IcebergCatalog
on a real cluster (this sandbox has no Iceberg jar; ParquetCatalog is
the in-sandbox instance).

To run the suite against another implementation, subclass
``CatalogContract`` and override ``make_catalog``.
"""

from __future__ import annotations

from openie_spark.catalog import ParquetCatalog


def _rows(df):
    return sorted(map(tuple, df.collect()))


class CatalogContract:
    """Abstract contract — mixin, not collected directly (no ``Test``
    prefix).  Each test provisions an isolated catalog via make_catalog."""

    def make_catalog(self, spark, tmp_path):
        raise NotImplementedError

    def test_overwrite_replaces(self, spark, tmp_path):
        cat = self.make_catalog(spark, tmp_path)
        cat.write_table(spark.createDataFrame([(1,)], "x int"), "t")
        cat.write_table(spark.createDataFrame([(2,)], "x int"), "t")
        assert _rows(cat.load_table("t")) == [(2,)]

    def test_partition_overwrite_is_dynamic(self, spark, tmp_path):
        """Re-executing ONE partition replaces only its own output — the
        exactly-once guarantee stage re-materialization depends on."""
        cat = self.make_catalog(spark, tmp_path)
        full = spark.createDataFrame(
            [(0, "a"), (0, "b"), (1, "c")], "partition_id int, v string"
        )
        cat.write_table(full, "t", partition_by=["partition_id"])
        redo = spark.createDataFrame([(1, "c2")], "partition_id int, v string")
        cat.write_table(redo, "t", partition_by=["partition_id"])
        got = _rows(cat.load_table("t").select("partition_id", "v"))
        assert got == [(0, "a"), (0, "b"), (1, "c2")]

    def test_partition_rerun_does_not_duplicate(self, spark, tmp_path):
        cat = self.make_catalog(spark, tmp_path)
        df = spark.createDataFrame([(0, "a"), (1, "b")], "partition_id int, v string")
        cat.write_table(df, "t", partition_by=["partition_id"])
        cat.write_table(df, "t", partition_by=["partition_id"])  # idempotent rerun
        assert _rows(cat.load_table("t").select("partition_id", "v")) == [
            (0, "a"),
            (1, "b"),
        ]

    def test_append_accumulates(self, spark, tmp_path):
        cat = self.make_catalog(spark, tmp_path)
        cat.write_table(spark.createDataFrame([(1,)], "x int"), "t")
        cat.append_table(spark.createDataFrame([(2,)], "x int"), "t")
        assert _rows(cat.load_table("t")) == [(1,), (2,)]

    def test_exists_drop_lifecycle(self, spark, tmp_path):
        cat = self.make_catalog(spark, tmp_path)
        assert not cat.exists("t")
        cat.write_table(spark.createDataFrame([(1,)], "x int"), "t")
        assert cat.exists("t")


class TestParquetCatalogContract(CatalogContract):
    def make_catalog(self, spark, tmp_path):
        return ParquetCatalog(spark, str(tmp_path / "cat"))


class IcebergCatalogContract(CatalogContract):
    """Documented cluster-side instance (NOT collected here — no Iceberg
    jar in the sandbox).  On a real cluster, promote to ``Test``-prefixed:

        class TestIcebergCatalogContract(CatalogContract):
            def make_catalog(self, spark, tmp_path):
                return IcebergCatalog(spark, namespace="kg.db")

    plus the --packages/--conf lines from catalog.py's module docstring.
    """
