"""Table catalogs: Hive-partitioned parquet, plus an Iceberg class
with the same append / partition-overwrite methods.

The runner does NOT go through an abstraction yet: ``runner.run`` and
``runner.run_global_dedup`` build a ``ParquetCatalog`` directly, and
global dedup also writes raw parquet at ``catalog.path(...)`` — a
method ``IcebergCatalog`` lacks. Wiring Iceberg in is therefore code,
not configuration:

  * ``IcebergCatalog`` issues ``writeTo(tbl).append()`` /
    ``overwritePartitions()`` against a configured Spark catalog
    (requires iceberg-spark-runtime on the classpath; the capability
    probe in ``get_catalog`` picks it only when the jar is present,
    and nothing calls ``get_catalog`` yet).
  * ``ParquetCatalog`` provides the same commit semantics on plain
    parquet: partitioned layout (``warc_date=.../``), an append-only
    lineage table via unique-file append (parquet part files with a
    run-scoped name → atomic visibility on rename-capable
    filesystems), and idempotent per-partition overwrite via Spark's
    dynamic partitionOverwriteMode — used for pages_filtered AND the
    metrics/dropped_by_rule tables (keyed by stage × partition_key) so
    crash replays replace rather than double-count.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class ParquetCatalog:
    """Hive-style partitioned parquet tables under a warehouse dir."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def append(self, df: DataFrame, table: str,
               partition_by: list[str] | None = None) -> None:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        """Idempotent per-partition overwrite (retry-safe commits)."""
        (df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*partition_by)
         .parquet(self.path(table)))


class IcebergCatalog:
    """Real Iceberg tables — used verbatim when the runtime jar is on
    the classpath (spark.jars.packages=org.apache.iceberg:iceberg-spark-
    runtime-…). Partition transforms: days(warc_ts), bucket(N, url)."""

    def __init__(self, spark: SparkSession, catalog: str = "sdqf"):
        self.spark = spark
        self.catalog = catalog

    def _t(self, table: str) -> str:
        return f"{self.catalog}.{table}"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._t(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self._t(table))

    def append(self, df: DataFrame, table: str,
               partition_by: list[str] | None = None) -> None:
        df.writeTo(self._t(table)).append()

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        df.writeTo(self._t(table)).overwritePartitions()


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Schema  # noqa: SLF001
        return True
    except Exception:
        return False


def get_catalog(spark: SparkSession, warehouse: str):
    if iceberg_available(spark):  # pragma: no cover - no jar in sandbox
        return IcebergCatalog(spark)
    return ParquetCatalog(spark, warehouse)
