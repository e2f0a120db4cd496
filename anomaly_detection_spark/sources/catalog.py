"""Storage adapter: Iceberg-shaped interface, parquet-backed locally.

The engine writes two durable tables — lineage/metrics and violations —
through this adapter. On a real deployment the same calls map to
Iceberg ``df.writeTo(table).append()`` (atomic snapshot commits, schema
evolution — the analog of the reference's append+mergeSchema write at
anomalydetection/utils/common_utils.py:482); the sandbox has no Iceberg
runtime jar, so the local implementation appends parquet files under a
directory. The engine code is identical either way (SURVEY.md §7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class IcebergCatalog:
    """Iceberg-backed store (requires the iceberg-spark-runtime jar and a
    configured catalog — not present in this sandbox, so this class is
    exercised only on real deployments; the engine depends only on the
    append/read/exists surface shared with LocalParquetCatalog).

    Appends are atomic Iceberg snapshot commits, which upgrades the
    engine's crash-consistency note: violations + lineage for one rule
    group can land in two commits whose visibility the lineage row still
    gates, exactly as in the local implementation.
    """

    def __init__(self, namespace: str):
        self.namespace = namespace

    def _table(self, table: str) -> str:
        return f"{self.namespace}.{table.lstrip('_')}"

    def append(self, table: str, df: DataFrame) -> None:
        name = self._table(table)
        if not df.sparkSession.catalog.tableExists(name):
            df.writeTo(name).create()
        else:
            df.writeTo(name).append()

    def exists(self, table: str, spark: SparkSession | None = None) -> bool:
        # prefer the caller's session: getActiveSession() is thread-local
        # and the suite submits rule jobs from a driver thread pool
        if spark is None:
            spark = SparkSession.getActiveSession()
        return spark is not None and spark.catalog.tableExists(self._table(table))

    def read(self, spark: SparkSession, table: str, schema: StructType | str | None = None) -> DataFrame:
        name = self._table(table)
        if not spark.catalog.tableExists(name):
            if schema is None:
                raise FileNotFoundError(name)
            return spark.createDataFrame([], schema)
        return spark.read.table(name)


class LocalParquetCatalog:
    """Directory-per-table parquet catalog with CONCURRENT-SAFE append
    semantics: every append lands in its own fresh subdirectory, so
    concurrent writers never share the Hadoop committer's _temporary
    staging dir (plain mode=append into one directory is not safe under
    concurrent jobs). Iceberg gets this for free via optimistic snapshot
    commits — this mirrors that property locally."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def append(self, table: str, df: DataFrame) -> None:
        import uuid as _uuid

        sub = os.path.join(self._path(table), f"append-{_uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(sub)

    def _data_dirs(self, table: str) -> list[str]:
        p = self._path(table)
        if not os.path.isdir(p):
            return []
        out = []
        for d in os.listdir(p):
            full = os.path.join(p, d)
            if os.path.isdir(full) and any(f.endswith(".parquet") for f in os.listdir(full)):
                out.append(full)
        return sorted(out)

    def exists(self, table: str, spark: SparkSession | None = None) -> bool:
        return bool(self._data_dirs(table))

    def read(self, spark: SparkSession, table: str, schema: StructType | str | None = None) -> DataFrame:
        """Read all appended subdirectories. With a declared ``schema``,
        the read is schema-evolution tolerant AND footer-scan free: the
        schema is imposed on the scan (``spark.read.schema``), so a
        store mixing appends written by different engine versions needs
        no mergeSchema footer pass (one footer per file adds up — the
        suite appends one subdir per rule job), and columns the stored
        files predate (e.g. downstream_impact) are read as typed nulls
        — the local analog of Iceberg's read-time schema evolution."""
        dirs = self._data_dirs(table)
        if not dirs:
            if schema is None:
                raise FileNotFoundError(self._path(table))
            return spark.createDataFrame([], schema)
        if schema is None:
            return spark.read.parquet(*dirs)
        declared = spark.createDataFrame([], schema).schema
        return spark.read.schema(declared).parquet(*dirs)
