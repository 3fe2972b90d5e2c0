"""Table-format facade: one seam between the engine and the table layer.

The production target is Iceberg (the north rule's input is an Iceberg
table of transcripts; the reference's analogs are Delta MERGE at
``/root/reference/discoverx/scanner.py:113-119`` and DESCRIBE
DETAIL/HISTORY at ``delta_housekeeping.py:106-144``).  This container has
no Iceberg/Delta jars (LIMITATIONS §2), so the default implementation is
partitioned parquet with an emulated snapshot log.

Only ``sources.io.merge_upsert`` (merge) and code that picks a format
with ``get_format`` go through this facade.  The rest of the engine reads
and writes parquet directly: ``ScanResult.save``/``load`` (``save`` runs
the same MERGE body, ``scanner._merge_parquet``, but records no
snapshot), the lineage and metrics appends of ``lineage.ResumableRunner``,
``lineage.write_bucketed``, ``pipeline.write_decisions`` and
``sources.io.write_partitioned``.  A real Iceberg binding is a second
class here plus moving those calls onto it.

Snapshot emulation: each mutating operation appends one row to a
``<location>._snapshots`` parquet log kept BESIDE the table directory
(overwrites delete the table dir wholesale; Iceberg likewise keeps
metadata apart from data files).  Snapshot ids are dense integers
assigned ``max + 1`` — the same monotonic-id contract Iceberg's metadata
gives, which is what time-travel-shaped resume in
``lineage.ResumableRunner`` keys on.
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SNAPSHOT_SCHEMA = ("snapshot_id long, operation string, "
                    "effective_timestamp timestamp")


class TableFormat:
    """Interface the engine codes against.  Implementations must keep
    these contracts:

    - ``merge`` is MERGE-INTO upsert on ``key_cols`` (matched rows
      replaced, unmatched preserved) and is idempotent for identical
      inputs;
    - ``append`` tolerates schema widening (new nullable columns);
    - every mutation produces a new snapshot id visible via
      ``snapshots`` / ``current_snapshot_id``.
    """

    name = "abstract"

    def read(self, spark: SparkSession, location: str) -> DataFrame:
        raise NotImplementedError

    def append(self, df: DataFrame, location: str) -> None:
        raise NotImplementedError

    def overwrite(self, df: DataFrame, location: str) -> None:
        raise NotImplementedError

    def merge(self, spark: SparkSession, new: DataFrame, location: str,
              key_cols: List[str]) -> None:
        raise NotImplementedError

    def file_stats(self, spark: SparkSession, location: str,
                   table_name: str = "") -> DataFrame:
        raise NotImplementedError

    def snapshots(self, spark: SparkSession, location: str) -> DataFrame:
        raise NotImplementedError

    def current_snapshot_id(self, spark: SparkSession,
                            location: str) -> Optional[int]:
        snap = self.snapshots(spark, location)
        row = snap.agg(F.max("snapshot_id").alias("m")).first()
        return None if row is None or row["m"] is None else int(row["m"])


class ParquetTableFormat(TableFormat):
    """Default implementation: partitioned parquet + ``_snapshots`` log.
    Semantics-complete emulation of the Iceberg contract above; MERGE
    idempotency and append schema-merge are exercised by the
    ``merge_upsert_roundtrip`` driver oracle and test_sources."""

    name = "parquet"

    # -- snapshot log -------------------------------------------------------
    def _log_path(self, location: str) -> str:
        # sibling path, NOT inside the table dir: mode("overwrite") deletes
        # the entire output directory first, which would wipe an embedded
        # log (Iceberg keeps metadata outside the data files for the same
        # reason)
        return location.rstrip("/") + "._snapshots"

    def _next_id(self, spark: SparkSession, location: str) -> int:
        cur = self.current_snapshot_id(spark, location)
        return 1 if cur is None else cur + 1

    def _record(self, spark: SparkSession, location: str, op: str) -> int:
        sid = self._next_id(spark, location)
        (spark.createDataFrame([(sid, op)], "snapshot_id long, operation string")
         .withColumn("effective_timestamp", F.current_timestamp())
         .coalesce(1).write.mode("append").parquet(self._log_path(location)))
        return sid

    def snapshots(self, spark: SparkSession, location: str) -> DataFrame:
        # ONLY a genuinely missing log means "no snapshots yet" — any
        # other read error must propagate: swallowing it would restart
        # snapshot ids at 1 and break the monotonic-id contract pinned
        # resume depends on (same policy as lineage()/merge_upsert)
        from ..scanner import _read_parquet_if_exists

        log = _read_parquet_if_exists(spark, self._log_path(location))
        if log is None:
            return spark.createDataFrame([], _SNAPSHOT_SCHEMA)
        return log

    # -- data ---------------------------------------------------------------
    def read(self, spark: SparkSession, location: str) -> DataFrame:
        # mergeSchema is a READ-side option for parquet: appends may have
        # widened the schema with new nullable columns, and without it an
        # arbitrary footer's schema wins (the 'append tolerates schema
        # widening' contract would silently not hold)
        return spark.read.option("mergeSchema", "true").parquet(location)

    def append(self, df: DataFrame, location: str) -> None:
        df.write.mode("append").parquet(location)
        self._record(df.sparkSession, location, "append")

    def overwrite(self, df: DataFrame, location: str) -> None:
        df.write.mode("overwrite").parquet(location)
        self._record(df.sparkSession, location, "overwrite")

    def merge(self, spark: SparkSession, new: DataFrame, location: str,
              key_cols: List[str]) -> None:
        from ..scanner import _merge_parquet

        _merge_parquet(new, location, key_cols)
        self._record(spark, location, "merge")

    def file_stats(self, spark: SparkSession, location: str,
                   table_name: str = "") -> DataFrame:
        from .housekeeping import table_file_stats

        return table_file_stats(spark, location, table_name)


class IcebergTableFormat(TableFormat):
    """Real Iceberg binding — the production drop-in.  Requires the
    iceberg-spark-runtime jars and a configured catalog; instantiation
    fails fast where they are absent (this sandbox, LIMITATIONS §2).
    ``location`` is a catalog table identifier, not a path."""

    name = "iceberg"

    def __init__(self, spark: SparkSession):
        from .io import iceberg_available

        if not iceberg_available(spark):  # pragma: no cover - env-blocked
            raise RuntimeError(
                "Iceberg runtime not on the classpath; add "
                "iceberg-spark-runtime and a catalog config, or use "
                "ParquetTableFormat")

    # pragma-no-cover block: the calls below are the standard public
    # Iceberg-Spark surface; untestable here without the jars.
    def read(self, spark, location):  # pragma: no cover
        return spark.read.format("iceberg").load(location)

    def append(self, df, location):  # pragma: no cover
        df.writeTo(location).append()

    def overwrite(self, df, location):  # pragma: no cover
        df.writeTo(location).overwritePartitions()

    def merge(self, spark, new, location, key_cols):  # pragma: no cover
        new.createOrReplaceTempView("_merge_src")
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        spark.sql(f"MERGE INTO {location} t USING _merge_src s ON {on} "
                  "WHEN MATCHED THEN UPDATE SET * "
                  "WHEN NOT MATCHED THEN INSERT *")

    def file_stats(self, spark, location, table_name=""):  # pragma: no cover
        return (spark.sql(f"SELECT * FROM {location}.files")
                .selectExpr(f"'{table_name or location}' AS table_name",
                            "partition AS partition_id",
                            "1 AS number_of_files",
                            "file_size_in_bytes AS bytes"))

    def snapshots(self, spark, location):  # pragma: no cover
        return (spark.sql(f"SELECT * FROM {location}.snapshots")
                .selectExpr("snapshot_id", "operation",
                            "committed_at AS effective_timestamp"))


DEFAULT_FORMAT = ParquetTableFormat()


def get_format(spark: SparkSession, name: str = "parquet") -> TableFormat:
    """Resolve a format by name — the single switch a deployment flips to
    go from the sandbox emulation to real Iceberg."""
    if name == "parquet":
        return DEFAULT_FORMAT
    if name == "iceberg":
        return IcebergTableFormat(spark)
    raise ValueError(f"unknown table format {name!r}")
