"""Stage-table checkpointing with per-partition lineage (SURVEY.md S3/S4,
O8; north rule: "resumable from checkpoint with per-partition lineage +
metrics").

The reference checkpoints each phase with ``torch.save`` and resumes by
``os.path.exists`` (`main.py:183-200`, `dataset.py:39-44`). The engine's
analogue: every phase writes its output DataFrame to a Parquet stage
table under a run directory; re-running a phase whose stage exists is a
metadata-only read. (Iceberg would add snapshot isolation on a real
cluster; the sandbox has no Iceberg jars — the layout and API below are
format-agnostic, `format=` is pluggable.)

Lineage: alongside each stage, a ``_lineage`` table records one row per
OUTPUT PARTITION (spark_partition_id): row count + min/max of the first
output column + wall-clock — enough to audit which partition produced
what, per the north rule. The ``_metrics/`` directory holds one JSON
line per stage run (S7, `log_information` `main.py:219-239`), appended
with plain driver file I/O like the reference's log write, so logging
runs no Spark job; ``metrics()`` reads the lines back as
(stage, metrics, logged_at).
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


class StageStore:
    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fmt = fmt

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def exists(self, name: str) -> bool:
        # _SUCCESS marker = complete write (atomic-enough for local FS;
        # Iceberg snapshots replace this on a cluster)
        return os.path.exists(f"{self._path(name)}/_SUCCESS")

    def read(self, name: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self._path(name))

    def write(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> DataFrame:
        t0 = time.time()
        w = df.write.format(self.fmt).mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self._path(name))
        out = self.read(name)
        self._write_lineage(name, out, time.time() - t0)
        return out

    def _write_lineage(self, name: str, out: DataFrame, wall_sec: float) -> None:
        first_col = out.columns[0]
        lin = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("rows"),
                F.min(F.col(first_col).cast("string")).alias("min_key"),
                F.max(F.col(first_col).cast("string")).alias("max_key"),
            )
            .withColumn("stage", F.lit(name))
            .withColumn("wall_sec", F.lit(round(wall_sec, 3)))
            .withColumn("written_at", F.current_timestamp())
        )
        lin.write.format(self.fmt).mode("overwrite").save(self._path(f"{name}__lineage"))

    def lineage(self, name: str) -> DataFrame:
        return self.read(f"{name}__lineage")

    def checkpoint(self, name: str, build: Callable[[], DataFrame],
                   partition_by: list[str] | None = None) -> DataFrame:
        """Resume-or-build: the O8 pattern. Skips the build entirely when
        the stage is complete — phase restarts are metadata reads."""
        if self.exists(name):
            return self.read(name)
        return self.write(name, build(), partition_by)

    def log_metrics(self, stage: str, metrics: dict) -> None:
        """S7 metrics sink (`log_information` `main.py:219-239`):
        append one JSON line per stage run. The file sits INSIDE
        ``_metrics/``: Hadoop listing skips names that start with ``_``
        or ``.``, so a bare ``_metrics.jsonl`` would read as empty."""
        row = {
            "stage": stage,
            "metrics": json.dumps(metrics, sort_keys=True, default=str),
            "logged_at": datetime.now(timezone.utc).isoformat(),
        }
        d = self._path("_metrics")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "metrics.jsonl"), "a", encoding="utf-8") as fh:
            fh.write(json.dumps(row) + "\n")

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(
            "stage string, metrics string, logged_at timestamp"
        ).json(self._path("_metrics"))


class TableStageStore(StageStore):
    """Catalog-table-backed variant (north rule: "materialization back
    to Iceberg"): stages live as CATALOG TABLES (``namespace.stage``)
    written with ``saveAsTable`` and resumed via
    ``spark.catalog.tableExists`` — on a cluster with an Iceberg catalog
    (``fmt='iceberg'``) each write is an Iceberg snapshot with ACID
    overwrite + time travel; in this sandbox (no Iceberg jars) the SAME
    code path runs against the built-in catalog with ``fmt='parquet'``,
    which is what the tests exercise. Lineage/metrics land in
    ``<stage>__lineage`` / ``_metrics`` tables in the same namespace."""

    def __init__(self, spark: SparkSession, namespace: str,
                 fmt: str = "parquet"):
        super().__init__(spark, root=namespace, fmt=fmt)
        self.ns = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")

    def _table(self, name: str) -> str:
        return f"{self.ns}.{name.replace('-', '_')}"

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._table(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.table(self._table(name))

    def write(self, name: str, df: DataFrame,
              partition_by: list[str] | None = None) -> DataFrame:
        t0 = time.time()
        w = df.write.format(self.fmt).mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.saveAsTable(self._table(name))
        out = self.read(name)
        lin_t0 = time.time() - t0
        first_col = out.columns[0]
        lin = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("rows"),
                F.min(F.col(first_col).cast("string")).alias("min_key"),
                F.max(F.col(first_col).cast("string")).alias("max_key"),
            )
            .withColumn("stage", F.lit(name))
            .withColumn("wall_sec", F.lit(round(lin_t0, 3)))
            .withColumn("written_at", F.current_timestamp())
        )
        lin.write.format(self.fmt).mode("overwrite").saveAsTable(
            self._table(f"{name}__lineage")
        )
        return out

    def lineage(self, name: str) -> DataFrame:
        return self.read(f"{name}__lineage")

    def log_metrics(self, stage: str, metrics: dict) -> None:
        row = self.spark.createDataFrame(
            [(stage, json.dumps(metrics, sort_keys=True, default=str))],
            "stage string, metrics string",
        ).withColumn("logged_at", F.current_timestamp())
        row.write.format(self.fmt).mode("append").saveAsTable(
            self._table("_metrics".lstrip("_") + "_log")
        )

    def metrics(self) -> DataFrame:
        return self.read("metrics_log")
