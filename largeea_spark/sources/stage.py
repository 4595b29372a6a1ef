"""Stage-table checkpointing with per-part-file lineage (SURVEY.md S3/S4,
O8; north rule: "resumable from checkpoint with per-partition lineage +
metrics").

The reference checkpoints each phase with ``torch.save`` and resumes by
``os.path.exists`` (`main.py:183-200`, `dataset.py:39-44`). The engine's
analogue: every phase writes its output DataFrame to a Parquet stage
table under a run directory; re-running a phase whose stage exists is a
metadata-only read. (Iceberg would add snapshot isolation on a real
cluster; the sandbox has no Iceberg jars — the layout and API below are
format-agnostic, `format=` is pluggable for the stage tables; lineage
reads Parquet footers.)

Lineage: alongside each stage, a ``<stage>__lineage`` table records
one row per PART FILE the write produced: its row count, the min/max of
the first output column, and the write's wall-clock — enough to audit
which write task produced what, per the north rule. Both come from the
Parquet footers the write just left (row counts and typed column
statistics; min/max are compared in the column's own type, e.g. 9 < 10,
and stringified only afterwards; null when a footer has no statistics),
and the table is written with pyarrow, so lineage runs no Spark job.
The write's re-read passes the known schema, so it runs no inference
job either: a checkpoint costs exactly its write job(s). The
``_metrics/`` directory holds one JSON line per stage run (S7,
`log_information` `main.py:219-239`), appended with plain driver file
I/O like the reference's log write, so logging runs no Spark job;
``metrics()`` reads the lines back as (stage, metrics, logged_at).
Metrics appends are serialized by a lock: pipeline stages may build
(and log) from concurrent driver threads.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from datetime import datetime, timezone
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

_LINEAGE_SCHEMA = pa.schema([
    ("partition_id", pa.int32()), ("file", pa.string()), ("rows", pa.int64()),
    ("min_key", pa.string()), ("max_key", pa.string()), ("stage", pa.string()),
    ("wall_sec", pa.float64()), ("written_at", pa.timestamp("us", tz="UTC")),
])


class StageStore:
    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fmt = fmt
        self._metrics_lock = threading.Lock()

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
        path = self._path(name)
        w.save(path)
        # known schema: no inference job (partition columns land last,
        # where inference puts them too)
        out = self.spark.read.schema(df.schema).format(self.fmt).load(path)
        self._write_lineage(name, out, time.time() - t0)
        return out

    def _write_lineage(self, name: str, out: DataFrame, wall_sec: float) -> None:
        """One row per part file of stage ``name``, from its Parquet
        footer (rows, typed min/max of ``out``'s first column), written
        with pyarrow: no Spark job."""
        root = self._path(name)
        first_col = out.columns[0]
        common = {"stage": name, "wall_sec": round(wall_sec, 3),
                  "written_at": datetime.now(timezone.utc)}
        rows = []
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames.sort()
            for fn in sorted(f for f in filenames if f.startswith("part-")):
                n, lo, hi = _footer_lineage(os.path.join(dirpath, fn), first_col)
                rows.append({
                    # part-<write task partition>-<uuid>...: the writer task
                    "partition_id": int(fn.split("-")[1]),
                    "file": os.path.relpath(os.path.join(dirpath, fn), root),
                    "rows": n, "min_key": lo, "max_key": hi, **common,
                })
        lin = self._path(f"{name}__lineage")
        shutil.rmtree(lin, ignore_errors=True)
        os.makedirs(lin)
        pq.write_table(pa.Table.from_pylist(rows, schema=_LINEAGE_SCHEMA),
                       os.path.join(lin, "part-00000.parquet"))
        open(os.path.join(lin, "_SUCCESS"), "w").close()

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
        with self._metrics_lock:
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "metrics.jsonl"), "a", encoding="utf-8") as fh:
                fh.write(json.dumps(row) + "\n")

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(
            "stage string, metrics string, logged_at timestamp"
        ).json(self._path("_metrics"))


def _footer_lineage(path: str, col: str) -> tuple[int, str | None, str | None]:
    """(rows, min, max) of ``col`` in one part file from its Parquet
    footer. min/max are taken over the typed row-group statistics and
    only then stringified; both are None when a row group lacks them
    (or ``col`` is not a top-level leaf)."""
    md = pq.ParquetFile(path).metadata
    idx = next((i for i in range(md.num_columns)
                if md.schema.column(i).path == col), None)
    stats = [md.row_group(g).column(idx).statistics
             for g in range(md.num_row_groups)] if idx is not None else []
    if not stats or not all(s is not None and s.has_min_max for s in stats):
        return md.num_rows, None, None
    return (md.num_rows, str(min(s.min for s in stats)),
            str(max(s.max for s in stats)))


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
