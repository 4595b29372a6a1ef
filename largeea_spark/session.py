"""SparkSession factory.

Pinned settings that the whole engine assumes:
- Arrow on (every ★ operator uses pandas UDFs / mapInPandas),
- AQE on (skew-join splitting + partition coalescing — the north rule's
  skew handling leans on this plus explicit salting),
- UTC session timezone (DuckDB-oracle comparison; DuckDB timestamps are
  UTC-naive),
- shuffle partitions sized to cores, not the 200 default,
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled``):
  PySpark 4.1 otherwise reads a conf and sets and clears a JVM origin
  around every ``functions.*`` call, which doubles the py4j traffic of
  plan building (the alignment block builds hundreds of small plans).
  The cost: DataFrame analysis errors lose the Python call-site
  fragment.
- ICU case mappings off (``spark.sql.icu.caseMappings.enabled``):
  ``lower``/``upper`` of non-ASCII strings use the JVM's
  ``String.toLowerCase``/``toUpperCase`` instead of ICU4J. The first
  ICU case mapping of a session loads ICU's data: a first ``lower()``
  over seven short names took 1.85 s with ICU and 0.25 s without
  (local[2], 4 vCPU), and in construct's ``canonical`` stage it was
  1.7-2.3 s of the first job. Both mappings fold like Python's
  ``str.lower`` (``École``/``école`` meet, ``Straße`` stays apart from
  ``STRASSE``) under an English or root locale. The cost: the JVM
  mapping follows the JVM's DEFAULT LOCALE. Under a Turkish or Azeri
  default locale, a non-ASCII string lowers ``I`` to dotless ``ı``
  (``IĞDIR`` → ``ığdır``, not ``iğdir``) and ``İ`` to plain ``i``;
  all-ASCII strings take Spark's ASCII path and never depend on it.
  Run the driver and executors with ``-Duser.language=en`` on such
  hosts to keep canonical names locale-free.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "largeea_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``). On a real cluster, pass ``master=None`` and submit via
    ``spark-submit --py-files``; every knob here is also safe there.
    """
    # glibc malloc tuning for the Python workers (guide §4.2): the numpy
    # kernels (blocked Jaccard, knn GEMM chunks) allocate fresh multi-MB
    # arrays per batch; at the default M_MMAP_THRESHOLD every allocation
    # is a fresh mmap whose pages fault on first touch (~90 ns/elem vs
    # ~3 ns warm — measured round 6). Raising the threshold keeps large
    # buffers on the reusable heap: the sf1.0 blocked-Jaccard kernel ran
    # 2.4× faster (44 s → 18 s of single-core work). Set BEFORE the JVM
    # starts so forked python workers inherit it; also exported via
    # spark.executorEnv for cluster deployments.
    _MALLOC_TUNING = {
        "MALLOC_MMAP_THRESHOLD_": "268435456",
        "MALLOC_TRIM_THRESHOLD_": "268435456",
    }
    for k, v in _MALLOC_TUNING.items():
        os.environ.setdefault(k, v)

    # Preloading worker daemon (guide §4.5 at the daemon level): python
    # workers fork from the daemon, and Spark reaps idle workers after a
    # hardcoded minute — the respawned pool re-imports numpy/pandas per
    # worker (~14 s cliff on a 32-core session, measured round 6).
    # largeea_spark.worker_daemon imports them once pre-fork so children
    # inherit via COW. The repo root must be importable by the daemon
    # process, so export it on PYTHONPATH (env inherited in local mode;
    # executorEnv carries both to cluster workers).
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pypath = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_root + (os.pathsep + _pypath if _pypath else "")
        )

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in _MALLOC_TUNING.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    builder = builder.config(
        "spark.python.daemon.module", "largeea_spark.worker_daemon"
    ).config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_shuffle_width(spark: SparkSession) -> int:
    """Canonical shuffle width for pinned repartitions and blocking grids.

    ``spark.sql.shuffle.partitions`` when it parses as an int (so results
    stay a function of SESSION CONFIG, bit-identical across parallelism
    levels — the xpar determinism contract); on platforms that set the
    conf to a non-numeric value (e.g. ``auto`` under Databricks AQE auto
    shuffle partitions) fall back to ``sparkContext.defaultParallelism``."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism
