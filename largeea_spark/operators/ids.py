"""Deterministic dict-encoding (SURVEY.md A1, S1-S2).

The reference assigns dense int ids in first-seen TSV scan order
(`dataset.py:91-100` via `add_cnt_for`, `utils.py:338-347`) — a side
effect of scan order that is NOT reproducible across parallelism levels.
The engine's deterministic variant: ``row_number() OVER (ORDER BY key)``
(0-based), which yields identical ids at local[8] and local[32] (a
benchmark requirement, SURVEY.md §4.3 / §7.4.3). Parity metrics are all
computed in URI/name space, so the id-value deviation is inert.

Scale note: a global ``row_number`` over one unpartitioned window is a
single-reducer sort. ``dict_encode`` therefore uses
``zipWithIndex``-free, sort-based dense ranking: a global ``orderBy``
(range-partitioned sort, fully distributed) followed by
``monotonically_increasing_id`` would NOT be dense; instead we compute
per-partition counts of the sorted ids and add prefix offsets — the
classic distributed dense-id pattern. At 1e9+ keys this is one sort
shuffle + one tiny driver-side prefix sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dict_encode(df: DataFrame, key_col: str, id_col: str = "id") -> DataFrame:
    """Distinct values of ``key_col`` → dense, deterministic 0-based ids.

    Equivalent semantics to the reference's ``add_cnt_for``
    (`utils.py:338-347`) modulo id ordering (lexicographic, not
    first-seen — deterministic across parallelism; SURVEY.md §7.4.3).

    Returns DataFrame(key_col, id_col long), one row per distinct key.
    """
    distinct = df.select(key_col).where(F.col(key_col).isNotNull()).distinct()
    return assign_dense_ids(distinct, key_col, id_col)


def assign_dense_ids(distinct_df: DataFrame, key_col: str, id_col: str = "id") -> DataFrame:
    """Dense 0-based ids by lexicographic key order, without a
    single-reducer window and without a Python/RDD round-trip.

    Two-pass distributed dense-rank, window-free:
      1. range-partition by key + sort WITHIN partitions (disjoint
         ordered ranges, one shuffle + one in-partition sort), stamping
         ``monotonically_increasing_id`` — per task that is
         base + row_index, so (mid − min(mid) per partition) IS the
         local sorted rank;
      2. one tiny per-partition (count, min(mid)) collect → driver-side
         prefix sum → broadcast offsets;
      3. id = (mid − partition base) + prefix offset.

    Correctness does not depend on the (sampled) range boundaries: ids
    equal the global rank because ranges are disjoint and ordered —
    deterministic at any parallelism (the local[8]-vs-local[32]
    id-stability requirement, SURVEY.md §4.3.3). Earlier rounds used a
    ``row_number`` window partitioned by ``spark_partition_id`` for
    step 3, which re-shuffled AND re-sorted the whole dim on
    ``hash(__pid)`` — at 1e9 keys that was a third full pass of string
    bytes through the (bandwidth-bound) exchange for ranks the sorted
    layout already determines. Stays entirely in whole-stage codegen.
    """
    spark = distinct_df.sparkSession
    n_part = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    # localCheckpoint pins the (sampled) range boundaries AND the
    # physical row order, so the stats pass and the id pass see
    # identical mid values
    ranged = (
        distinct_df.repartitionByRange(n_part, F.col(key_col))
        .sortWithinPartitions(key_col)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    stats = {
        r["__pid"]: (r["cnt"], r["base"])
        for r in ranged.groupBy("__pid")
        .agg(F.count("*").alias("cnt"), F.min("__mid").alias("base"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(stats):
        cnt, base = stats[pid]
        offsets[pid] = (acc, base)
        acc += cnt
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o), int(b)) for p, (o, b) in offsets.items()],
            "__pid int, __off long, __base long",
        )
    )
    return (
        ranged.join(off_df, "__pid")
        .withColumn(id_col, F.col("__mid") - F.col("__base") + F.col("__off"))
        .drop("__pid", "__mid", "__off", "__base")
    )
