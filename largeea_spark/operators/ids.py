"""Deterministic dict-encoding (SURVEY.md A1, S1-S2).

The reference assigns dense int ids in first-seen TSV scan order
(`dataset.py:91-100` via `add_cnt_for`, `utils.py:338-347`) — a side
effect of scan order that is NOT reproducible across parallelism levels.
The engine's deterministic variant: ``row_number() OVER (ORDER BY key)``
(0-based), which yields identical ids at local[8] and local[32] (a
benchmark requirement, SURVEY.md §4.3 / §7.4.3). Parity metrics are all
computed in URI/name space, so the id-value deviation is inert.

Scale note: a global ``row_number`` over one unpartitioned window is a
single-reducer sort. ``assign_dense_ids`` instead range-partitions and
sorts within partitions (fully distributed), and ``row_index`` turns
that ordered layout into dense positions: per-partition counts of the
stamped rows, a driver-side prefix sum, and one array literal indexed
by partition id — the classic distributed dense-id pattern. At 1e9+
keys this is one sort shuffle + one tiny stats collect; the offsets
never leave the JVM as rows, so no Python worker and no join runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import session_shuffle_width


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

    Two-pass distributed dense-rank, window-free and join-free:
      1. range-partition by key + sort WITHIN partitions (disjoint
         ordered ranges, one shuffle + one in-partition sort);
      2. ``row_index`` numbers that layout: partition by partition,
         row by row.

    Correctness does not depend on the (sampled) range boundaries: ids
    equal the global rank because ranges are disjoint and ordered —
    deterministic at any parallelism (the local[8]-vs-local[32]
    id-stability requirement, SURVEY.md §4.3.3). Earlier rounds used a
    ``row_number`` window partitioned by ``spark_partition_id`` for
    the numbering, which re-shuffled AND re-sorted the whole dim on
    ``hash(__pid)`` — at 1e9 keys that was a third full pass of string
    bytes through the (bandwidth-bound) exchange for ranks the sorted
    layout already determines.
    """
    n_part = max(2, session_shuffle_width(distinct_df.sparkSession))
    return row_index(
        distinct_df.repartitionByRange(n_part, F.col(key_col)).sortWithinPartitions(key_col),
        id_col,
    )


def row_index(ordered: DataFrame, id_col: str) -> DataFrame:
    """``ordered`` plus ``id_col``, each row's 0-based position in
    partition order and, within a partition, in row order.

      1. stamp ``spark_partition_id`` and ``monotonically_increasing_id``
         (per task that is base + row_index, so mid − min(mid) of its
         partition IS the row's local position) and pin both with an
         eager ``localCheckpoint``, which also pins a range partition's
         sampled boundaries and the physical row order, so the stats
         pass and the id pass see identical values;
      2. one tiny per-partition (count, min(mid)) collect → driver-side
         prefix sum → per-partition delta = offset − base;
      3. id = mid + delta[pid], the deltas being ONE array literal in
         the plan: no join, no broadcast, no Python-side DataFrame, and
         one short expression string even at thousands of partitions.
    Stays entirely in whole-stage codegen.
    """
    stamped = (
        ordered.withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    stats = {
        r["__pid"]: (r["cnt"], r["base"])
        for r in stamped.groupBy("__pid")
        .agg(F.count("*").alias("cnt"), F.min("__mid").alias("base"))
        .collect()
    }
    # empty partitions keep delta 0: no row reads it
    delta, acc = [0] * (max(stats, default=0) + 1), 0
    for pid in sorted(stats):
        cnt, base = stats[pid]
        delta[pid] = acc - base
        acc += cnt
    lookup = F.expr(
        "element_at(array(" + ", ".join(f"{d}L" for d in delta) + "), __pid + 1)"
    )
    return stamped.withColumn(id_col, F.col("__mid") + lookup).drop("__pid", "__mid")
