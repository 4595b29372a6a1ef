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


def encode_column(
    df: DataFrame, dim: DataFrame, key_col: str, out_col: str, dim_key: str | None = None,
    broadcast_dim: bool = False, via_hash: bool = False, _hash_fn=None,
) -> DataFrame:
    """Replace a string key column with its dense id via an equi-join.

    Reference analogue: the dict lookup inside `dataset.py:92-99`.
    ``broadcast_dim=True`` for small dims (rel vocabularies);
    entity dims at 1e9 rows stay sort-merge (AQE handles skew).

    ``via_hash=True`` joins on ``xxhash64(key)`` instead of the key
    string, REQUIRING every fact key to be present in the dim (true by
    construction in dict-encode flows: the dim is built from these very
    facts). The fact side then shuffles an 8-byte long where a
    sort-merge join on URI strings would shuffle-and-sort ~40-80 bytes
    per key — at 1e9 triples that is the dominant exchange of the
    construct phase, and the SMJ comparator becomes a long compare.
    Dim keys whose hash collides (detected by one tiny agg over the
    dim; ~n²/2⁶⁵ expected, i.e. none below ~10⁹ keys) fall back to the
    exact string join, unioned in — correctness never rides on hash
    uniqueness.
    """
    dkey = dim_key or key_col
    if not via_hash:
        d = dim.select(F.col(dkey).alias("__k"), F.col("id").alias(out_col))
        if broadcast_dim:
            d = F.broadcast(d)
        return (
            df.join(d, df[key_col] == d["__k"], "inner")
            .drop("__k", key_col)
        )
    hash_fn = _hash_fn or F.xxhash64
    dim_h = dim.select(
        hash_fn(dkey).alias("__h"), F.col(dkey).alias("__k"),
        F.col("id").alias(out_col),
    )
    colliding = [
        r["__h"]
        for r in dim_h.groupBy("__h").agg(F.count("*").alias("c"))
        .where(F.col("c") > 1).select("__h").collect()
    ]
    fact = df.withColumn("__h", hash_fn(key_col))
    if broadcast_dim:
        dim_h = F.broadcast(dim_h)
    if not colliding:
        return (
            fact.drop(key_col)
            .join(dim_h.drop("__k"), "__h")
            .drop("__h")
        )
    clean = (
        fact.where(~F.col("__h").isin(colliding)).drop(key_col)
        .join(dim_h.where(~F.col("__h").isin(colliding)).drop("__k"), "__h")
        .drop("__h")
    )
    dirty_dim = dim_h.where(F.col("__h").isin(colliding)).drop("__h")
    dirty = (
        fact.where(F.col("__h").isin(colliding)).drop("__h")
        .join(dirty_dim, F.col(key_col) == F.col("__k"), "inner")
        .drop("__k", key_col)
    )
    return clean.unionByName(dirty)

