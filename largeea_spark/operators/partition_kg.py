"""Seed-aware KG partitioning — the scale mechanism (SURVEY.md §2.9,
G1-G8). DataFrame-native replacement for the reference's METIS min-cut
(`partition.py:202-223`), per SURVEY.md §4.3.1: METIS minimizes edge
cut, but the north rule only requires (a) bounded partitions,
(b) train-seed co-location; parity is gated on final alignment metrics,
not partition membership.

Recipe:
  1. co-occurrence graph from triples with multiplicity weights
     (G1/A2, `partition.py:88-142`);
  2. seeds of KG1 get initial labels spread over k parts; weighted
     label propagation for a few rounds (iterative groupBy-argmax
     DataFrame loop, ◆), seeds pinned — the analogue of METIS's
     seed-boosted cliques (G2, known_weight=1000 `partition.py:108-124`);
  3. KG2: train counterparts INHERIT their KG1 partner's label
     (hard co-location, stronger than the reference's weight boost),
     then propagate;
  4. skew control: parts exceeding ``cap`` are salted into subparts;
     the salt key for a seed entity is its KG1 partner id on BOTH
     sides, so train pairs stay co-located (north rule: no partition
     exceeds executor memory).

Each iteration localCheckpoints to truncate lineage (SURVEY.md §4.3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sources.kg import KGPair


def cooccurrence_graph(triples: DataFrame) -> DataFrame:
    """G1/A2: undirected (u, v, weight=multiplicity) edge list
    (`construct_graph` `partition.py:97-142`, `make_cnt_edges`
    `partition.py:88-94`)."""
    e = triples.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    return e.groupBy("u", "v").agg(F.count("*").cast("double").alias("w"))


def _propagate(labels: DataFrame, edges: DataFrame, pinned: DataFrame,
               n_iter: int) -> DataFrame:
    """Weighted label propagation. labels: (id, part nullable);
    pinned: (id) whose labels never change."""
    nbrs = edges.select(F.col("u").alias("id"), F.col("v").alias("nb"), "w").unionAll(
        edges.select(F.col("v").alias("id"), F.col("u").alias("nb"), "w")
    )
    for _ in range(n_iter):
        nb_lab = (
            nbrs.join(labels.select(F.col("id").alias("nb"), "part"), "nb")
            .where(F.col("part").isNotNull())
            .groupBy("id", "part")
            .agg(F.sum("w").alias("score"))
        )
        # deterministic argmax: max (score, -part)
        best = nb_lab.groupBy("id").agg(
            F.max_by("part", F.struct(F.col("score"), (-F.col("part")).alias("np"))).alias("new_part")
        )
        labels = (
            labels.join(best, "id", "left")
            .join(pinned.select("id").withColumn("__pin", F.lit(1)), "id", "left")
            .withColumn(
                "part",
                F.when(F.col("__pin") == 1, F.col("part")).otherwise(
                    F.coalesce("new_part", "part")
                ),
            )
            .select("id", "part")
            .localCheckpoint(eager=True)
        )
    return labels


def seed_aware_partition(
    pair: KGPair, k: int, n_iter: int = 3, cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (parts1, parts2): DataFrame(id, part int) per KG.

    Invariants (tested): every entity in exactly one part; every train
    pair co-located (same part id in both outputs); with ``cap``, no
    part larger than cap (salted subparts encoded as part*SALT+j)."""
    train = pair.links.where(F.col("split") == "train").select("e1", "e2")
    g1 = cooccurrence_graph(pair.kg1.triples)
    g2 = cooccurrence_graph(pair.kg2.triples)

    # 1. KG1 seeds: deterministic spread over k parts by dense seed rank
    # (distributed dense-rank — no single-reducer global window; DBP1M
    # has ~200k distinct seeds and this stays fully parallel)
    from .ids import assign_dense_ids

    seed1 = assign_dense_ids(
        train.select("e1").distinct(), "e1", id_col="__rank"
    ).select(
        # +1 keeps the original 1-based row_number() % k assignment, so
        # partition labels (and every downstream number) are unchanged
        "e1", (F.pmod(F.col("__rank") + 1, F.lit(k))).cast("int").alias("part")
    )
    ents1 = pair.kg1.ent.select("id")
    labels1 = ents1.join(seed1.select(F.col("e1").alias("id"), "part"), "id", "left")
    labels1 = _propagate(labels1, g1, seed1.select(F.col("e1").alias("id")), n_iter)
    # unlabeled leftovers → deterministic hash part
    labels1 = labels1.withColumn(
        "part",
        F.coalesce("part", F.pmod(F.xxhash64("id"), F.lit(k)).cast("int")),
    )

    # 2. KG2: inherit partner labels (hard co-location), then propagate
    part_of_e1 = labels1.select(F.col("id").alias("e1"), F.col("part"))
    seed2 = train.join(part_of_e1, "e1").select(F.col("e2").alias("id"), "part").distinct()
    # an e2 linked to several e1s keeps the smallest part (determinism)
    seed2 = seed2.groupBy("id").agg(F.min("part").alias("part"))
    ents2 = pair.kg2.ent.select("id")
    labels2 = ents2.join(seed2, "id", "left")
    labels2 = _propagate(labels2, g2, seed2.select("id"), n_iter)
    labels2 = labels2.withColumn(
        "part",
        F.coalesce("part", F.pmod(F.xxhash64("id"), F.lit(k)).cast("int")),
    )

    if cap is not None:
        labels1, labels2 = _salt_oversized(labels1, labels2, train, cap)
    return labels1, labels2


def random_partition(
    pair: KGPair, k: int, seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """G5 (`random_partition`, `partition.py:226-247` / `sampler.py:235`):
    the quality baseline — KG1 entities hashed uniformly into k parts
    (value-deterministic: xxhash64(id, seed), not rand()); KG2 train
    counterparts inherit their partner's part (the same hard train
    co-location invariant as the seed-aware path, so G8 comparisons
    isolate the effect of structure-aware placement), all other KG2
    entities hashed. Same output contract as ``seed_aware_partition``."""
    train = pair.links.where(F.col("split") == "train").select("e1", "e2")
    part_of = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(k)).cast("int")
    parts1 = pair.kg1.ent.select("id").withColumn("part", part_of)
    inherit = (
        train.join(parts1.select(F.col("id").alias("e1"), "part"), "e1")
        .groupBy("e2").agg(F.min("part").alias("part"))
        .select(F.col("e2").alias("id"), "part")
    )
    parts2 = (
        pair.kg2.ent.select("id")
        .join(inherit, "id", "left")
        .withColumn("part", F.coalesce("part", part_of))
    )
    return parts1, parts2


_SALT_BASE = 1 << 20  # encoded subpart id: part * _SALT_BASE + salt


def _salt_oversized(labels1: DataFrame, labels2: DataFrame, train: DataFrame,
                    cap: int) -> tuple[DataFrame, DataFrame]:
    """Split any part larger than ``cap`` (on either side) into
    ⌈max_size/cap⌉ salted subparts. Salt key = own id for non-seeds,
    KG1 partner id for KG2 seeds — train pairs stay co-located."""
    # hash salting balances only in expectation — 1.3× headroom keeps the
    # binomial tail under the cap (≥3σ at realistic sizes)
    sizes = (
        labels1.groupBy("part").count()
        .unionByName(labels2.groupBy("part").count())
        .groupBy("part").agg(F.max("count").alias("mx"))
        .withColumn(
            "n_sub",
            F.when(F.col("mx") <= cap, F.lit(1)).otherwise(
                F.ceil(F.lit(1.3) * F.col("mx") / cap).cast("int")
            ),
        )
        .select("part", "n_sub")
    )

    def apply_salt(labels: DataFrame, salt_key: DataFrame | None) -> DataFrame:
        lab = labels.join(F.broadcast(sizes), "part", "left").withColumn(
            "n_sub", F.coalesce("n_sub", F.lit(1))
        )
        if salt_key is not None:
            lab = lab.join(salt_key, "id", "left").withColumn(
                "skey", F.coalesce("skey", F.col("id"))
            )
        else:
            lab = lab.withColumn("skey", F.col("id"))
        return lab.select(
            "id",
            (
                F.col("part") * _SALT_BASE
                + F.pmod(F.xxhash64("skey"), F.col("n_sub")).cast("int")
            ).cast("int").alias("part"),
        )

    key2 = train.select(F.col("e2").alias("id"), F.col("e1").alias("skey")).groupBy(
        "id"
    ).agg(F.min("skey").alias("skey"))
    return apply_salt(labels1, None), apply_salt(labels2, key2)


def share_triples(pair: KGPair) -> tuple[DataFrame, DataFrame]:
    """J4 (`share_triplets` `partition.py:160-172`; also
    `models/wrapper.py:142-151`): triples whose head AND tail are both
    train-linked get copied into the OTHER KG with counterpart ids,
    deduplicated. Returns (triples1+, triples2+).

    Spark shape: triples ⋈ links(on src) ⋈ links(on dst) → remap →
    unionByName → dropDuplicates. Both joins are on entity id; the links
    side is the small one → broadcast."""
    train = pair.links.where(F.col("split") == "train").select("e1", "e2")
    b = F.broadcast

    def shared(triples: DataFrame, from_col: str, to_col: str) -> DataFrame:
        mh = b(train.select(F.col(from_col).alias("src"), F.col(to_col).alias("new_src")))
        mt = b(train.select(F.col(from_col).alias("dst"), F.col(to_col).alias("new_dst")))
        return (
            triples.join(mh, "src").join(mt, "dst")
            .select(F.col("new_src").alias("src"), "rel", F.col("new_dst").alias("dst"))
        )

    t1_plus = pair.kg1.triples.unionByName(
        shared(pair.kg2.triples, "e2", "e1")
    ).dropDuplicates()
    t2_plus = pair.kg2.triples.unionByName(
        shared(pair.kg1.triples, "e1", "e2")
    ).dropDuplicates()
    return t1_plus, t2_plus


def place_triples(triples: DataFrame, parts: DataFrame) -> tuple[DataFrame, int]:
    """J2 (`place_triplets` `sampler.py:212-227`): join head and tail to
    the assignment, keep only co-partitioned triples, count the drops."""
    ph = parts.select(F.col("id").alias("src"), F.col("part").alias("p_h"))
    pt = parts.select(F.col("id").alias("dst"), F.col("part").alias("p_t"))
    # materialize the double join ONCE; total + co-partitioned counts in
    # one aggregation pass (was: two .count() jobs re-running the join,
    # plus a third execution when the caller consumed `kept`)
    placed = triples.join(ph, "src").join(pt, "dst").localCheckpoint(eager=True)
    row = placed.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum((F.col("p_h") == F.col("p_t")).cast("long")), F.lit(0)
        ).alias("k"),
    ).first()
    kept = placed.where(F.col("p_h") == F.col("p_t")).select(
        "src", "rel", "dst", F.col("p_h").alias("part")
    )
    return kept, int(row["n"]) - int(row["k"])


def correspondence(links: DataFrame, parts1: DataFrame, parts2: DataFrame,
                   top_k: int = 1) -> DataFrame:
    """G7 (`overlaps` + topk, `sampler.py:244-268`): for each KG1 part,
    the top-k KG2 parts by train-counterpart containment."""
    train = links.where(F.col("split") == "train")
    j = (
        train.join(parts1.select(F.col("id").alias("e1"), F.col("part").alias("p1")), "e1")
        .join(parts2.select(F.col("id").alias("e2"), F.col("part").alias("p2")), "e2")
        .groupBy("p1", "p2").agg(F.count("*").alias("overlap"))
    )
    w = Window.partitionBy("p1").orderBy(F.col("overlap").desc(), F.col("p2").asc())
    return j.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= top_k).drop("rk")


def partition_stats(parts: DataFrame) -> dict:
    """G8/A11 (`partition.py:250-269`): size distribution."""
    row = (
        parts.groupBy("part").count()
        .agg(
            F.count("*").alias("n_parts"),
            F.min("count").alias("min_size"),
            F.max("count").alias("max_size"),
            F.avg("count").alias("avg_size"),
            F.stddev_pop("count").alias("std_size"),
        )
        .first()
    )
    return {k: (float(v) if v is not None else None) for k, v in row.asDict().items()}
