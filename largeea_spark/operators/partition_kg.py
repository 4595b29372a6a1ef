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
     label propagation for a few synchronous rounds, seeds pinned —
     the analogue of METIS's seed-boosted cliques (G2,
     known_weight=1000 `partition.py:108-124`);
  3. KG2: train counterparts INHERIT their KG1 partner's label
     (hard co-location, stronger than the reference's weight boost),
     then propagate;
  4. skew control: parts exceeding ``cap`` are salted into subparts;
     the salt key for a seed entity is its KG1 partner id on BOTH
     sides, so train pairs stay co-located (north rule: no partition
     exceeds executor memory).

Steps 2-3 run in numpy inside ONE grouped ``applyInPandas`` task over
a packed payload of both KGs (entities, edges, train pairs): O(|V|+|E|)
memory per KG in one task, the footprint METIS has in the reference's
single process; the Spark job count does not grow with the rounds.
Step 4 stays a DataFrame step.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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


LP_SCHEMA = "side int, id long, part int"


def _lookup(keys: np.ndarray, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Positions of ``x`` in the sorted ``keys`` plus a found mask."""
    if len(keys) == 0:
        return np.zeros(len(x), np.int64), np.zeros(len(x), bool)
    pos = np.minimum(np.searchsorted(keys, x), len(keys) - 1)
    return pos, keys[pos] == x


def _run_starts(sorted_keys: np.ndarray) -> np.ndarray:
    """Mask of the first row of each run of equal ``sorted_keys``."""
    first = np.ones(len(sorted_keys), bool)
    first[1:] = sorted_keys[1:] != sorted_keys[:-1]
    return first


def _propagate_np(ids: np.ndarray, hpart: np.ndarray, edges: np.ndarray,
                  w: np.ndarray, seed_ids: np.ndarray, seed_part: np.ndarray,
                  k: int, n_iter: int) -> np.ndarray:
    """Weighted label propagation over one KG, in numpy.

    ``ids``: entity ids with their hash fallback parts ``hpart``;
    ``edges``: (u, v) rows with weights ``w``; seeds keep their part
    (pinned). Each synchronous round gives every entity the part with
    the highest summed neighbour weight, ties to the smaller part; an
    entity with no labelled neighbour keeps its label. Leftovers take
    ``hpart``. Seeds and edge endpoints that are not entities are
    ignored. Returns the part of each row of ``ids``."""
    order = np.argsort(ids, kind="stable")
    uniq = ids[order]
    lab = np.full(len(uniq), -1, np.int64)
    si, found = _lookup(uniq, seed_ids)
    lab[si[found]] = seed_part[found]
    pinned = np.zeros(len(uniq), bool)
    pinned[si[found]] = True
    ui, uok = _lookup(uniq, edges[:, 0])
    vi, vok = _lookup(uniq, edges[:, 1])
    keep = uok & vok
    node = np.concatenate([ui[keep], vi[keep]])
    nb = np.concatenate([vi[keep], ui[keep]])
    nw = np.concatenate([w[keep], w[keep]])
    for _ in range(n_iter):
        nl = lab[nb]
        m = nl >= 0
        keys, inv = np.unique(node[m] * k + nl[m], return_inverse=True)
        score = np.bincount(inv, weights=nw[m], minlength=len(keys))
        who, part = keys // k, keys % k
        o = np.lexsort((part, -score, who))
        best = o[_run_starts(who[o])]
        new = lab.copy()
        new[who[best]] = part[best]
        new[pinned] = lab[pinned]
        lab = new
    out = np.empty(len(ids), np.int64)
    out[order] = lab
    return np.where(out >= 0, out, hpart)


def _lp_kernel(k: int, n_iter: int):
    """Both KGs' label propagation as one pandas function over the packed
    (side, kind, a, b, w, h) payload; see ``seed_aware_partition``."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        def rows(kind, side=0):
            return pdf[(pdf["kind"] == kind) & (pdf["side"] == side)]

        def arr(df, col, dtype=np.int64):
            return df[col].to_numpy(dtype=dtype)

        train = rows("seed")
        tr1, tr2 = arr(train, "a"), arr(train, "b")
        out = []
        # KG1 seeds: distinct train e1 in id order, part = (rank + 1) % k
        s1 = np.unique(tr1)
        seed_ids, seed_part = s1, (np.arange(len(s1)) + 1) % k
        for side in (1, 2):
            ent, edge = rows("ent", side), rows("edge", side)
            ids = arr(ent, "a")
            part = _propagate_np(
                ids, arr(ent, "h"), edge[["a", "b"]].to_numpy(dtype=np.int64),
                arr(edge, "w", np.float64), seed_ids, seed_part, k, n_iter,
            )
            out.append(pd.DataFrame({"side": np.full(len(ids), side, np.int32),
                                     "id": ids, "part": part.astype(np.int32)}))
            if side == 1:
                # KG2 seeds inherit their KG1 partner's part; an e2 linked
                # to several e1s keeps the smallest (determinism)
                o = np.argsort(ids, kind="stable")
                pos, found = _lookup(ids[o], tr1)
                e2, p2 = tr2[found], part[o][pos[found]]
                o2 = np.lexsort((p2, e2))
                first = o2[_run_starts(e2[o2])]
                seed_ids, seed_part = e2[first], p2[first]
        return pd.concat(out, ignore_index=True)

    return fn


def seed_aware_partition(
    pair: KGPair, k: int, n_iter: int = 3, cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (parts1, parts2): DataFrame(id, part int) per KG.

    Invariants (tested): every entity in exactly one part; every train
    pair co-located (same part id in both outputs); with ``cap``, no
    part larger than cap (salted subparts encoded as part*SALT+j)."""
    train = pair.links.where(F.col("split") == "train").select("e1", "e2")
    zero = F.lit(0).cast("long")

    def pack(side, kind, a, b, w, h):
        return (F.lit(0).alias("g"), F.lit(side).alias("side"),
                F.lit(kind).alias("kind"), a.cast("long").alias("a"),
                b.cast("long").alias("b"), w.cast("double").alias("w"),
                h.cast("int").alias("h"))

    # one payload: entities with their hash fallback part, co-occurrence
    # edges, train pairs; label propagation runs as ONE executor task
    rows = [train.select(*pack(0, "seed", F.col("e1"), F.col("e2"), F.lit(0.0), zero))]
    for side, kg in ((1, pair.kg1), (2, pair.kg2)):
        rows.append(kg.ent.select(*pack(
            side, "ent", F.col("id"), zero, F.lit(0.0),
            F.pmod(F.xxhash64("id"), F.lit(k)),
        )))
        rows.append(cooccurrence_graph(kg.triples).select(*pack(
            side, "edge", F.col("u"), F.col("v"), F.col("w"), zero,
        )))
    payload = rows[0]
    for r in rows[1:]:
        payload = payload.unionByName(r)
    labels = (
        payload.groupBy("g").applyInPandas(_lp_kernel(k, n_iter), schema=LP_SCHEMA)
        .localCheckpoint(eager=True)
    )
    labels1 = labels.where(F.col("side") == 1).select("id", "part")
    labels2 = labels.where(F.col("side") == 2).select("id", "part")

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


def place_triples(triples: DataFrame, parts: DataFrame) -> DataFrame:
    """J2 (`place_triplets` `sampler.py:212-227`): join head and tail to
    the assignment and keep only co-partitioned triples
    ``(src, rel, dst, part)``. Lazy: the batch payload consumes it once,
    and, with every entity assigned a part, the dropped count is
    ``triples.count() - kept.count()``."""
    ph = parts.select(F.col("id").alias("src"), F.col("part").alias("p_h"))
    pt = parts.select(F.col("id").alias("dst"), F.col("part").alias("p_t"))
    return (
        triples.join(ph, "src").join(pt, "dst")
        .where(F.col("p_h") == F.col("p_t"))
        .select("src", "rel", "dst", F.col("p_h").alias("part"))
    )


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
