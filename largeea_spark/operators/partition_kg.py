"""Seed-aware KG partitioning and batch placement — the scale mechanism
(SURVEY.md §2.9, G1-G8, J2). DataFrame-native replacement for the
reference's METIS min-cut (`partition.py:202-223`), per SURVEY.md
§4.3.1: METIS minimizes edge cut, but the north rule only requires
(a) bounded partitions, (b) train-seed co-location; parity is gated on
final alignment metrics, not partition membership.

Recipe (the reference's ``batch_sampler``, `sampler.py:210-268`:
partition → ``place_triplets`` → batch correspondence, in one process):
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
     exceeds executor memory);
  5. correspondence (G7, `overlaps` + topk `sampler.py:244-268`): each
     KG1 part pairs with its top-``top_k_corr`` KG2 parts by train
     overlap; a KG1 part with no overlap pairs with its own part id;
  6. placement (J2, `place_triplets` `sampler.py:212-227`): keep the
     triples whose endpoints share a part, and lay out each batch's
     triples, seeds and entities.

All six steps run in numpy inside ONE grouped ``applyInPandas`` task
over a packed payload of both KGs (entities with their hash part, raw
triples, train pairs) — see ``_placement_kernel`` for the scale
contract. The Spark job count does not grow with the rounds, the
parts or the batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..sources.kg import KGPair

PLACEMENT_SCHEMA = "batch int, kind string, a long, b long, c long"

_SALT_BASE = 1 << 20  # encoded subpart id: part * _SALT_BASE + salt

_U64 = np.uint64
_P1, _P2, _P3 = _U64(0x9E3779B185EBCA87), _U64(0xC2B2AE3D27D4EB4F), _U64(0x165667B19E3779F9)
_P4, _P5 = _U64(0x85EBCA77C2B2AE63), _U64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _xxhash64_long(x: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of a long column (``XXH64.hashLong``, default
    seed 42) in numpy: int64 in, the same signed int64 as the SQL
    function out."""
    v = np.asarray(x, np.int64).view(_U64)
    with np.errstate(over="ignore"):
        h = np.full(v.shape, _U64((seed + int(_P5) + 8) % (1 << 64)))
        h ^= _rotl(v * _P2, 31) * _P1
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> _U64(33)
        h *= _P2
        h ^= h >> _U64(29)
        h *= _P3
        h ^= h >> _U64(32)
    return h.view(np.int64)


def _lookup(keys: np.ndarray, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Positions of ``x`` in the sorted ``keys`` plus a found mask."""
    if len(keys) == 0:
        return np.zeros(len(x), np.int64), np.zeros(len(x), bool)
    pos = np.minimum(np.searchsorted(keys, x), len(keys) - 1)
    return pos, keys[pos] == x


def _gather(keys: np.ndarray, vals: np.ndarray, x: np.ndarray,
            default) -> tuple[np.ndarray, np.ndarray]:
    """``vals`` at the position of each ``x`` in the sorted ``keys``
    (``default`` where ``x`` is absent) plus the found mask."""
    pos, found = _lookup(keys, x)
    if len(keys) == 0:
        return np.broadcast_to(default, len(x)).astype(vals.dtype), found
    return np.where(found, vals[pos], default), found


def _run_starts(sorted_keys: np.ndarray) -> np.ndarray:
    """Mask of the first row of each run of equal ``sorted_keys``."""
    first = np.ones(len(sorted_keys), bool)
    first[1:] = sorted_keys[1:] != sorted_keys[:-1]
    return first


def _min_per_key(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(distinct sorted keys, min of ``vals`` per key)."""
    o = np.lexsort((vals, keys))
    first = o[_run_starts(keys[o])]
    return keys[first], vals[first]


def _cooccurrence(tri: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """G1/A2: undirected (u, v) edges with multiplicity weights
    (`construct_graph` `partition.py:97-142`, `make_cnt_edges`
    `partition.py:88-94`); self-loops dropped. Weights are integer
    counts, so the label sums below stay exact."""
    u = np.minimum(tri[:, 0], tri[:, 2])
    v = np.maximum(tri[:, 0], tri[:, 2])
    keep = u != v
    edges, w = np.unique(np.stack([u[keep], v[keep]], axis=1), axis=0,
                         return_counts=True)
    return edges.reshape(-1, 2), w.astype(np.float64)


def _propagate_np(ids: np.ndarray, hpart: np.ndarray, edges: np.ndarray,
                  w: np.ndarray, seed_ids: np.ndarray, seed_part: np.ndarray,
                  k: int, n_iter: int) -> np.ndarray:
    """Weighted label propagation over one KG, in numpy.

    ``ids``: sorted entity ids with their hash fallback parts ``hpart``;
    ``edges``: (u, v) rows with weights ``w``; seeds keep their part
    (pinned). Each synchronous round gives every entity the part with
    the highest summed neighbour weight, ties to the smaller part; an
    entity with no labelled neighbour keeps its label. Leftovers take
    ``hpart``. Seeds and edge endpoints that are not entities are
    ignored. Returns the part of each row of ``ids``."""
    lab = np.full(len(ids), -1, np.int64)
    si, found = _lookup(ids, seed_ids)
    lab[si[found]] = seed_part[found]
    pinned = np.zeros(len(ids), bool)
    pinned[si[found]] = True
    ui, uok = _lookup(ids, edges[:, 0])
    vi, vok = _lookup(ids, edges[:, 1])
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
    return np.where(lab >= 0, lab, hpart)


def _salt(part1: np.ndarray, part2: np.ndarray, skey1: np.ndarray,
          skey2: np.ndarray, cap: int) -> tuple[np.ndarray, np.ndarray]:
    """Split any part larger than ``cap`` (on either side) into
    ⌈1.3·max_size/cap⌉ salted subparts ``part*_SALT_BASE +
    pmod(xxhash64(skey), n_sub)``; every part gets the encoding, split
    or not. Salt key = own id for non-seeds, KG1 partner id for KG2
    seeds — train pairs stay co-located."""
    # hash salting balances only in expectation — 1.3× headroom keeps the
    # binomial tail under the cap (≥3σ at realistic sizes)
    u1, c1 = np.unique(part1, return_counts=True)
    u2, c2 = np.unique(part2, return_counts=True)
    parts, inv = np.unique(np.concatenate([u1, u2]), return_inverse=True)
    mx = np.zeros(len(parts), np.int64)
    np.maximum.at(mx, inv, np.concatenate([c1, c2]))
    n_sub = np.where(mx <= cap, 1, np.ceil(1.3 * mx / cap)).astype(np.int64)

    def apply(part, skey):
        n = n_sub[np.searchsorted(parts, part)]
        return (part * _SALT_BASE + _xxhash64_long(skey) % n).astype(np.int32)

    return apply(part1, skey1), apply(part2, skey2)


def _placement_kernel(k: int, n_iter: int, cap: int | None, top_k_corr: int):
    """Partition, correspondence and placement of both KGs as one pandas
    function over the packed ``(g, kind, a, b, c)`` payload: ``seed``
    (e1, e2), ``ent1``/``ent2`` (id, hash part), ``tri1``/``tri2``
    (src, rel, dst). Emits ``PLACEMENT_SCHEMA`` rows:

      part1/part2  (part, id)            every entity's final part
      corr         (p1, p2)              batch p1 pairs with KG2 part p2
      t1 / t2      (batch, src, rel, dst) co-partitioned triples
      seed         (batch, e1, e2)       train pairs, batch = e1's part
      e1 / e2      (batch, id)           the batch's entities

    Scale contract: the task holds O(|V|+|T|) of both KGs — the
    footprint of label propagation itself, and of the reference's
    single-process ``batch_sampler`` and METIS call; its output is the
    triples and entities once, plus KG2 rows repeated once per extra
    corresponding KG1 part (``top_k_corr``). Per-batch memory is still
    bounded by the partition cap downstream (G4)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        def cols(kind, *names):
            sub = pdf[pdf["kind"] == kind]
            return [sub[c].to_numpy(dtype=np.int64) for c in names]

        tr1, tr2 = cols("seed", "a", "b")
        ids, hpart, tri, part = {}, {}, {}, {}
        for s in (1, 2):
            i, h = cols(f"ent{s}", "a", "b")
            o = np.argsort(i, kind="stable")
            ids[s], hpart[s] = i[o], h[o]
            tri[s] = np.stack(cols(f"tri{s}", "a", "b", "c"), axis=1).reshape(-1, 3)

        def part_of(s, x):
            return _gather(ids[s], part[s], x, 0)

        # label propagation: KG1 seeds are the distinct train e1 in id
        # order, part = (rank + 1) % k
        s1 = np.unique(tr1)
        part[1] = _propagate_np(ids[1], hpart[1], *_cooccurrence(tri[1]),
                                s1, (np.arange(len(s1)) + 1) % k, k, n_iter)
        # KG2 seeds inherit their KG1 partner's part; an e2 linked to
        # several e1s keeps the smallest (determinism)
        q1, f1 = part_of(1, tr1)
        part[2] = _propagate_np(ids[2], hpart[2], *_cooccurrence(tri[2]),
                                *_min_per_key(tr2[f1], q1[f1]), k, n_iter)
        if cap is not None:
            # KG2 salt key: the smallest train partner e1, else own id
            ke2, ke1 = _min_per_key(tr2, tr1)
            part[1], part[2] = _salt(part[1], part[2], ids[1],
                                     _gather(ke2, ke1, ids[2], ids[2])[0], cap)
            q1, f1 = part_of(1, tr1)

        # correspondence: top-k KG2 parts per KG1 part by train overlap,
        # ties to the smaller p2
        q2, f2 = part_of(2, tr2)
        both = f1 & f2
        pairs, overlap = np.unique(np.stack([q1[both], q2[both]], axis=1),
                                   axis=0, return_counts=True)
        pairs = pairs.reshape(-1, 2)
        o = np.lexsort((pairs[:, 1], -overlap, pairs[:, 0]))
        starts = np.flatnonzero(_run_starts(pairs[o, 0]))
        rank = np.arange(len(o)) - np.repeat(starts, np.diff(np.append(starts, len(o))))
        corr = pairs[o[rank < top_k_corr]]
        # KG1 parts with no train overlap pair with their own part id
        lonely = np.setdiff1d(np.unique(part[1]), corr[:, 0])
        corr = np.concatenate([corr, np.stack([lonely, lonely], axis=1)])
        corr = corr[np.lexsort((corr[:, 1], corr[:, 0]))]

        # J2: a triple is placed when both endpoints share a part
        placed = {}
        for s in (1, 2):
            ph, fh = part_of(s, tri[s][:, 0])
            pt, ft = part_of(s, tri[s][:, 2])
            keep = fh & ft & (ph == pt)
            placed[s] = (ph[keep], tri[s][keep])

        out = []

        def emit(kind, batch, a, b=None, c=None):
            n = len(a)
            null = pd.arrays.IntegerArray(np.zeros(n, np.int64), np.ones(n, bool))
            out.append(pd.DataFrame({
                "batch": np.asarray(batch, np.int32), "kind": [kind] * n, "a": a,
                "b": null if b is None else b, "c": null if c is None else c,
            }))

        for s in (1, 2):
            emit(f"part{s}", part[s], ids[s])
        emit("corr", corr[:, 0], corr[:, 1])
        # every KG1 part is a batch: KG1 rows are laid out once
        emit("e1", part[1], ids[1])
        emit("seed", q1[f1], tr1[f1], tr2[f1])
        emit("t1", placed[1][0], *placed[1][1].T)
        # KG2 rows go to every batch whose corr row names their part
        o2 = np.argsort(part[2], kind="stable")
        ot = np.argsort(placed[2][0], kind="stable")
        for p1, p2 in corr:
            lo, hi = np.searchsorted(part[2][o2], [p2, p2 + 1])
            emit("e2", np.full(hi - lo, p1), ids[2][o2[lo:hi]])
            lo, hi = np.searchsorted(placed[2][0][ot], [p2, p2 + 1])
            emit("t2", np.full(hi - lo, p1), *placed[2][1][ot[lo:hi]].T)
        return pd.concat(out, ignore_index=True)

    return fn


def seed_aware_placement(
    pair: KGPair, k: int, n_iter: int = 3, cap: int | None = None,
    top_k_corr: int = 1,
) -> DataFrame:
    """Partition both KGs, pick the batch correspondence and place the
    triples in ONE executor task (``_placement_kernel``); returns its
    ``PLACEMENT_SCHEMA`` rows, checkpointed: the output is read by the
    batch payload and by the partition and correspondence slices
    (``placement_parts``, the structure channel's stats), so the task
    runs once however many of them are used.

    ``top_k_corr``: each KG1 part's batch unions its top-k
    corresponding KG2 parts (`top_k_corr=5`, `sampler.py:211,248-262`)
    — the recall mechanism that keeps counterparts scoreable when
    partitioning separates them."""
    train = pair.links.where(F.col("split") == "train")
    null = F.lit(None).cast("long")

    def pack(kind, a, b=null, c=null):
        return (F.lit(0).alias("g"), F.lit(kind).alias("kind"),
                a.cast("long").alias("a"), b.cast("long").alias("b"),
                c.cast("long").alias("c"))

    rows = [train.select(*pack("seed", F.col("e1"), F.col("e2")))]
    for side, kg in ((1, pair.kg1), (2, pair.kg2)):
        rows.append(kg.ent.select(*pack(
            f"ent{side}", F.col("id"), F.pmod(F.xxhash64("id"), F.lit(k)))))
        rows.append(kg.triples.select(*pack(
            f"tri{side}", F.col("src"), F.col("rel"), F.col("dst"))))
    payload = rows[0]
    for r in rows[1:]:
        payload = payload.unionByName(r)
    return (
        payload.groupBy("g")
        .applyInPandas(_placement_kernel(k, n_iter, cap, top_k_corr),
                       schema=PLACEMENT_SCHEMA)
        .localCheckpoint(eager=False)
    )


def placement_parts(placed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(parts1, parts2): DataFrame(id, part int) per KG from the
    placement rows of ``seed_aware_placement``.

    Invariants (tested): every entity in exactly one part; every train
    pair co-located (same part id in both outputs); with the placement's
    ``cap``, no part larger than cap (salted subparts encoded as
    part*SALT+j)."""
    return tuple(
        placed.where(F.col("kind") == f"part{s}")
        .select(F.col("a").alias("id"), F.col("batch").alias("part"))
        for s in (1, 2)
    )


def random_partition(
    pair: KGPair, k: int, seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """G5 (`random_partition`, `partition.py:226-247` / `sampler.py:235`):
    the quality baseline — KG1 entities hashed uniformly into k parts
    (value-deterministic: xxhash64(id, seed), not rand()); KG2 train
    counterparts inherit their partner's part (the same hard train
    co-location invariant as the seed-aware path, so G8 comparisons
    isolate the effect of structure-aware placement), all other KG2
    entities hashed. Same output contract as ``placement_parts``."""
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
