"""Per-batch embedding trainer (SURVEY.md M2 analogue): the reference
trains an RREA GNN per METIS batch on GPU (`models/rrea/rrea.py:48-180`)
and scores that batch's similarity in the same step
(`run_batched_ea`, `main.py:58-88`). This is the engine's
executor-side counterpart — a deterministic numpy trainer inside
grouped ``applyInPandas``: each batch (bounded by the partition cap,
G4) is one pandas payload, trained and then scored with the kNN cell
kernel (``knn._cell_scorer``) in the same executor task, exactly the
reference's memory contract. The refined embeddings never leave the
task; the stage emits the batch's top-k ``(src, dst, sim)`` rows.

The payload is built by :func:`batch_payload`: the batch layout comes
whole from the placement task (``partition_kg.seed_aware_placement``:
partition, correspondence and triple placement in one task), and one
join on ``(kind, id)`` attaches the name vectors to its entity rows.

The built-in trainer is seed-anchor identity propagation
(:func:`train_embeddings_anchor_np`):
  1. every train pair gets one shared hashed ±1/√d anchor vector;
  2. ``rounds`` sym-normalized propagation layers over each KG's batch
     triples, re-pinning the anchors after every layer;
  3. output = concat(anchor_weight·anchor_space, name_space).

:func:`train_batches` takes the per-batch numpy callable as
``trainer``, so another backbone can be swapped in without touching
the payload or the scoring.

Deterministic: no RNG beyond value hashes, fixed round count, float64.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .knn import _SCHEMA, _cell_scorer
from ..session import session_shuffle_width


def _norm_rows(h: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(h, axis=1, keepdims=True)
    return h / np.maximum(n, 1e-12)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain mixing constants) —
    value-deterministic pseudo-randomness, independent of row order and
    parallelism."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return x ^ (x >> np.uint64(31))


def _anchor_vectors(e1: np.ndarray, e2: np.ndarray, d: int) -> np.ndarray:
    """One near-orthogonal ±1/√d sign vector per seed pair, hashed from
    the GLOBAL pair ids — identical at any parallelism / batch layout."""
    base = (e1.astype(np.uint64) << np.uint64(32)) ^ e2.astype(np.uint64)
    out = np.empty((len(e1), d), dtype=np.float64)
    scale = 1.0 / np.sqrt(d)
    for j in range(d):
        salt = np.uint64((0xA076_1D64_78BD_642F * (j + 1)) & 0xFFFFFFFFFFFFFFFF)
        h = _splitmix64(base ^ salt)
        out[:, j] = np.where((h >> np.uint64(63)).astype(bool), scale, -scale)
    return out


def train_embeddings_anchor_np(
    ids1: np.ndarray, emb1: np.ndarray, ids2: np.ndarray, emb2: np.ndarray,
    triples1: np.ndarray, triples2: np.ndarray, seeds: np.ndarray,
    rounds: int = 6, anchor_weight: float = 0.7,
) -> tuple[np.ndarray, np.ndarray]:
    """Seed-anchor identity propagation — the engine's deterministic
    stand-in for the reference's trained RREA
    (`models/rrea/rrea.py:48-180`), and like RREA it derives the
    structure signal from seeds + topology alone (RREA initializes
    embeddings randomly; names enter only through the name channel):

      1. each train pair gets a shared ±1/√d hash IDENTITY vector
         (the pair's two nodes become the same anchor in both graphs);
      2. sym-normalized propagation for ``rounds`` layers, re-pinning
         anchors each round — every entity is described by its graph
         position relative to the anchors (cf. seed-boosted cliques,
         `partition.py:108-124`, taken to the embedding domain);
      3. output = concat(anchor_weight·anchor_space, name_space) so the
         kNN scores structure and name evidence jointly
         (sim = (w²·sim_anchor + sim_name)/(1+w²)).

    Measured on the 500-entity fixture: anchor-only 0.66 Hits@1 (pure
    structure), concat 0.97.
    Deterministic: anchors are value hashes; edges/seeds are sorted
    before np.add.at so float accumulation order is fixed."""
    n1, n2 = len(ids1), len(ids2)
    d = emb1.shape[1] if n1 else (emb2.shape[1] if n2 else 0)
    if n1 == 0 or n2 == 0 or d == 0:
        return emb1, emb2
    # the two KGs have OVERLAPPING 0-based id spaces (independent dense
    # encodings) — each side needs its own global→local map
    loc1 = {g: i for i, g in enumerate(ids1)}
    loc2 = {g: n1 + i for i, g in enumerate(ids2)}
    name = _norm_rows(np.vstack([emb1, emb2]).astype(np.float64))
    n = n1 + n2

    # per-KG undirected edges in LOCAL index space (no cross edges —
    # anchors already tie the graphs), sorted for deterministic add.at
    es, ed = [], []
    for tri, loc in ((triples1, loc1), (triples2, loc2)):
        for s_, _, t_ in tri:
            if s_ in loc and t_ in loc:
                ls, lt = loc[s_], loc[t_]
                es += [ls, lt]
                ed += [lt, ls]
    sd = np.array(sorted(
        (int(a), int(b)) for a, b in seeds if a in loc1 and b in loc2
    ), dtype=np.int64).reshape(-1, 2)
    h = np.zeros((n, d))
    if len(sd):
        av = _anchor_vectors(sd[:, 0], sd[:, 1], d)
        p1 = np.array([loc1[a] for a in sd[:, 0]], dtype=np.int64)
        p2 = np.array([loc2[b] for b in sd[:, 1]], dtype=np.int64)
        h[p1] = av
        h[p2] = av
    if es:
        e = np.array([es, ed], dtype=np.int64).T
        e = e[np.lexsort((e[:, 1], e[:, 0]))]
        deg = np.bincount(e[:, 0], minlength=n).astype(np.float64)
        w = 1.0 / np.sqrt(np.maximum(deg[e[:, 0]], 1.0) * np.maximum(deg[e[:, 1]], 1.0))
        for _ in range(rounds):
            msg = np.zeros_like(h)
            np.add.at(msg, e[:, 1], h[e[:, 0]] * w[:, None])
            h = h + msg
            if len(sd):
                h[p1] += av
                h[p2] += av
            h = _norm_rows(h)
    out = np.concatenate([anchor_weight * h, name], axis=1)
    return out[:n1], out[n1:]


PAYLOAD_SCHEMA = (
    "batch int, kind string, a long, b long, c long, vec array<double>"
)


def batch_payload(placed: DataFrame, emb1: DataFrame, emb2: DataFrame) -> DataFrame:
    """The grouped trainer's ``PAYLOAD_SCHEMA`` rows: the batch layout of
    ``partition_kg.seed_aware_placement`` (``t1``/``t2``/``seed``/
    ``e1``/``e2`` rows) with each entity row's name vector attached by
    ONE join on ``(kind, id)``. Entities without a vector drop out."""
    nulv = F.lit(None).cast("array<double>")
    vecs = emb1.select(F.lit("e1").alias("kind"), F.col("id").alias("a"), "emb").unionByName(
        emb2.select(F.lit("e2").alias("kind"), F.col("id").alias("a"), "emb"))
    rows = placed.where(F.col("kind").isin("t1", "t2", "seed")).withColumn("vec", nulv)
    ents = placed.where(F.col("kind").isin("e1", "e2")).join(vecs, ["kind", "a"]).select(
        "batch", "kind", "a", "b", "c", F.col("emb").cast("array<double>").alias("vec"))
    return rows.unionByName(ents)


def train_batches(
    payload: DataFrame, k: int, trainer=train_embeddings_anchor_np,
) -> DataFrame:
    """groupBy(batch).applyInPandas over the packed payload → the batch's
    top-``k`` structure sims ``(src, dst, sim)``. One executor task per
    batch trains it and scores its KG1 rows against its KG2 rows (the
    reference's per-batch GPU step, `main.py:58-88`); batch size is
    bounded by the partition cap (G4 memory contract).

    ``trainer`` is called once per batch, executor-side, as
    ``trainer(ids1, emb1, ids2, emb2, triples1, triples2, seeds) ->
    (refined1, refined2)`` on numpy arrays sorted by id. The default is
    :func:`train_embeddings_anchor_np`; another backbone (an
    EAKit/GCN-Align/KGE trainer on a cluster that has torch/TF,
    `models/wrapper.py:11-263`) slots in here."""
    score = _cell_scorer(k, "l2sim")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        def rows(kind):
            return pdf[pdf["kind"] == kind]

        e1r, e2r = rows("e1"), rows("e2")
        ids1 = e1r["a"].to_numpy(dtype=np.int64)
        ids2 = e2r["a"].to_numpy(dtype=np.int64)
        emb1 = np.array(e1r["vec"].tolist(), dtype=np.float64) if len(e1r) else np.zeros((0, 1))
        emb2 = np.array(e2r["vec"].tolist(), dtype=np.float64) if len(e2r) else np.zeros((0, 1))
        t1 = rows("t1")[["a", "b", "c"]].to_numpy(dtype=np.int64) if len(rows("t1")) else np.zeros((0, 3), np.int64)
        t2 = rows("t2")[["a", "b", "c"]].to_numpy(dtype=np.int64) if len(rows("t2")) else np.zeros((0, 3), np.int64)
        sd = rows("seed")[["a", "b"]].to_numpy(dtype=np.int64) if len(rows("seed")) else np.zeros((0, 2), np.int64)
        # deterministic order regardless of shuffle arrival (this also
        # fixes the kernel's argpartition tie order)
        o1, o2 = np.argsort(ids1), np.argsort(ids2)
        ids1, ids2 = ids1[o1], ids2[o2]
        if len(emb1):
            emb1 = emb1[o1]
        if len(emb2):
            emb2 = emb2[o2]
        r1, r2 = trainer(ids1, emb1, ids2, emb2, t1, t2, sd)
        # score through float32, the precision the kNN family ships
        # embeddings at (knn._cast_shuffle_dtype), so these sims equal
        # knn_topk's over the same refined rows. Only this batch's
        # trained copy of a KG2 part shared with another batch is
        # scored, and each src lives in one batch, so the union over
        # batches is already the accumulated sim (A10).
        return score(
            pd.DataFrame({"qid": ids1, "qemb": list(np.asarray(r1, np.float32))}),
            pd.DataFrame({"xid": ids2, "xemb": list(np.asarray(r2, np.float32))}),
        )

    # pinned at the session's shuffle width like the kNN cogroups
    # (knn._cogroup): the payload is small in bytes, so AQE would
    # otherwise coalesce every batch's training and GEMM into one task
    width = session_shuffle_width(payload.sparkSession)
    return (
        payload.repartition(width, F.col("batch")).groupBy("batch")
        .applyInPandas(fn, schema=_SCHEMA)
    )
