"""L5 — low-rank truncated factorization of a huge sparse sim product
(`approximate_sim`, `text_sim.py:77-108`): the reference replaces an
out-of-memory spspmm chain with ``torch.svd_lowrank`` + batched dense
reconstruct + top-k. The Spark-native counterpart is a DISTRIBUTED
randomized range finder (Halko/Martinsson/Tropp 2011, public algorithm):

  1. Ω: one value-hashed ±1/√r sign vector per column id (deterministic,
     no driver-side random matrix shipping);
  2. Y = M·Ω, then ``n_iter`` power iterations Y ← M·(Mᵀ·(orth(Y)))
     — every matmul is a long-format join + per-dimension sum
     aggregation (the propagate_embeddings shape: |nnz| rows shuffled,
     map-side combined);
  3. orthonormalization via the Gram trick: G = YᵀY is r×r, assembled
     from per-partition partial Grams (one mapInPandas + driver sum —
     only r² doubles ever leave the cluster), eigh on the driver,
     rank-deficient directions dropped (CholeskyQR would fail when
     rank(M) < r);
  4. B = Mᵀ·Q, and the top-k of the reconstruction Q·Bᵀ per row is a
     rank-space DOT-product kNN — the already-distributed blocked GEMM
     (`knn.knn_topk(metric='dot')`), never materializing n×m.

When rank ≥ rank(M) the reconstruction is exact and the top-k equals
the exact top-k (unit-tested); below that it degrades gracefully like
the reference's truncated SVD.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .simops import DST, SIM, SRC


def _sign_vectors(df: DataFrame, id_col: str, r: int, seed: int) -> DataFrame:
    """(id, vec array<double>): value-hashed ±1/√r sign vector per id —
    deterministic at any parallelism (same splitmix64 trick as the
    trainer's anchors)."""
    scale = 1.0 / float(np.sqrt(r))
    cols = []
    for j in range(r):
        h = F.xxhash64(F.col(id_col), F.lit(seed), F.lit(j))
        cols.append(F.when(h >= 0, F.lit(scale)).otherwise(F.lit(-scale)))
    return df.select(F.col(id_col).alias("vid"), F.array(*cols).alias("vec"))


def _ir_matmul(ir: DataFrame, vecs: DataFrame, key_in: str, key_out: str,
               width: int) -> DataFrame:
    """Long-format sparse × dense: rows (key_out, array<double>[width])
    of Σ_{key_in} sim · vec. One join + one per-dimension aggregation
    (|nnz| rows through the shuffle, map-side combined)."""
    joined = ir.join(vecs, ir[key_in] == vecs["vid"]).select(
        F.col(key_out).alias("kid"), F.col(SIM).alias("s"), "vec"
    )
    agg = joined.groupBy("kid").agg(*[
        F.sum(F.col("s") * F.element_at("vec", j + 1)).alias(f"m{j}")
        for j in range(width)
    ])
    return agg.select(
        F.col("kid").alias("vid"),
        F.array(*[F.col(f"m{j}") for j in range(width)]).alias("vec"),
    )


def _gram(vecs: DataFrame, width: int) -> np.ndarray:
    """G = YᵀY (width×width) from per-partition partial Grams — only
    r² doubles per partition reach the driver."""

    def partial(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            y = np.array(pdf["vec"].tolist(), dtype=np.float64)
            yield pd.DataFrame({"g": [(y.T @ y).ravel().tolist()]})

    parts = vecs.mapInPandas(partial, schema="g array<double>").collect()
    g = np.zeros(width * width)
    for row in parts:
        g += np.array(row["g"])
    return g.reshape(width, width)


def _orthonormalize(vecs: DataFrame, width: int) -> tuple[DataFrame, int]:
    """Q = Y · V diag(1/√λ) from the eigh of the r×r Gram; directions
    with negligible eigenvalue are dropped (rank deficiency). Returns
    (Q rows, new width)."""
    g = _gram(vecs, width)
    w, v = np.linalg.eigh(g)
    mx = float(w.max()) if len(w) else 0.0
    keep = w > max(mx * 1e-10, 1e-300)
    t = v[:, keep] / np.sqrt(w[keep])  # width × width'
    new_w = int(t.shape[1])

    # dense r×r' projection as an Arrow matmul — a width² expression
    # tree would blow past whole-stage codegen limits at r=64+
    def project(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            y = np.array(pdf["vec"].tolist(), dtype=np.float64)
            q_ = y @ t
            yield pd.DataFrame({"vid": pdf["vid"],
                                "vec": [row.tolist() for row in q_]})

    q = vecs.mapInPandas(project, schema="vid long, vec array<double>")
    return q, new_w


def low_rank_sim_topk(
    sim_ir: DataFrame, rank: int = 64, n_iter: int = 2, k: int = 50,
    seed: int = 11,
) -> DataFrame:
    """Top-k per src of the rank-``rank`` reconstruction of the sparse
    sim matrix (src, dst, sim) — the L5 memory-safe path for sim
    products too large to top-k directly. Returns (src, dst, sim IR)
    with sim = the reconstructed (approximate) value."""
    ir = sim_ir.select(SRC, DST, SIM).localCheckpoint(eager=True)
    if ir.isEmpty():
        return ir
    omega = _sign_vectors(ir.select(DST).distinct(), DST, rank, seed)
    y = _ir_matmul(ir, omega, DST, SRC, rank).localCheckpoint(eager=True)
    width = rank
    for _ in range(n_iter):
        q, width = _orthonormalize(y, width)
        z = _ir_matmul(ir, q, SRC, DST, width)
        y = _ir_matmul(ir, z, DST, SRC, width).localCheckpoint(eager=True)
    q, width = _orthonormalize(y, width)
    b = _ir_matmul(ir, q, SRC, DST, width)  # (dst, array width) = MᵀQ
    from .knn import knn_topk

    return knn_topk(
        q.withColumnRenamed("vid", "id").withColumnRenamed("vec", "emb"),
        b.withColumnRenamed("vid", "id").withColumnRenamed("vec", "emb"),
        k=k, metric="dot",
        # factor coordinates, not raw embeddings: the full-rank
        # reconstruction gate (low-rank ≡ exact) needs every float64
        # bit, so this path opts out of the float32 shuffle cast
        shuffle_dtype=None,
    )
