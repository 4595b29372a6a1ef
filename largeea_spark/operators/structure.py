"""Training-free neighborhood propagation via iterative DataFrame
self-joins over the triple table (SURVEY.md L8/L9; north star:
"GNN-style neighborhood embeddings computed as iterative DataFrame
self-joins over the triple table").

The pipeline's structure channel is the batched trainer
(plans/structure_channel.py). This module holds the deterministic
propagation operator:

  h⁰(e)   = name embedding (functions.vectors hashed n-gram, or any
            encoder honoring the id→array<float> contract)
  hˡ⁺¹(e) = L2norm( hˡ(e) + Σ_{(e,r,t)} α·hˡ(t) + Σ_{(h,r,e)} α·hˡ(h) )

i.e. one sym-normalized adjacency multiply per layer (L9 analogue,
`models/rrea/utils.py:68-110`) with self-loop (L10).

All math is join + posexplode + groupBy — whole-stage codegen, no UDF.
Each layer localCheckpoints (◆ lineage hygiene, SURVEY.md §4.3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _norm_adj(triples: DataFrame) -> DataFrame:
    """L9: undirected adjacency with D^-1/2 A D^-1/2 weights
    (`models/rrea/utils.py:37-43`). Returns (i, j, w)."""
    und = triples.select(F.col("src").alias("i"), F.col("dst").alias("j")).unionAll(
        triples.select(F.col("dst").alias("i"), F.col("src").alias("j"))
    ).groupBy("i", "j").agg(F.count("*").cast("double").alias("m"))
    deg = und.groupBy("i").agg(F.sum("m").alias("d"))
    dj = deg.select(F.col("i").alias("j"), F.col("d").alias("dj"))
    return (
        und.join(deg, "i").join(dj, "j")
        .select("i", "j", (F.col("m") / F.sqrt(F.col("d") * F.col("dj"))).alias("w"))
    )


# max aggregate expressions per groupBy: above this the adjacency
# multiply runs in dim/_DIM_CHUNK chunked passes joined back on the key
# (a flat 768-column agg at BERT d=768 risks whole-stage-codegen
# fallback / constant-pool blowup; 128 columns is comfortably inside it)
_DIM_CHUNK = 128


def _msg_agg(joined: DataFrame, dim: int,
             chunk: int = _DIM_CHUNK) -> DataFrame:
    """(id, w, ej[dim]) → (id, msg[dim]) where
    msg[k] = Σ w·ej[k], chunked to ≤``chunk`` agg columns per groupBy.
    The d=768 guard: each chunked pass re-joins on the (checkpointed)
    inputs and the chunk results are equi-joined back on the id —
    dim/chunk bounded shuffles instead of one unbounded-width agg."""

    def one(lo: int, hi: int, name: str) -> DataFrame:
        return (
            joined.groupBy("id")
            .agg(*[
                F.sum(F.col("w") * F.element_at("ej", k + 1)).alias(f"m{k}")
                for k in range(lo, hi)
            ])
            .select("id", F.array(*[F.col(f"m{k}") for k in range(lo, hi)]).alias(name))
        )

    if dim <= chunk:
        return one(0, dim, "msg")
    los = list(range(0, dim, chunk))
    out = one(0, min(chunk, dim), "msg_0")
    for lo in los[1:]:
        out = out.join(one(lo, min(lo + chunk, dim), f"msg_{lo}"), "id")
    return out.select(
        "id", F.concat(*[F.col(f"msg_{lo}") for lo in los]).alias("msg")
    )


def propagate_embeddings(
    triples: DataFrame, emb: DataFrame, n_layers: int = 2, alpha: float = 1.0,
    dim: int | None = None,
) -> DataFrame:
    """n_layers of  h ← L2norm(h + α·Â h)  over (id, emb array<double>).

    Array form end-to-end: the adjacency multiply joins edges (i, j, w)
    to the neighbor's WHOLE embedding once and aggregates d per-dimension
    sums in ONE groupBy(i) — shuffle volume is |E| rows per layer (with
    map-side partial aggregation reducing it toward |V|·d values), not
    the |E|·d exploded rows of the earlier (id, pos, x) formulation — a
    ~d× (64-128×) shuffle-byte reduction at DBP1M scale. Normalization
    is a JVM-side aggregate expression; no UDF anywhere. Above
    ``_DIM_CHUNK`` dims (BERT d=768) the agg runs chunked (`_msg_agg`)."""
    from ..functions.vectors import l2_normalize_expr

    adj = _norm_adj(triples).localCheckpoint(eager=True)
    cur = emb.select("id", F.col("emb").cast("array<double>").alias("emb"))
    if dim is None:
        row = cur.select(F.size("emb").alias("d")).first()
        if row is None:
            return cur
        dim = int(row["d"])
    for _ in range(n_layers):
        joined = adj.join(
            cur.select(F.col("id").alias("j"), F.col("emb").alias("ej")), "j"
        ).select(F.col("i").alias("id"), "w", "ej")
        msgs = _msg_agg(joined, dim)
        cur = (
            cur.join(msgs, "id", "left")
            .select(
                "id",
                F.when(F.col("msg").isNull(), F.col("emb")).otherwise(
                    F.zip_with("emb", "msg", lambda x, y: x + F.lit(alpha) * y)
                ).alias("emb"),
            )
        )
        cur = cur.select("id", l2_normalize_expr("emb").alias("emb")).localCheckpoint(
            eager=True
        )
    return cur
