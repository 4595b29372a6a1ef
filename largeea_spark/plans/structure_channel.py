"""Batched structure channel — the reference's phase 0
(`run_batched_ea`, `main.py:58-88`; SURVEY.md §3.2) re-hosted on the
DataFrame partitioner:

  ONE placement task (operators/partition_kg.py: seed-aware partition
  (G4 analogue) → batch correspondence (G7) → triple placement (J2),
  the reference's single-process ``batch_sampler``) → one join attaches
  the name vectors → per batch, in ONE executor task: train the
  structure embeddings (operators/trainer.py, the GPU GNN step), then
  exact kNN of the batch's KG1 rows against its KG2 rows (the J9 cell
  kernel) → the union over batches is the accumulated sim (A10,
  `curr_sim += sim` `main.py:85`).

This is the engine's only structure path.

Each batch touches only its partition's entities/triples, so executor
memory per batch is bounded by the partition cap — the same memory
contract METIS gives the reference's GPU. There is NO driver loop over
batches and no driver collect: training and scoring are one grouped
stage keyed by the batch id, so every batch executes concurrently and
the batch count only widens the stage (the 1000-executor shape). The
refined embeddings never leave the task that trains them: no
checkpoint and no second shuffle sit between training and scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.partition_kg import placement_parts, seed_aware_placement
from ..operators.trainer import batch_payload, train_batches
from ..sources.kg import KGPair


def trained_batched_structure_similarity(
    pair: KGPair, base_emb1: DataFrame, base_emb2: DataFrame,
    k_parts: int = 4, knn_k: int = 50, cap: int | None = None,
    top_k_corr: int = 1,
) -> tuple[DataFrame, dict]:
    """M2-shaped: per-batch numpy TRAINING (the seed-anchor trainer,
    operators/trainer.py) and top-``knn_k`` scoring in the same grouped
    applyInPandas task — one executor task per batch, memory bounded by
    the partition cap — and A10 accumulation. The reference's
    `run_batched_ea` with the GPU GNN swapped for the deterministic
    executor-side trainer. ``top_k_corr``: each src batch trains/scores
    against the union of its top-k corresponding trg parts
    (`sampler.py:211,248-262`).

    Returns ``(sim, stats)``; ``stats`` holds lazy slices of the
    placement task's checkpointed output: ``batches``, the
    DataFrame(p1, p2) of correspondence pairs (several p2 per p1 with
    ``top_k_corr > 1``), and ``parts``, the (parts1, parts2) frames for
    co-location diagnostics (scripts/quality_scale.py) and G8 stats."""
    placed = seed_aware_placement(pair, k_parts, cap=cap, top_k_corr=top_k_corr)
    # ONE grouped stage trains and scores every batch concurrently (the
    # 1000-executor shape); each src lives in exactly one batch, so the
    # output is already the accumulated sim (A10)
    sim = train_batches(batch_payload(placed, base_emb1, base_emb2), knn_k)
    return sim, {
        "batches": placed.where(F.col("kind") == "corr").select(
            F.col("batch").alias("p1"), F.col("a").cast("int").alias("p2")),
        "parts": placement_parts(placed),
    }
