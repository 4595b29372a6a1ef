"""Batched structure channel — the reference's phase 0
(`run_batched_ea`, `main.py:58-88`; SURVEY.md §3.2) re-hosted on the
DataFrame partitioner:

  seed-aware partition (G4 analogue) → batch correspondence (G7) →
  place triples (J2) → per batch: train the structure embeddings
  (operators/trainer.py, the GPU GNN step) → blocked kNN within the
  batch (J9) → accumulate per-batch sims (A10, `curr_sim += sim`
  `main.py:85`).

This is the engine's only structure path.

Each batch touches only its partition's entities/triples, so executor
memory per batch is bounded by the partition cap — the same memory
contract METIS gives the reference's GPU. There is NO driver loop over
batches: training and kNN are grouped stages keyed by the batch id, so
every batch executes concurrently and the batch count only widens the
stages (the 1000-executor shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.partition_kg import correspondence, place_triples, seed_aware_partition
from ..sources.kg import KGPair


def _corr_batches(pair: KGPair, parts1: DataFrame, parts2: DataFrame,
                  top_k_corr: int) -> list[tuple[int, int]]:
    """(p1, p2) correspondence pairs, possibly several p2 per p1: the
    reference pairs each src batch with the UNION of its top-k
    (`top_k_corr=5`, `sampler.py:211,248-262`) target partitions — the
    recall mechanism that keeps counterparts scoreable when partitioning
    separates them. Src parts with no train overlap pair with the same
    part id as a fallback."""
    corr = correspondence(pair.links, parts1, parts2, top_k=top_k_corr)
    # correspondence rows and every src part in ONE collect (p2 null)
    rows = corr.select("p1", "p2").unionByName(
        parts1.select(F.col("part").alias("p1"),
                      F.lit(None).cast("int").alias("p2")).distinct()
    ).collect()
    batches = [(r.p1, r.p2) for r in rows if r.p2 is not None]
    covered = {p1 for p1, _ in batches}
    batches += [(r.p1, r.p1) for r in rows
                if r.p2 is None and r.p1 not in covered]
    return batches


def trained_batched_structure_similarity(
    pair: KGPair, base_emb1: DataFrame, base_emb2: DataFrame,
    k_parts: int = 4, knn_k: int = 50, cap: int | None = None,
    top_k_corr: int = 1,
) -> tuple[DataFrame, dict]:
    """M2-shaped: per-batch numpy TRAINING (the seed-anchor trainer,
    operators/trainer.py) inside grouped applyInPandas — one executor
    task per batch, memory bounded by the partition cap — then blocked
    kNN per batch and A10 accumulation. The reference's
    `run_batched_ea` with the GPU GNN swapped for the deterministic
    executor-side trainer. ``top_k_corr``: each src batch trains/scores
    against the union of its top-k corresponding trg parts
    (`sampler.py:211,248-262`)."""
    from ..operators.trainer import pack_batch_payload, train_batches

    # slices of the partitioner's checkpointed label frame: no re-pin here
    parts1, parts2 = seed_aware_partition(pair, k_parts, cap=cap)
    batches = _corr_batches(pair, parts1, parts2, top_k_corr)

    train = pair.links.where(F.col("split") == "train").select("e1", "e2")
    placed1, _ = place_triples(pair.kg1.triples, parts1)
    placed2, _ = place_triples(pair.kg2.triples, parts2)
    payload = pack_batch_payload(
        batches, parts1, parts2, placed1, placed2, train, base_emb1, base_emb2
    )
    refined = train_batches(payload).localCheckpoint(eager=True)
    r1 = refined.where(F.col("side") == 1).select("batch", "id", "emb")
    r2 = refined.where(F.col("side") == 2).select("batch", "id", "emb")

    from ..operators.knn import knn_topk_grouped

    # ONE grouped-cogroup stage scores every batch concurrently (the
    # 1000-executor shape) instead of a sequential driver loop of
    # per-batch kNN jobs. Grouping on the TRAINING batch id also
    # guarantees each batch's kNN indexes exactly its own trained copy
    # of any KG2 part shared by two batches (no double-added pairs),
    # and each src lives in exactly one batch, so the output is already
    # the accumulated sim (A10).
    sim = knn_topk_grouped(r1, r2, k=knn_k, group_col="batch")
    return sim, {
        "batches": [{"p1": int(a), "p2": int(b)} for a, b in batches],
        # partition frames, exposed for co-location
        # diagnostics (scripts/quality_scale.py) and G8 stats
        "parts": (parts1, parts2),
    }

