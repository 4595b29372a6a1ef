"""Alignment evaluation: Hits@k, truncated MRR, accuracy, P/R/F1
(SURVEY.md W4/W5/W6, A13).

Reference formulas reproduced:
- ``sparse_acc`` (`eval.py:133-148`): row-argmax prediction == gold,
  averaged over ALL gold links (links whose src has no prediction count
  as misses).
- ``get_hit_k`` (`eval.py:8-29`): fraction of links whose gold dst is
  among the k best-ranked entries of the src row.
- ``truncated_mrr`` (`eval.py:168-180`): 0-based rank of gold within the
  stored top-k entries; absent → rank := fail = n_src/2;
  MRR = mean(1/(rank+1)).
- seed P/R/F1 (`models/rrea/rrea.py:213-232`): set-intersection counts.

All of these are joins + one aggregation over the long-format sim IR —
no dense materialization (the reference densifies in 512-row batches,
`eval.py:202-216`; Spark needs no batching).

Documented deviation (sparse-row padding): the reference densifies each
row batch, so ``torch.topk`` pads rows having fewer than k STORED
entries with zero-valued columns — a gold dst with no stored entry can
still land in the reference's top-k of such a row (at an arbitrary
position among the ties at 0). The engine ranks only stored entries and
counts those golds as misses at the fail rank — a small, systematically
PESSIMISTIC bias on sparse rows (never optimistic), inert under the
metric-tolerance gating of SURVEY.md §7.4.7 and nonexistent when every
row carries ≥k entries (the kNN channels always emit exactly k).
"""

from __future__ import annotations

from collections.abc import Mapping
from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from . import simops
from .simops import DST, SIM, SRC


def accuracy(sim: DataFrame, links: DataFrame) -> float:
    """`sparse_acc` (`eval.py:133-148`). ``links``: DataFrame(e1, e2)."""
    pred = simops.argmax(sim, SRC).select(F.col(SRC).alias("e1"), F.col("argmax").alias("p"))
    total = links.count()
    if total == 0:
        return 0.0
    hit = links.join(pred, "e1", "left").where(F.col("p") == F.col("e2")).count()
    return hit / total


def hits_and_mrr(
    sim: DataFrame | Mapping[str, DataFrame], links: DataFrame,
    ks: tuple = (1, 5, 50), *, n_src: int,
) -> dict:
    """`sparse_top_k` (`eval.py:202-220`): Hits@k for each k plus
    truncated MRR, computed in ONE pass over ranked entries.

    ``links``: DataFrame(e1, e2) gold pairs. An absent gold takes the
    0-based fail rank ``n_src/2`` (`eval.py:170-172`); ``n_src`` is the
    source KG's entity count.

    ``sim`` may also be a ``{name: sim}`` mapping; the result is then
    ``{name: metrics}``, and every entry is evaluated in ONE aggregate.
    A single sim is the one-entry case. Plan: the sims, tagged with a
    channel, and the gold pairs, replicated per channel, go through one
    row-number window over (channel, src) that ranks the sim rows ahead
    of the gold rows; a gold pair takes the rank of its sim row from a
    second window over (channel, src, dst), which needs no exchange (the
    gold "join"); then one ``groupBy(channel)``."""
    named = {None: sim} if isinstance(sim, DataFrame) else dict(sim)
    n = len(named)
    sims = [s.select(F.lit(i).alias("channel"), SRC, DST, SIM, F.lit(False).alias("__gold"))
            for i, s in enumerate(named.values())]
    union = reduce(lambda a, b: a.unionByName(b), sims)
    gold = links.select(
        F.explode(F.array(*[F.lit(i) for i in range(n)])).alias("channel"),
        F.col("e1").alias(SRC), F.col("e2").alias(DST),
        F.lit(None).cast("double").alias(SIM), F.lit(True).alias("__gold"),
    )
    w = Window.partitionBy("channel", SRC).orderBy("__gold", F.col(SIM).desc(), F.col(DST).asc())
    rn = F.row_number().over(w)
    ranked = union.unionByName(gold).withColumn(
        "__rank", F.when(~F.col("__gold") & (rn <= max(ks)), rn)
    )
    joined = ranked.withColumn(
        "rank", F.min("__rank").over(Window.partitionBy("channel", SRC, DST))
    ).where(F.col("__gold"))
    # reference rank is 0-based with fail substituted, MRR=mean(1/(rank+1))
    rank0 = F.coalesce(F.col("rank") - 1, F.lit(int(n_src / 2)))
    aggs = [F.avg(1.0 / (rank0 + 1)).alias("MRR")]
    for k in ks:
        aggs.append(
            F.avg(F.when(F.col("rank") <= k, 1.0).otherwise(0.0)).alias(f"hits@{k}")
        )
    rows = {r["channel"]: r.asDict() for r in joined.groupBy("channel").agg(*aggs).collect()}
    # zero gold links → no row; report 0.0 (cf. sparse_acc
    # empty-denominator behavior, eval.py:133-148)
    keys = ["MRR"] + [f"hits@{k}" for k in ks]
    out = {name: {k: float(rows.get(i, {}).get(k) or 0.0) for k in keys}
           for i, name in enumerate(named)}
    return out[None] if isinstance(sim, DataFrame) else out


def precision_recall_f1(pred_pairs: DataFrame, gold_pairs: DataFrame,
                        cols: tuple = ("e1", "e2")) -> dict:
    """A13 / triple-parity shape (`models/rrea/rrea.py:213-232`):
    P/R/F1 of a predicted pair set vs a gold pair set. Also used for the
    north rule's emitted-triple P/R ≥ 0.95 check (3-col tuples)."""
    c = list(cols)
    p = pred_pairs.select(*c).distinct()
    g = gold_pairs.select(*c).distinct()
    tp = p.join(g, c, "inner").count()
    np_, ng = p.count(), g.count()
    prec = tp / np_ if np_ else 0.0
    rec = tp / ng if ng else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"precision": prec, "recall": rec, "f1": f1, "tp": tp, "pred": np_, "gold": ng}
