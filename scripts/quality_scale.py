"""Iterative-quality soak (VERDICT r2 #3): full two-channel alignment
with ``it_rounds`` semi-supervision rounds at a given fixture size,
reporting per round: mined-pair count + precision (vs the fixture's
gold links), test-pair CO-LOCATION rate (the structure-channel ceiling
— fraction of test pairs whose counterpart lands in a corresponding
batch), structure Hits@1, and fused Hits@1/MRR.

Usage:
  python scripts/quality_scale.py [n_ents] [n_links] [k_parts]
                                  [it_rounds] [semi_margin] [top_k_corr]
                                  [name_dim]
Appends a row per round to SCALE.md (section "Iterative quality").

``name_dim`` sets the hashed-encoder dim for the NAME channel (the
trainer input stays at 64): name-collision noise rises with entity
count at fixed dim, so larger fixtures may need a wider encoder —
the real-encoder analogue is BERT d=768. Also reports the
CSLS-rescored fused Hits@1 per round (the reference's test-time
protocol, `eval.py:82-129`).
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from largeea_spark.functions.vectors import encode_names  # noqa: E402
from largeea_spark.operators import evalx, simops  # noqa: E402
from largeea_spark.plans import name_channel  # noqa: E402
from largeea_spark.plans.structure_channel import (  # noqa: E402
    trained_batched_structure_similarity,
)
from largeea_spark.session import get_spark  # noqa: E402
from largeea_spark.sources import fixtures  # noqa: E402
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links  # noqa: E402


def coloc_rate(spark, test, stats) -> float:
    """Fraction of test pairs (e1, e2) whose parts are a corresponding
    batch (p1, p2) — the recall ceiling of the batched structure kNN."""
    parts1, parts2 = stats["parts"]
    j = (
        test.join(parts1.select(F.col("id").alias("e1"), F.col("part").alias("p1")), "e1")
        .join(parts2.select(F.col("id").alias("e2"), F.col("part").alias("p2e")), "e2")
        .join(stats["batches"], "p1")
        .where(F.col("p2e") == F.col("p2"))
        .select("e1").distinct()
    )
    return j.count() / max(test.count(), 1)


def main():
    n_ents = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    n_links = int(sys.argv[2]) if len(sys.argv) > 2 else 8000
    k_parts = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    it_rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    semi_margin = float(sys.argv[5]) if len(sys.argv) > 5 else 0.05
    top_k_corr = int(sys.argv[6]) if len(sys.argv) > 6 else 1
    name_dim = int(sys.argv[7]) if len(sys.argv) > 7 else 64
    # partition count scales with the fixture so per-task state stays
    # inside the executor-memory contract (at 200k ents, 32 partitions
    # put ~800 MiB deserialized rows in a single task and OOM'd a 48g
    # one-JVM heap; 128 partitions keep tasks ~200 MiB — the same
    # sizing rule a real cluster applies via maxPartitionBytes)
    sp = max(32, n_ents // 1600)
    spark = get_spark("qscale", master="local[32]", shuffle_partitions=sp)

    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n_ents, n_triples=3 * n_ents, n_links=n_links
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2).localCheckpoint(eager=True)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    test = lk.where(F.col("split") == "test").localCheckpoint(eager=True)
    gold = lk.select("e1", F.col("e2").alias("gold_e2")).localCheckpoint(eager=True)
    train = lk.where(F.col("split") == "train").select("e1", "e2")
    n_src = (kg1.ent.agg(F.max("id")).first()[0] or 0) + 1

    s_string = name_channel.string_similarity(pair).localCheckpoint(eager=True)
    knn_stats: dict = {}
    s_embed = name_channel.name_embedding_similarity(
        pair, k=50, dim=name_dim, stats=knn_stats
    ).localCheckpoint(eager=True)
    # which kNN path auto picked (IVF engages above its 100k trigger)
    print("name-channel knn:", knn_stats, flush=True)
    name_sim = simops.fuse([s_embed, s_string], [1.0, 0.05]).localCheckpoint(eager=True)

    e1 = encode_names(name_channel.entity_names(kg1.ent, False), "name", dim=64).select("id", "emb")
    e2 = encode_names(name_channel.entity_names(kg2.ent, False), "name", dim=64).select("id", "emb")

    seeds = train
    rows = []
    for r in range(1, it_rounds + 1):
        t0 = time.time()
        n_mined, prec = 0, float("nan")
        if r > 1:
            mined = (
                simops.margin_mutual_pairs(fused, semi_margin)  # noqa: F821
                .select(F.col("src").alias("e1"), F.col("dst").alias("e2"))
                .join(seeds.select("e1"), "e1", "left_anti")
                .join(seeds.select("e2"), "e2", "left_anti")
                .localCheckpoint(eager=True)
            )
            n_mined = mined.count()
            hit = mined.join(gold, "e1").select(
                (F.col("e2") == F.col("gold_e2")).cast("int").alias("ok")
            ).agg(F.avg("ok").alias("p"), F.count("*").alias("n")).first()
            prec = float(hit["p"]) if hit["n"] else float("nan")
            seeds = seeds.unionByName(mined).distinct().localCheckpoint(eager=True)
        kgp = KGPair(kg1=kg1, kg2=kg2,
                     links=seeds.withColumn("split", F.lit("train")))
        stru, stats = trained_batched_structure_similarity(
            kgp, e1, e2, k_parts=k_parts, knn_k=50,
            top_k_corr=top_k_corr,
        )
        stru = stru.localCheckpoint(eager=True)
        fused = simops.fuse([stru, name_sim], [1.0, 1.0]).localCheckpoint(eager=True)
        cl = coloc_rate(spark, test, stats)
        m_stru = evalx.hits_and_mrr(stru, test, ks=(1,), n_src=n_src)
        m_fused = evalx.hits_and_mrr(fused, test, ks=(1,), n_src=n_src)
        m_csls = evalx.hits_and_mrr(
            simops.csls_rescore(fused, k=10), test, ks=(1,), n_src=n_src
        )
        dt = time.time() - t0
        row = {
            "round": r, "n_seeds": seeds.count(), "n_mined": n_mined,
            "mined_prec": round(prec, 4) if prec == prec else None,
            "coloc": round(cl, 4),
            "stru_h1": round(m_stru["hits@1"], 4),
            "fused_h1": round(m_fused["hits@1"], 4),
            "csls_h1": round(m_csls["hits@1"], 4),
            "fused_mrr": round(m_fused["MRR"], 4),
            "sec": round(dt, 1),
        }
        rows.append(row)
        print(row, flush=True)

    new_rows = "".join(
        f"| {n_ents} | {k_parts} | {semi_margin} | {top_k_corr} |"
        f" {name_dim} |"
        f" {row['round']} | {row['n_seeds']} | {row['n_mined']} |"
        f" {row['mined_prec'] if row['mined_prec'] is not None else '—'} |"
        f" {row['coloc']} | {row['stru_h1']} | {row['fused_h1']} |"
        f" {row['csls_h1']} | {row['fused_mrr']} | {row['sec']} |\n"
        for row in rows
    )
    text = open(os.path.join(REPO, "SCALE.md")).read()
    if "## Iterative quality" in text:
        # insert at the END of this section's table (other sections may
        # follow in the file — a plain append would orphan the rows)
        start = text.index("## Iterative quality")
        end = text.find("\n## ", start + 1)
        end = len(text) if end < 0 else end
        block = text[start:end].rstrip("\n") + "\n" + new_rows
        text = text[:start] + block + text[end:]
        open(os.path.join(REPO, "SCALE.md"), "w").write(text)
        spark.stop()
        return
    with open(os.path.join(REPO, "SCALE.md"), "a") as f:
        f.write(
            "\n## Iterative quality — semi-supervision rounds, mined"
                " precision, co-location ceiling\n\n"
                "Per-round diagnostics of the M4/M8 bootstrap"
                " (`scripts/quality_scale.py N L K R M T`): mined-pair\n"
                "precision vs gold, the co-location ceiling (fraction of"
                " test pairs co-batched — the structure channel cannot\n"
                "score a pair outside it), and the quality lift.\n\n"
                "| ents/KG | k_parts | margin | top_k_corr | dim | round |"
                " seeds | mined | mined prec | coloc | H@1 stru |"
                " H@1 fused | H@1 csls | MRR fused | sec |\n"
                "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|\n"
            )
        for row in rows:
            f.write(
                f"| {n_ents} | {k_parts} | {semi_margin} | {top_k_corr} |"
                f" {name_dim} |"
                f" {row['round']} | {row['n_seeds']} | {row['n_mined']} |"
                f" {row['mined_prec'] if row['mined_prec'] is not None else '—'} |"
                f" {row['coloc']} | {row['stru_h1']} | {row['fused_h1']} |"
                f" {row['csls_h1']} | {row['fused_mrr']} | {row['sec']} |\n"
            )
    spark.stop()


if __name__ == "__main__":
    main()
