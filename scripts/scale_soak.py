"""Scale soak: full two-channel alignment at 40x the QUALITY.md fixture
(20k entities / 60k triples per KG, 8k gold links) on local[32] —
evidence that the batched channels hold their shapes and quality as the
input grows (the 100 TB direction of travel).

Usage: python scripts/scale_soak.py [n_ents] [n_links] [k_parts]
Appends a row to SCALE.md.
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from largeea_spark.operators import evalx, simops  # noqa: E402
from largeea_spark.plans import name_channel  # noqa: E402
from largeea_spark.plans.structure_channel import (  # noqa: E402
    trained_batched_structure_similarity,
)
from largeea_spark.functions.vectors import encode_names  # noqa: E402
from largeea_spark.session import get_spark  # noqa: E402
from largeea_spark.sources import fixtures  # noqa: E402
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links  # noqa: E402


def main():
    n_ents = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    n_links = int(sys.argv[2]) if len(sys.argv) > 2 else 8000
    k_parts = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    spark = get_spark("soak", master="local[32]", shuffle_partitions=32)

    t_gen0 = time.time()
    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n_ents, n_triples=3 * n_ents, n_links=n_links
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2).localCheckpoint(eager=True)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    test = lk.where(F.col("split") == "test")
    n_src = (kg1.ent.agg(F.max("id")).first()[0] or 0) + 1
    t_gen = time.time() - t_gen0

    times, sims = {}, {}
    t0 = time.time()
    sims["string"] = name_channel.string_similarity(pair).localCheckpoint(eager=True)
    n_string = sims["string"].count()
    times["string"] = time.time() - t0

    t0 = time.time()
    sims["embed"] = name_channel.name_embedding_similarity(pair, k=50).localCheckpoint(eager=True)
    times["embed"] = time.time() - t0

    t0 = time.time()
    e1 = encode_names(name_channel.entity_names(kg1.ent, False), "name", dim=64).select("id", "emb")
    e2 = encode_names(name_channel.entity_names(kg2.ent, False), "name", dim=64).select("id", "emb")
    stru, stats = trained_batched_structure_similarity(
        pair, e1, e2, k_parts=k_parts, knn_k=50
    )
    sims["structure"] = stru.localCheckpoint(eager=True)
    times["structure"] = time.time() - t0

    t0 = time.time()
    name_sim = simops.fuse([sims["embed"], sims["string"]], [1.0, 0.05])
    fused = simops.fuse([sims["structure"], name_sim], [1.0, 1.0]).localCheckpoint(eager=True)
    times["fuse"] = time.time() - t0

    t0 = time.time()
    metrics = {}
    for name, s in {**sims, "fused": fused}.items():
        metrics[name] = evalx.hits_and_mrr(s, test, ks=(1, 5), n_src=n_src)
    times["eval"] = time.time() - t0

    # iterative semi-supervision round 2 (M4/M8): mine → conflict-filter
    # → re-train → re-fuse — the scale behavior of the bootstrap
    t0 = time.time()
    train = lk.where(F.col("split") == "train").select("e1", "e2")
    mined = (
        simops.margin_mutual_pairs(fused, 0.05)
        .select(F.col("src").alias("e1"), F.col("dst").alias("e2"))
        .join(train.select("e1"), "e1", "left_anti")
        .join(train.select("e2"), "e2", "left_anti")
    )
    boosted = KGPair(
        kg1=kg1, kg2=kg2,
        links=train.unionByName(mined).distinct().withColumn("split", F.lit("train")),
    )
    stru2, _ = trained_batched_structure_similarity(
        boosted, e1, e2, k_parts=k_parts, knn_k=50
    )
    fused2 = simops.fuse([stru2, name_sim], [1.0, 1.0]).localCheckpoint(eager=True)
    metrics["fused_semi"] = evalx.hits_and_mrr(fused2, test, ks=(1, 5), n_src=n_src)
    times["semi_r2"] = time.time() - t0
    total = sum(times.values())

    line = (
        f"| {n_ents} | {k_parts} | {stats['batches'].count()} | "
        f"{t_gen:.0f} | "
        + " | ".join(f"{times[k]:.0f}" for k in ("string", "embed", "structure", "fuse", "eval", "semi_r2"))
        + f" | {total:.0f} | "
        + " | ".join(f"{metrics[k]['hits@1']:.4f}" for k in ("string", "embed", "structure", "fused", "fused_semi"))
        + f" | {metrics['fused_semi']['MRR']:.4f} |"
    )
    header_needed = not os.path.exists(os.path.join(REPO, "SCALE.md"))
    with open(os.path.join(REPO, "SCALE.md"), "a") as f:
        if header_needed:
            f.write(
                "# SCALE — alignment soak at growing fixture sizes\n\n"
                "Full two-channel alignment (string + embedding + batched\n"
                "anchor structure, fused at weight 1.0) on local[32]/sp32,\n"
                "plus one iterative semi-supervision round (M4/M8).\n"
                "Times in seconds (fixture gen excluded from total of the\n"
                "engine stages). Reproduce: `python scripts/scale_soak.py N`.\n\n"
                "| ents/KG | k_parts | batches | gen | string | embed |"
                " structure | fuse | eval | semi r2 | total | H@1 str |"
                " H@1 emb | H@1 stru | H@1 fused | H@1 semi r2 |"
                " MRR semi r2 |\n"
                "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|\n"
            )
        f.write(line + "\n")
    print(line)
    print({k: round(v, 1) for k, v in times.items()}, "n_string_pairs:", n_string)
    spark.stop()


if __name__ == "__main__":
    main()
