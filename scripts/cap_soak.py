"""Cap-salting soak (VERDICT r2 #7): alignment on a SKEWED fixture —
one hub entity owns ~10% of all edges, so label propagation inflates
its partition — with ``cap`` set low enough that ≥1 part splits into
salted subparts. Verifies in one run:

  1. the cap actually triggers (≥1 part with n_sub > 1, i.e. salted
     part ids ≥ _SALT_BASE appear);
  2. post-salt co-location invariant: every train pair still shares a
     part id across the two KGs;
  3. no post-salt part exceeds the cap;
  4. alignment quality (fused Hits@1) within tolerance of the uncapped
     run on the same fixture.

Appends a row to SCALE.md. Usage:
  python scripts/cap_soak.py [n_ents] [hub_frac] [k_parts] [cap]
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from largeea_spark.functions.vectors import encode_names  # noqa: E402
from largeea_spark.operators import evalx, simops  # noqa: E402
from largeea_spark.operators.partition_kg import _SALT_BASE  # noqa: E402
from largeea_spark.plans import name_channel  # noqa: E402
from largeea_spark.plans.structure_channel import (  # noqa: E402
    trained_batched_structure_similarity,
)
from largeea_spark.session import get_spark  # noqa: E402
from largeea_spark.sources import fixtures  # noqa: E402
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links  # noqa: E402


def add_hub(spark, triples_df, prefix, names, hub_edges, seed):
    """Append (hub, near, i) edges — entity 0 becomes a degree hub."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    hub = prefix + names[0]
    rows = [
        (hub, "http://dbp.example/property/near",
         prefix + names[rng.randrange(1, len(names))])
        for _ in range(hub_edges)
    ]
    return triples_df.unionByName(
        spark.createDataFrame(pd.DataFrame(rows, columns=["s", "p", "o"]))
    ).distinct()


def main():
    n_ents = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    hub_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.10
    k_parts = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    cap = int(sys.argv[4]) if len(sys.argv) > 4 else max(200, n_ents // k_parts)
    n_triples = 3 * n_ents
    hub_edges = int(hub_frac * n_triples)
    spark = get_spark("capsoak", master="local[32]", shuffle_partitions=32)

    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n_ents, n_triples=n_triples, n_links=int(0.4 * n_ents)
    )
    names1 = [fixtures._base_name(i) for i in range(n_ents)]
    t1 = add_hub(spark, t1, "http://dbp.example/resource/", names1, hub_edges, 7)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2).localCheckpoint(eager=True)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    test = lk.where(F.col("split") == "test")
    train = lk.where(F.col("split") == "train")
    n_src = (kg1.ent.agg(F.max("id")).first()[0] or 0) + 1

    s_string = name_channel.string_similarity(pair).localCheckpoint(eager=True)
    s_embed = name_channel.name_embedding_similarity(pair, k=50).localCheckpoint(eager=True)
    name_sim = simops.fuse([s_embed, s_string], [1.0, 0.05]).localCheckpoint(eager=True)
    e1 = encode_names(name_channel.entity_names(kg1.ent, False), "name", dim=64).select("id", "emb")
    e2 = encode_names(name_channel.entity_names(kg2.ent, False), "name", dim=64).select("id", "emb")

    results = {}
    for label, capv in (("uncapped", None), ("capped", cap)):
        t0 = time.time()
        stru, stats = trained_batched_structure_similarity(
            pair, e1, e2, k_parts=k_parts, knn_k=50, cap=capv
        )
        fused = simops.fuse([stru, name_sim], [1.0, 1.0]).localCheckpoint(eager=True)
        m = evalx.hits_and_mrr(fused, test, ks=(1,), n_src=n_src)
        parts1, parts2 = stats["parts"]
        sizes = (
            parts1.groupBy("part").count()
            .agg(F.max("count").alias("mx"), F.count("*").alias("n_parts"))
            .first()
        )
        n_salted = parts1.where(F.col("part") >= _SALT_BASE).select(
            (F.col("part") / _SALT_BASE).cast("int").alias("base")
        ).distinct().count()
        # co-location invariant after salting
        viol = (
            train.join(parts1.select(F.col("id").alias("e1"), F.col("part").alias("q1")), "e1")
            .join(parts2.select(F.col("id").alias("e2"), F.col("part").alias("q2")), "e2")
            .where(F.col("q1") != F.col("q2")).count()
        )
        results[label] = {
            "fused_h1": round(m["hits@1"], 4), "max_part": int(sizes["mx"]),
            "n_parts": int(sizes["n_parts"]), "n_split_bases": n_salted,
            "coloc_violations": viol, "sec": round(time.time() - t0, 1),
        }
        print(label, results[label], flush=True)

    capped, uncapped = results["capped"], results["uncapped"]
    assert capped["n_split_bases"] >= 1, "cap never triggered — raise hub_frac or lower cap"
    assert capped["coloc_violations"] == 0, "salting broke train co-location"
    assert capped["max_part"] <= cap, "a post-salt part exceeds the cap"
    delta = uncapped["fused_h1"] - capped["fused_h1"]

    line = (
        f"| {n_ents} | {hub_edges} | {k_parts} | {cap} |"
        f" {capped['n_split_bases']} | {capped['max_part']} |"
        f" {uncapped['fused_h1']} | {capped['fused_h1']} | {delta:+.4f} |"
        f" {capped['coloc_violations']} | {capped['sec']} |"
    )
    hdr_needed = "## Cap-salting soak" not in open(os.path.join(REPO, "SCALE.md")).read()
    with open(os.path.join(REPO, "SCALE.md"), "a") as f:
        if hdr_needed:
            f.write(
                "\n## Cap-salting soak — skewed hub fixture\n\n"
                "One hub entity owns ~10% of KG1 edges; ``cap`` forces the\n"
                "inflated partition to split into salted subparts\n"
                "(`scripts/cap_soak.py`). Invariants checked in-run: ≥1\n"
                "split, train co-location preserved, post-salt sizes ≤ cap.\n\n"
                "| ents/KG | hub edges | k_parts | cap | parts split |"
                " max part | H@1 uncapped | H@1 capped | Δ |"
                " coloc viol | sec |\n"
                "|---|---|---|---|---|---|---|---|---|---|---|\n"
            )
        f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
