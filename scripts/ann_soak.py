"""ANN auto-selection soak (VERDICT r2 #1 done-criterion): at 200k
entities the name channel's DEFAULT path must pick IVF (auto threshold
100k), with recall vs exact ≥0.8 on a query sample; at 20k the fused
alignment quality of the auto/brute and forced-IVF paths must agree
within 0.005 Hits@1.

Usage: python scripts/ann_soak.py [big_ents] [small_ents]
Appends rows to SCALE.md (section "ANN auto-selection").
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from largeea_spark.functions.vectors import encode_names  # noqa: E402
from largeea_spark.operators import evalx, simops  # noqa: E402
from largeea_spark.operators.knn import knn_topk  # noqa: E402
from largeea_spark.plans import name_channel  # noqa: E402
from largeea_spark.session import get_spark  # noqa: E402
from largeea_spark.sources import fixtures  # noqa: E402
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links  # noqa: E402


def build_pair(spark, n_ents, n_links):
    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n_ents, n_triples=n_ents + 2, n_links=n_links
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2).localCheckpoint(eager=True)
    return KGPair(kg1=kg1, kg2=kg2, links=lk), lk


def main():
    big = int(sys.argv[1]) if len(sys.argv) > 1 else 200000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
    spark = get_spark("annsoak", master="local[32]", shuffle_partitions=32)

    # --- 200k: default path must be IVF; recall vs exact on a sample ---
    pair, _ = build_pair(spark, big, 1000)
    st: dict = {}
    t0 = time.time()
    sim = name_channel.name_embedding_similarity(pair, k=50, stats=st)
    sim = sim.localCheckpoint(eager=True)
    n_pairs = sim.count()
    t_ivf = time.time() - t0
    assert st["knn_method"] == "ivf", f"auto picked {st} at {big} index rows"

    # recall@50 vs brute on 2000 sampled queries (brute over the FULL
    # index for just those queries — exact ground truth, bounded cost)
    n1 = name_channel.entity_names(pair.kg1.ent, punct_to_space=False)
    n2 = name_channel.entity_names(pair.kg2.ent, punct_to_space=False)
    e1 = encode_names(n1, "name", dim=64).select("id", "emb")
    e2 = encode_names(n2, "name", dim=64).select("id", "emb")
    sample = e1.orderBy(F.xxhash64("id")).limit(2000).localCheckpoint(eager=True)
    exact = knn_topk(sample, e2, k=50).select("src", "dst")
    got = sim.join(sample.select(F.col("id").alias("src")), "src", "left_semi").select("src", "dst")
    n_exact = exact.count()
    n_hit = exact.join(got, ["src", "dst"], "left_semi").count()
    recall = n_hit / max(n_exact, 1)
    print({"big": big, "method": st, "sim_pairs": n_pairs,
           "ivf_sec": round(t_ivf, 1), "recall@50_vs_exact": round(recall, 4)},
          flush=True)
    assert recall >= 0.8, f"IVF recall collapsed: {recall}"

    # --- 20k: fused Hits@1 parity between brute and forced IVF ---
    pair_s, lk = build_pair(spark, small, int(0.4 * small))
    test = lk.where(F.col("split") == "test")
    n_src = (pair_s.kg1.ent.agg(F.max("id")).first()[0] or 0) + 1
    s_string = name_channel.string_similarity(pair_s).localCheckpoint(eager=True)
    h1 = {}
    for meth in ("brute", "ivf"):
        s_emb = name_channel.name_embedding_similarity(
            pair_s, k=50, method=meth
        ).localCheckpoint(eager=True)
        fused = simops.fuse([s_emb, s_string], [1.0, 0.05])
        h1[meth] = evalx.hits_and_mrr(fused, test, ks=(1,), n_src=n_src)["hits@1"]
    delta = abs(h1["brute"] - h1["ivf"])
    print({"small": small, "fused_h1": {k: round(v, 4) for k, v in h1.items()},
           "delta": round(delta, 4)}, flush=True)
    assert delta <= 0.005, f"IVF fused quality drifted: {h1}"

    hdr_needed = "## ANN auto-selection" not in open(os.path.join(REPO, "SCALE.md")).read()
    with open(os.path.join(REPO, "SCALE.md"), "a") as f:
        if hdr_needed:
            f.write(
                "\n## ANN auto-selection soak\n\n"
                "`name_embedding_similarity(method='auto')` must take the\n"
                "IVF path above 100k index rows (the brute blocked kNN's\n"
                "query replication is ×n_blocks) and match brute quality\n"
                "where both run (`scripts/ann_soak.py`).\n\n"
                "| index rows | auto picked | nlist/nprobe | kNN sec |"
                " recall@50 vs exact | fused H@1 brute (20k) |"
                " fused H@1 ivf (20k) | Δ |\n"
                "|---|---|---|---|---|---|---|---|\n"
            )
        f.write(
            f"| {st['n_index']} | {st['knn_method']} |"
            f" {st['nlist']}/{st['nprobe']} |"
            f" {t_ivf:.0f} | {recall:.4f} | {h1['brute']:.4f} |"
            f" {h1['ivf']:.4f} | {delta:.4f} |\n"
        )
    spark.stop()


if __name__ == "__main__":
    main()
