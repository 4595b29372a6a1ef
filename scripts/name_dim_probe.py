"""Name-channel dim sensitivity at scale (round-3 quality work).

The fused-vs-structure gap at 50k (SCALE.md "Iterative quality":
fused 0.8785 < structure 0.9058 at round 3) points at name-channel
noise growing with entity count: the hashed char-trigram encoder
packs an O(n)-sized name vocabulary into a fixed ``dim``, so
collision noise rises with n. This probe measures name-channel-only
Hits@1 at several encoder dims on one fixture size, plus the CSLS
re-scored variant, without any structure training (fast).

Usage: python scripts/name_dim_probe.py [n_ents] [dim ...]
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from largeea_spark.operators import evalx, simops  # noqa: E402
from largeea_spark.plans import name_channel  # noqa: E402
from largeea_spark.session import get_spark  # noqa: E402
from largeea_spark.sources import fixtures  # noqa: E402
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links  # noqa: E402


def main():
    n_ents = int(sys.argv[1]) if len(sys.argv) > 1 else 50000
    dims = [int(a) for a in sys.argv[2:]] or [64, 128, 256]
    spark = get_spark("namedim", master="local[32]", shuffle_partitions=32)

    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n_ents, n_triples=3 * n_ents, n_links=int(0.4 * n_ents)
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2).localCheckpoint(eager=True)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    test = lk.where(F.col("split") == "test").localCheckpoint(eager=True)
    n_src = (kg1.ent.agg(F.max("id")).first()[0] or 0) + 1

    s_string = name_channel.string_similarity(pair).localCheckpoint(eager=True)
    m = evalx.hits_and_mrr(s_string, test, ks=(1,), n_src=n_src)
    print({"channel": "string-only", "h1": round(m["hits@1"], 4)}, flush=True)

    for dim in dims:
        t0 = time.time()
        s_emb = name_channel.name_embedding_similarity(
            pair, k=50, dim=dim
        ).localCheckpoint(eager=True)
        name_sim = simops.fuse([s_emb, s_string], [1.0, 0.05]).localCheckpoint(
            eager=True
        )
        m_emb = evalx.hits_and_mrr(s_emb, test, ks=(1,), n_src=n_src)
        m_name = evalx.hits_and_mrr(name_sim, test, ks=(1,), n_src=n_src)
        m_csls = evalx.hits_and_mrr(
            simops.csls_rescore(name_sim), test, ks=(1,), n_src=n_src
        )
        print(
            {
                "dim": dim,
                "emb_h1": round(m_emb["hits@1"], 4),
                "name_h1": round(m_name["hits@1"], 4),
                "name_csls_h1": round(m_csls["hits@1"], 4),
                "sec": round(time.time() - t0, 1),
            },
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
