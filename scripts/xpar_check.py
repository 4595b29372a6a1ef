"""Cross-parallelism determinism check: identical alignment RESULTS
(not just metrics) at different local[N].

Usage: python scripts/xpar_check.py MASTER SHUFFLE_PARTITIONS
(e.g. "local[4]" 4). Prints the five result hashes and compares them
with PINNED; exits 1, naming each hash that differs, when any does."""
import os
import sys
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import functions as F
from largeea_spark.session import get_spark
from largeea_spark.plans import name_channel
from largeea_spark.sources import fixtures
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links

# md5 of the sorted result rows; equal at every master and width
PINNED = {
    "string": "169a15a484534d08f9237fbe738d21f7",
    "embed": "6fcd1f4bc9220cedbdf0e1ccf9d65669",
    "structure": "48256d8664596777b8c5df24522099e2",
    "ivf": "c419e4257d6cec50e1d023c8439a4240",
    "cc": "7883fd579a96f648c96e5118b78d3425",
}

master = sys.argv[1]
spark = get_spark("xpar", master=master, shuffle_partitions=int(sys.argv[2]))
t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=250, n_triples=750, n_links=200)
kg1, kg2 = encode_graph(t1), encode_graph(t2)
lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
pair = KGPair(kg1, kg2, lk)
s = name_channel.string_similarity(pair)
rows = sorted((r.src, r.dst, round(r.sim, 9)) for r in s.collect())
import hashlib
h = hashlib.md5(str(rows).encode()).hexdigest()
e = name_channel.name_embedding_similarity(pair, k=10)
rows2 = sorted((r.src, r.dst, round(r.sim, 9)) for r in e.collect())
h2 = hashlib.md5(str(rows2).encode()).hexdigest()
# structure channel: batched anchor trainer (applyInPandas) must also be
# bit-identical — sorted edges/seeds fix the float accumulation order
from largeea_spark.functions.vectors import encode_names
from largeea_spark.plans.structure_channel import (
    trained_batched_structure_similarity,
)

e1 = encode_names(name_channel.entity_names(pair.kg1.ent, False), "name",
                  dim=32).select("id", "emb")
e2 = encode_names(name_channel.entity_names(pair.kg2.ent, False), "name",
                  dim=32).select("id", "emb")
stru, _ = trained_batched_structure_similarity(pair, e1, e2, k_parts=3,
                                               knn_k=10)
rows3 = sorted((r.src, r.dst, round(r.sim, 9)) for r in stru.collect())
h3 = hashlib.md5(str(rows3).encode()).hexdigest()
# IVF path: the cell cogroup of ivf_topk, forced on this small fixture
ivf = name_channel.name_embedding_similarity(pair, k=10, method="ivf")
rows4 = sorted((r.src, r.dst, round(r.sim, 9)) for r in ivf.collect())
h4 = hashlib.md5(str(rows4).encode()).hexdigest()
# connected components: min-id labels over a seeded graph of chains (in
# both orientations), cliques and random edges
import random

from largeea_spark.operators.canonical import connected_components

rng = random.Random(12)
cc_edges = [(i + 1, i) if i % 2 else (i, i + 1) for i in range(0, 40)]
for base in range(100, 400, 50):
    nodes = rng.sample(range(base, base + 50), 6)
    cc_edges += [(u, v) for u in nodes for v in nodes if u < v]
cc_edges += [(rng.randrange(400, 700), rng.randrange(400, 700)) for _ in range(250)]
cc = connected_components(spark.createDataFrame(cc_edges, "a long, b long"))
rows5 = sorted((r.node, r.component) for r in cc.collect())
h5 = hashlib.md5(str(rows5).encode()).hexdigest()
print(f"XPAR {master} string={h} n={len(rows)} embed={h2} n2={len(rows2)} "
      f"structure={h3} n3={len(rows3)} ivf={h4} n4={len(rows4)} "
      f"cc={h5} n5={len(rows5)}")
spark.stop()
got = {"string": h, "embed": h2, "structure": h3, "ivf": h4, "cc": h5}
bad = [k for k in PINNED if got[k] != PINNED[k]]
if bad:
    print("XPAR FAIL: differs from the pinned hash: " + ", ".join(bad))
    sys.exit(1)
print("XPAR OK: all five hashes equal the pinned values")
