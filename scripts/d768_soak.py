"""d=768 end-to-end soak: the full two-channel alignment (batched
anchor trainer + name channel) at the REAL encoder dimensionality
(BERT d=768, `emb_loader.py:159-182`) — evidence beyond the d=768 unit
tests that the 768-dim trainer payloads survive a full pipeline run.

Since round 4 the soak drives the REAL-ENCODER SEAM
(``model_name_encoder``: loader-per-task, executor-side batching,
float32 output — `emb_loader.py:119-182`) with a numpy mock model
exposing the sentence-transformers ``encode(list[str]) → ndarray``
contract, so the measured path is exactly what a SentenceTransformer
loader takes on a real cluster; pass ``hashed`` as argv[2] for the
old direct-UDF path.

Usage: python scripts/d768_soak.py [n_ents] [seam|hashed]
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from largeea_spark.functions.vectors import encode_names  # noqa: E402


class MockSentenceEncoder:
    """sentence-transformers API shape (``encode(list[str]) → ndarray
    [n, 768]``), deterministic numpy body — numerically identical to
    the hashed encoder at d=768 so quality stays comparable while the
    seam machinery (per-task load, 512-row batching, float32 cast) is
    what actually runs."""

    dim = 768

    def encode(self, texts):
        from largeea_spark.functions.vectors import _ngram_hash_embed

        return _ngram_hash_embed(list(texts), self.dim, 3).astype(np.float32)


def mock_loader():
    return MockSentenceEncoder()
from largeea_spark.operators import evalx, simops  # noqa: E402
from largeea_spark.plans import name_channel  # noqa: E402
from largeea_spark.plans.structure_channel import (  # noqa: E402
    trained_batched_structure_similarity,
)
from largeea_spark.session import get_spark  # noqa: E402
from largeea_spark.sources import fixtures  # noqa: E402
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links  # noqa: E402


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    mode = sys.argv[2] if len(sys.argv) > 2 else "seam"
    enc = mock_loader if mode == "seam" else "hashed"
    spark = get_spark("d768", master="local[32]", shuffle_partitions=32)
    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n, n_triples=3 * n, n_links=int(0.4 * n)
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2).localCheckpoint(eager=True)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    test = lk.where(F.col("split") == "test").localCheckpoint(eager=True)
    n_src = (kg1.ent.agg(F.max("id")).first()[0] or 0) + 1

    t0 = time.time()
    s_string = name_channel.string_similarity(pair).localCheckpoint(eager=True)
    s_embed = name_channel.name_embedding_similarity(
        pair, k=50, dim=768, encoder=enc
    ).localCheckpoint(eager=True)
    name_sim = simops.fuse([s_embed, s_string], [1.0, 0.05]).localCheckpoint(
        eager=True
    )
    e1 = encode_names(
        name_channel.entity_names(kg1.ent, False), "name", dim=768,
        encoder=enc,
    ).select("id", "emb")
    e2 = encode_names(
        name_channel.entity_names(kg2.ent, False), "name", dim=768,
        encoder=enc,
    ).select("id", "emb")
    stru, _ = trained_batched_structure_similarity(
        pair, e1, e2, k_parts=8, knn_k=50
    )
    fused = simops.fuse([stru.localCheckpoint(eager=True), name_sim], [1.0, 1.0])
    m = evalx.hits_and_mrr(fused, test, ks=(1,), n_src=n_src)
    m_s = evalx.hits_and_mrr(stru, test, ks=(1,), n_src=n_src)
    dt = time.time() - t0
    print("RESULT", {
        "n": n, "dim": 768, "encoder_path": mode,
        "stru_h1": round(m_s["hits@1"], 4),
        "fused_h1": round(m["hits@1"], 4),
        "two_channel_sec": round(dt, 1),
    }, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
