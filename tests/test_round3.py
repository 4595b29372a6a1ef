"""Round-3 regression tests: ANN auto-selection, payload replication
fix (on the placement task), d=768 chunked propagation, and triple
placement."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from largeea_spark.sources import fixtures
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links


def _small_pair(spark, n_ents=120, n_links=90, link_ratio=0.3):
    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n_ents, n_triples=3 * n_ents, n_links=n_links
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, link_ratio)
    return KGPair(kg1=kg1, kg2=kg2, links=lk), lk


# ---------------------------------------------------------------------------
# ANN auto-selection (VERDICT r2 #1): brute below the threshold, IVF above
# ---------------------------------------------------------------------------

def test_name_embedding_auto_selects_by_index_size(spark):
    from largeea_spark.plans.name_channel import name_embedding_similarity

    pair, _ = _small_pair(spark)

    def key_set(df):
        return {(r.src, r.dst) for r in df.collect()}

    brute = name_embedding_similarity(pair, k=10, method="brute")
    # default threshold (100k) >> fixture size → auto must take brute
    st_small: dict = {}
    auto_small = name_embedding_similarity(pair, k=10, method="auto",
                                           stats=st_small)
    assert key_set(auto_small) == key_set(brute)
    assert st_small["knn_method"] == "brute" and st_small["n_index"] == 120

    # threshold 1 → auto must take IVF with the same derived nlist/nprobe
    ivf = name_embedding_similarity(pair, k=10, method="ivf")
    st_big: dict = {}
    auto_big = name_embedding_similarity(pair, k=10, method="auto",
                                         ivf_threshold=1, stats=st_big)
    assert key_set(auto_big) == key_set(ivf)
    assert st_big["knn_method"] == "ivf"
    # and the IVF result differs from brute only mildly (recall, not junk)
    inter = len(key_set(ivf) & key_set(brute))
    assert inter / max(len(key_set(brute)), 1) > 0.8


# ---------------------------------------------------------------------------
# placement task: KG1 triples laid out once per src batch (ADVICE r2)
# ---------------------------------------------------------------------------

def _hand_pair(spark, ents1, tri1, ents2, tri2, train):
    from largeea_spark.sources.kg import KG

    def kg(ents, tri):
        return KG(
            ent=spark.createDataFrame([(f"u{e}", e) for e in ents], "uri string, id long"),
            rel=None,
            triples=spark.createDataFrame(tri, "src long, rel long, dst long"),
        )

    links = spark.createDataFrame([(a, b, "train") for a, b in train],
                                  "e1 long, e2 long, split string")
    return KGPair(kg1=kg(ents1, tri1), kg2=kg(ents2, tri2), links=links)


def _kind_counts(placed):
    return {r.kind: r.n for r in
            placed.groupBy("kind").agg(F.count("*").alias("n")).collect()}


def test_placement_t1_not_replicated_with_topk_corr(spark):
    from largeea_spark.operators.partition_kg import seed_aware_placement

    # k=2, no propagation: train e1 ranks give parts {0: 1, 1: 0, 2: 1};
    # KG2 seeds inherit the min partner part {10: 0, 11: 1, 12: 1, 13: 0}.
    # KG1 part 1 overlaps KG2 part 1 twice and part 0 once, so at
    # top_k_corr=2 src batch 1 unions BOTH trg parts
    pair = _hand_pair(
        spark, [0, 1, 2], [(0, 0, 2), (0, 0, 1), (1, 0, 1)],
        [10, 11, 12, 13], [(10, 0, 13), (11, 0, 12), (10, 0, 11)],
        [(0, 10), (1, 10), (2, 11), (2, 12), (1, 13)],
    )
    placed = seed_aware_placement(pair, 2, n_iter=0, top_k_corr=2)
    corr = {(r.batch, r.a) for r in placed.where(F.col("kind") == "corr").collect()}
    assert corr == {(0, 0), (1, 0), (1, 1)}
    counts = _kind_counts(placed)
    assert counts["t1"] == 2, f"KG1 triples replicated per (p1,p2): {counts}"
    assert counts["t2"] == 3      # part 0's triple in batches 0 and 1
    assert counts["seed"] == 5
    assert counts["e1"] == 3      # KG1 entities once per src batch
    assert counts["e2"] == 6      # part 0's two entities twice
    # top_k_corr=1 keeps each trg part in one batch
    counts1 = _kind_counts(seed_aware_placement(pair, 2, n_iter=0, top_k_corr=1))
    assert (counts1["t1"], counts1["t2"], counts1["e2"]) == (2, 2, 4)


# ---------------------------------------------------------------------------
# d=768 guard: chunked per-dimension aggregation ≡ numpy ground truth
# ---------------------------------------------------------------------------

def _numpy_propagate(edges, h, n_layers, alpha=1.0):
    """Reference semantics of propagate_embeddings: h ← L2norm(h + α·Âh)
    with Â the multiplicity-weighted sym-normalized undirected adjacency."""
    n = h.shape[0]
    und = {}
    for s, d in edges:
        for a, b in ((s, d), (d, s)):
            und[(a, b)] = und.get((a, b), 0.0) + 1.0
    deg = np.zeros(n)
    for (a, _), m in und.items():
        deg[a] += m
    h = h.astype(np.float64).copy()
    for _ in range(n_layers):
        msg = np.zeros_like(h)
        for (a, b), m in und.items():
            msg[b] += (m / np.sqrt(deg[a] * deg[b])) * h[a]
        h = h + alpha * msg
        h /= np.maximum(np.linalg.norm(h, axis=1, keepdims=True), 1e-12)
    return h


@pytest.mark.parametrize("dim", [64, 768])
def test_propagate_embeddings_matches_numpy(spark, dim):
    from largeea_spark.operators.structure import propagate_embeddings

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    rng = np.random.default_rng(3)
    h0 = rng.standard_normal((4, dim))
    triples = spark.createDataFrame(
        [(s, 0, d) for s, d in edges], "src long, rel long, dst long"
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in h0[i]]) for i in range(4)],
        "id long, emb array<double>",
    )
    got = {r.id: np.array(r.emb) for r in
           propagate_embeddings(triples, emb, n_layers=2).collect()}
    want = _numpy_propagate(edges, h0, n_layers=2)
    for i in range(4):
        assert np.allclose(got[i], want[i], atol=1e-9), f"node {i} (d={dim})"


# ---------------------------------------------------------------------------
# triple placement (VERDICT r2 #8): kept rows and drop count
# ---------------------------------------------------------------------------

def test_placement_triple_counts(spark):
    from largeea_spark.operators.partition_kg import seed_aware_placement

    # seeds 0 → part 1 and 3 → part 0 (k=2); one round pulls 1 to 0's
    # part and 2 to 3's, so the 4-cycle keeps (0,1) and (2,3) only
    tri = [(0, 0, 1), (1, 0, 2), (2, 0, 3), (0, 1, 3)]
    pair = _hand_pair(spark, [0, 1, 2, 3], tri, [10, 13], [],
                      [(0, 10), (3, 13)])
    placed = seed_aware_placement(pair, 2, n_iter=1)
    kept = placed.where(F.col("kind") == "t1")
    rows = {(r.a, r.b, r.c, r.batch) for r in kept.collect()}
    assert rows == {(0, 0, 1, 1), (2, 0, 3, 0)}
    assert len(tri) - kept.count() == 2


# ---------------------------------------------------------------------------
# compute-dense stage pinning: the GEMM cogroup must sit on explicit
# REPARTITION_BY_NUM exchanges (AQE byte-based coalescing would
# serialize it), with no extra ENSURE_REQUIREMENTS exchange in between,
# and the auto grid must widen to the session's shuffle width
# ---------------------------------------------------------------------------

def test_knn_cogroup_pinned_at_shuffle_width(spark):
    import pandas as pd

    from largeea_spark.functions.vectors import encode_names
    from largeea_spark.operators.knn import _auto_grid, knn_topk

    n = 400
    df = spark.createDataFrame(
        pd.DataFrame({
            "id": range(n),
            "name": [f"Entity_{i}_{(i * i) % 881}_{i % 7}" for i in range(n)],
        })
    )
    e = encode_names(df, "name", dim=32).select("id", "emb")
    sim = knn_topk(e, e, k=5)
    plan = sim._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    cog = [i for i, ln in enumerate(lines) if "FlatMapCoGroupsInPandas" in ln]
    assert cog, plan
    # both cogroup children repartitioned with an explicit count
    assert plan.count("REPARTITION_BY_NUM") >= 2, plan
    # no planner-inserted exchange between the pinned repartition and
    # the cogroup (the explicit one must satisfy the distribution)
    below = "\n".join(lines[cog[0]:])
    first_ex = [ln for ln in below.splitlines() if "Exchange" in ln]
    assert first_ex and "REPARTITION_BY_NUM" in first_ex[0], below[:800]

    # grid widening: 1×1 memory grid fans out to >= shuffle width cells
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nqb, nb = _auto_grid(20000, 20000, 1, 1, width)
    assert nqb * nb >= width
    # and honors memory-cap lower bounds
    nqb2, nb2 = _auto_grid(1000, 10_000_000, 1, 100, width)
    assert nb2 >= 100

    # exactness unchanged by the widened grid: same (src, dst) set as
    # an explicit 2×2 grid (both merge via the deterministic windowed
    # top-k; the 1×1 fast path differs only in k-boundary tie selection)
    two = knn_topk(e, e, k=5, n_blocks=2, n_query_blocks=2)
    assert {(r.src, r.dst) for r in sim.collect()} == \
        {(r.src, r.dst) for r in two.collect()}


def test_string_similarity_scoring_stage_pinned(spark):
    from largeea_spark.plans.name_channel import string_similarity

    pair, _ = _small_pair(spark)
    sim = string_similarity(pair)
    plan = sim._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan[:1200]
    # the candidates carry their names: the band-key join is the plan's
    # only join (no entity-dim join brings the names back)
    joins = re.findall(r"\w*Join \[[^\]]*\]", plan)
    assert len(joins) == 1, joins
    assert re.search(r"\[band#\d+, key#\d+L?\]", joins[0]), joins
    assert sim.count() > 0


# ---------------------------------------------------------------------------
# name-encoder dim auto-widening: below the entity threshold the auto
# default must be byte-for-byte the dim=64 pipeline (no behavior change
# for small runs); the threshold path is covered by SCALE.md soaks
# ---------------------------------------------------------------------------

def test_align_emb_dim_auto_small_equals_64(spark, tmp_path):
    from largeea_spark.plans.pipeline import align_kg_pair
    from largeea_spark.sources.stage import StageStore

    pair, _ = _small_pair(spark)
    res_a = align_kg_pair(
        spark, pair, StageStore(spark, str(tmp_path / "a")), knn_k=10,
        emb_dim="auto", k_parts=2,
    )
    res_64 = align_kg_pair(
        spark, pair, StageStore(spark, str(tmp_path / "b")), knn_k=10,
        emb_dim=64, k_parts=2,
    )
    assert res_a["metrics"]["fused"] == res_64["metrics"]["fused"]
