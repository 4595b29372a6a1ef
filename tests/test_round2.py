"""Round-2 regression + feature tests: star-edge canonicalization,
seed-anchor trainer, iterative semi-supervision, link extension,
top-k correspondence batching, sharded export, tokenizer/levenshtein
edge cases."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from largeea_spark.sources import fixtures
from largeea_spark.sources.kg import KG, KGPair, encode_graph, encode_links


# ---------------------------------------------------------------------------
# VERDICT #1: canonicalization must be linear in group size, not quadratic
# ---------------------------------------------------------------------------

def test_canonical_star_edges_linear(spark, tmp_path):
    """A name duplicated f times must contribute O(f) CC edges (star to
    the group-min id), never f²/2 self-join pairs — and the resulting
    canonical components must still merge the whole group."""
    from largeea_spark.plans.pipeline import construct_kg_from_pages
    from largeea_spark.sources.stage import StageStore

    # 10k pages all titled the same surface name → one hot group
    import pandas as pd

    n = 2000
    rows = [
        {
            "url": f"http://site.example/p{i}",
            "warc_ts": None,
            "html": f"<html><body><h1>Hot Name</h1><p>Hot Name locatedIn Uniq{i}.</p></body></html>".encode(),
            "text": f"Hot Name\nHot Name locatedIn Uniq{i}.",
            "lang": "en",
        }
        for i in range(n)
    ]
    pages = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    store = StageStore(spark, str(tmp_path / "hotrun"))
    out = construct_kg_from_pages(spark, pages, store)
    # "Hot Name" is ONE entity URI-wise here (same surface string), so
    # the hot-group edge structure is exercised via the norm groupBy —
    # materialized kg must exist and canonical must cover all entities
    n_ents = out["entities"].count()
    assert out["canonical"].count() == n_ents


def test_star_edges_equal_clique_components(spark):
    """CC over star edges (group-min → member) must equal CC over the
    full same-key clique."""
    from largeea_spark.operators.canonical import connected_components

    # groups: {0,1,2}, {10,11}, singleton 20 (no edges)
    star = spark.createDataFrame([(0, 1), (0, 2), (10, 11)], "a long, b long")
    clique = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (10, 11)], "a long, b long"
    )
    got_star = {(r.node, r.component) for r in connected_components(star).collect()}
    got_clique = {(r.node, r.component) for r in connected_components(clique).collect()}
    assert got_star == got_clique


# ---------------------------------------------------------------------------
# trainer: seed-anchor propagation (id-space regression + quality)
# ---------------------------------------------------------------------------

def _toy_graphs():
    """Two tiny KGs with OVERLAPPING 0-based id spaces and an exact
    topology correspondence i↔i: chain 0-1-2-3-4 plus 0-2 (asymmetric —
    every node's anchor-relative position is unique)."""
    tri = np.array(
        [(0, 0, 1), (1, 0, 2), (2, 0, 3), (3, 0, 4), (0, 1, 2)],
        dtype=np.int64,
    )
    return tri, tri.copy()


def test_anchor_trainer_overlapping_id_spaces():
    """Regression for the round-1 loc-dict collision: both KGs use ids
    0..n — KG1 triples must wire KG1 rows, not KG2's."""
    from largeea_spark.operators.trainer import train_embeddings_anchor_np

    t1, t2 = _toy_graphs()
    ids = np.arange(5)
    rng = np.random.default_rng(0)
    emb1 = rng.standard_normal((5, 8))
    emb2 = rng.standard_normal((5, 8))  # names give NO signal
    seeds = np.array([(0, 0), (4, 4)], dtype=np.int64)
    r1, r2 = train_embeddings_anchor_np(
        ids, emb1, ids, emb2, t1, t2, seeds, rounds=4, anchor_weight=5.0
    )
    # identical topology + anchors at both ends → argmax must be the
    # true counterpart for every node despite random name embeddings
    a = r1 / np.linalg.norm(r1, axis=1, keepdims=True)
    b = r2 / np.linalg.norm(r2, axis=1, keepdims=True)
    pred = np.argmax(a @ b.T, axis=1)
    assert list(pred) == [0, 1, 2, 3, 4]


def test_anchor_trainer_deterministic_under_reorder():
    from largeea_spark.operators.trainer import train_embeddings_anchor_np

    t1, t2 = _toy_graphs()
    ids = np.arange(5)
    rng = np.random.default_rng(1)
    emb1, emb2 = rng.standard_normal((5, 8)), rng.standard_normal((5, 8))
    seeds = np.array([(0, 0), (4, 4), (2, 2)], dtype=np.int64)
    r1a, r2a = train_embeddings_anchor_np(ids, emb1, ids, emb2, t1, t2, seeds)
    r1b, r2b = train_embeddings_anchor_np(
        ids, emb1, ids, emb2, t1[::-1].copy(), t2, seeds[::-1].copy()
    )
    assert np.array_equal(r1a, r1b) and np.array_equal(r2a, r2b)


# ---------------------------------------------------------------------------
# top-k correspondence batching + per-batch trained-copy isolation
# ---------------------------------------------------------------------------

def test_topk_corr_no_duplicate_pairs(spark):
    """With top_k_corr=2 a KG2 part serves several batches; the sim IR
    must still contain each (src, dst) at most once (the coalesce_sum
    double-add bug)."""
    from largeea_spark.functions.vectors import encode_names
    from largeea_spark.plans.name_channel import entity_names
    from largeea_spark.plans.structure_channel import (
        trained_batched_structure_similarity,
    )

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=120, n_triples=360,
                                               n_links=90)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.3)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    e1 = encode_names(entity_names(pair.kg1.ent, False), "name", dim=16).select("id", "emb")
    e2 = encode_names(entity_names(pair.kg2.ent, False), "name", dim=16).select("id", "emb")
    sim, _ = trained_batched_structure_similarity(
        pair, e1, e2, k_parts=3, knn_k=5, top_k_corr=2
    )
    dup = sim.groupBy("src", "dst").count().where(F.col("count") > 1).count()
    assert dup == 0
    assert sim.count() > 0


def test_low_rank_sim_topk_exact_at_full_rank(spark):
    """L5: when rank ≥ rank(M), the low-rank top-k equals the exact
    top-k of the sparse sim matrix (here M = AᵀB with inner dim 8 →
    rank ≤ 8; request rank 12)."""
    import random

    from largeea_spark.operators.lowrank import low_rank_sim_topk
    from largeea_spark.operators.simops import topk_per_row

    rng = random.Random(5)
    n, m, d = 60, 40, 8
    a = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)]
    b = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(m)]
    rows = []
    for i in range(n):
        for j in range(m):
            rows.append((i, j, sum(x * y for x, y in zip(a[i], b[j]))))
    ir = spark.createDataFrame(rows, "src long, dst long, sim double")
    exact = {(r.src, r.dst) for r in topk_per_row(ir, 5, "src").collect()}
    approx = low_rank_sim_topk(ir, rank=12, n_iter=2, k=5)
    got = {(r.src, r.dst) for r in approx.collect()}
    # identical pair sets (ties are measure-zero on random floats) and
    # reconstructed values match the true sims
    assert got == exact
    vals = {(r.src, r.dst): r.sim for r in approx.collect()}
    true = {(i, j): s for i, j, s in rows}
    for key, v in vals.items():
        assert abs(v - true[key]) < 1e-8


def test_knn_topk_grouped_matches_per_group_loop(spark):
    """The one-stage grouped kNN must equal a driver loop of per-group
    knn_topk calls (same sims, same deterministic tie-break)."""
    import random

    from largeea_spark.operators.knn import knn_topk, knn_topk_grouped

    rng = random.Random(3)
    rows_q, rows_x = [], []
    for g in (0, 1, 2):
        for i in range(30):
            rows_q.append((g, g * 100 + i, [rng.uniform(-1, 1) for _ in range(8)]))
            rows_x.append((g, g * 100 + 50 + i, [rng.uniform(-1, 1) for _ in range(8)]))
    q = spark.createDataFrame(rows_q, "batch int, id long, emb array<double>")
    x = spark.createDataFrame(rows_x, "batch int, id long, emb array<double>")
    got = {(r.src, r.dst): round(r.sim, 9)
           for r in knn_topk_grouped(q, x, k=5, group_col="batch").collect()}
    want = {}
    for g in (0, 1, 2):
        sub = knn_topk(q.where(F.col("batch") == g).select("id", "emb"),
                       x.where(F.col("batch") == g).select("id", "emb"), k=5)
        want.update({(r.src, r.dst): round(r.sim, 9) for r in sub.collect()})
    assert got == want


def test_trainer_pluggable_callable(spark):
    """M5-M7 seam: a custom per-batch trainer callable (e.g. a torch
    GNN on a real cluster) slots into train_batches; verified with a
    numpy mock whose output is provably used."""
    from largeea_spark.operators.trainer import pack_batch_payload, train_batches
    from largeea_spark.operators.partition_kg import (
        place_triples, seed_aware_partition,
    )
    from largeea_spark.functions.vectors import encode_names
    from largeea_spark.plans.name_channel import entity_names

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=60, n_triples=180,
                                               n_links=40)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.3)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    e1 = encode_names(entity_names(kg1.ent, False), "name", dim=8).select("id", "emb")
    e2 = encode_names(entity_names(kg2.ent, False), "name", dim=8).select("id", "emb")
    parts1, parts2 = seed_aware_partition(pair, 2, n_iter=2)
    train = lk.where(F.col("split") == "train").select("e1", "e2")
    placed1, _ = place_triples(kg1.triples, parts1)
    placed2, _ = place_triples(kg2.triples, parts2)
    batches = [(r.part, r.part) for r in parts1.select("part").distinct().collect()]
    payload = pack_batch_payload(batches, parts1, parts2, placed1, placed2,
                                 train, e1, e2)

    def constant_trainer(ids1, emb1, ids2, emb2, t1_, t2_, sd):
        # mock backbone: every embedding becomes [7, 0, ...] — provably
        # NOT the built-in trainer's output
        out1 = np.zeros_like(emb1)
        out2 = np.zeros_like(emb2)
        if out1.size:
            out1[:, 0] = 7.0
        if out2.size:
            out2[:, 0] = 7.0
        return out1, out2

    refined = train_batches(payload, trainer=constant_trainer)
    row = refined.first()
    assert row["emb"][0] == 7.0 and all(v == 0.0 for v in row["emb"][1:])


# ---------------------------------------------------------------------------
# iterative semi-supervision (M4/M8)
# ---------------------------------------------------------------------------

def test_align_iterative_semi_monotone(spark, tmp_path):
    from largeea_spark.plans.pipeline import align_kg_pair
    from largeea_spark.sources.stage import StageStore

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=150, n_triples=450,
                                               n_links=120)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    store = StageStore(spark, str(tmp_path / "semirun"))
    res = align_kg_pair(spark, pair, store, knn_k=20, emb_dim=32, it_rounds=2)
    m = res["metrics"]
    # round-2 fused must not regress vs round-1 fused (mined seeds are
    # margin-filtered + conflict-filtered, so they only add signal)
    assert "fused_r2" in m
    assert m["fused_r2"]["hits@1"] >= m["fused"]["hits@1"] - 1e-9 or \
        m["fused_r2"]["hits@1"] >= 0.9  # already near-saturated
    assert m["fused"]["hits@1"] == m["fused_r2"]["hits@1"]  # final == last round


# ---------------------------------------------------------------------------
# ADVICE B: link URIs absent from triples get fresh ids (not dropped)
# ---------------------------------------------------------------------------

def test_encode_links_extending_appends_fresh_ids(spark):
    from largeea_spark.sources.kg import encode_links_extending

    t1 = spark.createDataFrame(
        [("http://a/r/x", "http://a/p/q", "http://a/r/y")], "s string, p string, o string"
    )
    t2 = spark.createDataFrame(
        [("http://b/r/u", "http://b/p/q", "http://b/r/v")], "s string, p string, o string"
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    links = spark.createDataFrame(
        [("http://a/r/x", "http://b/r/u", 0),
         ("http://a/r/GHOST", "http://b/r/v", 1),     # e1 not in triples
         ("http://a/r/y", "http://b/r/PHANTOM", 2)],  # e2 not in triples
        "u1 string, u2 string, idx long",
    )
    lk, kg1x, kg2x = encode_links_extending(links, kg1, kg2, train_ratio=0.34)
    assert lk.count() == 3  # nothing dropped
    assert kg1x.ent.count() == 3 and kg2x.ent.count() == 3
    # fresh ids are dense extensions beyond the old max
    old_max = 1
    fresh1 = kg1x.ent.where(F.col("uri") == "http://a/r/GHOST").first()
    assert fresh1["id"] == old_max + 1
    # split cut computed over full row count: first row (idx 0) train
    assert lk.where(F.col("split") == "train").count() == 1


def test_encode_links_cut_uses_full_count(spark):
    """A dropped link must not shift the train/test boundary."""
    t1 = spark.createDataFrame(
        [("http://a/r/x", "p", "http://a/r/y"), ("http://a/r/z", "p", "http://a/r/x")],
        "s string, p string, o string",
    )
    kg1 = encode_graph(t1)
    links = spark.createDataFrame(
        [("http://a/r/MISSING", "http://a/r/x", 0),  # dropped by inner join
         ("http://a/r/x", "http://a/r/y", 1),
         ("http://a/r/y", "http://a/r/z", 2),
         ("http://a/r/z", "http://a/r/x", 3)],
        "u1 string, u2 string, idx long",
    )
    lk = encode_links(links, kg1.ent, kg1.ent, train_ratio=0.5)
    # cut = 4 * 0.5 = 2 → idx 0,1 train; idx 0 dropped, so ONE train row
    assert lk.where(F.col("split") == "train").count() == 1
    assert lk.count() == 3


# ---------------------------------------------------------------------------
# sharded EAKit export reads back identically
# ---------------------------------------------------------------------------

def test_save_eakit_sharded_roundtrip(spark, tmp_path):
    from largeea_spark.sources.kg import save_eakit_format

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=40, n_triples=120,
                                               n_links=30)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    pair = KGPair(kg1, kg2, lk)
    out_m, out_s = str(tmp_path / "multi"), str(tmp_path / "single")
    save_eakit_format(pair, out_m)                      # sharded default
    save_eakit_format(pair, out_s, single_file=True)
    for name, schema in [("triples_1", "src long, rel long, dst long"),
                         ("links", "e1 long, e2 long, split string")]:
        a = spark.read.csv(f"{out_m}/{name}", sep="\t", schema=schema)
        b = spark.read.csv(f"{out_s}/{name}", sep="\t", schema=schema)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# ---------------------------------------------------------------------------
# VERDICT #4: real-encoder seam — a swapped model flows through phases 1-2
# ---------------------------------------------------------------------------

def test_encoder_seam_mock_model(spark):
    """encoder=<loader> must flow through encode_names AND the phase-1/2
    kNN unchanged in shape, with values provably from the model."""
    from largeea_spark.functions.vectors import encode_names
    from largeea_spark.plans.name_channel import name_embedding_similarity

    def _mock_encoder_loader():
        # zero-arg loader (runs executor-side): deterministic stand-in
        # for a sentence-transformers-style model with encode(texts) →
        # ndarray; a CLOSURE so cloudpickle ships it by value (a real
        # loader would import the model library instead)
        class MockSentenceEncoder:
            DIM = 12

            def encode(self, texts):
                out = np.zeros((len(texts), self.DIM), dtype=np.float32)
                for i, t in enumerate(texts):
                    for j, ch in enumerate((t or "")[: self.DIM]):
                        out[i, j] = (ord(ch) % 97) / 97.0
                    out[i, -1] = len(t or "")
                return out

        return MockSentenceEncoder()

    # empty, 500-char and non-ASCII names over 3 partitions: executor
    # output must equal the model's own driver-side encode BITWISE
    names = ["Alice_Springs", "Berlin", "", "Łódź_Voivodeship",
             "a" * 500, "Nürnberg", "東京", "x"]
    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)],
                               "id long, name string").repartition(3)
    enc = encode_names(df, "name", encoder=_mock_encoder_loader)
    rows = {r.id: np.array(r.emb, dtype=np.float32) for r in enc.collect()}
    expect = _mock_encoder_loader().encode(names)
    for i in range(len(names)):
        assert np.array_equal(rows[i], expect[i]), i
    assert len(rows[0]) == 12

    # phases 1-2 end-to-end with the swapped encoder
    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=60, n_triples=180,
                                               n_links=40)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    sim = name_embedding_similarity(pair, k=5, encoder=_mock_encoder_loader)
    assert sim.columns == ["src", "dst", "sim"]
    assert sim.count() > 0
    # hashed remains the default and is unaffected
    sim_h = name_embedding_similarity(pair, k=5, dim=16)
    assert sim_h.count() > 0


def test_encode_names_rejects_bad_encoder(spark):
    from largeea_spark.functions.vectors import encode_names

    df = spark.createDataFrame([(0, "x")], "id long, name string")
    with pytest.raises(ValueError):
        encode_names(df, "name", encoder="bert")


# ---------------------------------------------------------------------------
# F13: CPM concatenated power means (complex-root parity)
# ---------------------------------------------------------------------------

def test_power_mean_pooling_complex_root_parity(spark):
    """p=3 mean over negative values must follow the COMPLEX principal
    root (reference gen_mean, text_utils.py:237-246): for vals [-8.0],
    (mean((-8)³ʳᵈ... )) — directly: (( -8 )^3 mean)^(1/3).real — the
    principal complex root of a negative is NOT the real cube root."""
    from largeea_spark.functions.vectors import power_mean_pooling

    e2w = spark.createDataFrame([(0, 10), (0, 11)], "ent_id long, word_id long")
    wv = spark.createDataFrame(
        [(10, [-8.0, 1.0]), (11, [-8.0, 2.0])], "word_id long, emb array<double>"
    )
    out = power_mean_pooling(e2w, wv, ps=(1.0, 3.0), include_minmax=True)
    row = out.first()
    got = np.array(row["emb"])
    assert len(got) == 8  # 2 p-means + min + max, d=2
    # p=1 block
    assert np.allclose(got[0:2], [-8.0, 1.5])
    # p=3 block: complex principal root semantics
    expect_p3 = np.power(
        np.mean(np.power(np.array([[-8.0, 1.0], [-8.0, 2.0]], dtype=complex), 3.0),
                axis=0), 1 / 3.0).real
    assert np.allclose(got[2:4], expect_p3)
    # the real cube root of -512 mean would be -8; complex principal is +4
    assert got[2] > 0
    # min / max blocks
    assert np.allclose(got[4:6], [-8.0, 1.0])
    assert np.allclose(got[6:8], [-8.0, 2.0])


# ---------------------------------------------------------------------------
# VERDICT #8: blocking drops are observable (no silent caps)
# ---------------------------------------------------------------------------

def test_minhash_drop_stats_surface(spark):
    from largeea_spark.operators.blocking import minhash_candidates

    # 60 rows share one token set → every band bucket is hot at cap 10
    hot = [(i, ["same", "tokens", "here"]) for i in range(60)]
    cold = [(100 + i, [f"uniq{i}", f"tok{i}"]) for i in range(5)]
    df = spark.createDataFrame(hot + cold, "id long, toks array<string>")
    stats: dict = {}
    cand = minhash_candidates(df, df, "id", "toks", max_bucket=10, stats=stats)
    assert stats["dropped_buckets_1"] > 0
    assert stats["dropped_rows_1"] >= 60
    # hot group generates no candidates; cold self-pairs survive
    assert cand.where(F.col("src") < 100).count() == 0
    # only side 1 hot: side 2's counts are 0, not missing
    stats1: dict = {}
    cand1 = minhash_candidates(df, df.where(F.col("id") >= 100), "id", "toks",
                               max_bucket=10, stats=stats1)
    assert stats1["dropped_buckets_1"] == stats["dropped_buckets_1"]
    assert stats1["dropped_rows_1"] == stats["dropped_rows_1"]
    assert stats1["dropped_buckets_2"] == 0 and stats1["dropped_rows_2"] == 0
    assert sorted(tuple(r) for r in cand1.collect()) == [(100 + i, 100 + i) for i in range(5)]


def test_pipeline_logs_blocking_metrics(spark, tmp_path):
    from largeea_spark.plans.pipeline import align_kg_pair
    from largeea_spark.sources.stage import StageStore

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=80, n_triples=240,
                                               n_links=60)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    store = StageStore(spark, str(tmp_path / "blockrun"))
    align_kg_pair(spark, pair, store, knn_k=10, emb_dim=16,
                  use_structure=False)
    m = store.metrics()
    assert m.where(F.col("stage") == "sim_string_blocking").count() == 1


# ---------------------------------------------------------------------------
# VERDICT #10: G5 random-partition baseline
# ---------------------------------------------------------------------------

def test_random_partition_invariants(spark):
    from largeea_spark.operators.partition_kg import (
        place_triples, random_partition, seed_aware_partition,
    )

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=150, n_triples=450,
                                               n_links=100)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.3)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    p1, p2 = random_partition(pair, k=4)
    # one part per entity
    assert p1.count() == kg1.ent.count()
    assert p1.select("id").distinct().count() == p1.count()
    # train pairs co-located
    train = lk.where(F.col("split") == "train")
    j = (
        train.join(p1.select(F.col("id").alias("e1"), F.col("part").alias("q1")), "e1")
        .join(p2.select(F.col("id").alias("e2"), F.col("part").alias("q2")), "e2")
    )
    assert j.where(F.col("q1") != F.col("q2")).count() == 0
    # G8 comparison: random drops ≥ seed-aware drops (structure-blind
    # placement cuts more triples — the reason seed-aware exists)
    s1, s2 = seed_aware_partition(pair, 4, n_iter=3)
    _, drop_rand = place_triples(pair.kg1.triples, p1)
    _, drop_seed = place_triples(pair.kg1.triples, s1)
    assert drop_rand >= drop_seed


# ---------------------------------------------------------------------------
# IVF name channel: scale path within tolerance of brute force
# ---------------------------------------------------------------------------

def test_name_channel_ivf_within_tolerance(spark):
    from largeea_spark.operators import evalx
    from largeea_spark.plans.name_channel import name_embedding_similarity

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=400, n_triples=1200,
                                               n_links=300)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    test = lk.where(F.col("split") == "test")
    brute = name_embedding_similarity(pair, k=20)
    ivf = name_embedding_similarity(pair, k=20, method="ivf", nlist=8, nprobe=4)
    mb = evalx.hits_and_mrr(brute, test, ks=(1,), n_src=400)
    mi = evalx.hits_and_mrr(ivf, test, ks=(1,), n_src=400)
    assert mi["hits@1"] >= mb["hits@1"] - 0.05, (mi, mb)
    # determinism: re-run identical
    ivf2 = name_embedding_similarity(pair, k=20, method="ivf", nlist=8, nprobe=4)
    assert abs(evalx.hits_and_mrr(ivf2, test, ks=(1,), n_src=400)["hits@1"]
               - mi["hits@1"]) < 1e-12


# ---------------------------------------------------------------------------
# blocked Jaccard kernel ≡ posting join (exact), incl. hot shingles
# ---------------------------------------------------------------------------

def test_jaccard_blocked_equals_posting_on_skewed_corpus(spark):
    """Every doc shares one hot sentence (hot shingle df = corpus size);
    the blocked kernel must return EXACTLY the posting join's pairs."""
    hot = "the quick brown fox jumps over dogs"
    rows = [(i, f"{hot} unique{i} tail{i} extra{i % 7} blob{i % 3}")
            for i in range(300)]
    # a few true near-dups
    rows += [(1000 + i, f"{hot} unique{i} tail{i} extra{i % 7} blob{i % 3}")
             for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from largeea_spark.operators.dedup import ngram_jaccard_pairs

    got_blocked = {(r.a, r.b, round(r.jaccard, 9)) for r in
                   ngram_jaccard_pairs(docs, n=2, threshold=0.5,
                                       method="blocked").collect()}
    got_post = {(r.a, r.b, round(r.jaccard, 9)) for r in
                ngram_jaccard_pairs(docs, n=2, threshold=0.5,
                                    method="posting").collect()}
    assert got_blocked == got_post
    assert {(a, b) for a, b, _ in got_blocked} >= {(i, 1000 + i) for i in range(5)}


# ---------------------------------------------------------------------------
# catalog-table stage store (the Iceberg materialization path)
# ---------------------------------------------------------------------------

def test_table_stage_store_construct_resume(spark, tmp_path):
    """Full construct pipeline against CATALOG TABLES (saveAsTable /
    spark.table / tableExists) — the code path that is Iceberg snapshots
    on a real cluster. Resume must be a metadata read; lineage +
    metrics land as tables in the namespace."""
    from largeea_spark.plans.pipeline import construct_kg_from_pages
    from largeea_spark.sources.stage import TableStageStore

    # (spark.sql.warehouse.dir is a static conf — tables land in the
    # session's default warehouse; the finally block drops everything)
    pages, gold = fixtures.web_pages_fixture(spark, n_pages=80)
    store = TableStageStore(spark, "kg_soak_ns")
    try:
        out = construct_kg_from_pages(spark, pages, store)
        n = out["kg"].count()
        assert n > 0
        assert store.lineage("triples").count() > 0
        assert store.metrics().count() >= 1
        # resume: rebuild returns identical counts without rebuilding
        out2 = construct_kg_from_pages(spark, pages, store)
        assert out2["kg"].count() == n
        # stages are real catalog tables
        tables = {t.name for t in spark.catalog.listTables("kg_soak_ns")}
        assert "kg_canonical" in tables and "triples__lineage" in tables
    finally:
        for t in spark.catalog.listTables("kg_soak_ns"):
            spark.sql(f"DROP TABLE IF EXISTS kg_soak_ns.{t.name}")
        spark.sql("DROP NAMESPACE IF EXISTS kg_soak_ns")


# ---------------------------------------------------------------------------
# Gopher-style repetition filter (line-dup rule needs multi-line docs)
# ---------------------------------------------------------------------------

def test_repetition_features_rules(spark):
    from largeea_spark.operators.textstats import repetition_features

    docs = spark.createDataFrame(
        [
            (0, "a normal line\nanother line\nthird line"),
            (1, "same\nsame\nsame\nsame"),                    # dup lines
            (2, "buy now buy now buy now buy now"),            # one bigram
            (3, ""),                                           # empty
            (4, "single"),                                     # no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_features(docs).collect()}
    assert got[0].repetition_ok
    assert got[1].dup_line_frac == 0.75 and not got[1].repetition_ok
    # "buy now" bigram: tokens [buy now]*4 → bigrams 7, "buy now"=4,
    # "now buy"=3 → share 4/7 > 0.2
    assert got[2].top_bigram_share > 0.5 and not got[2].repetition_ok
    assert got[3].n_lines == 0 and got[3].repetition_ok
    assert got[4].top_bigram_share == 0.0 and got[4].repetition_ok


# ---------------------------------------------------------------------------
# ADVICE C/D: tokenizer empty tokens, levenshtein null semantics
# ---------------------------------------------------------------------------

def test_tokenize_ws_empty_and_whitespace(spark):
    from largeea_spark.functions.names import tokenize_ws

    df = spark.createDataFrame(
        [("",), ("   ",), ("a  b",), (" a ",)], "t string"
    ).select(tokenize_ws(F.col("t")).alias("toks"))
    got = [r.toks for r in df.collect()]
    assert got == [[], [], ["a", "b"], ["a"]]  # Python str.split() parity


def test_levenshtein_ratio_null_semantics(spark):
    from largeea_spark.functions.levenshtein import levenshtein_ratio, ratio_py

    df = spark.createDataFrame(
        [(None, None), (None, "ab"), ("ab", "ab"), ("", "")],
        "a string, b string",
    ).select("a", "b", levenshtein_ratio(F.col("a"), F.col("b")).alias("r"))
    got = {(r.a, r.b): r.r for r in df.collect()}
    assert got[(None, None)] == 0.0 == ratio_py(None, None)
    assert got[(None, "ab")] == 0.0
    assert got[("ab", "ab")] == 1.0
    assert got[("", "")] == 1.0 == ratio_py("", "")
