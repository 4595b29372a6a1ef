"""Round-2 regression + feature tests: star-edge canonicalization,
seed-anchor trainer, iterative semi-supervision, link extension,
top-k correspondence batching, sharded export, tokenizer/levenshtein
edge cases."""

import json

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


def test_train_batches_matches_per_group_knn_loop(spark):
    """The trainer's grouped task scores each batch like a driver loop of
    per-group knn_topk calls (same sims, same selection)."""
    import random

    from largeea_spark.operators.knn import knn_topk
    from largeea_spark.operators.trainer import PAYLOAD_SCHEMA, train_batches

    rng = random.Random(3)
    rows_q, rows_x = [], []
    for g in (0, 1, 2):
        for i in range(30):
            rows_q.append((g, g * 100 + i, [rng.uniform(-1, 1) for _ in range(8)]))
            rows_x.append((g, g * 100 + 50 + i, [rng.uniform(-1, 1) for _ in range(8)]))
    q = spark.createDataFrame(rows_q, "batch int, id long, emb array<double>")
    x = spark.createDataFrame(rows_x, "batch int, id long, emb array<double>")
    payload = spark.createDataFrame(
        [(g, "e1", i, None, None, v) for g, i, v in rows_q]
        + [(g, "e2", i, None, None, v) for g, i, v in rows_x], PAYLOAD_SCHEMA)

    def identity(ids1, emb1, ids2, emb2, *_):
        return emb1, emb2

    got = {(r.src, r.dst): round(r.sim, 9)
           for r in train_batches(payload, k=5, trainer=identity).collect()}
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
    from largeea_spark.operators.trainer import batch_payload, train_batches
    from largeea_spark.operators.partition_kg import seed_aware_placement
    from largeea_spark.functions.vectors import encode_names
    from largeea_spark.plans.name_channel import entity_names

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=60, n_triples=180,
                                               n_links=40)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.3)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    e1 = encode_names(entity_names(kg1.ent, False), "name", dim=8).select("id", "emb")
    e2 = encode_names(entity_names(kg2.ent, False), "name", dim=8).select("id", "emb")
    payload = batch_payload(seed_aware_placement(pair, 2, n_iter=2), e1, e2)

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

    # every refined vector is [7, 0, ...], so every pair scores exactly
    # 1 − ‖q − x‖² = 1.0 (the built-in trainer's sims are spread)
    sims = [r.sim for r in train_batches(payload, k=5,
                                         trainer=constant_trainer).collect()]
    assert sims and all(v == 1.0 for v in sims)


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
    # A5 word→entity mean/max pooling is the p=1 block plus the max block
    e2w = spark.createDataFrame([(0, 0), (0, 1), (1, 1)], "ent_id long, word_id long")
    wemb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 2.0])], "word_id long, emb array<double>"
    )
    a5 = {r.ent_id: r.emb for r in
          power_mean_pooling(e2w, wemb, ps=(1.0,), include_minmax=True).collect()}
    assert a5[0][:2] == [0.5, 1.0] and a5[1][:2] == [0.0, 2.0]
    assert a5[0][4:] == [1.0, 2.0]


# ---------------------------------------------------------------------------
# VERDICT #8: blocking drops are observable (no silent caps)
# ---------------------------------------------------------------------------

def test_minhash_drop_stats_surface(spark):
    from largeea_spark.operators.blocking import minhash_candidates

    # 60 rows share one token set → all 32 band buckets are hot at cap
    # 10: 32 buckets and 32 × 60 = 1920 band-key rows dropped per side
    hot = [(i, ["same", "tokens", "here"]) for i in range(60)]
    cold = [(100 + i, [f"uniq{i}", f"tok{i}"]) for i in range(5)]
    df = spark.createDataFrame(hot + cold, "id long, toks array<string>")
    stats: dict = {}
    cand = minhash_candidates(df, df, "id", "toks", max_bucket=10, stats=stats)
    assert stats == {"dropped_buckets_1": 32, "dropped_rows_1": 1920,
                     "dropped_buckets_2": 32, "dropped_rows_2": 1920}
    # hot group generates no candidates; cold self-pairs survive
    assert cand.where(F.col("src") < 100).count() == 0
    # only side 1 hot: side 2's counts are 0, not missing
    stats1: dict = {}
    cand1 = minhash_candidates(df, df.where(F.col("id") >= 100), "id", "toks",
                               max_bucket=10, stats=stats1)
    assert stats1 == {"dropped_buckets_1": 32, "dropped_rows_1": 1920,
                      "dropped_buckets_2": 0, "dropped_rows_2": 0}
    assert sorted(tuple(r) for r in cand1.collect()) == [(100 + i, 100 + i) for i in range(5)]
    # side 1 is only the hot rows: every side-1 band key is dropped, so
    # the join has an empty side and yields nothing
    stats2: dict = {}
    cand2 = minhash_candidates(df.where(F.col("id") < 100), df, "id", "toks",
                               max_bucket=10, stats=stats2)
    assert stats2 == stats
    assert cand2.count() == 0


def test_minhash_candidates_match_per_side_band_keys(spark):
    """The one tagged band-key plan gives exactly the cross-side (band,
    key) collisions of two separate ``explode_band_keys`` calls, with
    each side's buckets over the cap removed (computed here in Python)."""
    from collections import Counter

    from largeea_spark.functions.hashing import explode_band_keys
    from largeea_spark.operators.blocking import NAME_LSH, minhash_candidates

    base = [f"t{j}" for j in range(8)]
    side1 = [
        (1, base),                                  # shared verbatim
        (2, base[:7] + ["x1"]),                     # near-duplicates of 1:
        (3, base[:7] + ["x2"]),                     # a band where all four
        (4, base[:7] + ["x3"]),                     # collide is over the cap
        (5, ["solo", "left"]),                      # disjoint
        (6, ["alpha", "beta", "gamma", "delta"]),
    ]
    side2 = [
        (11, base),
        (12, base[:7] + ["y1"]),
        (13, ["alpha", "beta", "gamma", "epsilon"]),  # near-duplicate of 6
        (14, ["solo", "right"]),
        (15, ["nothing", "shared"]),
    ]
    schema = "id long, toks array<string>"
    df1 = spark.createDataFrame(side1, schema)
    df2 = spark.createDataFrame(side2, schema)
    cap = 3

    def bucket_rows(df):
        return [(r["id"], r["band"], r["key"]) for r in
                explode_band_keys(df, "id", "toks", *NAME_LSH).collect()]

    def capped(rows):
        n = Counter((b, k) for _, b, k in rows)
        kept = [(i, b, k) for i, b, k in rows if n[(b, k)] <= cap]
        return kept, sum(1 for c in n.values() if c > cap), len(rows) - len(kept)

    kept1, hot1, hot_rows1 = capped(bucket_rows(df1))
    kept2, hot2, _ = capped(bucket_rows(df2))
    by_key: dict = {}
    for i, b, k in kept2:
        by_key.setdefault((b, k), []).append(i)
    want = sorted({(i, j) for i, b, k in kept1 for j in by_key.get((b, k), [])})
    # the fixture exercises the cap, and collisions survive it
    assert hot1 >= 1 and hot2 == 0
    assert want and (1, 11) in want

    stats: dict = {}
    got = minhash_candidates(df1, df2, "id", "toks", max_bucket=cap, stats=stats)
    assert sorted(tuple(r) for r in got.collect()) == want
    # without stats the counted keys are not checkpointed: same pairs
    lazy = minhash_candidates(df1, df2, "id", "toks", max_bucket=cap)
    assert sorted(tuple(r) for r in lazy.collect()) == want
    assert stats == {"dropped_buckets_1": hot1, "dropped_rows_1": hot_rows1,
                     "dropped_buckets_2": 0, "dropped_rows_2": 0}


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
    # the kNN path 'auto' chose, and the index size it chose from
    knn = [json.loads(r.metrics) for r in
           m.where(F.col("stage") == "sim_embed_knn").collect()]
    assert knn == [{"knn_method": "brute", "n_index": kg2.ent.count()}]


# ---------------------------------------------------------------------------
# VERDICT #10: G5 random-partition baseline
# ---------------------------------------------------------------------------

def test_random_partition_invariants(spark):
    from largeea_spark.operators.partition_kg import (
        random_partition, seed_aware_placement,
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
    tri = pair.kg1.triples
    n_triples = tri.count()
    kept_rand = (
        tri.join(p1.select(F.col("id").alias("src"), F.col("part").alias("ph")), "src")
        .join(p1.select(F.col("id").alias("dst"), F.col("part").alias("pt")), "dst")
        .where(F.col("ph") == F.col("pt")).count()
    )
    placed = seed_aware_placement(pair, 4, n_iter=3)
    drop_rand = n_triples - kept_rand
    drop_seed = n_triples - placed.where(F.col("kind") == "t1").count()
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
        lin = store.lineage("triples").collect()
        assert lin
        # min/max compare in the column's own type (9 < 10), and the
        # rows together span the stage's key range
        assert all(int(r.min_key) <= int(r.max_key) for r in lin), lin
        lo, hi = out["triples"].agg(F.min("src"), F.max("src")).first()
        assert min(int(r.min_key) for r in lin) == lo
        assert max(int(r.max_key) for r in lin) == hi
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
