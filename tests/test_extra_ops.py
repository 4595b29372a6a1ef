"""Coverage for J4 share_triples, W11 margin pairs, L2 pruned spspmm,
L6 sinkhorn, L7 procrustes, A5 word→entity pooling, S6 vector scan."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from largeea_spark.functions.vectors import procrustes, word_to_entity_embedding
from largeea_spark.operators import simops
from largeea_spark.operators.partition_kg import share_triples
from largeea_spark.sources.kg import KG, KGPair, read_aligned_vectors


def test_share_triples(spark):
    t1 = spark.createDataFrame([(0, 0, 1), (1, 0, 2)], "src long, rel long, dst long")
    t2 = spark.createDataFrame([(10, 0, 11)], "src long, rel long, dst long")
    links = spark.createDataFrame(
        [(0, 10, "train"), (1, 11, "train"), (2, 12, "test")],
        "e1 long, e2 long, split string",
    )
    ent = spark.createDataFrame([("x", 0)], "uri string, id long")
    pair = KGPair(KG(ent, ent, t1), KG(ent, ent, t2), links)
    p1, p2 = share_triples(pair)
    # KG2's (10,0,11) maps to (0,0,1) — already in KG1 → no growth
    assert p1.count() == 2
    # KG1's (0,0,1) maps to (10,0,11) dup; (1,0,2) has untrained dst 2 → skipped
    assert p2.count() == 1


def test_margin_mutual_pairs(spark):
    rows = [
        (0, 0, 0.9), (0, 1, 0.2),       # clear margin both ways
        (1, 1, 0.6), (1, 2, 0.55),      # src margin ok, dst2 margin small
        (2, 2, 0.8),                    # dst 2 column gap = 0.8-0.55 < th
        (3, 4, 0.9),                    # isolated pair → gaps = 0.9
    ]
    df = spark.createDataFrame(rows, "src long, dst long, sim double")
    got = {(r.src, r.dst) for r in simops.margin_mutual_pairs(df, th=0.3).collect()}
    assert (0, 0) in got
    assert (1, 1) not in got
    assert (2, 2) not in got  # column-2 top2 gap 0.25 < 0.3 (ref semantics)
    assert (3, 4) in got


def test_spspmm_pruned(spark):
    a = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 1.0), (1, 1, 1.0)], "src long, dst long, sim double"
    )
    b = spark.createDataFrame(
        [(0, 0, 100.0), (1, 0, 0.001), (1, 1, 0.001)], "src long, dst long, sim double"
    )
    out = {(r.src, r.dst): r.sim for r in simops.spspmm_pruned(a, b, eps=0.5).collect()}
    # row 0 of product: (0,0)=100.001 dominates softmax; (0,1)=0.001 pruned
    assert (0, 0) in out and (0, 1) not in out


def test_sinkhorn_rowcol_stochastic(spark):
    df = spark.createDataFrame(
        [(0, 0, 3.0), (0, 1, 1.0), (1, 0, 1.0), (1, 1, 3.0)],
        "src long, dst long, sim double",
    )
    out = simops.sinkhorn(df, n_iter=6)
    rows = out.groupBy("src").agg(F.sum("sim").alias("s")).collect()
    for r in rows:
        assert math.isclose(r.s, 1.0, rel_tol=1e-3)


def test_procrustes_recovers_rotation(spark):
    rng = np.random.default_rng(0)
    d = 4
    theta = 0.7
    rot = np.eye(d)
    rot[0, 0] = rot[1, 1] = np.cos(theta)
    rot[0, 1], rot[1, 0] = -np.sin(theta), np.sin(theta)
    x = rng.standard_normal((30, d))
    y = x @ rot.T
    e1 = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(30)], "id long, emb array<double>"
    )
    e2 = spark.createDataFrame(
        [(i, y[i].tolist()) for i in range(30)], "id long, emb array<double>"
    )
    anchors = spark.createDataFrame([(i, i) for i in range(30)], "e1 long, e2 long")
    w = np.array(procrustes(e1, e2, anchors))
    # x @ w.T ≈ y ⇒ w ≈ rot  (X1ᵀX2 SVD convention: W maps e1-space to e2)
    assert np.allclose(x @ w, y, atol=1e-8) or np.allclose(x @ w.T, y, atol=1e-8)


def test_word_to_entity_embedding(spark):
    e2w = spark.createDataFrame([(0, 0), (0, 1), (1, 1)], "ent_id long, word_id long")
    wemb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 2.0])], "word_id long, emb array<double>"
    )
    got = {r.ent_id: r.emb for r in word_to_entity_embedding(e2w, wemb, "mean").collect()}
    assert got[0] == [0.5, 1.0] and got[1] == [0.0, 2.0]
    gmax = {r.ent_id: r.emb for r in word_to_entity_embedding(e2w, wemb, "max").collect()}
    assert gmax[0] == [1.0, 2.0]


def test_save_eakit_format(spark, tmp_path):
    """S5 (`save_eakit_format` `dataset.py:66-85`): KG2 ids shifted by
    |ent1|/|rel1|, sorted TSV files on disk."""
    from largeea_spark.sources import fixtures
    from largeea_spark.sources.kg import encode_graph, encode_links, save_eakit_format

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=40, n_triples=120,
                                               n_links=30)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    pair = KGPair(kg1, kg2, lk)
    out = str(tmp_path / "eakit")
    save_eakit_format(pair, out)
    ents2 = spark.read.csv(f"{out}/ent_ids_2", sep="\t", schema="id long, uri string")
    n1 = kg1.ent.count()
    assert ents2.agg(F.min("id")).first()[0] == n1  # shift applied
    trip2 = spark.read.csv(f"{out}/triples_2", sep="\t",
                           schema="src long, rel long, dst long")
    assert trip2.agg(F.min("src")).first()[0] >= n1
    lks = spark.read.csv(f"{out}/links", sep="\t",
                         schema="e1 long, e2 long, split string")
    assert lks.count() == 30 and lks.agg(F.min("e2")).first()[0] >= n1


def test_read_aligned_vectors(spark, tmp_path):
    p = tmp_path / "vecs.txt"
    p.write_text("2 3\nhello 0.1 0.2 0.3\nworld 1.0 -1.0 0.5\n")
    got = {r.word: r.emb for r in read_aligned_vectors(spark, str(p)).collect()}
    assert set(got) == {"hello", "world"}
    assert math.isclose(got["world"][0], 1.0, rel_tol=1e-6)


def test_sample_negatives(spark):
    from largeea_spark.operators.structure import sample_negatives

    triples = spark.createDataFrame(
        [(i, 0, (i + 1) % 20) for i in range(20)], "src long, rel long, dst long"
    )
    neg = sample_negatives(triples, n_ents=20, n_per_pos=2, seed=7)
    n = neg.count()
    assert 0 < n <= 40
    # no negative collides with a true triple
    assert neg.join(triples, ["src", "rel", "dst"], "inner").count() == 0
    # deterministic
    again = sample_negatives(triples, n_ents=20, n_per_pos=2, seed=7)
    assert sorted(map(tuple, neg.collect())) == sorted(map(tuple, again.collect()))
