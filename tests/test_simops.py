"""simops + evalx unit tests vs numpy/scipy-style oracles
(FIXTURES.md §4 micro-fixtures)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from largeea_spark.operators import evalx, simops


def to_df(spark, mat):
    rows = [
        (i, j, float(v))
        for i, row in enumerate(mat)
        for j, v in enumerate(row)
        if v != 0
    ]
    return spark.createDataFrame(rows, "src long, dst long, sim double")


A = [[1.0, 0, 2.0], [0, 3.0, 0], [0.5, 0, 0], [0, 0, 4.0]]
B = [[1.0, 0, 0, 0, 2.0], [0, 0, 3.0, 0, 0], [0, 5.0, 0, 0, 1.0]]


def test_spspmm_vs_numpy(spark):
    got = simops.spspmm(to_df(spark, A), to_df(spark, B)).collect()
    want = np.array(A) @ np.array(B)
    for r in got:
        assert math.isclose(r.sim, want[r.src][r.dst]), r
    n_nonzero = int((want != 0).sum())
    assert len(got) == n_nonzero


def test_spmm_dense_vs_numpy(spark):
    emb = spark.createDataFrame(
        [(j, [float(j + 1), float(2 * j)]) for j in range(3)], "id long, emb array<double>"
    )
    got = {r.id: r.emb for r in simops.spmm_dense(to_df(spark, A), emb).collect()}
    E = np.array([[j + 1, 2 * j] for j in range(3)], dtype=float)
    want = np.array(A) @ E
    for i, row in got.items():
        assert np.allclose(row, want[i])


def test_topk_argmax_bimapping(spark):
    sim = to_df(spark, A)
    top1 = {r.src: r.dst for r in simops.topk_per_row(sim, 1).collect()}
    assert top1 == {0: 2, 1: 1, 2: 0, 3: 2}
    am = {r.src: r.argmax for r in simops.argmax(sim).collect()}
    assert am == top1
    # mutual: (1,1) and (3,2); (0,2) fails col2→row3, (2,0) fails col0→row0
    bi = {(r.src, r.dst) for r in simops.bi_mapping(sim).collect()}
    assert bi == {(1, 1), (3, 2)}


def test_softmax_and_minmax(spark):
    sim = to_df(spark, A)
    sm = simops.sparse_softmax(sim, "src").collect()
    rows = {}
    for r in sm:
        rows.setdefault(r.src, []).append(r.sim)
    for vals in rows.values():
        assert math.isclose(sum(vals), 1.0, rel_tol=1e-9)
    # softmax over stored entries only (torch sparse semantics)
    want0 = np.exp(np.array([1.0, 2.0]) - 2.0)
    want0 /= want0.sum()
    got0 = sorted(v for v in rows[0])
    assert np.allclose(sorted(want0), got0)

    mm = {(r.src, r.dst): r.sim for r in simops.minmax_norm(sim).collect()}
    assert math.isclose(mm[(3, 2)], 1.0) and math.isclose(mm[(2, 0)], 0.0)


def test_fuse_weighted(spark):
    s1, s2 = to_df(spark, A), to_df(spark, A)
    fused = {(r.src, r.dst): r.sim for r in simops.fuse([s1, s2], [1.0, 0.05]).collect()}
    assert math.isclose(fused[(0, 2)], 2.0 * 1.05)


def test_csls_rescore(spark):
    sim = to_df(spark, A)
    got = {(r.src, r.dst): r.sim for r in simops.csls_rescore(sim, k=2).collect()}
    # r_src(0) = mean(top2 of row0) = 1.5 ; r_dst(2) = mean(2.0, 4.0) = 3.0
    assert math.isclose(got[(0, 2)], 2 * 2.0 - 1.5 - 3.0)


# --- eval fixtures (FIXTURES.md §4 "eval matrix")
def test_hits_mrr_and_accuracy(spark):
    sim = to_df(spark, A)
    links = spark.createDataFrame([(0, 2), (1, 0), (3, 2)], "e1 long, e2 long")
    res = evalx.hits_and_mrr(sim, links, ks=(1, 2), n_src=4)
    # gold ranks: (0,2)->1, (1,0) absent->fail rank=2 (0-based)→1/3, (3,2)->1
    assert math.isclose(res["hits@1"], 2 / 3)
    assert math.isclose(res["MRR"], (1 + 1 / 3 + 1) / 3)
    acc = evalx.accuracy(sim, links)
    assert math.isclose(acc, 2 / 3)
    # mapping form: every entry in one aggregate, each equal to its
    # single-sim call, at two fail ranks (n_src/2)
    sims = {"a": sim, "b": to_df(spark, B), "csls": simops.csls_rescore(sim, k=2),
            "empty": spark.createDataFrame([], "src long, dst long, sim double")}
    for kw in ({"n_src": 4}, {"n_src": 14}):
        many = evalx.hits_and_mrr(sims, links, ks=(1, 2), **kw)
        assert list(many) == list(sims)
        for name, s in sims.items():
            one = evalx.hits_and_mrr(s, links, ks=(1, 2), **kw)
            assert list(many[name]) == list(one) == ["MRR", "hits@1", "hits@2"]
            assert many[name] == pytest.approx(one, rel=1e-12, abs=0), (name, kw)
    assert evalx.hits_and_mrr(sims, links, ks=(1, 2), n_src=4)["a"] == pytest.approx(res)


def test_precision_recall(spark):
    pred = spark.createDataFrame([(1, 1), (2, 2)], "e1 long, e2 long")
    gold = spark.createDataFrame([(1, 1), (3, 3)], "e1 long, e2 long")
    pr = evalx.precision_recall_f1(pred, gold)
    assert pr["precision"] == 0.5 and pr["recall"] == 0.5 and pr["tp"] == 1
