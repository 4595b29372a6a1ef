"""kNN family: exact grid-blocked vs brute force, IVF-ANN recall,
FAISS sim semantics (J8/J9)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from largeea_spark.operators.knn import ivf_topk, knn_topk


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(5)
    # 12 clusters so ANN structures have signal
    centers = rng.standard_normal((12, 16)) * 3
    rows = []
    for i in range(600):
        c = centers[i % 12]
        rows.append((i, (c + rng.standard_normal(16) * 0.3).astype(np.float32).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "emb"]))
    df.cache().count()
    return df


def brute_force_pd(df, k):
    pdf = df.toPandas().sort_values("id")
    m = np.array(pdf["emb"].tolist(), dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = 1.0 - (
        (m * m).sum(1)[:, None] + (m * m).sum(1)[None, :] - 2.0 * m @ m.T
    )
    ids = pdf["id"].to_numpy()
    out = {}
    for i in range(len(ids)):
        order = np.argsort(-sims[i])[:k]
        out[ids[i]] = {ids[j] for j in order}
    return out


def test_exact_grid_matches_bruteforce(spark, emb_df):
    want = brute_force_pd(emb_df, 5)
    got = {}
    res = knn_topk(emb_df, emb_df, k=5, n_blocks=4, n_query_blocks=3).collect()
    for r in res:
        got.setdefault(r.src, set()).add(r.dst)
    # exact: identical neighbor sets modulo ties at the k boundary
    matches = sum(len(got[i] & want[i]) for i in want) / (5 * len(want))
    assert matches > 0.99, matches


def test_faiss_sim_semantics(spark, emb_df):
    """sim = 1 − L2² on normalized vectors; self-match must be ≈1.0
    (`text_utils.py:301` val = 1 − val)."""
    res = knn_topk(emb_df, emb_df, k=1, n_blocks=2, n_query_blocks=2).collect()
    for r in res:
        assert r.dst == r.src and math.isclose(r.sim, 1.0, abs_tol=1e-9)


def recall_at(res, want, k):
    got = {}
    for r in res:
        got.setdefault(r.src, set()).add(r.dst)
    return sum(len(got.get(i, set()) & want[i]) for i in want) / (k * len(want))


def test_self_join_counts_once(spark, emb_df):
    """knn_topk(e, e) sizes both grid axes from ONE count: building the
    plan starts exactly the jobs of one ``e.count()`` (under AQE a count
    is a map-stage job plus a result job), and the rows equal those of a
    copy of ``e``."""
    import time

    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()

    def jobs(group, build):
        sc.setLocalProperty("spark.jobGroup.id", group)
        res = build()
        # job-start events reach the tracker in order: once this later
        # job is listed, every job ``build`` started is too
        sc.setLocalProperty("spark.jobGroup.id", group + "_barrier")
        spark.range(1).count()
        deadline = time.time() + 30
        while (not tracker.getJobIdsForGroup(group + "_barrier")
               and time.time() < deadline):
            time.sleep(0.1)
        assert tracker.getJobIdsForGroup(group + "_barrier")
        return len(tracker.getJobIdsForGroup(group)), res

    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        n_count, _ = jobs("knn_one_count", emb_df.count)
        n_self, same = jobs("knn_self_join", lambda: knn_topk(emb_df, emb_df, k=3))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert n_count >= 1 and n_self == n_count
    copy = emb_df.select("id", "emb")
    want = sorted(tuple(r) for r in knn_topk(emb_df, copy, k=3).collect())
    assert sorted(tuple(r) for r in same.collect()) == want


def test_ivf_recall(spark, emb_df):
    want = brute_force_pd(emb_df, 10)
    res = ivf_topk(emb_df, emb_df, k=10, nlist=12, nprobe=4, sample_rows=600).collect()
    recall = recall_at(res, want, 10)
    assert recall > 0.8, f"IVF recall {recall}"


def test_ivf_full_probe_is_exact(spark, emb_df):
    """nprobe == nlist: every query sees every cell, so IVF scores with
    the exact kernel — the grid path's pairs and sims, recall 1.0."""
    res = ivf_topk(emb_df, emb_df, k=10, nlist=12, nprobe=12, sample_rows=600).collect()
    assert recall_at(res, brute_force_pd(emb_df, 10), 10) == 1.0
    exact = {(r.src, r.dst): r.sim
             for r in knn_topk(emb_df, emb_df, k=10, n_blocks=2).collect()}
    approx = {(r.src, r.dst): r.sim for r in res}
    assert approx.keys() == exact.keys()
    for key, v in approx.items():
        assert round(v, 9) == round(exact[key], 9), key


def test_ivf_deterministic(spark, emb_df):
    a = sorted(
        (r.src, r.dst) for r in
        ivf_topk(emb_df, emb_df, k=3, nlist=8, nprobe=2, sample_rows=600).collect()
    )
    b = sorted(
        (r.src, r.dst) for r in
        ivf_topk(emb_df, emb_df, k=3, nlist=8, nprobe=2, sample_rows=600).collect()
    )
    assert a == b
