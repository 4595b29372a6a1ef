"""End-to-end pipeline tests: web-corpus KG construction with
checkpoint/resume + lineage, and the full two-KG alignment phase graph
(SURVEY.md §3 lifecycle, north rule)."""

import time

import pytest
from pyspark.sql import functions as F

from largeea_spark.plans.pipeline import align_kg_pair, construct_kg_from_pages
from largeea_spark.sources import fixtures
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links
from largeea_spark.sources.stage import StageStore


def test_construct_kg_from_pages(spark, tmp_path):
    pages, gold = fixtures.web_pages_fixture(spark, n_pages=150)
    store = StageStore(spark, str(tmp_path / "kgrun"))
    out = construct_kg_from_pages(spark, pages, store)
    # every golden triple representable → surface P/R gate
    from largeea_spark.operators import evalx

    pr = evalx.precision_recall_f1(out["surface"], gold, cols=("subj", "pred", "obj"))
    assert pr["precision"] >= 0.95 and pr["recall"] >= 0.95
    # canonical kg: int-encoded, deduplicated, bucketed
    assert out["kg"].columns == ["src", "rel", "dst", "bucket"]
    assert out["kg"].count() > 0
    # lineage present for every stage
    for stage in ["triples_surface", "entities", "triples", "canonical", "kg_canonical"]:
        assert store.lineage(stage).count() > 0
    # partitioned stage: one lineage row per part file across the bucket
    # directories, and the footer row counts add up to the table
    lin = store.lineage("kg_canonical")
    assert lin.agg(F.sum("rows")).first()[0] == out["kg"].count()
    assert lin.where(~F.col("file").startswith("bucket=")).count() == 0
    # resume: second run rebuilds nothing and returns identical counts
    out2 = construct_kg_from_pages(spark, pages, store)
    assert out2["kg"].count() == out["kg"].count()
    # metrics rows appended on both runs
    assert store.metrics().count() >= 2


def test_trained_batched_structure_channel(spark):
    """M2 shape: per-batch numpy margin training in applyInPandas must
    produce a usable, deterministic structure sim."""
    from largeea_spark.functions.vectors import encode_names
    from largeea_spark.operators import evalx
    from largeea_spark.plans.name_channel import entity_names
    from largeea_spark.plans.structure_channel import (
        trained_batched_structure_similarity,
    )

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=120, n_triples=360,
                                               n_links=90)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.3)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    e1 = encode_names(entity_names(pair.kg1.ent, False), "name", dim=32).select("id", "emb")
    e2 = encode_names(entity_names(pair.kg2.ent, False), "name", dim=32).select("id", "emb")
    test = lk.where(F.col("split") == "test")
    sim_tr, stats = trained_batched_structure_similarity(
        pair, e1, e2, k_parts=2, knn_k=10
    )
    acc_tr = evalx.accuracy(sim_tr, test)
    assert sim_tr.count() > 0 and len(stats["batches"]) >= 2
    assert acc_tr > 0.3, f"trained batched channel collapsed: {acc_tr}"
    # determinism: rerun → identical accuracy
    sim_tr2, _ = trained_batched_structure_similarity(
        pair, e1, e2, k_parts=2, knn_k=10
    )
    assert abs(evalx.accuracy(sim_tr2, test) - acc_tr) < 1e-9


def _tracker_barrier(spark, group: str) -> None:
    """Run one job in ``group`` and wait until the status tracker lists
    it: job-start events arrive in order, so every earlier job is listed
    by then too."""
    spark.sparkContext.setJobGroup(group, "status tracker barrier")
    spark.range(1).count()
    deadline = time.time() + 30
    while (not spark.sparkContext.statusTracker().getJobIdsForGroup(group)
           and time.time() < deadline):
        time.sleep(0.1)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def test_align_kg_pair_full(spark, tmp_path):
    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=150, n_triples=450,
                                               n_links=120)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    store = StageStore(spark, str(tmp_path / "alignrun"))
    # the channels build on pool threads: every job they start must
    # inherit the caller's job group (none lands in the no-group set)
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        _tracker_barrier(spark, "align_full_before")
        no_group = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup("align_full", "align_kg_pair under one job group")
        res = align_kg_pair(spark, pair, store, knn_k=20, emb_dim=32)
        fused_rows = sorted(tuple(r) for r in res["fused"].collect())
        _tracker_barrier(spark, "align_full_after")
        assert tracker.getJobIdsForGroup("align_full")
        # (the tracker may evict old jobs, so compare additions only)
        assert not set(tracker.getJobIdsForGroup(None)) - no_group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    m = res["metrics"]
    assert m["fused"]["hits@1"] > 0.6, m
    assert m["fused"]["MRR"] >= m["fused"]["hits@1"]
    # fusion should not be (much) worse than the best single channel
    best_single = max(m["string"]["hits@1"], m["embed"]["hits@1"])
    assert m["fused"]["hits@1"] >= best_single - 0.05, m
    # checkpoints exist and resume path returns same fused metric
    assert store.exists("sim_fused")
    res2 = align_kg_pair(spark, pair, store, knn_k=20, emb_dim=32)
    assert abs(res2["metrics"]["fused"]["hits@1"] - m["fused"]["hits@1"]) < 1e-9
    assert sorted(tuple(r) for r in res2["fused"].collect()) == fused_rows


def test_checkpoint_graph_failure_joins_every_build(spark, tmp_path):
    """A failing build: the running builds finish, stages that read it
    never start, the exception reaches the caller, no thread survives."""
    import threading

    from largeea_spark.plans.pipeline import _checkpoint_graph

    store = StageStore(spark, str(tmp_path / "graphrun"))
    slow_done = threading.Event()

    def slow(_):
        time.sleep(1.0)
        slow_done.set()
        return spark.range(3)

    def boom(_):
        raise RuntimeError("channel failed")

    started = []
    threads_before = threading.active_count()
    with pytest.raises(RuntimeError, match="channel failed"):
        _checkpoint_graph(spark, store, {
            "slow": ((), slow),
            "boom": ((), boom),
            "after": (("slow", "boom"), lambda s: started.append(1) or s["slow"]),
        })
    assert slow_done.is_set() and store.exists("slow")
    assert not started and not store.exists("after")
    assert threading.active_count() == threads_before
    # without a failure, dependents see their inputs' checkpoints
    out = _checkpoint_graph(spark, StageStore(spark, str(tmp_path / "ok")), {
        "a": ((), lambda _: spark.range(5)),
        "b": (("a",), lambda s: s["a"].where("id % 2 = 0")),
    })
    assert sorted(r.id for r in out["b"].collect()) == [0, 2, 4]
