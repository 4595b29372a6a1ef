"""End-to-end pipeline tests: web-corpus KG construction with
checkpoint/resume + lineage, and the full two-KG alignment phase graph
(SURVEY.md §3 lifecycle, north rule)."""

import json
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
    # stage row counts come from the part files' footers, the
    # bucket-partitioned kg_canonical included, and feed the metrics rows
    stages = {"triples_surface": "surface", "entities": "entities",
              "triples": "triples", "canonical": "canonical", "kg_canonical": "kg"}
    counts = {st: out[k].count() for st, k in stages.items()}
    assert {st: store.rows(st) for st in stages} == counts
    logged = {r.stage: json.loads(r.metrics)["rows"] for r in store.metrics().collect()}
    assert logged == {"triples_surface": counts["triples_surface"],
                      "kg_canonical": counts["kg_canonical"]}
    # resume: second run rebuilds nothing and returns identical counts
    resumed = StageStore(spark, str(tmp_path / "kgrun"))
    out2 = construct_kg_from_pages(spark, pages, resumed)
    assert out2["kg"].count() == out["kg"].count()
    assert {st: resumed.rows(st) for st in stages} == counts
    # metrics rows appended on both runs
    assert store.metrics().count() == 4


def test_construct_canonical_ids_merge_normalized_names(spark, tmp_path):
    """Entities whose names normalize equal (case; punctuation other
    than ``_``) share one canonical id, the group's min id; every other
    entity keeps its own id. Surface spaces become ``_`` first, so
    "Hot Name" and "HOT NAME" meet at "hot_name", and "Hot-Name" and
    "hot,name" at "hot name"."""
    import pandas as pd

    groups = [["Hot Name", "HOT NAME", "hot name"], ["Hot-Name", "hot,name", "HOT!NAME"]]
    subjects = [n for g in groups for n in g] + ["Cold Name", "Other"]
    rows = [{"url": f"http://site.example/p{i}", "warc_ts": None,
             "html": f"<html><body><h1>T</h1><p>{n} locatedIn Uniq{i}.</p></body></html>".encode(),
             "text": f"T\n{n} locatedIn Uniq{i}.", "lang": "en"}
            for i, n in enumerate(subjects)]
    pages = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="url string, warc_ts timestamp, html binary, text string, lang string")
    out = construct_kg_from_pages(spark, pages, StageStore(spark, str(tmp_path / "run")))
    ids = {r.name: r.id for r in out["entities"].collect()}
    canon = {r.node: r.component for r in out["canonical"].collect()}
    assert len(ids) == len(subjects) * 2 and len(canon) == len(ids)
    want = {i: i for i in ids.values()}
    for g in groups:
        members = [ids[n.replace(" ", "_")] for n in g]
        want.update({m: min(members) for m in members})
    assert canon == want


def test_construct_canonical_case_folding_matches_python_lower(spark, tmp_path):
    """Canonical names fold case as Python's ``str.lower`` does, under
    the session's pinned JVM case mapping: accented names that differ
    only in case merge (``École``/``école``), and ``Straße`` does not
    meet ``STRASSE`` (``straße`` ≠ ``strasse``)."""
    import pandas as pd

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    subjects = ["École Normale", "école normale", "ÉCOLE NORMALE", "Straße",
                "STRASSE", "strasse", "ΟΔΟΣ", "οδος", "Ärger", "ärger"]
    rows = [{"url": f"http://site.example/p{i}", "warc_ts": None,
             "html": f"<html><body><h1>T</h1><p>{n} locatedIn Uniq{i}.</p></body></html>".encode(),
             "text": f"T\n{n} locatedIn Uniq{i}.", "lang": "en"}
            for i, n in enumerate(subjects)]
    pages = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="url string, warc_ts timestamp, html binary, text string, lang string")
    out = construct_kg_from_pages(spark, pages, StageStore(spark, str(tmp_path / "run")))
    ids = {r.name: r.id for r in out["entities"].collect()}
    canon = {r.node: r.component for r in out["canonical"].collect()}
    assert set(ids) >= {n.replace(" ", "_") for n in subjects}
    want = {i: min(j for m, j in ids.items() if m.lower() == n.lower())
            for n, i in ids.items()}
    assert canon == want
    c = {n: canon[ids[n.replace(" ", "_")]] for n in subjects}
    assert c["École Normale"] == c["école normale"] == c["ÉCOLE NORMALE"]
    assert c["Straße"] != c["STRASSE"] == c["strasse"]


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
    assert sim_tr.count() > 0 and stats["batches"].count() >= 2
    assert acc_tr > 0.3, f"trained batched channel collapsed: {acc_tr}"
    # determinism: rerun → identical accuracy
    sim_tr2, _ = trained_batched_structure_similarity(
        pair, e1, e2, k_parts=2, knn_k=10
    )
    assert abs(evalx.accuracy(sim_tr2, test) - acc_tr) < 1e-9


def test_structure_channel_independent_of_input_partitioning(spark):
    """ROADMAP aim 3: the structure sim is the same rows whether the
    pair's entity and triple frames arrive in 1 or 7 partitions."""
    from largeea_spark.functions.vectors import encode_names
    from largeea_spark.plans.name_channel import entity_names
    from largeea_spark.plans.structure_channel import (
        trained_batched_structure_similarity,
    )
    from largeea_spark.sources.kg import KG

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=300, n_triples=900,
                                               n_links=240)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.3)

    def run(n):
        def kg(g):
            return KG(ent=g.ent.repartition(n), rel=g.rel,
                      triples=g.triples.repartition(n))

        pair = KGPair(kg1=kg(kg1), kg2=kg(kg2), links=lk)
        e1 = encode_names(entity_names(pair.kg1.ent, False), "name", dim=32).select("id", "emb")
        e2 = encode_names(entity_names(pair.kg2.ent, False), "name", dim=32).select("id", "emb")
        sim, _ = trained_batched_structure_similarity(pair, e1, e2, k_parts=3,
                                                      knn_k=10)
        return sorted(tuple(r) for r in sim.collect())

    one = run(1)
    assert one
    assert run(7) == one


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

    def failing_loader():
        raise RuntimeError("a resume that skips every stage must not encode")

    # the name vectors are encoded lazily, once per op: a full resume
    # runs no job that would load this encoder
    res2 = align_kg_pair(spark, pair, store, knn_k=20, emb_dim=32,
                         encoder=failing_loader)
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


def test_checkpoint_graph_runs_stages_ready_together(spark, tmp_path):
    """A diamond: both arms become ready when the root is written, and
    they build at the same time. Each arm waits at a two-party barrier,
    which breaks if the pool runs the arms one after the other."""
    import threading

    from largeea_spark.plans.pipeline import _checkpoint_graph

    meet = threading.Barrier(2, timeout=20)

    def arm(parity):
        def build(s):
            meet.wait()
            return s["root"].where(f"id % 2 = {parity}")

        return build

    out = _checkpoint_graph(spark, StageStore(spark, str(tmp_path / "diamond")), {
        "root": ((), lambda _: spark.range(6)),
        "even": (("root",), arm(0)),
        "odd": (("root",), arm(1)),
        "both": (("even", "odd"), lambda s: s["even"].unionByName(s["odd"])),
    })
    assert sorted(r.id for r in out["both"].collect()) == list(range(6))
