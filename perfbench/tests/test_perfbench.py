"""Tests of the benchmark's own code (not of the engine).

    python3 -m pytest perfbench/tests -q

One module-scoped Spark session with the event log on; it is stopped
before the digest tests read the finished log.
"""

import os
import pickle
import time

import pytest

from perfbench import inputs, layers, run, trace as T
from perfbench.workloads import Construct


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Runs every Spark action the tests need, stops the session, and
    returns (tracer, digest, construct op wall, engine-encoded KG pair,
    CPU seconds of the event-log writer thread)."""
    work = str(tmp_path_factory.mktemp("work"))
    spark = run.start_session(work, trace=True)
    try:
        tr = T.Tracer(spark.sparkContext)
        tr.op = "probe"
        with tr.span("shuffle", "test"):
            spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with tr.span("narrow", "test"):
            spark.range(20000).selectExpr("id * 2 AS x").collect()

        wl = Construct(spark, seed=3)
        wl.setup()
        store = T.TracingStageStore(spark, os.path.join(work, "store"), tr)
        tr.op = "construct"
        t0 = time.perf_counter()
        with run.layer_patches(tr), tr.span("op", "driver"):
            res = wl.op(store)
        wall = time.perf_counter() - t0
        ok, quality, _ = wl.check(res)
        assert ok and quality >= 0.95

        encoded = _engine_encoded(spark, 60, 5)
        log_cpu = run.Jvm(spark).thread_cpu_s(run.EVENT_LOG_THREAD)
    finally:
        run.stop_spark(spark)
    digest = T.digest_event_log(layers.event_log_file(work))
    return tr, digest, wall, encoded, log_cpu


def _engine_encoded(spark, n, seed):
    """The fixture's KG pair through the engine's own ingest."""
    from largeea_spark.sources import fixtures
    from largeea_spark.sources.kg import encode_graph, encode_links

    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n, n_triples=3 * n, n_links=int(0.8 * n), seed=seed)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    return [sorted(map(tuple, d.collect())) for d in
            (kg1.ent, kg1.triples, kg2.ent, kg2.triples, lk)]


def _group(tr, name):
    return next(s["group"] for s in tr.spans if s["name"] == name)


def test_digest_counts_shuffle_bytes_only_for_wide_ops(traced):
    tr, digest, *_ = traced
    wide = digest[_group(tr, "shuffle")]
    narrow = digest[_group(tr, "narrow")]
    assert wide["jobs"] >= 1 and narrow["jobs"] >= 1
    assert wide["shuffle_write_bytes"] > 0
    assert wide["shuffle_read_bytes"] > 0
    assert narrow["tasks"] >= 1
    assert narrow.get("shuffle_write_bytes", 0) == 0
    assert narrow.get("shuffle_read_bytes", 0) == 0


def test_span_self_times_cover_construct_op(traced):
    tr, digest, wall, *_ = traced
    spans = tr.op_spans("construct")
    st = T.self_times(spans)
    root = next(s for s in spans if s["layer"] == "driver")
    # self times partition the root span exactly ...
    assert sum(st.values()) == pytest.approx(root["end"] - root["start"])
    # ... and the layer spans (everything but the root's own unspanned
    # time) account for the op's wall time within 10 %
    layered = sum(v for k, v in st.items() if k != root["id"])
    assert abs(layered - wall) <= 0.10 * wall, (layered, wall)
    assert {"extract", "ids", "canonical", "stage.write",
            "stage.log_metrics"} <= {s["layer"] for s in spans}
    per_layer = layers.op_layers(spans, digest, {"store_bytes": 1})
    assert per_layer["extract.jobs"] >= 1 and per_layer["canonical.jobs"] >= 1


def test_trace_cost_includes_the_event_log_writer(traced):
    # the thread exists under this name and has done work, so a traced
    # op's cost (trace.overhead_ratio) counts the event log
    assert traced[4] > 0


def test_kg_pair_encoding_matches_engine_ingest(traced):
    engine = traced[3]
    inp = inputs.make_kg_pair(60, 5)
    ours = [sorted(map(tuple, d.itertuples(index=False))) for d in
            (inp.ent1, inp.triples1, inp.ent2, inp.triples2, inp.links)]
    assert ours == engine


def test_same_seed_same_inputs_other_seed_other_inputs():
    def kg(seed):
        p = inputs.make_kg_pair(60, seed)
        return pickle.dumps([d.to_dict("list") for d in
                             (p.ent1, p.ent2, p.triples1, p.triples2, p.links)]
                            + [sorted(p.truth)])

    def pages(seed):
        p = inputs.make_pages(300, seed)
        return pickle.dumps((p.pages.to_dict("list"), sorted(p.gold)))

    def dedup(seed):
        d = inputs.make_dedup(500, 300, seed)
        return pickle.dumps((d.docs.to_dict("list"),
                             [e.tobytes() for e in d.embs.embedding],
                             d.embs.vec_id.tolist(),
                             sorted(d.doc_pairs), sorted(d.emb_pairs)))

    assert kg(5) == kg(5) and kg(5) != kg(6)
    assert pages(1) == pages(1) and pages(1) != pages(2)
    assert dedup(1) == dedup(1) and dedup(1) != dedup(2)


def test_dedup_ids_are_derived_from_data():
    d = inputs.make_dedup(500, 300, 4)
    assert d.docs.doc_id.is_unique and d.embs.vec_id.is_unique
    base_max = max(a for a, _ in d.doc_pairs)
    copies = {b for _, b in d.doc_pairs}
    assert min(copies) > max(set(d.docs.doc_id) - copies) >= base_max
    for a, b in d.doc_pairs:
        sa, sb = (inputs.word_shingles(t) for t in
                  d.docs.set_index("doc_id").text.loc[[a, b]])
        assert inputs.jaccard(sa, sb) >= 0.7
