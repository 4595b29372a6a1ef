"""TF-IDF (sklearn parity), text stats, fingerprint, extraction plan,
stage-store resume."""

import json
import math
import time

import pytest
from pyspark.sql import functions as F

from largeea_spark.operators import textstats
from largeea_spark.operators.tfidf import stop_tokens, tf_idf
from largeea_spark.plans import extract
from largeea_spark.sources import fixtures
from largeea_spark.sources.stage import StageStore


def test_tfidf_sklearn_parity(spark):
    """Pinned against sklearn TfidfVectorizer defaults (smooth_idf,
    norm='l2', raw tf): doc0 = 'a b a', doc1 = 'a c'."""
    df = spark.createDataFrame(
        [(0, ["a", "b", "a"]), (1, ["a", "c"])], "id long, toks array<string>"
    )
    got = {(r.id, r.token): (r.tf, r.tf_idf) for r in tf_idf(df, "id", "toks").collect()}
    # idf(a)=ln(3/3)+1=1 ; idf(b)=idf(c)=ln(3/2)+1
    idf_bc = math.log(3 / 2) + 1
    w0 = {"a": 2 * 1.0, "b": idf_bc}
    n0 = math.sqrt(sum(v * v for v in w0.values()))
    assert got[(0, "a")][0] == 2
    assert math.isclose(got[(0, "a")][1], 2 / n0, rel_tol=1e-12)
    assert math.isclose(got[(0, "b")][1], idf_bc / n0, rel_tol=1e-12)
    w1 = {"a": 1.0, "c": idf_bc}
    n1 = math.sqrt(sum(v * v for v in w1.values()))
    assert math.isclose(got[(1, "c")][1], idf_bc / n1, rel_tol=1e-12)


def test_stop_tokens(spark):
    df = spark.createDataFrame(
        [(i, ["common", f"rare{i}"]) for i in range(10)], "id long, toks array<string>"
    )
    top = stop_tokens(df, "id", "toks", k=1).collect()
    assert top[0].token == "common" and top[0].df == 10


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "hello  world"), (1, ""), (2, "a,b c!")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_ws, r.n_bpe)
        for r in df.select(
            "doc_id",
            textstats.token_count(F.col("text")).alias("n_ws"),
            textstats.bpeish_token_count(F.col("text")).alias("n_bpe"),
        ).collect()
    }
    assert got[0] == (2, 2)
    assert got[1] == (0, 0)
    assert got[2] == (2, 5)  # a , b c !


def test_langid(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog in a house"),
            (1, "le chat et la maison de les amis"),
            (2, "der hund und die katze ist ein tier"),
            (3, "xyzzy qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in textstats.langid(df).collect()}
    assert got == {0: "en", 1: "fr", 2: "de", 3: "und"}


def test_quality_monotone(spark):
    df = spark.createDataFrame(
        [(0, "the and of to a in is it that was " * 10), (1, "!!!! ???? ;;;;")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.quality_score for r in textstats.quality_features(df).collect()}
    assert got[0] > got[1]


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame(
        [(0, "abcdefghijklmnopqrstuvwxyz0123456789")], "doc_id long, text string"
    )
    a = textstats.fingerprint(df, k=4).first().fingerprint
    b = textstats.fingerprint(df, k=4).first().fingerprint
    assert a == b and len(a) == 4 * 32


# --- extraction plan (north-rule front-end)
def test_extraction_byte_identical_and_parity(spark):
    pages, gold = fixtures.web_pages_fixture(spark, n_pages=120)
    assert extract.verify_byte_identical(pages) == 0
    from largeea_spark.operators import evalx

    emitted = extract.triples_for_parity(pages)
    pr = evalx.precision_recall_f1(emitted, gold, cols=("subj", "pred", "obj"))
    assert pr["precision"] >= 0.95 and pr["recall"] >= 0.95


def test_extract_fallback_tag_strip(spark):
    from largeea_spark.plans.extract import extract_text_bytes

    assert extract_text_bytes(b"<html><body><h1>T</h1><p>B c.</p></body></html>") == "T\nB c."
    assert extract_text_bytes(b"<div>no template</div>") == "no template"
    assert extract_text_bytes(None) == ""


# --- stage store: checkpoint/resume + lineage
def test_stage_store_resume(spark, tmp_path):
    store = StageStore(spark, str(tmp_path / "run1"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumnRenamed("id", "x")

    a = store.checkpoint("stage_a", build)
    assert a.count() == 100 and calls["n"] == 1
    b = store.checkpoint("stage_a", build)  # resume: no rebuild
    assert b.count() == 100 and calls["n"] == 1
    lin = store.lineage("stage_a")
    assert lin.agg(F.sum("rows")).first()[0] == 100
    # one row per part file, min/max from its footer's typed statistics:
    # each file holds a contiguous id run, so rows = max − min + 1 (a
    # min/max over the column cast to string reads '9' as the max of 0..24)
    files = lin.collect()
    assert min(int(r.min_key) for r in files) == 0
    assert max(int(r.max_key) for r in files) == 99
    assert all(r.rows == int(r.max_key) - int(r.min_key) + 1 for r in files)
    assert len({r.file for r in files}) == len(files)
    # log_metrics is driver file I/O: no Spark job. Job-start events reach
    # the status tracker in order, so once the later read's jobs show up,
    # any job log_metrics had started would show up too.
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        sc.setLocalProperty("spark.jobGroup.id", "log_metrics_probe")
        store.log_metrics("stage_a", {"rows": 100})
        store.log_metrics("stage_b", {"n": 1.5, "tag": "ü"})
        sc.setLocalProperty("spark.jobGroup.id", "metrics_read_probe")
        m = store.metrics()
        rows = m.orderBy("logged_at", "stage").collect()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup("metrics_read_probe") and time.time() < deadline:
            time.sleep(0.1)
        assert tracker.getJobIdsForGroup("metrics_read_probe")
        assert tracker.getJobIdsForGroup("log_metrics_probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert m.schema.simpleString() == "struct<stage:string,metrics:string,logged_at:timestamp>"
    assert [r.stage for r in rows] == ["stage_a", "stage_b"]
    assert [json.loads(r.metrics) for r in rows] == [{"rows": 100}, {"n": 1.5, "tag": "ü"}]
    assert all(r.logged_at is not None for r in rows)
    # concurrent appends: 8 threads × 50 rows, every line intact
    import threading

    conc = StageStore(spark, str(tmp_path / "conc"))
    threads = [
        threading.Thread(target=lambda t=t: [
            conc.log_metrics(f"t{t}", {"i": i, "pad": "x" * 500}) for i in range(50)])
        for t in range(8)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    with open(tmp_path / "conc" / "_metrics" / "metrics.jsonl", encoding="utf-8") as fh:
        lines = [json.loads(line) for line in fh]
    assert len(lines) == 400
    assert sorted((r["stage"], json.loads(r["metrics"])["i"]) for r in lines) == [
        (f"t{t}", i) for t in range(8) for i in range(50)]
