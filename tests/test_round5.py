"""Round-5 tests: the five ADVICE r4 fixes + stateful-op TTL (VERDICT #7).

Each test pins the FIXED behavior, not just absence of the bug, so a
regression is a red assertion rather than a silent semantic drift.
"""
import datetime
import time

import numpy as np
import pandas as pd
import pytest

from tests.conftest import spark  # noqa: F401


# ---------------------------------------------------------------------------
# ADVICE r4 #2 (knn._bounded_chunk): never exceed the budget on skewed
# cells, never override a smaller explicit request.
# ---------------------------------------------------------------------------

def test_bounded_chunk_respects_budget_and_request():
    from largeea_spark.operators.knn import _GEMM_BUDGET_ELEMS, _bounded_chunk

    # normal cell: budget allows more than requested → requested wins
    assert _bounded_chunk(4096, 10_000) == 4096
    # huge skewed cell (>195k rows): budget < 256 — the old floor
    # re-opened the blow-up; now the budget wins
    big = 400_000
    got = _bounded_chunk(4096, big)
    assert got * big <= _GEMM_BUDGET_ELEMS
    assert got == _GEMM_BUDGET_ELEMS // big
    # explicit tiny request is honored, not floored up to 256
    assert _bounded_chunk(8, 10_000) == 8
    # degenerate: always at least 1 row per chunk
    assert _bounded_chunk(4096, 10 * _GEMM_BUDGET_ELEMS) == 1


# ---------------------------------------------------------------------------
# ADVICE r4 #3 (knn._cast_shuffle_dtype): float64 maps to Spark
# 'double'; unknown dtypes raise ValueError instead of a deferred
# AnalysisException.
# ---------------------------------------------------------------------------

def test_cast_shuffle_dtype_validation(spark):  # noqa: F811
    from largeea_spark.operators.knn import _cast_shuffle_dtype

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "id long, emb array<double>")
    assert dict(_cast_shuffle_dtype(df, "emb", "float32").dtypes)[
        "emb"] == "array<float>"
    assert dict(_cast_shuffle_dtype(df, "emb", "float64").dtypes)[
        "emb"] == "array<double>"
    assert dict(_cast_shuffle_dtype(df, "emb", None).dtypes)[
        "emb"] == "array<double>"
    with pytest.raises(ValueError, match="shuffle_dtype"):
        _cast_shuffle_dtype(df, "emb", "float16")


# ---------------------------------------------------------------------------
# ADVICE r4 #4 (streaming state encoding): an event_type containing '|'
# must stay ONE type across drains (json-encoded state set).
# ---------------------------------------------------------------------------

def test_stream_state_type_set_delimiter_safe(spark, tmp_path):  # noqa: F811
    from largeea_spark.streaming.ingest import stream_running_user_stats

    src = str(tmp_path / "in")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = ("event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    t = datetime.datetime(2026, 1, 1)
    spark.createDataFrame(
        [(1, t, 7, "a|b|c", 1.0, None)], schema).write.parquet(src)
    stream_running_user_stats(spark, src, out, ckpt)

    # drain 2: same composite type again — still exactly 1 distinct type
    spark.createDataFrame(
        [(2, t, 7, "a|b|c", 1.0, None)], schema
    ).write.mode("append").parquet(src)
    stream_running_user_stats(spark, src, out, ckpt)
    rows = [r for r in spark.read.parquet(out).collect() if r.n_events == 2]
    assert len(rows) == 1 and rows[0].n_types == 1, rows


# ---------------------------------------------------------------------------
# VERDICT r4 #7: state TTL — an idle key's state is evicted across
# drains (ProcessingTimeTimeout); a returning key starts fresh.
# ---------------------------------------------------------------------------

def test_stream_state_ttl_evicts_idle_key(spark, tmp_path):  # noqa: F811
    from largeea_spark.streaming.ingest import stream_running_user_stats

    src = str(tmp_path / "in")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = ("event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    t = datetime.datetime(2026, 1, 1)
    # TTL must comfortably exceed the inter-drain gap (a drain restart
    # replays the previous drain's pending zero-input batch, whose
    # timeout processing evicts any key already idle past the TTL —
    # see stream_running_user_stats docstring), so only the DELIBERATE
    # idle gap below crosses it. A 500ms TTL raced drain overhead.
    ttl = 15000
    spark.createDataFrame(
        [(1, t, 7, "click", 1.0, None), (2, t, 9, "view", 2.0, None)],
        schema).write.parquet(src)
    stream_running_user_stats(spark, src, out, ckpt, state_ttl_ms=ttl)

    # drain 2 well inside the TTL: user 9 active again — activity wins,
    # cumulative totals carry (2 events, 5.0)
    spark.createDataFrame(
        [(3, t, 9, "view", 3.0, None)], schema
    ).write.mode("append").parquet(src)
    stream_running_user_stats(spark, src, out, ckpt, state_ttl_ms=ttl)
    u9 = sorted((r.n_events, r.total_value)
                for r in spark.read.parquet(out).collect() if r.user_id == 9)
    assert u9[-1] == (2, 5.0), u9

    # idle both keys past the TTL, then drain 3 with data only for a
    # throwaway user: users 7 and 9's expired timers fire and their
    # state is EVICTED — the state store stays bounded by activity
    time.sleep((ttl + 2000) / 1000.0)
    spark.createDataFrame(
        [(4, t, 99, "ping", 7.0, None)], schema
    ).write.mode("append").parquet(src)
    stream_running_user_stats(spark, src, out, ckpt, state_ttl_ms=ttl)

    # drain 4: user 7 returns AFTER eviction — totals start FRESH
    # (1 event, 10.0); an uninterrupted carry would show (2, 11.0)
    spark.createDataFrame(
        [(5, t, 7, "click", 10.0, None)], schema
    ).write.mode("append").parquet(src)
    stream_running_user_stats(spark, src, out, ckpt, state_ttl_ms=ttl)
    u7 = [(r.n_events, r.total_value)
          for r in spark.read.parquet(out).collect() if r.user_id == 7]
    assert (1, 10.0) in u7 and (2, 11.0) not in u7, u7


# ---------------------------------------------------------------------------
# VERDICT r4 #5: pinned-weights mini-transformer through the
# model_name_encoder seam, vs the closed-form numpy oracle — bitwise.
# Also pins the reference's mask+max-pool semantics (emb_loader.py
# minus_mask): the intended -1e30 mask makes padding invisible; the
# reference's literal 1e-30 constant leaks padding (documented quirk).
# ---------------------------------------------------------------------------

def test_minibert_seam_matches_numpy_oracle_bitwise(spark):  # noqa: F811
    from largeea_spark.functions.minibert import (
        MiniTransformerEncoder, mini_transformer_loader)
    from largeea_spark.functions.vectors import encode_names

    names = ["Alice_Springs", "Berlin", "", "Łódź_Voivodeship",
             "a" * 500,  # exercises the 382-byte truncation
             "Nürnberg", "東京", "x"]
    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)],
                               "id long, name string").repartition(3)
    got = {r.id: np.array(r.emb, dtype=np.float32) for r in
           encode_names(df, "name",
                        encoder=mini_transformer_loader()).collect()}

    oracle = MiniTransformerEncoder()
    want = oracle.encode(names).astype(np.float32)
    for i in range(len(names)):
        assert np.array_equal(got[i], want[i]), i  # BITWISE


def test_minibert_mask_semantics():
    from largeea_spark.functions.minibert import MiniTransformerEncoder

    enc = MiniTransformerEncoder()
    texts = ["short", "a_much_longer_entity_name_for_padding"]
    unpadded = enc.encode(texts)
    masked = enc.encode_padded(texts)  # attention mask + -1e30 pool mask
    # intended mask: padding is invisible → the batch-padded path
    # agrees with the per-sentence path
    assert np.allclose(masked, unpadded, atol=1e-9)

    # the reference's LITERAL path (no attention mask inside the
    # model, 1e-30 pool "mask" that does not mask) — the short
    # sentence's result changes with batch padding (the quirk we
    # deviate from, made visible)
    literal = enc.encode_padded(texts, mask_value=1e-30, attn_mask=False)
    assert not np.allclose(literal[0], unpadded[0], atol=1e-9)
    # the longest sentence has no padding: identical under any mask
    assert np.allclose(literal[1], unpadded[1], atol=1e-9)


def test_minibert_tokenizer_contract():
    from largeea_spark.functions.minibert import (
        CLS, SEP, MiniTransformerEncoder)

    enc = MiniTransformerEncoder()
    ids = enc.tokenize("ab")
    assert ids[0] == CLS and ids[-1] == SEP
    assert ids[1:-1] == [3 + ord("a"), 3 + ord("b")]
    # truncation at 382 body bytes, like the reference's [:382]
    long = enc.tokenize("z" * 1000)
    assert len(long) == 384 and long[-1] == SEP


# ---------------------------------------------------------------------------
# train_batches: the default trainer is the seed-anchor trainer, run on
# the id-sorted batch arrays whatever order the payload rows arrive in.
# ---------------------------------------------------------------------------

def test_anchor_dispatch_through_train_batches(spark):  # noqa: F811
    from largeea_spark.operators.trainer import (
        train_batches, train_embeddings_anchor_np)

    rows = []
    for i in range(6):
        rows.append((0, "e1", i, None, None, [float(i), 1.0]))
        rows.append((0, "e2", i, None, None, [float(i), -1.0]))
    rows += [(0, "t1", 0, 0, 1, None), (0, "t2", 0, 0, 1, None),
             (0, "seed", 0, 0, None, None), (0, "seed", 2, 2, None, None)]

    def run(rs):
        payload = spark.createDataFrame(pd.DataFrame(
            rs, columns=["batch", "kind", "a", "b", "c", "vec"]))
        return {(r.side, r.id): r.emb
                for r in train_batches(payload).collect()}

    out = run(rows)
    assert len(out) == 12
    assert all(len(v) == 4 for v in out.values())  # concat(anchor d=2, name d=2)

    ids = np.arange(6, dtype=np.int64)
    want1, want2 = train_embeddings_anchor_np(
        ids, np.array([[float(i), 1.0] for i in ids]),
        ids, np.array([[float(i), -1.0] for i in ids]),
        np.array([[0, 0, 1]], dtype=np.int64),
        np.array([[0, 0, 1]], dtype=np.int64),
        np.array([[0, 0], [2, 2]], dtype=np.int64))
    for side, want in ((1, want1), (2, want2)):
        got = np.array([out[(side, i)] for i in ids])
        assert np.array_equal(got, want), side

    perm = np.random.default_rng(3).permutation(len(rows))
    assert run([rows[i] for i in perm]) == out


# ---------------------------------------------------------------------------
# Round-5 construct-path optimizations: window-free dense ids and
# hash-keyed triple encoding (fact side shuffles 8-byte longs, not URIs).
# ---------------------------------------------------------------------------

def test_assign_dense_ids_window_free_is_dense_and_stable(spark):  # noqa: F811
    """Ids must equal the lexicographic rank at ANY shuffle-partition
    count (the local[8]-vs-local[32] stability requirement) after the
    window-exchange removal."""
    from pyspark.sql import functions as F

    from largeea_spark.operators.ids import assign_dense_ids

    keys = sorted({f"k{(i * 2654435761) % 100000:06d}" for i in range(4000)})
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    want = [(k, i) for i, k in enumerate(keys)]

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_part in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            got = sorted(
                (r["key"], r["id"])
                for r in assign_dense_ids(df, "key").collect()
            )
            assert got == want, f"dense ids wrong at {n_part} partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # plan must NOT contain a window (the removed third exchange)
    plan = assign_dense_ids(df, "key")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_encode_column_via_hash_matches_string_join(spark):  # noqa: F811
    from largeea_spark.operators.ids import dict_encode, encode_column

    df = spark.createDataFrame(
        [(f"uri/{i % 37}", i) for i in range(500)], "k string, v int"
    )
    dim = dict_encode(df.select("k"), "k")
    want = sorted(
        (r["v"], r["kid"])
        for r in encode_column(df, dim, "k", "kid").collect()
    )
    got = sorted(
        (r["v"], r["kid"])
        for r in encode_column(df, dim, "k", "kid", via_hash=True).collect()
    )
    assert got == want and len(got) == 500


def test_encode_column_hash_collision_falls_back_to_exact(spark):  # noqa: F811
    """Force EVERY key onto one hash value: the result must still be the
    exact string-join answer (the dirty branch carries correctness)."""
    from pyspark.sql import functions as F

    from largeea_spark.operators.ids import dict_encode, encode_column

    df = spark.createDataFrame(
        [(f"uri/{i % 11}", i) for i in range(200)], "k string, v int"
    )
    dim = dict_encode(df.select("k"), "k")
    want = sorted(
        (r["v"], r["kid"])
        for r in encode_column(df, dim, "k", "kid").collect()
    )
    got = sorted(
        (r["v"], r["kid"])
        for r in encode_column(
            df, dim, "k", "kid", via_hash=True,
            _hash_fn=lambda c: F.lit(7).cast("long"),
        ).collect()
    )
    assert got == want and len(got) == 200


def test_encode_graph_hash_keyed_matches_string_path(spark):  # noqa: F811
    """Hash-keyed triple encoding ≡ string-keyed encoding, decoded back
    to URI space; and the forced-collision fallback gives the same."""
    from pyspark.sql import functions as F

    from largeea_spark.sources.kg import encode_graph

    rows = [
        (f"ent/{(i * 7) % 50}", f"rel/{i % 5}", f"ent/{(i * 13 + 1) % 50}")
        for i in range(400)
    ] + [(None, "rel/0", "ent/1"), ("ent/2", "rel/1", None)]
    raw = spark.createDataFrame(rows, "s string, p string, o string")

    def decoded(kg):
        e = kg.ent
        r = kg.rel
        t = (
            kg.triples
            .join(e.select(F.col("id").alias("src"), F.col("uri").alias("s")), "src")
            .join(e.select(F.col("id").alias("dst"), F.col("uri").alias("o")), "dst")
            .join(r.select(F.col("id").alias("rel"), F.col("uri").alias("p")), "rel")
        )
        return sorted((x["s"], x["p"], x["o"]) for x in t.collect())

    want = sorted((s, p, o) for s, p, o in rows if s is not None and o is not None)
    kg_hash = encode_graph(raw)
    assert decoded(kg_hash) == want
    kg_coll = encode_graph(raw, _hash_fn=lambda c: F.lit(3).cast("long"))
    assert decoded(kg_coll) == want
    # dims themselves identical either way
    assert sorted(map(tuple, kg_hash.ent.collect())) == sorted(
        map(tuple, kg_coll.ent.collect())
    )


# ---------------------------------------------------------------------------
# Round-5 real BPE subword tokenizer (F5 upgraded from hashed stand-in)
# ---------------------------------------------------------------------------

def test_bpe_training_matches_sennrich_example():
    from largeea_spark.functions.bpe import encode_word, train_bpe_merges

    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = train_bpe_merges(wf, 10)
    # the canonical first merges with the </w> convention: ('e','s') and
    # ('es','t</w>') both count 9 (newest 6 + widest 3), tie and then
    # chain; the full list is pinned — training is deterministic
    assert merges[:3] == [("e", "s"), ("es", "t</w>"), ("l", "o")]
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("low", ranks) == ["low</w>"]
    assert encode_word("lowest", ranks) == ["lo", "w", "est</w>"]
    # unseen characters fall back to single symbols, never crash
    assert encode_word("xyz", ranks) == ["x", "y", "z</w>"]
    # merges stop when no pair repeats: tiny vocab → short list
    assert train_bpe_merges([("ab", 1)], 50) == []


def test_bpe_spark_train_and_tokenize(spark):  # noqa: F811
    from pyspark.sql import functions as F

    from largeea_spark.functions.bpe import (
        bpe_token_count, bpe_tokenizer, bpe_vocabulary, train_bpe,
    )

    texts = (["the lowest low", "newest widest lower", "the newest"] * 40
             + ["The LOWEST", "the lowest", None, ""])
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    merges = train_bpe(df, "text", n_merges=40, max_words=1000)
    assert ("e", "s") in merges
    # same corpus → identical merges at a different shuffle width
    assert merges == train_bpe(df.repartition(7), "text",
                               n_merges=40, max_words=1000)

    out = df.select("doc_id", bpe_tokenizer(merges)(F.col("text"))
                    .alias("toks")).collect()
    by_id = {r["doc_id"]: r["toks"] for r in out}
    assert by_id[0][:1] == ["the</w>"]           # frequent word → one token
    # case-folding: "The LOWEST" tokenizes identically to "the lowest",
    # and both are a non-empty prefix of doc 0's tokens
    n = len(texts)
    assert by_id[n - 4] == by_id[n - 3] != []
    assert by_id[0][: len(by_id[n - 3])] == by_id[n - 3]
    assert by_id[n - 2] == [] and by_id[n - 1] == []

    ids_df = df.select(bpe_tokenizer(merges, as_ids=True)(F.col("text"))
                       .alias("ids"))
    vocab = bpe_vocabulary(merges)
    all_ids = [i for r in ids_df.collect() for i in r["ids"]]
    assert all_ids and all(-1 <= i < len(vocab) for i in all_ids)

    counts = df.select(bpe_token_count("text", merges).alias("n")).collect()
    assert counts[0]["n"] == len(by_id[0])
