"""Round-5 tests: the kNN ADVICE r4 fixes, the train_batches dispatch
and the construct-path optimizations.

Each test pins the FIXED behavior, not just absence of the bug, so a
regression is a red assertion rather than a silent semantic drift.
"""
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
# train_batches: the default trainer is the seed-anchor trainer, run on
# the id-sorted batch arrays whatever order the payload rows arrive in,
# and its output is scored in the same task (1 − L2² top-k).
# ---------------------------------------------------------------------------

def test_anchor_dispatch_through_train_batches(spark):  # noqa: F811
    from largeea_spark.operators.trainer import (
        train_batches, train_embeddings_anchor_np)

    k = 3
    rows = []
    for i in range(6):
        rows.append((0, "e1", i, None, None, [float(i), 1.0]))
        rows.append((0, "e2", i, None, None, [float(i), -1.0]))
    rows += [(0, "t1", 0, 0, 1, None), (0, "t2", 0, 0, 1, None),
             (0, "seed", 0, 0, None, None), (0, "seed", 2, 2, None, None)]

    def run(rs):
        payload = spark.createDataFrame(pd.DataFrame(
            rs, columns=["batch", "kind", "a", "b", "c", "vec"]))
        return {(r.src, r.dst): r.sim
                for r in train_batches(payload, k).collect()}

    out = run(rows)
    assert len(out) == 6 * k

    ids = np.arange(6, dtype=np.int64)
    ref1, ref2 = train_embeddings_anchor_np(
        ids, np.array([[float(i), 1.0] for i in ids]),
        ids, np.array([[float(i), -1.0] for i in ids]),
        np.array([[0, 0, 1]], dtype=np.int64),
        np.array([[0, 0, 1]], dtype=np.int64),
        np.array([[0, 0], [2, 2]], dtype=np.int64))

    def unit(m):  # scored at float32 wire precision, normalized in float64
        m = m.astype(np.float32).astype(np.float64)
        return m / np.linalg.norm(m, axis=1, keepdims=True)

    q, x = unit(ref1), unit(ref2)
    sims = 1.0 - ((q[:, None, :] - x[None, :, :]) ** 2).sum(axis=2)
    want = {}
    for i in ids:
        for j in np.argsort(-sims[i], kind="stable")[:k]:
            want[(int(i), int(j))] = sims[i, j]
    assert out.keys() == want.keys()
    for key, v in want.items():
        assert abs(out[key] - v) < 1e-9, key

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

