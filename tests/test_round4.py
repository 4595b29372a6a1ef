"""Round-4 regression tests: emb_dim choice logging, float32 ANN wire
format, shuffle-width fallback."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from largeea_spark.sources import fixtures
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links


def _small_pair(spark, n_ents=120, n_links=90, link_ratio=0.3):
    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n_ents, n_triples=3 * n_ents, n_links=n_links
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, link_ratio)
    return KGPair(kg1=kg1, kg2=kg2, links=lk), lk


def _emb_dim_choice(store):
    rows = (
        store.metrics().where(F.col("stage") == "emb_dim_choice")
        .orderBy(F.col("logged_at").desc()).collect()
    )
    assert rows, "emb_dim_choice metrics row missing"
    return json.loads(rows[0]["metrics"])


# ---------------------------------------------------------------------------
# emb_dim='auto' is an automatic choice (ROADMAP aim 4): every run logs
# the requested and resolved width in one metrics row
# ---------------------------------------------------------------------------

def test_emb_dim_choice_logged(spark, tmp_path):
    from largeea_spark.plans.pipeline import align_kg_pair
    from largeea_spark.sources.stage import StageStore

    pair, _ = _small_pair(spark)
    assert pair.kg1.ent.count() + pair.kg2.ent.count() == 240
    store = StageStore(spark, str(tmp_path / "auto"))
    align_kg_pair(spark, pair, store, knn_k=10, k_parts=2)
    assert _emb_dim_choice(store) == {"requested": "auto", "resolved": 64}

    store = StageStore(spark, str(tmp_path / "pinned"))
    align_kg_pair(spark, pair, store, knn_k=10, emb_dim=256, k_parts=2)
    assert _emb_dim_choice(store) == {"requested": 256, "resolved": 256}
    rows = store.metrics().where(F.col("stage") == "emb_dim_choice").count()
    assert rows == 1


# ---------------------------------------------------------------------------
# float32 ANN wire format: results on float64 inputs match the
# full-precision path (neighbor sets are stable to the 1e-7 cast noise
# on these well-separated fixtures), and the opt-out ships doubles
# ---------------------------------------------------------------------------

def test_knn_float32_wire_matches_float64(spark):
    import pandas as pd

    from largeea_spark.operators.knn import knn_topk

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 16)) * 3
    rows = [(i, (centers[i % 8] + rng.standard_normal(16) * 0.2).tolist())
            for i in range(300)]
    e = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "emb"]))
    assert dict(e.dtypes)["emb"] == "array<double>"
    f32 = {(r.src, r.dst) for r in knn_topk(e, e, k=5).collect()}
    f64 = {(r.src, r.dst)
           for r in knn_topk(e, e, k=5, shuffle_dtype=None).collect()}
    overlap = len(f32 & f64) / max(len(f64), 1)
    assert overlap > 0.99, overlap


# ---------------------------------------------------------------------------
# IVF assign-stage starvation fix: a narrow (1-partition) checkpointed
# embedding table must fan the assign mapInPandas out to shuffle width,
# and the per-cell plan must carry NO (src,dst) dedup aggregate (index
# rows live in exactly one cell, so duplicates are impossible)
# ---------------------------------------------------------------------------

def test_ivf_assign_widened_and_dedup_free(spark):
    import pandas as pd

    from largeea_spark.operators.knn import ivf_topk

    rng = np.random.default_rng(11)
    n = 800
    e = spark.createDataFrame(pd.DataFrame({
        "id": range(n),
        "emb": [v.astype(np.float32).tolist()
                for v in rng.standard_normal((n, 16))],
    })).coalesce(1).localCheckpoint(eager=True)
    assert e.rdd.getNumPartitions() == 1
    out = ivf_topk(e, e, k=5, nlist=8, nprobe=3, sample_rows=800)
    plan = out._jdf.queryExecution().executedPlan().toString()
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the widen-only repartition shows up as a round-robin exchange
    assert "REPARTITION_BY_NUM" in plan, plan[:1200]
    # no HashAggregate between the cogroup scoring and the window top-k
    # (the old groupBy(src,dst).max dedup) — Window + WindowGroupLimit
    # only
    cog = plan.index("FlatMapCoGroupsInPandas")
    above = plan[:cog]
    assert "HashAggregate" not in above, above[:1200]
    assert out.count() > 0


# ---------------------------------------------------------------------------
# real-encoder seam at the PIPELINE level (VERDICT r3 #5): a mock
# sentence-transformers loader threads through align_kg_pair's BOTH
# channels; numerically identical to the hashed path at the same dim,
# so the whole metrics block must match exactly
# ---------------------------------------------------------------------------

def test_align_kg_pair_through_encoder_seam(spark, tmp_path):
    from largeea_spark.plans.pipeline import align_kg_pair
    from largeea_spark.sources.stage import StageStore

    def _loader():
        class MockSentenceEncoder:
            def encode(self, texts):
                from largeea_spark.functions.vectors import _ngram_hash_embed

                return _ngram_hash_embed(list(texts), 32, 3).astype(np.float32)

        return MockSentenceEncoder()

    pair, _ = _small_pair(spark)
    res_seam = align_kg_pair(
        spark, pair, StageStore(spark, str(tmp_path / "seam")), knn_k=10,
        emb_dim=32, k_parts=2, encoder=_loader,
    )
    res_hash = align_kg_pair(
        spark, pair, StageStore(spark, str(tmp_path / "hash")), knn_k=10,
        emb_dim=32, k_parts=2,
    )
    # Hits@k are integer-count ratios (exact across runs); MRR is a
    # distributed float avg whose partial-aggregation combine order Spark
    # does not fix, so bitwise equality across two separately scheduled
    # runs is not a guarantee the engine makes (observed 2-ULP drift,
    # VERDICT r4 "What's wrong" #1).  approx(rel=1e-9) pins semantics
    # without asserting an order Spark never promised.
    for chan in ("fused", "structure"):
        seam_m, hash_m = res_seam["metrics"][chan], res_hash["metrics"][chan]
        assert set(seam_m) == set(hash_m)
        for k, v in seam_m.items():
            if k.startswith("hits"):
                assert v == hash_m[k], (chan, k)
            else:
                assert v == pytest.approx(hash_m[k], rel=1e-9), (chan, k)


# ---------------------------------------------------------------------------
# shuffle-width fallback (ADVICE r3): non-numeric conf value must not
# raise — falls back to defaultParallelism
# ---------------------------------------------------------------------------

def test_session_shuffle_width_fallback(spark):
    from largeea_spark.session import session_shuffle_width

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    assert session_shuffle_width(spark) == int(orig)

    # vanilla Spark types this conf as int so 'auto' can't be set on a
    # live session — platforms like Databricks AQE auto-shuffle DO
    # surface it; emulate with a stub carrying the same attribute shape
    class _Conf:
        def get(self, key):
            return "auto"

    class _SC:
        defaultParallelism = 7

    class _FakeSession:
        conf = _Conf()
        sparkContext = _SC()

    assert session_shuffle_width(_FakeSession()) == 7
