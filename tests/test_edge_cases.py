"""Empty-input and degenerate-input behavior locks: a 100 TB pipeline
hits empty partitions/filters constantly — every operator must return
an empty (or identity) result, never throw."""

from pyspark.sql import functions as F


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_knn_empty_sides(spark):
    from largeea_spark.operators.knn import knn_topk
    from largeea_spark.operators.trainer import PAYLOAD_SCHEMA, train_batches

    emb = "id long, emb array<double>"
    e = _empty(spark, emb)
    one = spark.createDataFrame([(1, [1.0, 0.0])], emb)
    assert knn_topk(e, one, k=3).count() == 0
    assert knn_topk(one, e, k=3).count() == 0
    assert train_batches(_empty(spark, PAYLOAD_SCHEMA), k=3).count() == 0


def test_propagate_empty(spark):
    from largeea_spark.operators.structure import propagate_embeddings

    tri = _empty(spark, "src long, rel long, dst long")
    emb = _empty(spark, "id long, emb array<double>")
    assert propagate_embeddings(tri, emb).count() == 0


def test_cc_empty_and_selfloop(spark):
    from largeea_spark.operators.canonical import connected_components

    assert connected_components(_empty(spark, "a long, b long")).count() == 0
    # self-loops only → no components beyond the (dropped) loops
    loops = spark.createDataFrame([(1, 1), (2, 2)], "a long, b long")
    assert connected_components(loops).count() == 0


def test_lowrank_empty(spark):
    from largeea_spark.operators.lowrank import low_rank_sim_topk

    ir = _empty(spark, "src long, dst long, sim double")
    assert low_rank_sim_topk(ir, rank=4, n_iter=1, k=3).count() == 0


def test_dedup_and_textstats_empty(spark):
    from largeea_spark.operators.dedup import exact_duplicates
    from largeea_spark.operators.textstats import (
        langid, quality_features, repetition_features,
    )

    docs = _empty(spark, "doc_id long, text string")
    assert exact_duplicates(docs, "doc_id", "text").count() == 0
    assert quality_features(docs).count() == 0
    assert langid(docs).count() == 0
    assert repetition_features(docs).count() == 0


def test_eval_empty_links(spark):
    from largeea_spark.operators.evalx import hits_and_mrr

    sim = spark.createDataFrame([(0, 1, 0.5)], "src long, dst long, sim double")
    links = _empty(spark, "e1 long, e2 long")
    m = hits_and_mrr(sim, links, ks=(1,), n_src=2)
    # no gold links → averages over zero rows come back null→nan-free dict
    assert set(m) == {"MRR", "hits@1"}
