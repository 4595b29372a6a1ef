"""End-to-end minimum slice (SURVEY.md §7.2): two-KG fixture → ingest →
string-channel sim (MinHash block + Levenshtein ratio) → mutual argmax →
Hits@1 vs gold links. Deterministic — comparable to reference phase 3 +
``sparse_acc`` (`main.py:321-336`)."""

import pytest
from pyspark.sql import functions as F

from largeea_spark.operators import evalx, simops
from largeea_spark.plans import name_channel
from largeea_spark.sources import fixtures
from largeea_spark.sources.kg import (
    KG, KGPair, encode_graph, encode_links, encode_links_extending, load_kg_pair,
)


@pytest.fixture(scope="module")
def kg_pair(spark):
    t1, t2, links, variants = fixtures.two_kg_fixture(spark, n_ents=200,
                                                      n_triples=600, n_links=150)
    kg1 = encode_graph(t1)
    kg2 = encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, train_ratio=0.2)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    # cache dims — reused across many tests
    for df in (kg1.ent, kg2.ent, lk):
        df.cache().count()
    return pair, variants


def test_ingest_shapes(spark, kg_pair):
    pair, _ = kg_pair
    assert pair.kg1.ent.count() == 200
    assert pair.kg2.ent.count() == 200
    assert pair.kg1.triples.count() == 600
    lk = pair.links
    assert lk.count() == 150
    assert lk.where(F.col("split") == "train").count() == 30  # first 20%
    # deterministic ids: re-encoding the regenerated KG1 yields the
    # identical (uri, id) dim and int-encoded triples
    t1, _, _, _ = fixtures.two_kg_fixture(spark, n_ents=200, n_triples=600,
                                          n_links=150)
    again = encode_graph(t1)
    for a, b in ((again.ent.select("uri", "id"), pair.kg1.ent.select("uri", "id")),
                 (again.triples, pair.kg1.triples)):
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_load_kg_pair_from_tsv(spark, tmp_path):
    """S1/S2 TSV ingest: ``load_kg_pair`` over the pair written as TSV
    files (links in link-index order) gives the same ids, triples and
    train/test split as ``encode_graph`` + ``encode_links_extending``
    on the in-memory frames."""
    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=40, n_triples=120,
                                               n_links=30)
    files = {}
    for name, df, cols in (("rel_triples_1", t1, ("s", "p", "o")),
                           ("rel_triples_2", t2, ("s", "p", "o")),
                           ("ent_links", links.orderBy("idx"), ("u1", "u2"))):
        files[name] = tmp_path / name
        files[name].write_text(
            "".join("\t".join(r[c] for c in cols) + "\n" for r in df.collect()),
            encoding="utf-8",
        )
    got = load_kg_pair(spark, str(files["rel_triples_1"]),
                       str(files["rel_triples_2"]), str(files["ent_links"]),
                       train_ratio=0.2)
    lk, kg1, kg2 = encode_links_extending(links, encode_graph(t1), encode_graph(t2),
                                          train_ratio=0.2)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for a, b in ((got.kg1.ent, kg1.ent), (got.kg2.ent, kg2.ent),
                 (got.kg1.rel, kg1.rel), (got.kg2.rel, kg2.rel),
                 (got.kg1.triples, kg1.triples), (got.kg2.triples, kg2.triples),
                 (got.links, lk)):
        assert rows(a) == rows(b)
    assert got.links.count() == 30
    assert got.links.where(F.col("split") == "train").count() == 6  # first 20%


def test_ids_deterministic_across_parallelism(spark, kg_pair):
    pair, _ = kg_pair
    # same dim computed with different shuffle partitioning must match
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        from largeea_spark.operators.ids import assign_dense_ids

        redo = assign_dense_ids(pair.kg1.ent.select("uri").distinct(), "uri")
        diff = redo.exceptAll(pair.kg1.ent).count() + pair.kg1.ent.exceptAll(redo).count()
        assert diff == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")


def test_string_channel_alignment(kg_pair):
    pair, _ = kg_pair
    sim = name_channel.string_similarity(pair).cache()
    assert sim.count() > 0
    test_links = pair.links.where(F.col("split") == "test")
    acc = evalx.accuracy(sim, test_links)
    # 40% exact copies + 30% accent variants (high ratio) + 30% reorders:
    # string channel alone must align well over half of the test pairs.
    assert acc > 0.6, f"string-channel Hits@1(argmax)={acc}"
    res = evalx.hits_and_mrr(sim, test_links, ks=(1, 5, 50), n_src=200)
    assert res["hits@1"] <= res["hits@5"] <= res["hits@50"]
    assert res["MRR"] > 0.5


def test_semi_seed_precision(kg_pair):
    """Mutual-argmax seeds of the fused name sims (the reference's
    ``get_semi_link``, `main.py:203-216`, which feeds them to training
    as pseudo-labels) should be high-precision."""
    pair, _ = kg_pair
    # reference computes the name sims on the test-candidate subspace
    # (P5, `main.py:302`) before mining seeds: semi-join both entity
    # dims to the test-link entities
    gold = pair.links.where(F.col("split") == "test").select("e1", "e2")
    test_pair = KGPair(
        kg1=KG(pair.kg1.ent.join(gold.select(F.col("e1").alias("id")), "id",
                                 "left_semi"), pair.kg1.rel, pair.kg1.triples),
        kg2=KG(pair.kg2.ent.join(gold.select(F.col("e2").alias("id")), "id",
                                 "left_semi"), pair.kg2.rel, pair.kg2.triples),
        links=pair.links,
    )
    string_sim = name_channel.string_similarity(test_pair)
    emb_sim = name_channel.name_embedding_similarity(test_pair, k=10)
    # name sims fused at the reference weights [1.0, 0.05], then
    # mutual argmax (W10)
    seeds = simops.bi_mapping(simops.fuse([emb_sim, string_sim], [1.0, 0.05])).select(
        F.col("src").alias("e1"), F.col("dst").alias("e2"))
    pr = evalx.precision_recall_f1(seeds, gold)
    assert pr["precision"] > 0.8, pr
    assert pr["pred"] > 50


def test_token_level_similarity(kg_pair):
    """L4 composite (`sparse_semantic_sim`): tf-idf × token-kNN × tf-idf
    must align a solid fraction on its own (token-level channel)."""
    pair, _ = kg_pair
    sim = name_channel.token_level_similarity(pair, token_k=3)
    test_links = pair.links.where(F.col("split") == "test")
    acc = evalx.accuracy(sim, test_links)
    assert sim.count() > 0
    assert acc > 0.4, f"token-level channel acc={acc}"


def test_exact_name_pairs_recalled(kg_pair):
    """Every exact-copy gold pair must appear in the blocked candidate
    set with ratio 1.0 (MinHash on identical token sets always collides)."""
    pair, variants = kg_pair
    sim = name_channel.string_similarity(pair)
    exact = variants.where(F.col("kind") == "exact")
    n1 = name_channel.entity_names(pair.kg1.ent, True)
    n2 = name_channel.entity_names(pair.kg2.ent, True)
    gold = pair.links.select("e1", "e2")
    gold_named = (
        gold.join(n1.select(F.col("id").alias("e1"), F.col("name").alias("nm1")), "e1")
        .join(n2.select(F.col("id").alias("e2"), F.col("name").alias("nm2")), "e2")
        .where(F.col("nm1") == F.col("nm2"))
    )
    hits = gold_named.join(
        sim.where(F.col("sim") >= 0.9999).select(
            F.col("src").alias("e1"), F.col("dst").alias("e2")
        ),
        ["e1", "e2"],
        "left_semi",
    )
    assert hits.count() == gold_named.count()
