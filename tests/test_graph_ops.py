"""Connected components, partitioner invariants, structure propagation,
dedup strategies (SURVEY.md §5 plan items: partition invariants, CC)."""

import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from largeea_spark.operators import dedup, partition_kg
from largeea_spark.operators.canonical import canonical_ids, connected_components


def test_connected_components_basic(spark):
    # components: {0,1,2,3}, {10,11}, {20,21,22}; 5 isolated in all_nodes
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "a long, b long",
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert cc == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    allnodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 10, 11, 20, 21, 22, 5]],
                                     "node long")
    ids = {r.node: r.component for r in canonical_ids(edges, allnodes).collect()}
    assert ids[5] == 5 and ids[3] == 0


def test_connected_components_long_chain(spark):
    # path graph of 33 nodes — exercises the O(log²) iteration
    edges = spark.createDataFrame([(i, i + 1) for i in range(32)], "a long, b long")
    cc = connected_components(edges).collect()
    assert {r.component for r in cc} == {0}
    assert len(cc) == 33


def _union_find(edges):
    """Reference labels: node → min node id of its component. Self-loops
    add no node (CC drops them before the rounds)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u != v:
            ru, rv = find(u), find(v)
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _random_graph(seed, n_nodes=80, n_edges=60):
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)]


def _shapes():
    """Disjoint union of the shapes the rounds must handle, each in its
    own id range, some with self-loops mixed in."""
    perm = random.Random(5).sample(range(300, 320), 20)
    return (
        [(i, i + 1) for i in range(0, 12)]                 # chain
        + [(i + 1, i) for i in range(100, 112)]            # reversed chain
        + list(zip(perm, perm[1:]))                        # chain, shuffled ids
        + [(u, v) for u in range(200, 206) for v in range(200, 206) if u < v]
        + [(255, x) for x in [250, 251, 252, 253, 254, 256, 257]]  # star, centre not min
        + [(400 + 2 * i, 401 + 2 * i) for i in range(5)]   # disjoint pairs
        + [(500, 501), (500, 502), (510, 511)]             # star forest
        + [(600, 600), (601, 601), (200, 200), (255, 255)]  # self-loops
    )


CC_CASES = {
    "shapes": _shapes(),
    "random0": _random_graph(0),
    "random1": _random_graph(1, n_nodes=40),
    "random2": _random_graph(2, n_nodes=150, n_edges=140),
    "empty": [],
    "self_loops": [(1, 1), (2, 2)],
}


@pytest.mark.parametrize("case", sorted(CC_CASES))
def test_cc_matches_union_find(spark, case):
    edges = CC_CASES[case]
    want = _union_find(edges)
    df = spark.createDataFrame(edges, "a long, b long")
    cc = connected_components(df).collect()
    assert len(cc) == len(want)  # one label per node
    assert {r.node: r.component for r in cc} == want
    # canonical_ids: CC labels, plus isolated nodes labelled by their own id
    nodes = sorted(set(want) | {990, 991})
    ids = canonical_ids(df, spark.createDataFrame([(x,) for x in nodes], "id long"),
                        node_col="id").collect()
    assert len(ids) == len(nodes)
    assert {r.node: r.component for r in ids} == {x: want.get(x, x) for x in nodes}


def test_cc_star_forest_runs_no_round(spark, monkeypatch):
    from largeea_spark.operators import canonical

    calls = []
    large_star = canonical._large_star
    monkeypatch.setattr(canonical, "_large_star",
                        lambda e: calls.append(1) or large_star(e))
    # disjoint pairs and stars on their minimum, given in either orientation
    forest = spark.createDataFrame([(2, 1), (3, 4), (1, 5), (9, 1)], "a long, b long")
    got = {(r.node, r.component) for r in connected_components(forest).collect()}
    assert got == {(1, 1), (2, 1), (5, 1), (9, 1), (3, 3), (4, 3)}
    assert calls == []
    # a chain is no star forest: the counter does see its rounds
    chain = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    assert {r.component for r in connected_components(chain).collect()} == {1}
    assert calls


@pytest.fixture(scope="module")
def kg_pair(spark):
    from largeea_spark.sources import fixtures
    from largeea_spark.sources.kg import KGPair, encode_graph, encode_links

    t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=200, n_triples=600,
                                               n_links=150)
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2).cache()
    return KGPair(kg1=kg1, kg2=kg2, links=lk)


def test_partition_invariants(spark, kg_pair):
    """FIXTURES.md §4 'partition invariants': total coverage, uniqueness,
    seed co-location (`partition.py:250-269` analogue)."""
    k = 4
    p1, p2 = partition_kg.placement_parts(
        partition_kg.seed_aware_placement(kg_pair, k=k, n_iter=2))
    n1 = kg_pair.kg1.ent.count()
    assert p1.count() == n1
    assert p1.select("id").distinct().count() == n1  # exactly one part each
    # seed co-location: every train pair in the same part
    train = kg_pair.links.where(F.col("split") == "train")
    j = (
        train.join(p1.select(F.col("id").alias("e1"), F.col("part").alias("pa")), "e1")
        .join(p2.select(F.col("id").alias("e2"), F.col("part").alias("pb")), "e2")
    )
    assert j.where(F.col("pa") != F.col("pb")).count() == 0
    assert p1.select("part").distinct().count() <= k


def test_partition_cap_salting(spark, kg_pair):
    cap = 40
    p1, p2 = partition_kg.placement_parts(
        partition_kg.seed_aware_placement(kg_pair, k=2, n_iter=2, cap=cap))
    mx = p1.groupBy("part").count().agg(F.max("count")).first()[0]
    assert mx <= cap
    train = kg_pair.links.where(F.col("split") == "train")
    j = (
        train.join(p1.select(F.col("id").alias("e1"), F.col("part").alias("pa")), "e1")
        .join(p2.select(F.col("id").alias("e2"), F.col("part").alias("pb")), "e2")
    )
    assert j.where(F.col("pa") != F.col("pb")).count() == 0


def test_placement_triples_and_correspondence(spark, kg_pair):
    placed = partition_kg.seed_aware_placement(kg_pair, k=3, n_iter=2)
    p1, _ = partition_kg.placement_parts(placed)
    kept = placed.where(F.col("kind") == "t1")
    dropped = kg_pair.kg1.triples.count() - kept.count()
    assert kept.count() + dropped == kg_pair.kg1.triples.count()
    assert kept.where(F.col("batch").isNull()).count() == 0
    # a kept triple's batch is the part of both its endpoints
    for end in ("a", "c"):
        j = kept.join(p1.select(F.col("id").alias(end), "part"), end)
        assert j.where(F.col("part") != F.col("batch")).count() == 0
        assert j.count() == kept.count()
    corr = placed.where(F.col("kind") == "corr")
    # by seed inheritance, every src part's top trg part is itself
    assert corr.where(F.col("batch") != F.col("a")).count() == 0


def _placement_oracle(parts1, parts2, tri1, tri2, train, top_k):
    """Pure-pandas batch layout of the former DataFrame path: top-k
    correspondence by train overlap (ties to the smaller p2), uncovered
    KG1 parts paired with themselves, co-partitioned triples, and the
    five-way payload join (KG1 rows joined on the distinct src parts,
    KG2 rows on every (p1, p2) pair). Returns sorted (batch, kind, a, b,
    c) rows, b/c None where unset, plus the sorted corr pairs."""
    import pandas as pd

    p1 = pd.DataFrame(sorted(parts1.items()), columns=["id", "part"])
    p2 = pd.DataFrame(sorted(parts2.items()), columns=["id", "part"])
    tr = pd.DataFrame(train, columns=["e1", "e2"], dtype="int64")
    ov = (tr.merge(p1.rename(columns={"id": "e1", "part": "p1"}), on="e1")
          .merge(p2.rename(columns={"id": "e2", "part": "p2"}), on="e2")
          .groupby(["p1", "p2"]).size().rename("n").reset_index()
          .sort_values(["p1", "n", "p2"], ascending=[True, False, True]))
    corr = ov.groupby("p1").head(top_k)[["p1", "p2"]]
    lonely = sorted(set(p1.part) - set(corr.p1))
    corr = pd.concat([corr, pd.DataFrame({"p1": lonely, "p2": lonely})])

    def placed(tri, parts):
        t = pd.DataFrame(tri, columns=["src", "rel", "dst"], dtype="int64")
        t = (t.merge(parts.rename(columns={"id": "src", "part": "ph"}), on="src")
             .merge(parts.rename(columns={"id": "dst", "part": "pt"}), on="dst"))
        return t[t.ph == t.pt].rename(columns={"ph": "part"})

    src = pd.DataFrame({"p1": sorted(set(corr.p1))})
    b1 = p1.merge(src, left_on="part", right_on="p1")
    b2 = p2.merge(corr, left_on="part", right_on="p2")
    rows = []
    for kind, df, cols in (
        ("t1", placed(tri1, p1).merge(src, left_on="part", right_on="p1"),
         ["src", "rel", "dst"]),
        ("t2", placed(tri2, p2).merge(corr, left_on="part", right_on="p2"),
         ["src", "rel", "dst"]),
        ("seed", tr.merge(b1, left_on="e1", right_on="id"), ["e1", "e2"]),
        ("e1", b1, ["id"]),
        ("e2", b2, ["id"]),
    ):
        for r in df.itertuples(index=False):
            vals = [int(getattr(r, c)) for c in cols] + [None] * (3 - len(cols))
            rows.append((int(r.p1), kind, *vals))
    return sorted(rows, key=repr), sorted(map(tuple, corr.to_numpy().tolist()))


@pytest.mark.parametrize("top_k", [1, 2])
def test_placement_matches_pandas_payload_join(spark, top_k):
    """The placement task's batch rows equal the former five-way payload
    join, recomputed in pandas over the task's own part rows: top-k
    replication of KG2 rows, dropped cross-part triples and the
    self-pairing of KG1 parts with no train overlap."""
    import random

    from largeea_spark.sources.kg import KG, KGPair

    rng = random.Random(11)
    r1, r2 = list(range(300, 390)), list(range(500, 590))
    tri1 = [(a, rng.randrange(3), b) for a, b in _rand_graph(rng, r1, 120)]
    tri2 = [(a, rng.randrange(3), b) for a, b in _rand_graph(rng, r2, 120)]
    tri1 += tri1[:5]  # duplicate triples stay duplicated
    x, y = sorted(rng.sample(r1, 4)), rng.sample(r2, 4)
    # 4 distinct KG1 seeds take parts 1-4 of k=6, so parts 0 and 5 hold
    # only unreached entities (hash parts) and have no train overlap;
    # y[0] is linked to x[0] and x[1] and inherits x[0]'s smaller part,
    # so x[1]'s part overlaps two KG2 parts; 999 is no KG1 entity and 77 no KG2 entity
    train = list(zip(x, y)) + [(x[1], y[0]), (999, y[2]), (x[0], 77)]

    def kg(ents, tri):
        return KG(ent=spark.createDataFrame([(f"u{e}", e) for e in ents],
                                            "uri string, id long"),
                  rel=None,
                  triples=spark.createDataFrame(tri, "src long, rel long, dst long"))

    links = spark.createDataFrame([(a, b, "train") for a, b in train],
                                  "e1 long, e2 long, split string")
    pair = KGPair(kg1=kg(r1, tri1), kg2=kg(r2, tri2), links=links)
    placed = partition_kg.seed_aware_placement(pair, k=6, n_iter=1, top_k_corr=top_k)
    p1, p2 = partition_kg.placement_parts(placed)
    parts1 = {r.id: r.part for r in p1.collect()}
    parts2 = {r.id: r.part for r in p2.collect()}
    want, want_corr = _placement_oracle(parts1, parts2, tri1, tri2, train, top_k)
    got = sorted(((r.batch, r.kind, r.a, r.b, r.c) for r in placed.where(
        F.col("kind").isin("t1", "t2", "seed", "e1", "e2")).collect()), key=repr)
    got_corr = sorted((r.batch, r.a) for r in placed.where(F.col("kind") == "corr").collect())
    assert got_corr == want_corr
    assert got == want
    # the case covers what the layout must get right
    src_parts = [a for a, _ in got_corr]
    assert (max(src_parts.count(a) for a in src_parts) == 2) == (top_k == 2)
    assert any(a == b and a in (0, 5) for a, b in got_corr)
    assert sum(1 for r in got if r[1] == "t1") < len(tri1)


def test_xxhash64_long_matches_spark(spark):
    """The placement kernel's salt hash is Spark's xxhash64 of a long."""
    import numpy as np

    vals = [0, 1, -1, 42, 7, 123456789012, -987654321, 2**63 - 1, -2**63,
            *range(1000, 1100)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    want = [r.h for r in df.select(F.xxhash64("v").alias("h")).collect()]
    got = partition_kg._xxhash64_long(np.array(vals, np.int64))
    assert got.tolist() == want


def _lp_oracle(ents1, tri1, ents2, tri2, train, k, n_iter, hpart):
    """Dict-based label propagation with the semantics of the former
    DataFrame loop: synchronous rounds, summed edge weights, highest
    score wins with ties to the smaller part, pinned seeds, KG1 seed
    part = (rank of distinct train e1 + 1) % k, KG2 seeds take the min
    part of their partners, leftovers take ``hpart``."""

    def edges(tri):
        w = defaultdict(float)
        for s, d in tri:
            if s != d:
                w[(min(s, d), max(s, d))] += 1.0
        return w

    def propagate(ents, tri, seeds):
        labels = {e: seeds.get(e) for e in ents}
        nbrs = defaultdict(list)
        for (u, v), w in edges(tri).items():
            nbrs[u].append((v, w))
            nbrs[v].append((u, w))
        for _ in range(n_iter):
            new = {}
            for e in ents:
                score = defaultdict(float)
                for nb, w in nbrs[e]:
                    if labels.get(nb) is not None:
                        score[labels[nb]] += w
                if e in seeds or not score:
                    new[e] = labels[e]
                else:
                    new[e] = min(score, key=lambda p: (-score[p], p))
            labels = new
        return {e: hpart[e] if p is None else p for e, p in labels.items()}

    seeds1 = {e1: (i + 1) % k for i, e1 in enumerate(sorted({a for a, _ in train}))}
    lab1 = propagate(ents1, tri1, seeds1)
    seeds2 = {}
    for e1, e2 in train:
        if e1 in lab1:
            seeds2[e2] = min(seeds2.get(e2, k), lab1[e1])
    return lab1, propagate(ents2, tri2, seeds2)


def _lp_case(spark, ents1, tri1, ents2, tri2, train, test=()):
    from largeea_spark.sources.kg import KG, KGPair

    def kg(ents, tri):
        return KG(
            ent=spark.createDataFrame([(f"u{e}", e) for e in ents], "uri string, id long"),
            rel=None,
            triples=spark.createDataFrame([(s, 0, d) for s, d in tri],
                                          "src long, rel long, dst long"),
        )

    links = spark.createDataFrame(
        [(a, b, "train") for a, b in train] + [(a, b, "test") for a, b in test],
        "e1 long, e2 long, split string",
    )
    return KGPair(kg1=kg(ents1, tri1), kg2=kg(ents2, tri2), links=links)


def _hash_parts(spark, ids, k):
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    return {r.id: r.h for r in df.select(
        "id", F.pmod(F.xxhash64("id"), F.lit(k)).cast("int").alias("h")).collect()}


def _rand_graph(rng, ids, n_edges):
    return [(rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)]


@pytest.mark.parametrize("n_iter", [0, 1, 3])
def test_seed_aware_partition_matches_dict_lp(spark, n_iter):
    """The one-task numpy label propagation equals a dict-based oracle
    on hand-built edge cases and a random multigraph."""
    import random

    k = 3
    ents1 = list(range(10))
    tri1 = [
        (1, 0), (1, 3),          # tie between parts of seeds 0 and 3
        (2, 0), (2, 0), (2, 3),  # multiplicity: 0's part wins 2 vs 1
        (2, 50),                 # endpoint 50 is not an entity
        (6, 7), (7, 8), (8, 8),  # chain (labels reach 8 only at round 2)
        (4, 5),                  # unlabeled component → hash parts
    ]                            # 9: isolated
    ents2 = list(range(100, 110))
    tri2 = [(100, 102), (101, 102), (103, 104), (104, 100), (105, 105)]
    # 99 is absent from KG1 and 200 from KG2; 100 is linked to KG1
    # seeds in two parts
    train = [(0, 100), (3, 100), (6, 103), (99, 101), (6, 200)]
    rng = random.Random(7)
    r1, r2 = list(range(300, 360)), list(range(400, 460))
    cases = [
        (ents1, tri1, ents2, tri2, train),
        (ents1, tri1, ents2, tri2, []),  # no seeds
        (r1, _rand_graph(rng, r1, 150), r2, _rand_graph(rng, r2, 150),
         [(a, a + 100) for a in rng.sample(r1, 12)]),
    ]
    for e1, t1, e2, t2, tr in cases:
        pair = _lp_case(spark, e1, t1, e2, t2, tr, test=[(9, 109)])
        hpart = _hash_parts(spark, e1 + e2, k)
        want1, want2 = _lp_oracle(e1, t1, e2, t2, tr, k, n_iter, hpart)
        p1, p2 = partition_kg.placement_parts(
            partition_kg.seed_aware_placement(pair, k=k, n_iter=n_iter))
        assert {r.id: r.part for r in p1.collect()} == want1
        assert {r.id: r.part for r in p2.collect()} == want2


def test_structure_propagation_improves_or_holds(spark, kg_pair):
    """Propagation must produce a usable sim and keep exact-name anchors
    alignable (sanity, not a strict quality gate at this tiny scale):
    propagate both KGs' name embeddings one layer, then exact top-k."""
    from largeea_spark.functions.vectors import encode_names
    from largeea_spark.operators import evalx
    from largeea_spark.operators.knn import knn_topk
    from largeea_spark.operators.structure import propagate_embeddings
    from largeea_spark.plans.name_channel import entity_names

    n1 = entity_names(kg_pair.kg1.ent, False)
    n2 = entity_names(kg_pair.kg2.ent, False)
    e1 = encode_names(n1, "name", dim=32).select("id", "emb")
    e2 = encode_names(n2, "name", dim=32).select("id", "emb")
    p1 = propagate_embeddings(kg_pair.kg1.triples, e1, n_layers=1)
    p2 = propagate_embeddings(kg_pair.kg2.triples, e2, n_layers=1)
    sim = knn_topk(p1, p2, k=10)

    test = kg_pair.links.where(F.col("split") == "test")
    acc = evalx.accuracy(sim, test)
    assert sim.count() > 0
    assert acc > 0.3, f"structure-channel acc collapsed: {acc}"


# --- dedup strategies on a constructed corpus
@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and once"
    other = "completely different content about spark shuffles and joins"
    rows = [
        (0, base), (1, base),            # exact dups
        (2, near),                       # near dup of 0/1
        (3, other), (4, other + " now"),  # near pair
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_docs):
    clusters = dedup.exact_duplicates(dup_docs).collect()
    assert len(clusters) == 1 and clusters[0].doc_ids == [0, 1]
    kept = dedup.exact_dedup_keep(dup_docs)
    assert kept.count() == 5 and kept.where(F.col("doc_id") == 1).count() == 0


def test_ngram_jaccard_dedup(spark, dup_docs):
    pairs = {(r.a, r.b) for r in
             dedup.ngram_jaccard_pairs(dup_docs, n=3, threshold=0.5).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert not any(a == 5 or b == 5 for a, b in pairs)
    kept = dedup.dedup_keep_from_pairs(
        dup_docs, dedup.ngram_jaccard_pairs(dup_docs, n=3, threshold=0.5)
    )
    assert {r.doc_id for r in kept.select("doc_id").collect()} >= {0, 3, 5}
    assert kept.where(F.col("doc_id").isin(1, 2)).count() == 0


def test_dedup_keep_from_pairs_matches_min_per_component(spark):
    # survivors: the min doc of each pair component, plus every doc in
    # no pair; pairs only between docs (the producers' contract)
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        doc_ids = sorted(rng.sample(range(500), 60))
        pairs = {tuple(sorted(rng.sample(doc_ids, 2))) for _ in range(45)}
        label = _union_find(pairs)
        want = {d for d in doc_ids if label.get(d, d) == d}
        docs = spark.createDataFrame([(d, f"text {d}") for d in doc_ids],
                                     "doc_id long, text string")
        kept = dedup.dedup_keep_from_pairs(
            docs, spark.createDataFrame(sorted(pairs), "a long, b long"))
        got = [r.doc_id for r in kept.collect()]
        assert len(got) == len(want) and set(got) == want, seed


def test_minhash_lsh_recall_vs_exact(spark, dup_docs):
    exact = {(r.a, r.b) for r in
             dedup.ngram_jaccard_pairs(dup_docs, n=2, threshold=0.8).collect()}
    lsh = {(r.a, r.b) for r in
           dedup.minhash_lsh_pairs(dup_docs, n=2, num_perm=64, bands=32, rows=2,
                                   verify_threshold=0.8).collect()}
    # verified-LSH ⊆ exact, and exact dups always collide
    assert lsh <= exact
    assert (0, 1) in lsh


def test_simhash_exact_dup_distance_zero(spark, dup_docs):
    pairs = {(r.a, r.b): r.hamming for r in
             dedup.simhash_pairs(dup_docs, max_hamming=10).collect()}
    assert pairs.get((0, 1)) == 0


def test_simhash_pairs_equal_brute_force(spark):
    """At max_hamming=8 the bit ranges must number 9: with four 16-bit
    chunks, pairs whose 5-8 differing bits hit every chunk were missed."""
    from largeea_spark.functions.hashing import simhash64_agg
    from largeea_spark.functions.names import tokenize_ws

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for base in range(12):
        words = rng.choices(vocab, k=40)
        for v in range(6):
            doc = list(words)
            for pos in rng.sample(range(40), v * 2):
                doc[pos] = rng.choice(vocab)
            rows.append((base * 10 + v, " ".join(doc)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = sorted((r.doc_id, r.fp) for r in simhash64_agg(
        docs.select("doc_id", tokenize_ws(F.col("text")).alias("toks")),
        "doc_id", "toks").collect())
    for r in (3, 8):
        want = {}
        for i, (a, fa) in enumerate(fps):
            for b, fb in fps[i + 1:]:
                h = bin((fa ^ fb) & (2**64 - 1)).count("1")
                if h <= r:
                    want[(a, b)] = h
        got = {(x.a, x.b): x.hamming for x in
               dedup.simhash_pairs(docs, max_hamming=r).collect()}
        assert got == want, (r, len(got), len(want))
    assert len(want) >= 30
