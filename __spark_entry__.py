"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline smoke on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
training-data ops); each callable (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL per query (omitted for the
genuinely non-SQL-expressible ones → rows-only check).

Conventions for oracle parity:
- every computed column aliased identically on both sides;
- doubles rounded to 6 (or stated) decimals AND cast ::DOUBLE in DuckDB
  (DuckDB round() yields DECIMAL);
- counts cast to BIGINT on both sides (DuckDB sum(int) yields HUGEINT,
  Spark size() yields INT);
- deterministic ORDER-free output (driver compares order-insensitively)
  with deterministic tiebreaks inside any rank/argmax.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: embedding near-dup + quality-scored dedup summary over
    the sf0.001 corpus — exercises kNN, dedup, text stats in one plan."""
    sf = "/root/testdata/sf0.001"
    from largeea_spark.operators import dedup, textstats

    docs = _t(spark, sf, "documents")
    embs = _t(spark, sf, "embeddings")
    near = dedup.embedding_near_dups(embs, threshold=0.5, k=5)
    quality = textstats.quality_features(docs)
    stats = quality.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )
    pairs = near.agg(F.count("*").alias("near_dup_pairs"))
    return stats.crossJoin(pairs)


# ---------------------------------------------------------------------------
# helpers used by multiple queries
# ---------------------------------------------------------------------------

def _doc_tokens(spark, sf_dir):
    from largeea_spark.functions.names import tokenize_ws

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("id"), tokenize_ws(F.col("text")).alias("toks")
    )


def _acctbal_sim(spark, sf_dir):
    """Small dense sim matrix for W3/W7/W10 shapes: customer×supplier,
    sim = −|c_acctbal − s_acctbal| (deterministic, no floats beyond
    subtraction)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    return c.crossJoin(s).select(
        F.col("c_custkey").alias("src"),
        F.col("s_suppkey").alias("dst"),
        (-F.abs(F.col("c_acctbal") - F.col("s_acctbal"))).alias("sim"),
    )


_ACCTBAL_SIM_SQL = """
    SELECT c_custkey AS src, s_suppkey AS dst,
           -abs(c_acctbal - s_acctbal) AS sim
    FROM customer CROSS JOIN supplier
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- relational shapes (scan/join/agg/window; SURVEY §2.1-2.6) ----
    def tpch_q1(spark, sf):  # A-family aggregation suite
        li = _t(spark, sf, "lineitem")
        return (
            li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )

    q["tpch_q1"] = tpch_q1

    def dict_encode_brands(spark, sf):  # A1 deterministic dict-encode
        from largeea_spark.operators.ids import dict_encode

        return dict_encode(
            _t(spark, sf, "part").select(F.col("p_brand").alias("key")), "key"
        )

    q["dict_encode_brands"] = dict_encode_brands

    def edge_weights(spark, sf):  # A2 multiplicity counts (G1 graph build)
        li = _t(spark, sf, "lineitem")
        return (
            li.groupBy(F.col("l_partkey").alias("u"), F.col("l_suppkey").alias("v"))
            .agg(F.count("*").alias("w"))
            .where(F.col("w") > 1)
        )

    q["edge_weights"] = edge_weights

    def supplier_degree(spark, sf):  # A3 degree / incidence counts
        li = _t(spark, sf, "lineitem")
        return li.groupBy(F.col("l_suppkey").alias("node")).agg(
            F.count("*").alias("degree"),
            F.countDistinct("l_partkey").alias("distinct_parts"),
        )

    q["supplier_degree"] = supplier_degree

    def rel_functionality(spark, sf):  # A12 relation functionality
        li = _t(spark, sf, "lineitem")
        return li.groupBy(F.col("l_returnflag").alias("rel")).agg(
            F.round(F.countDistinct("l_orderkey") / F.count("*"), 6).alias("functionality")
        )

    q["rel_functionality"] = rel_functionality

    def topk_parts_per_supplier(spark, sf):  # W1 window top-k
        li = _t(spark, sf, "lineitem")
        # one exchange for both keyed operators (guide §2.4): hash-
        # partitioning on l_suppkey satisfies the groupBy's (suppkey,
        # partkey) clustering AND the window's partitionBy, so the agg
        # and the window share this single shuffle (before: two).
        li = li.select(
            "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
        ).repartition(F.col("l_suppkey"))
        rev = li.groupBy("l_suppkey", "l_partkey").agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev")
        )
        w = Window.partitionBy("l_suppkey").orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
        return (
            rev.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("l_suppkey", "l_partkey", "rev", F.col("rk").cast("long").alias("rk"))
        )

    q["topk_parts_per_supplier"] = topk_parts_per_supplier

    def argmax_part_per_order(spark, sf):  # W3 argmax via max_by
        li = _t(spark, sf, "lineitem")
        packed = F.struct(F.col("l_quantity").alias("s"), (-F.col("l_partkey")).alias("ni"))
        return li.groupBy("l_orderkey").agg(
            F.max_by("l_partkey", packed).alias("argmax_part"),
            F.max("l_quantity").alias("max_qty"),
        )

    q["argmax_part_per_order"] = argmax_part_per_order

    def order_qty_softmax(spark, sf):  # A8 grouped softmax
        from largeea_spark.operators.simops import sparse_softmax

        li = _t(spark, sf, "lineitem").select(
            F.col("l_orderkey").alias("src"),
            F.col("l_linenumber").cast("long").alias("dst"),
            F.col("l_quantity").alias("sim"),
        )
        out = sparse_softmax(li, "src")
        return out.select("src", "dst", F.round("sim", 6).alias("p"))

    q["order_qty_softmax"] = order_qty_softmax

    def events_minmax(spark, sf):  # A9 global min-max normalize
        from largeea_spark.operators.simops import minmax_norm

        ev = _t(spark, sf, "events").select(
            F.col("event_id").alias("src"), F.lit(0).cast("long").alias("dst"),
            F.col("value").alias("sim"),
        )
        return minmax_norm(ev).select(
            F.col("src").alias("event_id"), F.round("sim", 6).alias("norm_value")
        )

    q["events_minmax"] = events_minmax

    def brand_type_spspmm(spark, sf):  # L1 sparse×sparse matmul
        from largeea_spark.operators.simops import spspmm

        p = _t(spark, sf, "part")
        a = p.groupBy(F.col("p_brand").alias("src"), F.col("p_type").alias("dst")).agg(
            F.count("*").cast("double").alias("sim")
        )
        b = p.groupBy(F.col("p_type").alias("src"), F.col("p_size").cast("long").alias("dst")).agg(
            F.count("*").cast("double").alias("sim")
        )
        out = spspmm(a, b)
        return out.select(
            F.col("src").alias("brand"), F.col("dst").alias("size"),
            F.col("sim").cast("long").alias("paths"),
        )

    q["brand_type_spspmm"] = brand_type_spspmm

    def customers_without_orders(spark, sf):  # U2 anti join
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        return c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti").select(
            "c_custkey", "c_name"
        )

    q["customers_without_orders"] = customers_without_orders

    def orders_of_building_segment(spark, sf):  # semi join (P5 shape)
        c = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
        o = _t(spark, sf, "orders")
        return o.join(
            c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi"
        ).select("o_orderkey", "o_custkey", "o_totalprice")

    q["orders_of_building_segment"] = orders_of_building_segment

    def union_dedup_keys(spark, sf):  # U1/U4 union + distinct
        o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
        c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
        return o.unionByName(c).distinct()

    q["union_dedup_keys"] = union_dedup_keys

    def share_triples_join(spark, sf):  # J4 shape: multi-hop equi-join chain
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        s = _t(spark, sf, "supplier")
        return (
            s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count("*").alias("n_suppliers"),
                F.round(F.sum("s_acctbal"), 4).alias("total_bal"),
            )
        )

    q["share_triples_join"] = share_triples_join

    def running_revenue(spark, sf):  # window running sum (W8 ordered)
        o = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        return o.select(
            "o_custkey", "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
        )

    q["running_revenue"] = running_revenue

    def partition_stats_orders(spark, sf):  # A11/G8 stats
        o = _t(spark, sf, "orders")
        per = o.groupBy("o_custkey").count()
        return per.agg(
            F.count("*").alias("n_groups"),
            F.min("count").alias("min_size"),
            F.max("count").alias("max_size"),
            F.round(F.avg("count"), 6).alias("avg_size"),
            F.round(F.stddev_pop("count"), 6).alias("std_size"),
        )

    q["partition_stats_orders"] = partition_stats_orders

    def mutual_argmax_acctbal(spark, sf):  # W10 bi-mapping
        from largeea_spark.operators.simops import bi_mapping

        # sim = -abs(...), so an exact-zero sim is IEEE -0.0; DuckDB's
        # round()::DOUBLE preserves that sign while Spark's round()
        # normalizes to +0.0 — pass zeros through unrounded so both
        # engines agree (only fires when acctbals tie, e.g. sf0.1+;
        # no-op at the SFs where no ties exist)
        sim = F.when(F.col("sim") == 0, F.col("sim")).otherwise(
            F.round("sim", 6))
        return bi_mapping(_acctbal_sim(spark, sf)).select(
            "src", "dst", sim.alias("sim")
        )

    q["mutual_argmax_acctbal"] = mutual_argmax_acctbal

    def csls_acctbal_top1(spark, sf):  # W7 CSLS re-scoring (+top1)
        from largeea_spark.operators.simops import argmax, csls_rescore

        sim = _acctbal_sim(spark, sf)
        re = csls_rescore(sim, k=10)
        return argmax(re, "src").select(
            "src", "argmax", F.round("sim", 6).alias("csls")
        )

    q["csls_acctbal_top1"] = csls_acctbal_top1

    def levenshtein_distance_names(spark, sf):  # F6-adjacent builtin parity
        p = _t(spark, sf, "part").where(F.col("p_partkey") <= 200).select("p_partkey", "p_name")
        a = p.select(F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_name"))
        b = p.select(F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_name"))
        return (
            a.join(b, F.col("a_key") < F.col("b_key"))
            .select(
                "a_key", "b_key",
                F.levenshtein("a_name", "b_name").cast("long").alias("lev"),
            )
            .where(F.col("lev") <= 10)
        )

    q["levenshtein_distance_names"] = levenshtein_distance_names

    # ---- documents: text analysis + dedup (training-data ops) ----
    def doc_token_counts(spark, sf):
        from largeea_spark.operators.textstats import bpeish_token_count, token_count

        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
            bpeish_token_count(F.col("text")).cast("long").alias("n_bpeish_tokens"),
        )

    q["doc_token_counts"] = doc_token_counts

    def doc_quality(spark, sf):
        from largeea_spark.operators.textstats import quality_features

        return quality_features(_t(spark, sf, "documents")).select(
            "doc_id", F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "mean_token_len", "punct_ratio", "stopword_ratio", "quality_score",
        )

    q["doc_quality"] = doc_quality

    def doc_langid(spark, sf):
        from largeea_spark.operators.textstats import langid

        return langid(_t(spark, sf, "documents")).select(
            "doc_id", "pred_lang", F.col("stopword_hits").cast("long").alias("stopword_hits")
        )

    q["doc_langid"] = doc_langid

    def doc_tfidf(spark, sf):  # A4 sklearn-parity TF-IDF
        from largeea_spark.operators.tfidf import tf_idf

        toks = _doc_tokens(spark, sf)
        out = tf_idf(toks, "id", "toks")
        return out.select(
            F.col("id").alias("doc_id"), "token", F.col("tf").cast("long").alias("tf"),
            F.round("tf_idf", 6).alias("tf_idf"),
        )

    q["doc_tfidf"] = doc_tfidf

    def doc_stop_tokens(spark, sf):  # U6 high-freq token set
        from largeea_spark.operators.tfidf import stop_tokens

        toks = _doc_tokens(spark, sf)
        return stop_tokens(toks, "id", "toks", k=25).select(
            "token", F.col("df").cast("long").alias("df")
        )

    q["doc_stop_tokens"] = doc_stop_tokens

    def doc_exact_dups(spark, sf):
        from largeea_spark.operators.dedup import exact_duplicates

        return exact_duplicates(_t(spark, sf, "documents")).select(
            "text_md5", F.col("n_dups").cast("long").alias("n_dups"), "keep_id"
        )

    q["doc_exact_dups"] = doc_exact_dups

    def doc_ngram_jaccard(spark, sf):
        from largeea_spark.operators.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(
            _t(spark, sf, "documents"), n=3, threshold=0.5
        ).select("a", "b", F.round("jaccard", 6).alias("jaccard"))

    q["doc_ngram_jaccard"] = doc_ngram_jaccard

    def doc_fingerprint(spark, sf):
        from largeea_spark.operators.textstats import fingerprint

        return fingerprint(_t(spark, sf, "documents"), k=4, shingle=16)

    q["doc_fingerprint"] = doc_fingerprint

    def doc_minhash_lsh_pairs(spark, sf):  # J7/F14 — rows-only (hash family)
        from largeea_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            _t(spark, sf, "documents"), n=3, num_perm=64, bands=16, rows=4,
            verify_threshold=0.5,
        ).select("a", "b", F.round("jaccard", 6).alias("jaccard"))

    q["doc_minhash_lsh_pairs"] = doc_minhash_lsh_pairs

    def doc_simhash_pairs(spark, sf):  # rows-only (xxhash64 not in DuckDB)
        from largeea_spark.operators.dedup import simhash_pairs

        return simhash_pairs(_t(spark, sf, "documents"), max_hamming=8).select(
            "a", "b", F.col("hamming").cast("long").alias("hamming")
        )

    q["doc_simhash_pairs"] = doc_simhash_pairs

    # ---- embeddings: similarity search ----
    def emb_knn_cosine(spark, sf):  # J8 brute-force cosine top-k
        from largeea_spark.functions.vectors import cosine_expr

        e = _t(spark, sf, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        a = e.select(F.col("vec_id").alias("src"), F.col("emb").alias("ea"))
        b = e.select(F.col("vec_id").alias("dst"), F.col("emb").alias("eb"))
        sim = (
            a.join(b, F.col("src") != F.col("dst"))
            .select("src", "dst", cosine_expr("ea", "eb").alias("cos"))
        )
        w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst").asc())
        return (
            sim.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select("src", "dst", F.round("cos", 6).alias("cos"),
                    F.col("rk").cast("long").alias("rk"))
        )

    q["emb_knn_cosine"] = emb_knn_cosine

    # emb_knn_blocked retired in r4: subsumed by the emb_knn_blocked_vs_brute
    # hard gate (blocked == brute, mismatch=0), freeing a slot in the driver's
    # 50-query correctness window for cc_components / doc_repetition_filter.

    def doc_pipeline_composite(spark, sf):  # filter → dedup → per-lang stats
        from largeea_spark.operators.dedup import exact_dedup_keep
        from largeea_spark.operators.textstats import quality_features

        docs = _t(spark, sf, "documents")
        qf = quality_features(docs)
        kept_q = docs.join(
            qf.where(F.col("quality_score") >= 0.5).select("doc_id"), "doc_id", "left_semi"
        )
        deduped = exact_dedup_keep(kept_q)
        return deduped.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )

    q["doc_pipeline_composite"] = doc_pipeline_composite

    def emb_ivf_ann(spark, sf):  # IVF approximate NN — rows-only
        from largeea_spark.operators.knn import ivf_topk

        e = _t(spark, sf, "embeddings").select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
        )
        out = ivf_topk(e, e, k=5, nlist=16, nprobe=4, sample_rows=5000)
        return out.select("src", "dst", F.round("sim", 6).alias("sim"))

    q["emb_ivf_ann"] = emb_ivf_ann

    def emb_ivf_recall_gate(spark, sf):  # IVF recall@10 vs brute ≥ 0.8
        # hard-gates the approximate path: the oracle pins recall_ok=1,
        # so an IVF regression below 0.8 recall@10 hash-mismatches.
        # Deterministic: k-means centroids from a value-hashed sample.
        from largeea_spark.operators.knn import ivf_topk, knn_topk

        e = _t(spark, sf, "embeddings").select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
        )
        approx = ivf_topk(e, e, k=10, nlist=16, nprobe=8, sample_rows=5000)
        exact = knn_topk(e, e, k=10, n_blocks=4)
        hit = approx.select("src", "dst").intersect(exact.select("src", "dst")).count()
        total = exact.count()
        recall = hit / max(total, 1)
        return spark.createDataFrame(
            [(1 if recall >= 0.8 else 0, total)], "recall_ok long, n_exact long"
        )

    q["emb_ivf_recall_gate"] = emb_ivf_recall_gate

    def lowrank_topk_gate(spark, sf):  # L5: exact recovery at full rank
        # the 500×500 cosine matrix from dim-64 embeddings has rank ≤ 65,
        # so rank-80 randomized factorization must reproduce the exact
        # top-5 pair set; the oracle pins the mismatch count at 0.
        from largeea_spark.functions.vectors import cosine_expr
        from largeea_spark.operators.lowrank import low_rank_sim_topk
        from largeea_spark.operators.simops import topk_per_row

        e = _t(spark, sf, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        a = e.select(F.col("vec_id").alias("src"), F.col("emb").alias("ea"))
        b = e.select(F.col("vec_id").alias("dst"), F.col("emb").alias("eb"))
        # keep the diagonal: excluding it adds a rank-n perturbation that
        # destroys the matrix's low-rank structure; self-pairs appear in
        # both the exact and the approximate top-k consistently
        ir = a.crossJoin(b).select(
            "src", "dst", cosine_expr("ea", "eb").alias("sim")
        )
        exact = topk_per_row(ir, 5, "src").select("src", "dst")
        approx = low_rank_sim_topk(ir, rank=80, n_iter=2, k=5).select("src", "dst")
        mismatch = exact.exceptAll(approx).count() + approx.exceptAll(exact).count()
        return spark.createDataFrame([(mismatch,)], "n_mismatch long")

    q["lowrank_topk_gate"] = lowrank_topk_gate

    # emb_label_centroids retired in r4: same scatter-mean shape as the
    # spmm_label_centroids oracle row (A5/L3 share the groupBy-avg plan);
    # frees a slot in the driver's 50-query correctness window.

    def emb_norms(spark, sf):  # F8 row norms
        e = _t(spark, sf, "embeddings")
        sq = F.aggregate(
            F.col("embedding").cast("array<double>"), F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
        return e.select("vec_id", F.round(F.sqrt(sq), 6).alias("l2_norm"))

    q["emb_norms"] = emb_norms

    # ---- KG pipeline rows-only checks (non-SQL-expressible flows) ----
    def kg_string_alignment(spark, sf):  # full string channel on fixture
        from largeea_spark.plans import name_channel
        from largeea_spark.sources import fixtures
        from largeea_spark.sources.kg import KGPair, encode_graph, encode_links

        t1, t2, links, _ = fixtures.two_kg_fixture(spark, n_ents=150, n_triples=450, n_links=100)
        kg1, kg2 = encode_graph(t1), encode_graph(t2)
        lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
        pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
        sim = name_channel.string_similarity(pair)
        return sim.select("src", "dst", F.round("sim", 6).alias("sim"))

    q["kg_string_alignment"] = kg_string_alignment

    def web_triple_parity(spark, sf):  # north-rule P/R gate as a query
        from largeea_spark.operators import evalx
        from largeea_spark.plans import extract
        from largeea_spark.sources import fixtures

        pages, gold = fixtures.web_pages_fixture(spark, n_pages=200)
        emitted = extract.triples_for_parity(pages)
        pr = evalx.precision_recall_f1(emitted, gold, cols=("subj", "pred", "obj"))
        mismatches = extract.verify_byte_identical(pages)
        return spark.createDataFrame(
            [(round(pr["precision"], 6), round(pr["recall"], 6), pr["tp"], mismatches)],
            "precision double, recall double, tp long, byte_mismatches long",
        )

    q["web_triple_parity"] = web_triple_parity

    def margin_mutual_acctbal(spark, sf):  # W11 margin-gap mutual pairs
        from largeea_spark.operators.simops import margin_mutual_pairs

        return margin_mutual_pairs(_acctbal_sim(spark, sf), th=10.0).select(
            "src", "dst", F.round("sim", 6).alias("sim")
        )

    q["margin_mutual_acctbal"] = margin_mutual_acctbal

    def sinkhorn_orders(spark, sf):  # L6 two sinkhorn iterations
        from largeea_spark.operators.simops import sinkhorn

        m = _t(spark, sf, "lineitem").groupBy(
            F.col("l_orderkey").alias("src"), F.col("l_suppkey").alias("dst")
        ).agg(F.sum("l_quantity").alias("sim"))
        out = sinkhorn(m, n_iter=2, eps=0.0)
        return out.select("src", "dst", F.round("sim", 6).alias("p"))

    q["sinkhorn_orders"] = sinkhorn_orders

    def event_sessions(spark, sf):  # sessionization (window lag+cumsum)
        from largeea_spark.operators.events import sessionize

        ev = _t(spark, sf, "events")
        s = sessionize(ev, gap_minutes=30.0)
        return s.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("session_value"),
        )

    q["event_sessions"] = event_sessions

    def event_asof_purchase(spark, sf):  # as-of join (no native Spark op)
        from largeea_spark.operators.events import asof_join

        ev = _t(spark, sf, "events")
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"
        )
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("value").alias("purchase_value")
        )
        out = asof_join(clicks, purchases, "user_id", "ts", ["purchase_value"])
        return out.select(
            "event_id", "user_id",
            F.round("value", 6).alias("click_value"),
            F.round("purchase_value_asof", 6).alias("last_purchase_value"),
        )

    q["event_asof_purchase"] = event_asof_purchase

    def cube_rollup_orders(spark, sf):  # grouping-sets coverage
        o = _t(spark, sf, "orders")
        return (
            o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
            .select(
                F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                "n", "total",
            )
        )

    q["cube_rollup_orders"] = cube_rollup_orders

    def event_windowed_counts(spark, sf):
        # batch event counts per event_type
        # (tumbling 1h window agg) — window starts exported as epoch
        # seconds so both engines compare tz-free integers
        ev = _t(spark, sf, "events")
        return (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(
                F.unix_timestamp(F.col("w.start")).alias("w_start"),
                "event_type", "n", "total_value",
            )
        )

    q["event_windowed_counts"] = event_windowed_counts

    def eval_hits_mrr(spark, sf):  # W4/W6: Hits@k + truncated MRR
        from largeea_spark.operators import simops

        sim = _acctbal_sim(spark, sf)
        n_supp = _t(spark, sf, "supplier").count()
        n_cust = _t(spark, sf, "customer").count()
        gold = _t(spark, sf, "customer").select(
            F.col("c_custkey").alias("src"),
            (F.col("c_custkey") % n_supp).alias("dst"),
        )
        kmax = 10
        ranked = simops.rank_per_row(simops.topk_per_row(sim, kmax, "src"), "src")
        joined = gold.join(ranked.select("src", "dst", "rank"), ["src", "dst"], "left")
        fail = int(n_cust / 2)
        rank0 = F.coalesce(F.col("rank") - 1, F.lit(fail))
        return joined.agg(
            F.round(F.avg(1.0 / (rank0 + 1)), 6).alias("mrr"),
            F.round(F.avg(F.when(F.col("rank") <= 1, 1.0).otherwise(0.0)), 6).alias("hits1"),
            F.round(F.avg(F.when(F.col("rank") <= 5, 1.0).otherwise(0.0)), 6).alias("hits5"),
            F.round(F.avg(F.when(F.col("rank") <= 10, 1.0).otherwise(0.0)), 6).alias("hits10"),
            F.count("*").alias("n_links"),
        )

    q["eval_hits_mrr"] = eval_hits_mrr

    def eval_hits_mrr_csls(spark, sf):  # W7 + W4/W6: CSLS-rescored eval
        # end-to-end CSLS eval protocol (`eval.py:82-129`,
        # `models/rrea/CSLS.py:56-95`): rescore the sim with CSLS, THEN
        # rank and compute Hits/MRR — the reference's test-time protocol
        from largeea_spark.operators import simops
        from largeea_spark.operators.simops import csls_rescore

        sim = csls_rescore(_acctbal_sim(spark, sf), k=10)
        n_supp = _t(spark, sf, "supplier").count()
        n_cust = _t(spark, sf, "customer").count()
        gold = _t(spark, sf, "customer").select(
            F.col("c_custkey").alias("src"),
            (F.col("c_custkey") % n_supp).alias("dst"),
        )
        ranked = simops.rank_per_row(simops.topk_per_row(sim, 10, "src"), "src")
        joined = gold.join(ranked.select("src", "dst", "rank"), ["src", "dst"], "left")
        fail = int(n_cust / 2)
        rank0 = F.coalesce(F.col("rank") - 1, F.lit(fail))
        return joined.agg(
            F.round(F.avg(1.0 / (rank0 + 1)), 6).alias("mrr"),
            F.round(F.avg(F.when(F.col("rank") <= 1, 1.0).otherwise(0.0)), 6).alias("hits1"),
            F.round(F.avg(F.when(F.col("rank") <= 5, 1.0).otherwise(0.0)), 6).alias("hits5"),
            F.round(F.avg(F.when(F.col("rank") <= 10, 1.0).otherwise(0.0)), 6).alias("hits10"),
            F.count("*").alias("n_links"),
        )

    q["eval_hits_mrr_csls"] = eval_hits_mrr_csls

    def emb_knn_blocked_vs_brute(spark, sf):  # J9 exactness: blocked == brute
        # blocked EXACT kNN must equal brute force — an engine-vs-engine
        # hard check (the oracle pins the mismatch count at 0). Blocked
        # runs with k+1 incl. self (sim=1 on normalized vectors), self is
        # removed, both sides re-ranked (sim desc, dst asc); 1−L2² is
        # monotone in cosine on normalized vectors so rankings coincide.
        from largeea_spark.operators.knn import knn_topk

        e = _t(spark, sf, "embeddings").select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
        )
        blocked = (
            knn_topk(e, e, k=6, n_blocks=4)
            .where(F.col("src") != F.col("dst"))
        )
        wb = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst").asc())
        bl = (
            blocked.withColumn("rk", F.row_number().over(wb))
            .where(F.col("rk") <= 5).select("src", "dst")
        )
        br = emb_knn_cosine(spark, sf).select("src", "dst")
        mismatch = bl.exceptAll(br).count() + br.exceptAll(bl).count()
        return spark.createDataFrame([(mismatch,)], "n_mismatch long")

    q["emb_knn_blocked_vs_brute"] = emb_knn_blocked_vs_brute

    def spmm_label_centroids(spark, sf):  # L3 spmm_dense path
        from largeea_spark.operators.simops import spmm_dense

        e = _t(spark, sf, "embeddings")
        cnt = e.groupBy("label").agg(F.count("*").alias("n"))
        a = e.join(cnt, "label").select(
            F.col("label").cast("long").alias("src"),
            F.col("vec_id").alias("dst"),
            (1.0 / F.col("n")).alias("sim"),
        )
        emb = e.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        out = spmm_dense(a, emb)
        return out.select(
            F.col("id").alias("label"), F.posexplode("emb").alias("pos", "x")
        ).select(
            F.col("label").cast("int").alias("label"),
            F.col("pos").cast("long").alias("pos"),
            F.round("x", 6).alias("centroid_x"),
        )

    q["spmm_label_centroids"] = spmm_label_centroids

    def emb_power_means(spark, sf):  # F13 CPM concatenated power means
        from largeea_spark.functions.vectors import power_mean_pooling

        e = _t(spark, sf, "embeddings")
        e2w = e.select(F.col("label").cast("long").alias("ent_id"),
                       F.col("vec_id").alias("word_id"))
        wv = e.select(F.col("vec_id").alias("word_id"),
                      F.col("embedding").alias("emb"))
        pooled = power_mean_pooling(e2w, wv, ps=(1.0, 2.0), include_minmax=True)
        return pooled.select(
            F.col("ent_id").alias("label"),
            F.posexplode("emb").alias("pos", "v"),
        ).select("label", F.col("pos").cast("long").alias("pos"),
                 F.round("v", 6).alias("v"))

    q["emb_power_means"] = emb_power_means

    def doc_repetition_filter(spark, sf):  # Gopher-style repetition rules
        from largeea_spark.operators.textstats import repetition_features

        out = repetition_features(_t(spark, sf, "documents"))
        return out.select(
            "doc_id", F.col("n_lines").cast("long").alias("n_lines"),
            "dup_line_frac", "top_bigram_share", "repetition_ok",
        )

    q["doc_repetition_filter"] = doc_repetition_filter

    def cc_components(spark, sf):  # large-star/small-star CC
        from largeea_spark.operators.canonical import connected_components
        from largeea_spark.operators.dedup import ngram_jaccard_pairs

        pairs = ngram_jaccard_pairs(_t(spark, sf, "documents"), n=3, threshold=0.3)
        cc = connected_components(pairs.select("a", "b"))
        return cc.select(F.col("node"), F.col("component"))

    q["cc_components"] = cc_components

    # ---- 51st slot, registered LAST on purpose: the driver window is
    # 50 queries and silently drops overflow from the tail (round-3
    # lesson), so this bonus query — the F5 BPE training front-half
    # (split → explode → partial-agg count → deterministic top-k) — is
    # the designated victim if the cap binds; every §2-certified query
    # above keeps its slot. F5's primary evidence is the pinned
    # Sennrich-example + xpar-determinism units in test_round5.
    def doc_word_freqs(spark, sf):
        from largeea_spark.functions.bpe import word_frequency_table

        d = _t(spark, sf, "documents")
        return word_frequency_table(d, "text", max_words=100).select(
            "w", F.col("count").cast("long").alias("cnt")
        )

    q["doc_word_freqs"] = doc_word_freqs

    return q


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

from largeea_spark.operators.textstats import LANG_STOPWORDS  # noqa: E402

_STOP_SQL = {
    code: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for code, ws in sorted(LANG_STOPWORDS.items())
}

_ALL_STOP_SQL = "[" + ", ".join(
    f"'{w}'" for w in sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
) + "]"

# mirrors functions/names.py tokenize_ws: split on \s+ runs, drop the
# empty token DuckDB/Spark emit for empty or whitespace-only text
_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t != '')"

_DOC_POSTINGS = f"""
    SELECT doc_id AS id, tok AS token, count(*)::BIGINT AS tf
    FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
    GROUP BY 1, 2
"""

_DOC_GRAMS = f"""
    SELECT doc_id, list_distinct(
        CASE WHEN len(toks) >= 3
             THEN [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]
             ELSE [array_to_string(toks, ' ')] END) AS grams
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["tpch_q1"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4)::DOUBLE AS sum_qty,
               round(sum(l_extendedprice), 4)::DOUBLE AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4)::DOUBLE AS sum_disc_price,
               round(avg(l_quantity), 6)::DOUBLE AS avg_qty,
               round(avg(l_discount), 6)::DOUBLE AS avg_disc,
               count(*)::BIGINT AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2
    """

    o["dict_encode_brands"] = """
        SELECT key, (row_number() OVER (ORDER BY key) - 1)::BIGINT AS id
        FROM (SELECT DISTINCT p_brand AS key FROM part WHERE p_brand IS NOT NULL)
    """

    o["edge_weights"] = """
        SELECT l_partkey AS u, l_suppkey AS v, count(*)::BIGINT AS w
        FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
    """

    o["supplier_degree"] = """
        SELECT l_suppkey AS node, count(*)::BIGINT AS degree,
               count(DISTINCT l_partkey)::BIGINT AS distinct_parts
        FROM lineitem GROUP BY 1
    """

    o["rel_functionality"] = """
        SELECT l_returnflag AS rel,
               round(count(DISTINCT l_orderkey)::DOUBLE / count(*), 6)::DOUBLE AS functionality
        FROM lineitem GROUP BY 1
    """

    o["topk_parts_per_supplier"] = """
        WITH rev AS (
          SELECT l_suppkey, l_partkey,
                 round(sum(l_extendedprice * (1 - l_discount)), 4)::DOUBLE AS rev
          FROM lineitem GROUP BY 1, 2)
        SELECT l_suppkey, l_partkey, rev, rk FROM (
          SELECT *, row_number() OVER (
             PARTITION BY l_suppkey ORDER BY rev DESC, l_partkey ASC)::BIGINT AS rk
          FROM rev) WHERE rk <= 3
    """

    o["argmax_part_per_order"] = """
        SELECT l_orderkey, l_partkey AS argmax_part, max_qty FROM (
          SELECT l_orderkey, l_partkey,
                 max(l_quantity) OVER (PARTITION BY l_orderkey) AS max_qty,
                 row_number() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_quantity DESC, l_partkey ASC) AS rk
          FROM lineitem) WHERE rk = 1
    """

    o["order_qty_softmax"] = """
        SELECT src, dst,
               round(ex / sum(ex) OVER (PARTITION BY src), 6)::DOUBLE AS p
        FROM (
          SELECT l_orderkey AS src, l_linenumber::BIGINT AS dst,
                 exp(l_quantity - max(l_quantity) OVER (PARTITION BY l_orderkey)) AS ex
          FROM lineitem)
    """

    o["events_minmax"] = """
        SELECT event_id,
               round((value - mn) / (mx - mn), 6)::DOUBLE AS norm_value
        FROM events, (SELECT min(value) AS mn, max(value) AS mx FROM events)
    """

    o["brand_type_spspmm"] = """
        WITH a AS (SELECT p_brand, p_type, count(*)::DOUBLE AS av FROM part GROUP BY 1, 2),
             b AS (SELECT p_type, p_size, count(*)::DOUBLE AS bv FROM part GROUP BY 1, 2)
        SELECT p_brand AS brand, p_size::BIGINT AS size,
               sum(av * bv)::BIGINT AS paths
        FROM a JOIN b USING (p_type)
        GROUP BY 1, 2 HAVING sum(av * bv) <> 0
    """

    o["customers_without_orders"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """

    o["orders_of_building_segment"] = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """

    o["union_dedup_keys"] = """
        SELECT DISTINCT k FROM (
          SELECT o_custkey AS k FROM orders UNION ALL SELECT c_custkey FROM customer)
    """

    o["share_triples_join"] = """
        SELECT r_name, count(*)::BIGINT AS n_suppliers,
               round(sum(s_acctbal), 4)::DOUBLE AS total_bal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1
    """

    o["running_revenue"] = """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)::DOUBLE AS running_total
        FROM orders
    """

    o["partition_stats_orders"] = """
        SELECT count(*)::BIGINT AS n_groups, min(c)::BIGINT AS min_size,
               max(c)::BIGINT AS max_size, round(avg(c), 6)::DOUBLE AS avg_size,
               round(stddev_pop(c), 6)::DOUBLE AS std_size
        FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)
    """

    o["mutual_argmax_acctbal"] = f"""
        WITH sim AS ({_ACCTBAL_SIM_SQL}),
        s2t AS (SELECT src, dst, sim FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk FROM sim)
                WHERE rk = 1),
        t2s AS (SELECT src, dst FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY dst ORDER BY sim DESC, src ASC) AS rk FROM sim)
                WHERE rk = 1)
        SELECT s2t.src, s2t.dst, round(s2t.sim, 6)::DOUBLE AS sim
        FROM s2t JOIN t2s ON s2t.src = t2s.src AND s2t.dst = t2s.dst
    """

    o["csls_acctbal_top1"] = f"""
        WITH sim AS ({_ACCTBAL_SIM_SQL}),
        rs AS (SELECT src, avg(sim) AS r_src FROM (
                 SELECT *, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
                 FROM sim) WHERE rk <= 10 GROUP BY src),
        rd AS (SELECT dst, avg(sim) AS r_dst FROM (
                 SELECT *, row_number() OVER (PARTITION BY dst ORDER BY sim DESC, src ASC) AS rk
                 FROM sim) WHERE rk <= 10 GROUP BY dst),
        re AS (SELECT src, dst, 2 * sim - r_src - r_dst AS sim
               FROM sim JOIN rs USING (src) JOIN rd USING (dst))
        SELECT src, dst AS argmax, round(sim, 6)::DOUBLE AS csls FROM (
          SELECT *, row_number() OVER (
            PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk FROM re)
        WHERE rk = 1
    """

    o["levenshtein_distance_names"] = """
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               levenshtein(a.p_name, b.p_name)::BIGINT AS lev
        FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        WHERE a.p_partkey <= 200 AND b.p_partkey <= 200
          AND levenshtein(a.p_name, b.p_name) <= 10
    """

    o["doc_token_counts"] = f"""
        SELECT doc_id,
               CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS}) END::BIGINT AS n_ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT
                   AS n_bpeish_tokens
        FROM documents
    """

    o["doc_word_freqs"] = """
        SELECT w, cnt FROM (
          SELECT w, count(*)::BIGINT AS cnt
          FROM (SELECT unnest(string_split_regex(lower(text),
                              '[^\\p{L}\\p{N}'']+')) AS w
                FROM documents)
          WHERE length(w) > 0
          GROUP BY w
          ORDER BY cnt DESC, w
          LIMIT 100)
    """

    o["doc_quality"] = f"""
        WITH feat AS (
          SELECT doc_id, length(text) AS n_chars,
                 CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_toks,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
                 len(list_intersect(list_distinct({_TOKS}), {_ALL_STOP_SQL})) AS stop_hits
          FROM documents)
        SELECT doc_id, n_chars::BIGINT AS n_chars_calc, n_toks::BIGINT AS n_tokens,
               round(CASE WHEN n_toks > 0 THEN (n_chars - (n_toks - 1))::DOUBLE / n_toks ELSE 0 END, 6)::DOUBLE AS mean_token_len,
               round(CASE WHEN n_chars > 0 THEN punct::DOUBLE / n_chars ELSE 0 END, 6)::DOUBLE AS punct_ratio,
               round(CASE WHEN n_toks > 0 THEN stop_hits::DOUBLE / n_toks ELSE 0 END, 6)::DOUBLE AS stopword_ratio,
               round(least(n_toks / 100.0, 1.0) * 0.4
                     + (1.0 - least(CASE WHEN n_chars > 0 THEN punct::DOUBLE / n_chars ELSE 0 END * 4.0, 1.0)) * 0.3
                     + least(CASE WHEN n_toks > 0 THEN stop_hits::DOUBLE / n_toks ELSE 0 END * 5.0, 1.0) * 0.3, 6)::DOUBLE AS quality_score
        FROM feat
    """

    _toks_lower = r"list_distinct(string_split_regex(trim(lower(text)), '\s+'))"
    o["doc_langid"] = f"""
        WITH h AS (
          SELECT doc_id,
                 len(list_intersect({_toks_lower}, {_STOP_SQL['de']})) AS h_de,
                 len(list_intersect({_toks_lower}, {_STOP_SQL['en']})) AS h_en,
                 len(list_intersect({_toks_lower}, {_STOP_SQL['es']})) AS h_es,
                 len(list_intersect({_toks_lower}, {_STOP_SQL['fr']})) AS h_fr
          FROM documents)
        SELECT doc_id,
               CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
                    WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                    WHEN h_es >= h_fr THEN 'es'
                    ELSE 'fr' END AS pred_lang,
               greatest(h_de, h_en, h_es, h_fr)::BIGINT AS stopword_hits
        FROM h
    """

    o["doc_tfidf"] = f"""
        WITH post AS ({_DOC_POSTINGS}),
        n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        idf AS (SELECT token, ln((1.0 + nd) / (count(DISTINCT id) + 1.0)) + 1.0 AS idf
                FROM post, n GROUP BY token, nd),
        raw AS (SELECT id, post.token, tf, tf * idf AS w FROM post JOIN idf USING (token)),
        nrm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM raw GROUP BY id)
        SELECT id AS doc_id, token, tf,
               round(CASE WHEN nrm > 0 THEN w / nrm ELSE 0 END, 6)::DOUBLE AS tf_idf
        FROM raw JOIN nrm USING (id)
    """

    o["doc_stop_tokens"] = f"""
        WITH post AS ({_DOC_POSTINGS}),
        dfreq AS (SELECT token, count(DISTINCT id)::BIGINT AS df FROM post GROUP BY 1)
        SELECT token, df FROM (
          SELECT *, row_number() OVER (ORDER BY df DESC, token ASC) AS rk FROM dfreq)
        WHERE rk <= 25
    """

    o["doc_exact_dups"] = """
        SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_dups,
               min(doc_id) AS keep_id
        FROM documents GROUP BY 1 HAVING count(*) > 1
    """

    o["doc_ngram_jaccard"] = f"""
        WITH g AS ({_DOC_GRAMS}),
        post AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        sizes AS (SELECT doc_id, len(grams) AS n FROM g),
        inter AS (
          SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_int
          FROM post a JOIN post b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT a, b,
               round(n_int::DOUBLE / (sa.n + sb.n - n_int), 6)::DOUBLE AS jaccard
        FROM inter JOIN sizes sa ON inter.a = sa.doc_id
                   JOIN sizes sb ON inter.b = sb.doc_id
        WHERE n_int::DOUBLE / (sa.n + sb.n - n_int) >= 0.5
    """

    o["doc_fingerprint"] = """
        SELECT doc_id, array_to_string(
          (list_sort(list_transform(
             list_distinct([substr(text, i, 16)
                            for i in generate_series(1, greatest(length(text) - 15, 1))]),
             s -> md5(s))))[1:4], '') AS fingerprint
        FROM documents
    """

    o["emb_knn_cosine"] = """
        WITH sim AS (
          SELECT a.vec_id AS src, b.vec_id AS dst,
                 list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
        SELECT src, dst, round(cos, 6)::DOUBLE AS cos, rk FROM (
          SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC)::BIGINT AS rk
          FROM sim) WHERE rk <= 5
    """

    o["emb_norms"] = """
        SELECT vec_id,
               round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)::DOUBLE AS l2_norm
        FROM embeddings
    """

    o["margin_mutual_acctbal"] = f"""
        WITH sim AS ({_ACCTBAL_SIM_SQL}),
        s AS (SELECT src, dst, sim,
                     row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk,
                     count(*) OVER (PARTITION BY src) AS n,
                     max(sim) OVER (PARTITION BY src) AS v1,
                     min(CASE WHEN rk2 <= 2 THEN sim END) OVER (PARTITION BY src) AS v2
              FROM (SELECT *, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk2 FROM sim)
              WHERE rk2 <= 2),
        s2t AS (SELECT src, dst, sim,
                       CASE WHEN n >= 2 THEN v1 - v2 ELSE v1 END AS gap_s
                FROM s WHERE rk = 1),
        t AS (SELECT src, dst,
                     row_number() OVER (PARTITION BY dst ORDER BY sim DESC, src ASC) AS rk,
                     count(*) OVER (PARTITION BY dst) AS n,
                     max(sim) OVER (PARTITION BY dst) AS v1,
                     min(CASE WHEN rk2 <= 2 THEN sim END) OVER (PARTITION BY dst) AS v2
              FROM (SELECT *, row_number() OVER (PARTITION BY dst ORDER BY sim DESC, src ASC) AS rk2 FROM sim)
              WHERE rk2 <= 2),
        t2s AS (SELECT src, dst,
                       CASE WHEN n >= 2 THEN v1 - v2 ELSE v1 END AS gap_t
                FROM t WHERE rk = 1)
        SELECT s2t.src, s2t.dst, round(s2t.sim, 6)::DOUBLE AS sim
        FROM s2t JOIN t2s ON s2t.src = t2s.src AND s2t.dst = t2s.dst
        WHERE gap_s >= 10.0 AND gap_t >= 10.0
    """

    o["sinkhorn_orders"] = """
        WITH m AS (SELECT l_orderkey AS src, l_suppkey AS dst,
                          sum(l_quantity) AS sim
                   FROM lineitem GROUP BY 1, 2),
        i1r AS (SELECT src, dst, sim / sum(sim) OVER (PARTITION BY src) AS sim FROM m),
        i1c AS (SELECT src, dst, sim / sum(sim) OVER (PARTITION BY dst) AS sim FROM i1r),
        i2r AS (SELECT src, dst, sim / sum(sim) OVER (PARTITION BY src) AS sim FROM i1c),
        i2c AS (SELECT src, dst, sim / sum(sim) OVER (PARTITION BY dst) AS sim FROM i2r)
        SELECT src, dst, round(sim, 6)::DOUBLE AS p FROM i2c
    """

    o["event_sessions"] = """
        WITH marked AS (
          SELECT user_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                      THEN 1 ELSE 0 END AS new_s,
                 ts
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (
          SELECT user_id, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM marked)
        SELECT user_id, session_id::BIGINT AS session_id,
               count(*)::BIGINT AS n_events,
               round(sum(value), 6)::DOUBLE AS session_value
        FROM sess GROUP BY 1, 2
    """

    o["event_asof_purchase"] = """
        WITH clicks AS (
          SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
        purchases AS (
          SELECT user_id, ts, value AS purchase_value FROM (
            SELECT *, row_number() OVER (
              PARTITION BY user_id, ts ORDER BY value DESC) AS rn
            FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        SELECT c.event_id, c.user_id,
               round(c.value, 6)::DOUBLE AS click_value,
               round(p.purchase_value, 6)::DOUBLE AS last_purchase_value
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """

    o["cube_rollup_orders"] = """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*)::BIGINT AS n,
               round(sum(o_totalprice), 4)::DOUBLE AS total
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """

    o["event_windowed_counts"] = """
        SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts))::BIGINT AS w_start,
               event_type,
               count(*)::BIGINT AS n,
               round(sum(value), 6)::DOUBLE AS total_value
        FROM events GROUP BY 1, 2
    """

    o["doc_pipeline_composite"] = f"""
        WITH feat AS (
          SELECT doc_id,
                 CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_toks,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
                 len(list_intersect(list_distinct({_TOKS}), {_ALL_STOP_SQL})) AS stop_hits
          FROM documents),
        scored AS (
          SELECT doc_id,
                 round(least(n_toks / 100.0, 1.0) * 0.4
                   + (1.0 - least(CASE WHEN n_chars > 0 THEN punct::DOUBLE / n_chars ELSE 0 END * 4.0, 1.0)) * 0.3
                   + least(CASE WHEN n_toks > 0 THEN stop_hits::DOUBLE / n_toks ELSE 0 END * 5.0, 1.0) * 0.3, 6) AS score
          FROM feat),
        kept AS (
          SELECT d.* FROM documents d JOIN scored USING (doc_id)
          WHERE scored.score >= 0.5),
        dedup AS (
          SELECT * FROM kept WHERE doc_id IN (
            SELECT min(doc_id) FROM kept GROUP BY md5(text)))
        SELECT lang, count(*)::BIGINT AS n_docs,
               round(avg(n_chars), 6)::DOUBLE AS avg_chars
        FROM dedup GROUP BY 1
    """

    o["eval_hits_mrr"] = f"""
        WITH sim AS ({_ACCTBAL_SIM_SQL}),
        ranked AS (
          SELECT src, dst, rank FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
            FROM sim) WHERE rank <= 10),
        gold AS (
          SELECT c_custkey AS src,
                 c_custkey % (SELECT count(*) FROM supplier) AS dst
          FROM customer),
        joined AS (
          SELECT gold.src, gold.dst,
                 coalesce(ranked.rank - 1,
                          (SELECT (count(*) / 2)::BIGINT FROM customer)) AS rank0,
                 ranked.rank AS rank
          FROM gold LEFT JOIN ranked ON gold.src = ranked.src AND gold.dst = ranked.dst)
        SELECT round(avg(1.0::DOUBLE / (rank0 + 1)), 6)::DOUBLE AS mrr,
               round(avg(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 6)::DOUBLE AS hits1,
               round(avg(CASE WHEN rank <= 5 THEN 1.0 ELSE 0.0 END), 6)::DOUBLE AS hits5,
               round(avg(CASE WHEN rank <= 10 THEN 1.0 ELSE 0.0 END), 6)::DOUBLE AS hits10,
               count(*)::BIGINT AS n_links
        FROM joined
    """

    o["eval_hits_mrr_csls"] = f"""
        WITH sim0 AS ({_ACCTBAL_SIM_SQL}),
        rs AS (SELECT src, avg(sim) AS r_src FROM (
                 SELECT *, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
                 FROM sim0) WHERE rk <= 10 GROUP BY src),
        rd AS (SELECT dst, avg(sim) AS r_dst FROM (
                 SELECT *, row_number() OVER (PARTITION BY dst ORDER BY sim DESC, src ASC) AS rk
                 FROM sim0) WHERE rk <= 10 GROUP BY dst),
        sim AS (SELECT src, dst, 2 * sim0.sim - r_src - r_dst AS sim
                FROM sim0 JOIN rs USING (src) JOIN rd USING (dst)),
        ranked AS (
          SELECT src, dst, rank FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
            FROM sim) WHERE rank <= 10),
        gold AS (
          SELECT c_custkey AS src,
                 c_custkey % (SELECT count(*) FROM supplier) AS dst
          FROM customer),
        joined AS (
          SELECT gold.src, gold.dst,
                 coalesce(ranked.rank - 1,
                          (SELECT (count(*) / 2)::BIGINT FROM customer)) AS rank0,
                 ranked.rank AS rank
          FROM gold LEFT JOIN ranked ON gold.src = ranked.src AND gold.dst = ranked.dst)
        SELECT round(avg(1.0::DOUBLE / (rank0 + 1)), 6)::DOUBLE AS mrr,
               round(avg(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 6)::DOUBLE AS hits1,
               round(avg(CASE WHEN rank <= 5 THEN 1.0 ELSE 0.0 END), 6)::DOUBLE AS hits5,
               round(avg(CASE WHEN rank <= 10 THEN 1.0 ELSE 0.0 END), 6)::DOUBLE AS hits10,
               count(*)::BIGINT AS n_links
        FROM joined
    """

    o["doc_repetition_filter"] = f"""
        WITH l AS (
          SELECT doc_id,
                 list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lines
          FROM documents),
        base AS (
          SELECT doc_id, len(lines)::BIGINT AS n_lines,
                 CASE WHEN len(lines) > 0
                      THEN 1.0 - len(list_distinct(lines))::DOUBLE / len(lines)
                      ELSE 0.0 END AS dlf
          FROM l),
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        bg AS (
          -- unnest(range(..)) supports lateral column refs where
          -- generate_series doesn't: bound follows each doc's length
          -- (no silent 256-token cap)
          SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
          FROM toks, unnest(range(1, greatest(len(t), 1))) AS g(i)
          WHERE len(t) >= 2),
        per AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM per GROUP BY 1)
        SELECT base.doc_id, n_lines,
               round(dlf, 6)::DOUBLE AS dup_line_frac,
               round(coalesce(top_c::DOUBLE / n_bg, 0), 6)::DOUBLE AS top_bigram_share,
               (dlf <= 0.3 AND coalesce(top_c::DOUBLE / n_bg, 0) <= 0.2) AS repetition_ok
        FROM base LEFT JOIN top USING (doc_id)
    """

    # approximate-path hard gate: IVF recall@10 vs exact must be ≥ 0.8
    # (recall_ok pinned 1); n_exact pinned to 10 rows per query vector
    o["emb_ivf_recall_gate"] = """
        SELECT 1::BIGINT AS recall_ok,
               (count(*) * 10)::BIGINT AS n_exact
        FROM embeddings
    """

    # L5 exactness invariant: rank-80 ≥ rank(cosine matrix)=65 → the
    # randomized low-rank top-k must equal the exact top-k
    o["lowrank_topk_gate"] = "SELECT 0::BIGINT AS n_mismatch"

    # engine-vs-engine invariant: blocked exact kNN ≡ brute force.
    # The Spark query returns the symmetric-difference count of the two
    # top-k pair sets; the oracle pins it at zero — any divergence
    # between the blocked path and brute force hash-mismatches.
    o["emb_knn_blocked_vs_brute"] = "SELECT 0::BIGINT AS n_mismatch"

    o["spmm_label_centroids"] = """
        SELECT label, (i - 1)::BIGINT AS pos,
               round(avg(embedding[i]::DOUBLE), 6)::DOUBLE AS centroid_x
        FROM embeddings, generate_series(1, 64) AS t(i)
        GROUP BY 1, 2
    """

    # CPM layout: [p=1 mean (64) | p=2 mean (64) | min (64) | max (64)]
    # p=2 is real-expressible (x² ≥ 0); p=3's complex-root semantics are
    # unit-tested instead (tests/test_round2.py)
    o["emb_power_means"] = """
        WITH f AS (SELECT label::BIGINT AS label, i,
                          embedding[i]::DOUBLE AS x
                   FROM embeddings, generate_series(1, 64) AS t(i))
        SELECT label, pos, round(v, 6)::DOUBLE AS v FROM (
          SELECT label, (i - 1)::BIGINT AS pos, avg(x) AS v FROM f GROUP BY 1, 2
          UNION ALL
          SELECT label, (64 + i - 1)::BIGINT, sqrt(avg(x * x)) FROM f GROUP BY 1, 2
          UNION ALL
          SELECT label, (128 + i - 1)::BIGINT, min(x) FROM f GROUP BY 1, 2
          UNION ALL
          SELECT label, (192 + i - 1)::BIGINT, max(x) FROM f GROUP BY 1, 2)
    """

    o["cc_components"] = f"""
        WITH base AS ({_DOC_GRAMS}),
        post AS (SELECT doc_id, unnest(grams) AS gram FROM base),
        sizes AS (SELECT doc_id, len(grams) AS n FROM base),
        inter AS (
          SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_int
          FROM post a JOIN post b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        edges AS (
          SELECT a, b FROM inter
          JOIN sizes sa ON inter.a = sa.doc_id
          JOIN sizes sb ON inter.b = sb.doc_id
          WHERE n_int::DOUBLE / (sa.n + sb.n - n_int) >= 0.3),
        und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        rec AS (
          WITH RECURSIVE reach(node, r) AS (
            SELECT a AS node, a AS r FROM und
            UNION
            SELECT und.a AS node, reach.r
            FROM und JOIN reach ON und.b = reach.node
            WHERE reach.r < und.a)
          SELECT node, min(r) AS component FROM reach GROUP BY node)
        SELECT node, component FROM rec
    """

    # rows-only (no oracle): doc_minhash_lsh_pairs, doc_simhash_pairs,
    # kg_string_alignment, web_triple_parity
    return o
