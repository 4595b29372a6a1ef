"""Name channel: string similarity (reference phase 3) + name-embedding
similarity (phases 1-2). SURVEY.md §3.1, §3.2.

Lifecycle parity (`main.py:301-336`):
  phase 1-2: normalize names (P1, punc='') → encode → top-k kNN with
             sim = 1−L2² on normalized vectors (J9) → sim table.
  phase 3:   normalize (P1+P2) → underscore token sets (F4) →
             MinHash-LSH candidates (J7) that carry both names →
             Levenshtein ratio (F6/J10) → sim table.

Every stage returns the long-format sim IR (src, dst, sim) keyed by
GLOBAL entity ids of the two KGs. Phases 1-2 split into an encode half
(``name_embeddings``) and a kNN half (``name_embedding_knn``), so the
alignment pipeline encodes the names once and hands the same vectors to
the structure channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.levenshtein import levenshtein_ratio
from ..functions.names import normalize_name, tokenize_ws, underscore_token_set
from ..functions.vectors import encode_names
from ..operators import simops
from ..operators.blocking import minhash_candidates
from ..operators.ids import assign_dense_ids
from ..operators.knn import knn_topk
from ..operators.tfidf import stop_tokens, tf_idf
from ..sources.kg import KGPair
from ..session import session_shuffle_width


def entity_names(ent: DataFrame, punct_to_space: bool) -> DataFrame:
    """(uri, id) → (id, name) with reference normalization order
    (`text_sim.py:228`: prefix strip, then optional punct→space)."""
    return ent.select(
        F.col("id"), normalize_name(F.col("uri"), punct_to_space).alias("name")
    )


def string_similarity(pair: KGPair, stats: dict | None = None) -> DataFrame:
    """Phase 3 (`sparse_string_sim`, `text_sim.py:227-243`):
    MinHash-blocked Levenshtein-ratio sim between the two KGs' names
    (LSH shape ``blocking.NAME_LSH``; ``stats`` as in
    ``minhash_candidates``).

    The candidates carry their names (filter-then-verify): the blocking
    id is ``struct(id, name)``, so the Levenshtein stage reads
    ``src.name``/``dst.name`` off the candidate rows, with no join back
    to the entity dims.

    The reference's candidate-subspace projection P5 (`main.py:302`,
    test-pair entities only) is a caller-side semi-join of ``pair``'s
    entity dims, as for every name-channel function."""
    def keyed(kg):
        n = entity_names(kg.ent, punct_to_space=True)
        return n.select(F.struct("id", "name").alias("en"),
                        underscore_token_set("name").alias("toks"))

    cand = minhash_candidates(keyed(pair.kg1), keyed(pair.kg2), "en", "toks",
                              stats=stats)
    # pin the DP-scoring stage at full shuffle width: candidate-pair
    # rows are small but the Levenshtein DP is O(|a|·|b|) compute per
    # row, and AQE's byte-based coalescing would serialize it (an
    # explicit-count repartition is exempt; PLANS.md "compute-dense
    # Arrow stages"). Keyed (dst, src): the candidates' distinct is
    # hash-partitioned on (src, dst), and a repartition equal to its
    # child's partitioning is dropped.
    width = session_shuffle_width(cand.sparkSession)
    return cand.repartition(width, F.col("dst.id"), F.col("src.id")).select(
        F.col("src.id").alias("src"), F.col("dst.id").alias("dst"),
        levenshtein_ratio(F.col("src.name"), F.col("dst.name")).alias("sim"))


# brute knn_topk replicates every query ×n_blocks (one block per
# 100k index rows) — fine below ~this many index rows, quadratic-ish
# above. 'auto' switches to IVF at the threshold. Round-4 measurement
# (SCALE.md "IVF economics"): IVF is already 3.2× brute at 20k and the
# gap widens with n (4.9× at 500k, recall ≥0.96) — the threshold stays
# at 100k deliberately so small runs keep EXACT results by default;
# speed alone would argue for ~0.
IVF_AUTO_THRESHOLD = 100_000


def name_embeddings(
    pair: KGPair, dim: int = 64, encoder="hashed",
) -> tuple[DataFrame, DataFrame]:
    """Encode half of phases 1-2: (id, emb) per KG for the normalized
    (P1, punc='') names. Encoder is the deterministic hashed
    char-n-gram stand-in for BERT max-pooling (`emb_loader.py:119-182`);
    same DataFrame contract, swap freely."""
    return tuple(
        encode_names(entity_names(kg.ent, punct_to_space=False), "name",
                     dim=dim, encoder=encoder).select("id", "emb")
        for kg in (pair.kg1, pair.kg2)
    )


def name_embedding_knn(
    e1: DataFrame, e2: DataFrame, k: int = 50, method: str = "auto",
    nlist: int | None = None, nprobe: int | None = None,
    ivf_threshold: int | None = None, stats: dict | None = None,
) -> DataFrame:
    """kNN half of phases 1-2 (`main.py:301-320`): global top-``k`` of
    KG1's name vectors ``e1`` against KG2's ``e2``, sim = 1−L2² on
    normalized vectors (`text_utils.py:301`), k=50
    (`text_utils.py:311-313`).

    ``method``: 'brute' (exact blocked kNN), 'ivf' (FAISS-IVFFlat-style
    approximate — the 1e9-row scale path), or 'auto' (default): brute
    below ``ivf_threshold`` index rows (exact where exactness is cheap),
    IVF above it (brute's ×n_blocks query replication would dominate —
    the same regime where the reference reaches for FAISS's coarse
    quantizers, `text_utils.py:291-333`)."""
    n_idx = None
    if method in ("auto", "ivf"):
        n_idx = e2.count()  # the actual index side
    if method == "auto":
        thr = IVF_AUTO_THRESHOLD if ivf_threshold is None else ivf_threshold
        method = "ivf" if n_idx >= thr else "brute"
    if stats is not None:
        # observability: which path auto picked and why (no silent caps)
        stats.update({"knn_method": method, "n_index": n_idx})
    if method == "ivf":
        # IVF cuts the GEMM volume to ~nprobe/nlist of brute force.
        # Measured on the 20k fixture (nlist=64, nprobe=16): 2.4×
        # faster, recall@50 = 0.988, channel Hits@1 within 0.0002.
        from math import isqrt

        from ..operators.knn import ivf_topk

        nl = nlist if nlist is not None else max(16, min(4096, isqrt(max(n_idx, 1))))
        # cap derived nprobe: nl//4 is right at small nlist (recall
        # headroom) but at nlist=√n it probes 25% of cells — only a 4×
        # cut vs brute, with an nprobe× query-replication shuffle.
        # 32 probes of ≥√n cells keeps recall ≥0.9 on name embeddings
        # (SCALE.md "ANN auto-selection") at ≤32/√n of brute's GEMM.
        np_ = nprobe if nprobe is not None else max(4, min(32, nl // 4))
        if stats is not None:
            stats.update({"nlist": nl, "nprobe": np_})
        return ivf_topk(e1, e2, k=k, nlist=nl, nprobe=np_)
    return knn_topk(e1, e2, k=k)


def name_embedding_similarity(
    pair: KGPair, k: int = 50, dim: int = 64, encoder="hashed",
    method: str = "auto", nlist: int | None = None,
    nprobe: int | None = None, ivf_threshold: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Phases 1-2 (`main.py:301-320`): ``name_embeddings`` (encoder)
    then ``name_embedding_knn`` (global top-k kNN); see both for the
    parameters."""
    e1, e2 = name_embeddings(pair, dim=dim, encoder=encoder)
    return name_embedding_knn(e1, e2, k=k, method=method, nlist=nlist,
                              nprobe=nprobe, ivf_threshold=ivf_threshold,
                              stats=stats)


def token_level_similarity(
    pair: KGPair, dim: int = 64, token_k: int = 5,
) -> DataFrame:
    """L4 (`sparse_semantic_sim`, `text_sim.py:112-141,247-262`):
    TF-IDF-weighted token-level similarity — ``E1ᵀ · S_tok · E2`` where
    E are tf-idf posting matrices and S_tok holds top-k token↔token
    embedding similarities:

        tokens ← whitespace tokens of normalized names (F3)
        tf-idf posting DFs per KG (A4)
        S_tok  ← blocked kNN over hashed token embeddings (J9, top-k)
        sim    ← spspmm(spspmm(E1, S_tok), E2ᵀ)   (two L1 contractions)

    Each KG drops its 25 highest-df tokens (U6, `text_utils.py:63-89`
    high-freq + punct stop set)."""
    n1 = entity_names(pair.kg1.ent, punct_to_space=True)
    n2 = entity_names(pair.kg2.ent, punct_to_space=True)
    t1 = n1.select("id", tokenize_ws(F.col("name")).alias("toks"))
    t2 = n2.select("id", tokenize_ws(F.col("name")).alias("toks"))
    post1 = tf_idf(t1, "id", "toks").join(
        stop_tokens(t1, "id", "toks", k=25).select("token"), "token", "left_anti")
    post2 = tf_idf(t2, "id", "toks").join(
        stop_tokens(t2, "id", "toks", k=25).select("token"), "token", "left_anti")

    # token dictionaries + embeddings (hashed n-gram encoder, A6 contract)
    v1 = assign_dense_ids(post1.select("token").distinct(), "token", "tid")
    v2 = assign_dense_ids(post2.select("token").distinct(), "token", "tid")
    e1 = encode_names(v1.withColumnRenamed("token", "name"), "name", dim=dim)
    e2 = encode_names(v2.withColumnRenamed("token", "name"), "name", dim=dim)
    s_tok = knn_topk(
        e1.select(F.col("tid").alias("id"), "emb"),
        e2.select(F.col("tid").alias("id"), "emb"),
        k=token_k,
    )
    # clamp negatives (1−L2² can go below 0; reference token sim is top-1
    # cosine-like weight — keep nonneg so spspmm stays a similarity)
    s_tok = s_tok.withColumn("sim", F.greatest(F.col("sim"), F.lit(0.0)))

    m1 = post1.join(v1, "token").select(
        F.col("id").alias("src"), F.col("tid").alias("dst"), F.col("tf_idf").alias("sim")
    )
    m2 = post2.join(v2, "token").select(
        F.col("tid").alias("src"), F.col("id").alias("dst"), F.col("tf_idf").alias("sim")
    )
    return simops.spspmm(simops.spspmm(m1, s_tok), m2)
