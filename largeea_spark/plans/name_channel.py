"""Name channel: string similarity (reference phase 3) + name-embedding
similarity (phases 1-2) + semi-seed mining (phase 0 prologue).
SURVEY.md §3.1, §3.2.

Lifecycle parity (`main.py:301-336`):
  phase 1-2: normalize names (P1, punc='') → encode → top-k kNN with
             sim = 1−L2² on normalized vectors (J9) → sim table.
  phase 3:   normalize (P1+P2) → underscore token sets (F4) →
             MinHash-LSH candidates (J7) → Levenshtein ratio (F6/J10)
             → sim table.
  phase 0 prologue (`main.py:203-216`): fuse [global, string] with
             weights [1.0, 0.05] → mutual argmax (W10) → semi seeds.

Every stage returns the long-format sim IR (src, dst, sim) keyed by
GLOBAL entity ids of the two KGs. Phases 1-2 split into an encode half
(``name_embeddings``) and a kNN half (``name_embedding_knn``), so the
alignment pipeline encodes the names once and hands the same vectors to
the structure channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.levenshtein import levenshtein_ratio
from ..functions.names import normalize_name, underscore_token_set
from ..functions.vectors import encode_names
from ..operators import simops
from ..operators.blocking import minhash_candidates
from ..operators.knn import knn_topk
from ..sources.kg import KGPair
from ..session import session_shuffle_width


def entity_names(ent: DataFrame, punct_to_space: bool) -> DataFrame:
    """(uri, id) → (id, name) with reference normalization order
    (`text_sim.py:228`: prefix strip, then optional punct→space)."""
    return ent.select(
        F.col("id"), normalize_name(F.col("uri"), punct_to_space).alias("name")
    )


def string_similarity(
    pair: KGPair, num_perm: int = 128, bands: int = 32, rows: int = 4,
    stats: dict | None = None,
) -> DataFrame:
    """Phase 3 (`sparse_string_sim`, `text_sim.py:227-243`):
    MinHash-blocked Levenshtein-ratio sim between the two KGs' names.

    The reference's candidate-subspace projection P5 (`main.py:302`,
    test-pair entities only) is a caller-side semi-join of ``pair``'s
    entity dims, as for every name-channel function."""
    n1 = entity_names(pair.kg1.ent, punct_to_space=True)
    n2 = entity_names(pair.kg2.ent, punct_to_space=True)
    t1 = n1.withColumn("toks", underscore_token_set("name"))
    t2 = n2.withColumn("toks", underscore_token_set("name"))
    cand = minhash_candidates(t1, t2, "id", "toks", num_perm, bands, rows,
                              stats=stats)
    # pin the DP-scoring stage at full shuffle width: candidate-pair
    # rows are ~100 bytes but the Levenshtein DP is O(|a|·|b|) compute
    # per row — AQE's byte-based coalescing would serialize it (the
    # explicit-count repartition is exempt from coalescing; PLANS.md
    # "compute-dense Arrow stages"). Deliberately ALWAYS a shuffle (not
    # widen-only): the repartition must be the LAST exchange before the
    # DP so its width survives into the scoring stage regardless of how
    # the two dimension joins above were planned; the pair rows are tiny
    # so the extra exchange is bytes-cheap even at full corpus scale.
    # Keyed (dst, src), not (src, dst): the candidates' distinct is
    # already hash-partitioned on (src, dst), and when both name joins
    # broadcast, Spark drops a repartition whose partitioning equals
    # its child's (EnsureRequirements), which left the DP stage to
    # AQE's coalescing after all.
    width = session_shuffle_width(cand.sparkSession)
    scored = (
        cand.join(n1.select(F.col("id").alias("src"), F.col("name").alias("n1")), "src")
        .join(n2.select(F.col("id").alias("dst"), F.col("name").alias("n2")), "dst")
        .repartition(width, F.col("dst"), F.col("src"))
        .select("src", "dst", levenshtein_ratio(F.col("n1"), F.col("n2")).alias("sim"))
    )
    return scored


# brute knn_topk replicates every query ×n_blocks (one block per
# 100k index rows) — fine below ~this many index rows, quadratic-ish
# above. 'auto' switches to IVF at the threshold. Round-4 measurement
# (SCALE.md "IVF economics"): IVF is already 3.2× brute at 20k and the
# gap widens with n (4.9× at 500k, recall ≥0.96) — the threshold stays
# at 100k deliberately so small runs keep EXACT results by default;
# speed alone would argue for ~0.
IVF_AUTO_THRESHOLD = 100_000


def name_embeddings(
    pair: KGPair, dim: int = 64, ngram: int = 3, encoder="hashed",
) -> tuple[DataFrame, DataFrame]:
    """Encode half of phases 1-2: (id, emb) per KG for the normalized
    (P1, punc='') names. Encoder is the deterministic hashed
    char-n-gram stand-in for BERT max-pooling (`emb_loader.py:119-182`);
    same DataFrame contract, swap freely."""
    return tuple(
        encode_names(entity_names(kg.ent, punct_to_space=False), "name",
                     dim=dim, n=ngram, encoder=encoder).select("id", "emb")
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
    pair: KGPair, k: int = 50, dim: int = 64, ngram: int = 3,
    encoder="hashed",
    method: str = "auto", nlist: int | None = None,
    nprobe: int | None = None, ivf_threshold: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Phases 1-2 (`main.py:301-320`): ``name_embeddings`` (encoder)
    then ``name_embedding_knn`` (global top-k kNN); see both for the
    parameters."""
    e1, e2 = name_embeddings(pair, dim=dim, ngram=ngram, encoder=encoder)
    return name_embedding_knn(e1, e2, k=k, method=method, nlist=nlist,
                              nprobe=nprobe, ivf_threshold=ivf_threshold,
                              stats=stats)


def token_level_similarity(
    pair: KGPair, dim: int = 64, ngram: int = 3, token_k: int = 5,
    drop_stop_tokens: int | None = 25,
) -> DataFrame:
    """L4 (`sparse_semantic_sim`, `text_sim.py:112-141,247-262`):
    TF-IDF-weighted token-level similarity — ``E1ᵀ · S_tok · E2`` where
    E are tf-idf posting matrices and S_tok holds top-k token↔token
    embedding similarities:

        tokens ← whitespace tokens of normalized names (F3)
        tf-idf posting DFs per KG (A4)
        S_tok  ← blocked kNN over hashed token embeddings (J9, top-k)
        sim    ← spspmm(spspmm(E1, S_tok), E2ᵀ)   (two L1 contractions)

    Optionally drops the ``drop_stop_tokens`` highest-df tokens (U6,
    `text_utils.py:63-89` high-freq + punct stop set)."""
    from ..functions.vectors import encode_names
    from ..operators import simops
    from ..operators.knn import knn_topk
    from ..operators.tfidf import stop_tokens, tf_idf

    n1 = entity_names(pair.kg1.ent, punct_to_space=True)
    n2 = entity_names(pair.kg2.ent, punct_to_space=True)
    from ..functions.names import tokenize_ws

    t1 = n1.select("id", tokenize_ws(F.col("name")).alias("toks"))
    t2 = n2.select("id", tokenize_ws(F.col("name")).alias("toks"))
    post1 = tf_idf(t1, "id", "toks")
    post2 = tf_idf(t2, "id", "toks")
    if drop_stop_tokens:
        stops1 = stop_tokens(t1, "id", "toks", k=drop_stop_tokens).select("token")
        stops2 = stop_tokens(t2, "id", "toks", k=drop_stop_tokens).select("token")
        post1 = post1.join(stops1, "token", "left_anti")
        post2 = post2.join(stops2, "token", "left_anti")

    # token dictionaries + embeddings (hashed n-gram encoder, A6 contract)
    from ..operators.ids import assign_dense_ids

    v1 = assign_dense_ids(post1.select("token").distinct(), "token", "tid")
    v2 = assign_dense_ids(post2.select("token").distinct(), "token", "tid")
    e1 = encode_names(v1.withColumnRenamed("token", "name"), "name", dim=dim, n=ngram)
    e2 = encode_names(v2.withColumnRenamed("token", "name"), "name", dim=dim, n=ngram)
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


def semi_seeds(global_sim: DataFrame, string_sim: DataFrame) -> DataFrame:
    """Phase 0 prologue (`get_semi_link`, `main.py:203-216`): fuse the
    name sims at the reference weights [1.0, 0.05] then keep
    mutual-argmax pairs (W10) as training seeds.
    Returns DataFrame(e1, e2)."""
    fused = simops.fuse([global_sim, string_sim], [1.0, 0.05])
    return simops.bi_mapping(fused).select(
        F.col("src").alias("e1"), F.col("dst").alias("e2")
    )
