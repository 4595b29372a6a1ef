"""Document deduplication suite — training-data pipeline operators
(round-1 instruction: first-class alongside SURVEY.md §2). Runs over the
`documents` table (doc_id, text, lang, source, n_chars).

Five strategies, each returning a decision the others can compose:
  exact_duplicates     hash-groupBy on the full text (md5)
  ngram_jaccard_pairs  word-n-gram shingles → exact Jaccard join
  minhash_lsh_pairs    shingle → minhash → band → bucket join (O2 path)
  simhash_pairs        64-bit simhash + hamming ≤ r within r+1 bit ranges
  embedding_near_dups  cosine top-k over an embedding column

All JVM-side except the embedding path (Arrow kNN). Each has a
``*_keep`` companion that picks one canonical survivor per duplicate
cluster (min doc_id — deterministic), using connected components for
the pairwise strategies so transitive duplicates collapse together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import explode_band_keys, hamming64, word_ngrams
from ..functions.names import tokenize_ws
from .blocking import exact_jaccard_pairs, widen_if_narrow
from .canonical import canonical_ids


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(hash, n_dups, keep_id, doc_ids) per duplicated text."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_dups") > 1)
    )


def exact_dedup_keep(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Survivors after exact dedup: min doc_id per distinct text."""
    w_keep = docs.groupBy(F.md5(F.col(text_col)).alias("h")).agg(
        F.min(id_col).alias(id_col)
    )
    return docs.join(w_keep.select(id_col), id_col, "left_semi")


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return widen_if_narrow(docs, id_col).select(
        F.col(id_col), word_ngrams(tokenize_ws(F.col(text_col)), n).alias("grams")
    )


#: corpus size above which the blocked kernel's fixed cost (python
#: workers, block replication, ~0.5 s measured) is beaten by its
#: shuffle savings; below it the posting join's Σ df² volume is small
#: enough that the pure-JVM path wins (interleaved A/B, round 6:
#: 5k docs posting 1.2-1.6 s vs blocked 1.6-2.1 s; 50k docs posting
#: 21 s vs blocked ~6 s).
_BLOCKED_MIN_DOCS = 20_000


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8, method: str = "auto",
                        ) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs (a < b).

    ``method='auto'`` (default since round 6) picks by corpus size —
    both methods return IDENTICAL results (equivalence-tested), so the
    switch is purely physical:

    - ``'blocked'``: blocked numpy intersection-count kernel
      (blocking.jaccard_selfjoin_blocked) — the only shuffle is the
      ~0.5 KB/doc hashed-shingle block replication instead of the
      posting join's Σ df² rows. Round-6 measurement at sf1.0 (50k
      docs, Σ df² = 257M): posting 21 s, blocked ~6 s.
    - ``'posting'``: the original pure-JVM posting self-join — wins
      below ``_BLOCKED_MIN_DOCS`` where the join volume is small and
      the kernel's fixed cost dominates."""
    n_docs = None
    if method == "auto":
        n_docs = docs.count()
        method = "blocked" if n_docs >= _BLOCKED_MIN_DOCS else "posting"
    t = _doc_tokens(docs, id_col, text_col, n)
    if method == "blocked":
        from .blocking import jaccard_selfjoin_blocked

        pairs = jaccard_selfjoin_blocked(t, id_col, "grams", threshold,
                                         n_rows=n_docs)
    else:
        pairs = exact_jaccard_pairs(t, t, id_col, "grams", threshold).where(
            F.col("src") < F.col("dst")
        )
    return pairs.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), "jaccard"
    )


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_perm: int = 128, bands: int = 16, rows: int = 8,
                      verify_threshold: float | None = 0.8) -> DataFrame:
    """Shingle → MinHash → band bucket join → (optional) exact-Jaccard
    verification of candidates. (16, 8) bands ⇒ LSH threshold ≈0.71 —
    the scale path for ≥0.8-Jaccard dedup."""
    t = _doc_tokens(docs, id_col, text_col, n)
    # the token table feeds THREE subtrees (band keys + both verify
    # sides); without this checkpoint each one re-tokenizes and
    # re-shingles the whole corpus (guide §5 caching — measured 3×~2 s
    # at sf1.0). Lazy: materialized by the query's own first action.
    t = t.localCheckpoint(eager=False)
    bk = explode_band_keys(t, id_col, "grams", num_perm, bands, rows)
    left = bk.select(F.col(id_col).alias("a"), "band", "key")
    right = bk.select(F.col(id_col).alias("b"), F.col("band").alias("band"),
                      F.col("key").alias("key"))
    cand = (
        left.join(right, ["band", "key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    if verify_threshold is None:
        return cand
    ta = t.select(F.col(id_col).alias("a"), F.col("grams").alias("ga"))
    tb = t.select(F.col(id_col).alias("b"), F.col("grams").alias("gb"))
    joined = cand.join(ta, "a").join(tb, "b")
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= verify_threshold)
        .select("a", "b", "jaccard")
    )


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs (Manku et al., "Detecting Near-Duplicates
    for Web Crawling", WWW 2007): 64-bit fingerprints cut into
    ``max_hamming + 1`` disjoint bit ranges that cover all 64 bits. By
    pigeonhole, two fingerprints within hamming ``max_hamming`` agree on
    at least one whole range → equi-join on (range, value), verify
    hamming. The default ``max_hamming=3`` gives four 16-bit ranges."""
    from ..functions.hashing import simhash64_agg

    fp = simhash64_agg(
        docs.select(F.col(id_col), tokenize_ws(F.col(text_col)).alias("toks")),
        id_col, "toks",
    )
    n = max_hamming + 1
    cuts = [i * 64 // n for i in range(n + 1)]

    def chunk(i):
        width = cuts[i + 1] - cuts[i]
        mask = -1 if width == 64 else (1 << width) - 1  # int64 all-ones
        return F.shiftright("fp", cuts[i]).bitwiseAND(F.lit(mask))

    keyed = fp.select(
        id_col, "fp",
        F.explode(F.array(*[F.struct(F.lit(i).alias("ci"), chunk(i).alias("cv"))
                            for i in range(n)])).alias("c"),
    ).select(id_col, "fp", "c.ci", "c.cv")
    a = keyed.select(F.col(id_col).alias("a"), F.col("fp").alias("fa"), "ci", "cv")
    b = keyed.select(F.col(id_col).alias("b"), F.col("fp").alias("fb"), "ci", "cv")
    return (
        a.join(b, ["ci", "cv"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", hamming64("fa", "fb").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dups(embs: DataFrame, id_col: str = "vec_id",
                        emb_col: str = "embedding", threshold: float = 0.95,
                        k: int = 10) -> DataFrame:
    """Cosine near-dup pairs over an embedding column via blocked kNN.
    The ``cosine`` column is true cosine: knn normalizes its inputs, so
    its sim = 1 − L2² = 2·cos − 1 ⇒ cos = (sim + 1)/2."""
    from .knn import knn_topk

    e = embs.select(F.col(id_col).alias("id"), F.col(emb_col).alias("emb"))
    nn = knn_topk(e, e, k=k)
    return (
        nn.where(F.col("src") < F.col("dst"))
        .withColumn("cosine", (F.col("sim") + 1.0) / 2.0)
        .where(F.col("cosine") >= threshold)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), "cosine")
    )


def dedup_keep_from_pairs(docs: DataFrame, pairs: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
    """Survivors given near-dup pairs (a,b): connected components over
    the pair graph; keep the min-id member of each cluster and every doc
    in no pair.

    Contract: pair ids are ids of ``docs`` (every pair producer here
    derives them from ``docs``). A cluster's min id is its CC label, so
    the survivors are ``docs`` minus the nodes labelled with another id."""
    dropped = canonical_ids(pairs.select("a", "b")).where(
        F.col("node") != F.col("component")
    )
    return docs.join(dropped.select(F.col("node").alias(id_col)), id_col,
                     "left_anti")
