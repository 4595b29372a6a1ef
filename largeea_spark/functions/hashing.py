"""Deterministic hashing primitives: MinHash signatures + LSH bands,
SimHash, shingles (SURVEY.md F14, plus training-data dedup ops).

The reference uses datasketch MinHash (128 perms, seed 1) with a redis
LSH store (`text_sim.py:181-224`). Here signatures are computed entirely
JVM-side with ``xxhash64`` over (seed-tagged) tokens — no UDF, no server,
deterministic across parallelism levels. LSH banding becomes a plain
``groupBy(band_hash)`` + equi-join (the north star's "broadcast-free
sort-merge join on block keys").

MinHash math: for permutation i, sig_i(S) = min_{t∈S} h_i(t) with
h_i(t) = xxhash64(i, t). P[sig_i(A)=sig_i(B)] = Jaccard(A,B); banding
(b bands × r rows) fires with prob 1-(1-J^r)^b. Candidate sets differ
from datasketch's (different hash family) — parity is gated on final
P/R with an over-generating (b, r), SURVEY.md §7.4.6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def explode_band_keys(
    df: DataFrame, id_col: str, token_array_col: str,
    num_perm: int = 128, bands: int = 32, rows: int = 4,
) -> DataFrame:
    """(id, tokens) → (id, band, key) — one row per LSH bucket membership.

    This is the block-key table; candidate pairs come from a self- or
    cross-join on (band, key) — a sort-merge equi-join, broadcast-free.

    Signature: explode the distinct tokens, then ONE groupBy(id) with
    ``num_perm`` min-aggregates ``h_i = min xxhash64(i, tok)`` — a single
    pass over the tokens, one shuffle on id, map-side partial mins. Band
    b's key is ``xxhash64(b, h_{b·rows}, …, h_{b·rows+rows-1})``.
    bands*rows must equal num_perm. Threshold ≈ (1/b)^(1/r); the string
    channel's (32, 4) → ≈0.42 is ``operators.blocking.NAME_LSH``. Docs
    with zero tokens drop out (they have no signature). ``id_col`` may
    be any groupable column, a struct included.

    The whole plan is ONE SQL text: built through the Column API, its
    ~160 expressions cost one py4j round trip per sub-expression.
    """
    assert bands * rows == num_perm, "bands*rows must equal num_perm"
    ident = f"`{id_col}`"
    mins = ", ".join(f"min(xxhash64({i}, __tok)) AS __h{i}" for i in range(num_perm))
    keys = ", ".join(
        f"named_struct('band', {b}, 'key', xxhash64({b}, "
        + ", ".join(f"__h{b * rows + r}" for r in range(rows)) + "))"
        for b in range(bands)
    )
    q = (
        f"SELECT {ident}, __bk.band AS band, __bk.key AS key FROM ("
        f"SELECT {ident}, explode(array({keys})) AS __bk FROM ("
        f"SELECT {ident}, {mins} FROM ("
        f"SELECT {ident}, explode(array_distinct(`{token_array_col}`)) AS __tok "
        "FROM {t}) GROUP BY " + ident + "))"
    )
    return df.sparkSession.sql(q, t=df)


def simhash64_agg(df: DataFrame, id_col: str, token_array_col: str) -> DataFrame:
    """(id, tokens) → (id, fp bigint) single-pass SimHash: explode,
    hash once per token, 64 sign-vote sums in one groupBy (map-side
    partials), then bit reconstruction — avoids the 64 array traversals
    of a per-row expression form on long documents."""
    toks = df.select(
        F.col(id_col), F.explode(F.col(token_array_col)).alias("tok")
    ).select(F.col(id_col), F.xxhash64("tok").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    wide = toks.groupBy(id_col).agg(*votes)
    fp = F.lit(0)
    for b in range(64):
        bit_val = F.lit(1 << b) if b < 63 else F.lit(-(2 ** 63))
        fp = fp.bitwiseOR(F.when(F.col(f"v{b}") > 0, bit_val).otherwise(F.lit(0)))
    return wide.select(F.col(id_col), fp.alias("fp"))


def hamming64(a: str | Column, b: str | Column) -> Column:
    """Hamming distance between two int64 SimHash columns (bit_count of xor)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def char_shingles(col: str | Column, k: int = 5) -> Column:
    """k-char shingle set of a string (dedup shingling), via
    sequence+substr — JVM-side, no UDF. Strings shorter than k yield the
    whole string as the single shingle."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(k))))


def word_ngrams(token_array_col: str | Column, n: int = 3) -> Column:
    """Word n-gram set from a token array (n-gram Jaccard dedup), JVM-side."""
    toks = F.col(token_array_col) if isinstance(token_array_col, str) else token_array_col
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    gram = lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))  # noqa: E731
    return F.when(F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
