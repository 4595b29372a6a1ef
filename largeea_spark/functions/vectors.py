"""Vector functions: L2-normalize, cosine, deterministic hashed
char-n-gram name encoder (SURVEY.md F7/F8, A6 stand-in).

The reference's name encoder is BERT max-pooling (`emb_loader.py:119-182`)
— a GPU/model boundary. The engine's *default* encoder is a deterministic
hashed char-n-gram bag (feature hashing, the classic "hashing trick"),
which needs no model download, is reproducible across parallelism levels,
and preserves the downstream contract: ``DataFrame(id long, emb
array<float>)``. A real transformer encoder slots in behind the same
``mapInPandas`` signature (SURVEY.md §7.1 step 3).

All heavy math is numpy inside Arrow pandas UDFs — no per-row Python in
the JVM↔Python boundary (BASELINE.json input_hint).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, FloatType


def l2_normalize_expr(col: str) -> Column:
    """F8: row L2-normalize an array<float/double> column, JVM-side.

    `utils.py:73-76` / `text_utils.py:133-137` (norm_process).
    Zero vectors pass through unchanged (reference divides and gets nan;
    we keep zeros — deviation documented, only affects empty names).
    """
    norm = F.sqrt(F.aggregate(F.col(col), F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(norm > 0, F.transform(F.col(col), lambda x: x / norm)).otherwise(
        F.col(col)
    )


def dot_expr(a: str | Column, b: str | Column) -> Column:
    """F7: dot product of two array columns via zip_with + aggregate
    (JVM-side, codegen'd — no UDF). `utils.py:34-38`."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_expr(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity of two array columns, JVM-side."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    sq = lambda c: F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)  # noqa: E731
    denom = F.sqrt(sq(ca)) * F.sqrt(sq(cb))
    return F.when(denom > 0, dot_expr(ca, cb) / denom).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Deterministic hashed char-n-gram encoder (BERT stand-in, A6)
# ---------------------------------------------------------------------------

def _ngram_hash_embed(texts: list, dim: int, n: int) -> np.ndarray:
    """Feature-hash char n-grams (with boundary padding) into R^dim,
    signed by one hash bit, then L2-normalized. crc32-based → stable
    across processes, Python versions and parallelism levels."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for i, t in enumerate(texts):
        if t is None:
            continue
        s = f"\x02{t}\x03"  # boundary marks so short names still get grams
        bs = s.encode("utf-8")
        L = len(s)
        if L < n:
            grams = [bs]
        else:
            enc = [c.encode("utf-8") for c in s]
            grams = [b"".join(enc[j : j + n]) for j in range(L - n + 1)]
        row = out[i]
        for g in grams:
            h = zlib.crc32(g)
            sign = 1.0 if (h >> 16) & 1 else -1.0
            row[h % dim] += sign
        nrm = np.linalg.norm(row)
        if nrm > 0:
            row /= nrm
    return out


def hashed_name_encoder(dim: int = 64, n: int = 3):
    """Returns a pandas UDF string → array<float> embedding column."""

    @F.pandas_udf(ArrayType(FloatType()))
    def encode(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            mat = _ngram_hash_embed(s.tolist(), dim, n).astype(np.float32)
            yield pd.Series(list(mat))

    return encode


# texts per ``model.encode`` call of model_name_encoder's UDF
_ENCODE_BATCH = 512


def model_name_encoder(loader):
    """A6 real-encoder seam (`emb_loader.py:119-182`): wrap any
    sentence-encoder model behind the same ``string → array<float>``
    pandas-UDF contract as the hashed default.

    ``loader``: ZERO-ARG callable run ON THE EXECUTOR, once per task
    (inside the iterator UDF — the model never ships through the
    closure), returning an object with
    ``encode(texts: list[str]) -> ndarray[len(texts), dim]`` — the
    sentence-transformers/BERT-pooling API shape. On a real cluster
    pass e.g. ``lambda: SentenceTransformer(...)``; in this sandbox a
    mock object with the same method verifies the plumbing
    (tests/test_round2.py)."""

    @F.pandas_udf(ArrayType(FloatType()))
    def encode(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = loader()  # once per task, executor-side
        for s in it:
            texts = ["" if t is None else t for t in s.tolist()]
            out = []
            for lo in range(0, len(texts), _ENCODE_BATCH):
                mat = np.asarray(model.encode(texts[lo:lo + _ENCODE_BATCH]),
                                 dtype=np.float32)
                out.extend(list(mat))
            yield pd.Series(out)

    return encode


def encode_names(df: DataFrame, name_col: str, out_col: str = "emb",
                 dim: int = 64, encoder="hashed") -> DataFrame:
    """Attach the name embedding (contract of A6/M9:
    ``id → array<float>``).

    ``encoder``: ``"hashed"`` (default — deterministic char-trigram
    feature hashing) or a zero-arg model loader (see
    ``model_name_encoder``) for a real transformer encoder."""
    if encoder == "hashed":
        udf = hashed_name_encoder(dim)
    elif callable(encoder):
        udf = model_name_encoder(encoder)
    else:
        raise ValueError(f"encoder must be 'hashed' or a callable loader, got {encoder!r}")
    return df.withColumn(out_col, udf(F.col(name_col)))


def power_mean_pooling(
    e2w: DataFrame, word_emb: DataFrame, ps: tuple = (1.0, 2.0, 3.0),
    include_minmax: bool = True,
) -> DataFrame:
    """F13 — concatenated-power-mean (CPM) entity embeddings
    (`gen_mean`/`reduce`, `text_utils.py:237-261`): pool word vectors
    into an entity vector as the concatenation of generalized p-means
    ``(mean(x^p))^(1/p)`` for each p, plus elementwise min/max.

    Parity detail: the reference computes the p-mean in COMPLEX
    arithmetic and keeps the real part (`np.power(complex)`), so e.g.
    the p=3 mean of a negative value follows the principal complex
    root, NOT the real cube root — reproduced exactly here.

    Shape: one groupBy(ent_id) with an Arrow applyInPandas pool — one
    shuffle of (ent_id, word vector) rows; per-task memory is one
    entity group's words.

    e2w: (ent_id, word_id); word_emb: (word_id, emb array).
    Returns (ent_id, emb array<double>) with len = len(ps)·d (+2d)."""
    joined = e2w.select("ent_id", "word_id").join(
        word_emb.select("word_id", F.col("emb").cast("array<double>").alias("emb")),
        "word_id",
    ).select("ent_id", "emb")

    ps_l = [float(p) for p in ps]
    inc_mm = bool(include_minmax)

    def pool(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = np.array(pdf["emb"].tolist(), dtype=np.float64)
        parts = []
        for p in ps_l:
            if p == 1.0:
                parts.append(vals.mean(axis=0))
            else:
                # generalized p-mean in complex arithmetic, real part
                # (`gen_mean`, text_utils.py:237-246)
                parts.append(
                    np.power(np.mean(np.power(vals.astype(complex), p), axis=0),
                             1.0 / p).real
                )
        if inc_mm:
            parts.append(vals.min(axis=0))
            parts.append(vals.max(axis=0))
        return pd.DataFrame({
            "ent_id": [pdf["ent_id"].iloc[0]],
            "emb": [np.concatenate(parts).tolist()],
        })

    return joined.groupBy("ent_id").applyInPandas(
        pool, schema="ent_id long, emb array<double>"
    )
