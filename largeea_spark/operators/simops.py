"""Sparse similarity-matrix algebra over long-format DataFrames
(SURVEY.md §2.8, W1/W3/W10, A7-A10, F10-F12).

The reference's central IR is a torch sparse COO matrix
(`utils.py:138-148`, `utils.py:393-409`). Here it is a DataFrame with
columns ``(src long, dst long, sim double)`` — matrix ops become
join+groupBy, which Catalyst plans as distributed sort-merge/hash
aggregations; nothing is ever materialized dense.

Scale notes:
- every op below is a single shuffle on its natural key (src, dst, or
  (src,dst)); AQE's skew-join handling splits hot keys (the engine
  has no caller-side salting step).
- top-k per row uses window row_number; Spark's window top-k with a
  rank filter does a partial sort per partition (no global sort).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

SRC, DST, SIM = "src", "dst", "sim"


def coalesce_sum(df: DataFrame) -> DataFrame:
    """Duplicate-entry coalesce, summing values (`utils.py:153-155`,
    torch ``.coalesce()``; also A10 accumulation `main.py:85`)."""
    return df.groupBy(SRC, DST).agg(F.sum(SIM).alias(SIM))


def scale(df: DataFrame, w: float) -> DataFrame:
    """F11: ``sim * w`` (`main.py:351`, `fuse.py:21-30`)."""
    return df.withColumn(SIM, F.col(SIM) * F.lit(float(w)))


def fuse(sims: list[DataFrame], weights: list[float]) -> DataFrame:
    """A10/F11: ``naive_sim_fuser`` (`fuse.py:21-30`) — weighted sparse
    sum; overlapping entries coalesce-add."""
    if not sims:
        raise ValueError("no sim matrices to fuse")
    parts = [scale(s, w) for s, w in zip(sims, weights, strict=True)]
    return coalesce_sum(reduce(lambda a, b: a.unionByName(b), parts))


def topk_per_row(df: DataFrame, k: int, by: str = SRC) -> DataFrame:
    """W1: keep the k highest-sim entries per row (`utils.py:418-423`).

    Deterministic tiebreak on the other index (reference torch.topk
    breaks ties by position; metric-level parity is unaffected).
    """
    other = DST if by == SRC else SRC
    w = Window.partitionBy(by).orderBy(F.col(SIM).desc(), F.col(other).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def rank_per_row(df: DataFrame, by: str = SRC, rank_col: str = "rank") -> DataFrame:
    """1-based dense position of each entry within its row, sim desc
    (used by Hits@k / MRR, `eval.py:202-220`)."""
    other = DST if by == SRC else SRC
    w = Window.partitionBy(by).orderBy(F.col(SIM).desc(), F.col(other).asc())
    return df.withColumn(rank_col, F.row_number().over(w))


def argmax(df: DataFrame, by: str = SRC) -> DataFrame:
    """W3: row (or column) argmax → DataFrame(by, argmax long, sim double)
    (`utils.py:377-382`, `utils.py:304-318`). ``max_by`` is a single
    partial-aggregating shuffle — no window sort. Ties broken by the
    smaller index via a packed struct ordering."""
    other = DST if by == SRC else SRC
    # max_by with deterministic tiebreak: order by (sim desc, other asc)
    # == max of struct(sim, -other).
    packed = F.struct(F.col(SIM).alias("s"), (-F.col(other)).alias("negi"))
    return df.groupBy(by).agg(
        F.max_by(other, packed).alias("argmax"), F.max(packed).getField("s").alias(SIM)
    )


def bi_mapping(df: DataFrame) -> DataFrame:
    """W10: mutual-argmax pairs (`sampler.py:6-11`, used `main.py:203-216`):
    keep (s, t) where t = argmax_dst(s) AND s = argmax_src(t).

    Two rank-1 aggregations + one equi-join on the pair."""
    s2t = argmax(df, SRC).select(F.col(SRC), F.col("argmax").alias(DST), F.col(SIM))
    t2s = argmax(df, DST).select(F.col("argmax").alias(SRC), F.col(DST))
    return s2t.join(t2s, [SRC, DST], "inner")


def spspmm(a: DataFrame, b: DataFrame) -> DataFrame:
    """L1: sparse×sparse matmul ``C(i,k) = Σ_j A(i,j)·B(j,k)``
    (`utils.py:210-223`): join on the contraction index + groupBy sum.
    Zero results are dropped like the reference's nonzero filter
    (`utils.py:219-221`)."""
    aa = a.select(F.col(SRC).alias("i"), F.col(DST).alias("j"), F.col(SIM).alias("av"))
    bb = b.select(F.col(SRC).alias("j"), F.col(DST).alias("k"), F.col(SIM).alias("bv"))
    return (
        aa.join(bb, "j")
        .groupBy("i", "k")
        .agg(F.sum(F.col("av") * F.col("bv")).alias(SIM))
        .where(F.col(SIM) != 0)
        .select(F.col("i").alias(SRC), F.col("k").alias(DST), SIM)
    )


def spmm_dense(a: DataFrame, emb: DataFrame, id_col: str = "id",
               emb_col: str = "emb") -> DataFrame:
    """L3: sparse×dense — rows of ``emb`` weighted by A's values and
    summed per output row: ``out(i) = Σ_j A(i,j)·E(j)``
    (`utils.py:226-244`).

    Implemented with posexplode + groupBy — stays in whole-stage codegen
    (no Python). Output: DataFrame(id, emb array<double>).
    """
    e = emb.select(F.col(id_col).alias("j"), F.posexplode(emb_col).alias("pos", "x"))
    aa = a.select(F.col(SRC).alias("i"), F.col(DST).alias("j"), F.col(SIM).alias("w"))
    summed = (
        aa.join(e, "j")
        .groupBy("i", "pos")
        .agg(F.sum(F.col("w") * F.col("x")).alias("x"))
    )
    return (
        summed.groupBy("i")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "x"))).alias("px"))
        .select(F.col("i").alias(id_col), F.col("px.x").alias(emb_col))
    )


def sparse_softmax(df: DataFrame, by: str = SRC) -> DataFrame:
    """A8: softmax of sim grouped by row/col (`utils.py:182-184`) —
    two-pass window agg (max for stability, then sum), like torch's
    sparse softmax."""
    w = Window.partitionBy(by)
    mx = F.max(SIM).over(w)
    ex = F.exp(F.col(SIM) - mx)
    return (
        df.withColumn("__e", ex)
        .withColumn(SIM, F.col("__e") / F.sum("__e").over(w))
        .drop("__e")
    )


def minmax_norm(df: DataFrame, by: str | None = None, eps: float = 0.0) -> DataFrame:
    """A9: (x − min)/(max − min + eps) (`utils.py:247-275`); ``by=None``
    normalizes over the whole matrix, else per row/col."""
    if by is None:
        stats = df.agg(F.min(SIM).alias("mn"), F.max(SIM).alias("mx"))
        out = df.crossJoin(F.broadcast(stats))
    else:
        w = Window.partitionBy(by)
        out = df.withColumn("mn", F.min(SIM).over(w)).withColumn("mx", F.max(SIM).over(w))
    denom = F.col("mx") - F.col("mn") + F.lit(eps)
    val = F.when(denom != 0, (F.col(SIM) - F.col("mn")) / denom).otherwise(F.lit(0.0))
    return out.withColumn(SIM, val).drop("mn", "mx")


def csls_rescore(df: DataFrame, k: int = 10) -> DataFrame:
    """W7: CSLS — ``2·sim − mean(topk by src) − mean(topk by dst)``
    (`eval.py:32-51`). Each mean is a window average over the row's
    top-k, next to the row-number window it needs, so the plan has two
    exchanges and no join. The average adds the top-k sims in rank order,
    as a group-by over the top-k rows would."""

    def with_topk_mean(d: DataFrame, by: str, out: str) -> DataFrame:
        other = DST if by == SRC else SRC
        w = Window.partitionBy(by).orderBy(F.col(SIM).desc(), F.col(other).asc())
        top = F.when(F.row_number().over(w) <= k, F.col(SIM))
        return d.withColumn("__top", top).withColumn(
            out, F.avg("__top").over(Window.partitionBy(by))
        ).drop("__top")

    r = with_topk_mean(with_topk_mean(df, SRC, "r_src"), DST, "r_dst")
    return r.select(
        SRC, DST, (2 * F.col(SIM) - F.col("r_src") - F.col("r_dst")).alias(SIM)
    )


def margin_mutual_pairs(df: DataFrame, th: float) -> DataFrame:
    """W11 (`filter_mapping` `sampler.py:13-34`): mutual top-1 pairs
    whose top1−top2 margin exceeds ``th`` in BOTH directions, one pair
    per src and per dst. Returns (src, dst, sim)."""
    def top2(by: str):
        other = DST if by == SRC else SRC
        w = Window.partitionBy(by).orderBy(F.col(SIM).desc(), F.col(other).asc())
        t = df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= 2)
        return (
            t.groupBy(by)
            .agg(
                F.max_by(other, F.struct(F.col(SIM), (-F.col(other)).alias("n"))).alias("top1"),
                F.max(SIM).alias("v1"),
                F.min(SIM).alias("v2"),
                F.count("*").alias("n"),
            )
            # rows with a single entry have no competitor: margin = v1
            .withColumn("gap", F.when(F.col("n") >= 2, F.col("v1") - F.col("v2")).otherwise(F.col("v1")))
        )

    s2t = top2(SRC).select(
        F.col(SRC), F.col("top1").alias(DST), F.col("v1").alias(SIM),
        F.col("gap").alias("gap_s"),
    )
    t2s = top2(DST).select(
        F.col("top1").alias(SRC), F.col(DST), F.col("gap").alias("gap_t")
    )
    return (
        s2t.join(t2s, [SRC, DST])
        .where((F.col("gap_s") >= th) & (F.col("gap_t") >= th))
        .select(SRC, DST, SIM)
    )


def sinkhorn(df: DataFrame, n_iter: int = 5, eps: float = 1e-9) -> DataFrame:
    """L6 (`sinkhorn_process` `text_sim.py:23-45`): alternating row/col
    sum-normalization of a sparse nonnegative matrix (◆ iterative;
    lineage truncated per round)."""
    out = df
    for i in range(n_iter):
        for dim in (SRC, DST):
            w = Window.partitionBy(dim)
            out = out.withColumn(SIM, F.col(SIM) / (F.sum(SIM).over(w) + F.lit(eps)))
        if (i + 1) % 2 == 0:
            out = out.localCheckpoint(eager=True)
    return out
