"""Blocked exact k-NN join over embedding DataFrames (SURVEY.md J9/T2).

Reference: FAISS IndexFlat (squared-L2) over normalized embeddings,
double-batched 50k queries × 500k index rows, similarity = ``1 − d²``
(`text_utils.py:291-333`). For unit vectors that equals ``2·cos − 1``.

Engine: one cell kernel, ``_cell_scorer`` — a cogroup function over
queries ``(qid, qemb)`` × index rows ``(xid, xemb)``: one numpy matmul
+ argpartition top-k per GEMM chunk. The exact path (``knn_topk``)
builds its cells with one grid builder, ``_grid``, a block-nested-loop:
  index side → B hash blocks; queries replicated to every block
  (explode over block ids); per (block) cogroup: the cell kernel;
  then a global window top-k merges block results.
Each block is bounded (≤ 100k rows) so executor memory is bounded at
any index size; query replication cost is B·|Q| rows — the same
work/shape as the reference's index batching, but distributed.

The approximate path is IVF (`ivf_topk`, the reference's FAISS IVF
option): a k-means coarse quantizer assigns each index row to one cell
and each query probes its nearest cells, trading recall for a cell
join instead of full replication when B grows large. Its cells run
the same kernel. Both take ``(id, emb)`` frames.

The structure channel scores each trained batch with the same kernel
inside the task that trains it (``trainer.train_batches``), so it
needs no grouped kNN stage of its own.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .blocking import widen_if_narrow
from .simops import DST, SIM, SRC, topk_per_row
from ..session import session_shuffle_width

# grid memory caps: index rows per block, query rows per block, and
# query rows per GEMM chunk before the element budget below caps it
_BLOCK_ROWS = 100_000
_QUERY_BLOCK_ROWS = 25_000
_GEMM_CHUNK = 4096
_SCHEMA = f"{SRC} long, {DST} long, {SIM} double"


def _to_matrix(series: pd.Series) -> np.ndarray:
    return np.array(series.tolist(), dtype=np.float64)


def _cast_shuffle_dtype(df: DataFrame, emb_col: str,
                        shuffle_dtype: str | None) -> DataFrame:
    """Cast the embedding column BEFORE the replication/shuffle stages.

    The kNN family replicates embeddings through shuffles (queries
    ×n_blocks in the grid, ×nprobe in IVF) — at d=768 a float64 array is
    ~6 KB/row and the replication multiplies it. Name/structure
    embeddings carry ~7 significant digits of real signal, so float32
    through the WIRE halves every one of those shuffles; the numpy
    kernels still accumulate in float64 (``_to_matrix``). Callers that
    need exact reconstruction of float64 inputs (the low-rank L5 gate)
    pass ``shuffle_dtype=None`` to ship input precision unchanged."""
    if shuffle_dtype is None:
        return df
    wire_types = {"float32": "float", "float64": "double"}
    if shuffle_dtype not in wire_types:
        raise ValueError(
            f"shuffle_dtype must be one of {sorted(wire_types)} or None, "
            f"got {shuffle_dtype!r}")
    spark_t = wire_types[shuffle_dtype]
    if dict(df.dtypes).get(emb_col) == f"array<{spark_t}>":
        return df  # already at wire precision — no projection needed
    return df.withColumn(emb_col, F.col(emb_col).cast(f"array<{spark_t}>"))


# per-task transient budget for GEMM scoring: the sims chunk plus
# argpartition's negated copy are the peak allocations, each
# chunk_rows × cell_rows float64. 50M elements ≈ 400 MB bounds peak
# per-task memory at ~1 GB at ANY cell size — the fixed-chunk default
# (4096) against 33k-row cells drove workers to 4.3 GB RES and 50%
# kernel (allocator) time at 200k index rows on local[32].
_GEMM_BUDGET_ELEMS = 50_000_000


def _bounded_chunk(requested: int, n_index_rows: int) -> int:
    """Query-rows-per-GEMM-chunk capped so chunk×cell stays within the
    transient budget; chunking never changes results (per-row top-k).

    Never raises above the caller's request or the budget — the old
    max(256, ...) floor could override an explicitly smaller request
    AND exceed the budget on a >195k-row skewed IVF cell, re-opening the
    per-task memory blow-up the budget exists to fix."""
    budget_rows = max(_GEMM_BUDGET_ELEMS // max(n_index_rows, 1), 1)
    return max(1, min(requested, budget_rows))


def _cell_scorer(k: int, metric: str):
    """The one cell kernel: a cogroup function over queries
    ``(qid, qemb)`` × index rows ``(xid, xemb)`` returning each query's
    top-k ``(src, dst, sim)`` within the cell.

    ``metric``: 'l2sim' scores unit-normalized rows as 1−L2² (faiss
    parity); 'dot' is the raw, unnormalized inner product. The GEMM is
    chunked to at most ``min(4096, 50M elems / cell_rows)`` query rows,
    so per-task transient memory is bounded by a FIXED element budget
    independent of total size AND cell size."""
    unit = metric != "dot"

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({SRC: [], DST: [], SIM: []}).astype(
                {SRC: "int64", DST: "int64", SIM: "float64"}
            )
        xm = _to_matrix(right["xemb"])
        if unit:
            xm /= np.maximum(np.linalg.norm(xm, axis=1, keepdims=True), 1e-12)
            xsq = (xm * xm).sum(axis=1)[None, :]
        xid = right["xid"].to_numpy()
        frames = []
        step = _bounded_chunk(_GEMM_CHUNK, len(xm))
        for lo in range(0, len(left), step):
            chunk = left.iloc[lo : lo + step]
            qm = _to_matrix(chunk["qemb"])
            if unit:
                qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
                # sim = 1 − ||q−x||² = 1 − (|q|² + |x|² − 2 q·x)  (faiss parity)
                sims = 1.0 - (
                    (qm * qm).sum(axis=1)[:, None] + xsq - 2.0 * (qm @ xm.T)
                )
            else:
                sims = qm @ xm.T
            kk = min(k, sims.shape[1])
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            frames.append(pd.DataFrame({
                SRC: np.repeat(chunk["qid"].to_numpy(), kk),
                DST: xid[part.ravel()],
                SIM: np.take_along_axis(sims, part, axis=1).ravel(),
            }))
        return pd.concat(frames, ignore_index=True)

    return score


def _cogroup(q: DataFrame, x: DataFrame, keys: list[str], k: int,
             metric: str) -> DataFrame:
    """Score every cell (rows sharing ``keys``) with the cell kernel.

    Both sides are hash-repartitioned on ``keys`` with an EXPLICIT
    partition count. The GEMM cogroup stage is compute-bound per row
    but tiny in bytes (embedding arrays compress well), so AQE's
    byte-based partition coalescing can legally squeeze its exchange
    to 1-2 partitions and serialize hundreds of GFLOPs onto one core.
    A user-specified ``repartition(n, cols)`` both satisfies the
    cogroup's ClusteredDistribution (no second exchange) and is exempt
    from AQE coalescing (REPARTITION_BY_NUM shuffle origin), pinning
    the stage at full width. PLANS.md "compute-dense Arrow stages"."""
    width = session_shuffle_width(q.sparkSession)

    def pin(df: DataFrame) -> DataFrame:
        return df.repartition(width, *[F.col(c) for c in keys])

    return (
        pin(q).groupBy(*keys).cogroup(pin(x).groupBy(*keys))
        .applyInPandas(_cell_scorer(k, metric), schema=_SCHEMA)
    )


def _grid(query: DataFrame, index: DataFrame, n_query_blocks: int,
          n_blocks: int, k: int, metric: str) -> DataFrame:
    """Per-cell top-k over a (query-block × index-block) grid.

    Index rows hash into ``n_blocks`` blocks and queries into
    ``n_query_blocks``; queries replicate to every index block and index
    rows to every query block, so each cell is one Arrow cogroup task.
    Replication cost: queries ×n_blocks, index ×n_query_blocks (the
    FAISS double-batching shape, `text_utils.py:291-333`, distributed)."""
    q = query.select(
        F.col("id").alias("qid"), F.col("emb").alias("qemb"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_query_blocks)).cast("int").alias("qb"),
    ).withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    ).withColumn("b", F.col("b").cast("int"))
    x = index.select(
        F.col("id").alias("xid"), F.col("emb").alias("xemb"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int").alias("b"),
    ).withColumn(
        "qb", F.explode(F.sequence(F.lit(0), F.lit(n_query_blocks - 1)))
    ).withColumn("qb", F.col("qb").cast("int"))
    return _cogroup(q, x, ["qb", "b"], k, metric)


def _auto_grid(n_q: int, n_idx: int, n_query_blocks: int, n_blocks: int,
               width: int) -> tuple[int, int]:
    """Widen a (query-blocks × index-blocks) grid until it has at least
    ``width`` cells, keeping the memory caps as lower bounds.

    The memory-derived grid (100k-row index blocks) collapses to 1×1
    below 100k rows — one task, one core, regardless of cluster size.
    Extra splits cost replicated rows (queries ×n_blocks, index
    ×n_query_blocks) but parallelize the GEMM; splitting to minimize
    total replication puts the factor sqrt(width·other/this) on each
    axis."""
    if n_query_blocks * n_blocks >= width:
        return n_query_blocks, n_blocks
    import math

    nb = max(n_blocks, math.ceil(math.sqrt(width * max(n_idx, 1) / max(n_q, 1))))
    nqb = max(n_query_blocks, math.ceil(width / nb))
    return nqb, nb


def knn_topk(
    query: DataFrame, index: DataFrame, k: int = 50,
    n_blocks: int | None = None, n_query_blocks: int | None = None,
    metric: str = "l2sim", shuffle_dtype: str | None = "float32",
) -> DataFrame:
    """Exact top-k: returns (src=query id, dst=index id, sim).

    ``metric``: 'l2sim' (default, 1−L2² on unit-normalized rows —
    faiss parity) or 'dot' (raw, unnormalized inner product, used by
    the low-rank reconstruction path L5).

    2-D grid block-nested-loop (``_grid``): each (query-block ×
    index-block) cell is one Arrow cogroup task scored by the cell
    kernel, so the same plan runs at 1e9 rows on 4 GB/core executors."""
    # a self-join (``knn_topk(e, e)``) sizes both grid axes from one count
    self_join = query is index
    query = _cast_shuffle_dtype(query, "emb", shuffle_dtype)
    index = query if self_join else _cast_shuffle_dtype(index, "emb", shuffle_dtype)
    auto = n_blocks is None and n_query_blocks is None
    width = session_shuffle_width(query.sparkSession)
    n_idx = None
    if n_blocks is None:
        n_idx = index.count()
        n_blocks = max(1, -(-n_idx // _BLOCK_ROWS))
    if n_query_blocks is None:
        n_q = n_idx if self_join and n_idx is not None else query.count()
        n_query_blocks = max(1, -(-n_q // _QUERY_BLOCK_ROWS))
        if not auto:
            # caller pinned n_blocks but left the query grid to us:
            # widen it toward the session width so the GEMM stage fans
            # out (an explicit n_blocks=4 at 20k queries otherwise runs
            # 4 tasks on a 32-core session — round-6 measurement: the
            # sf1.0 emb_knn GEMM serialized on 4 cores). Query blocking
            # never changes which index rows a query is scored against,
            # so results are unchanged; the ≥1024-rows-per-block floor
            # keeps tiny inputs (every correctness-SF run) on their
            # original 1-block plan.
            n_query_blocks = max(n_query_blocks, min(
                -(-width // n_blocks), max(1, n_q // 1024)
            ))
    if auto:
        # widen the grid to the session's shuffle width so the GEMM
        # stage fans out even when the memory caps would allow 1×1
        # (explicit n_blocks/n_query_blocks are honored as-is)
        n_query_blocks, n_blocks = _auto_grid(
            n_q, n_idx, n_query_blocks, n_blocks, width
        )
    per_cell = _grid(query, index, n_query_blocks, n_blocks, k, metric)
    if n_blocks == 1:
        # one index block: each cell already holds its queries' full
        # top-k, in argpartition order
        return per_cell
    return topk_per_row(per_cell, k, SRC)


def _kmeans_lite(sample: np.ndarray, nlist: int, n_iter: int = 8,
                 seed: int = 11) -> np.ndarray:
    """Deterministic numpy Lloyd's k-means on a driver-side sample —
    the IVF coarse quantizer (centroids are a tiny nlist×d matrix that
    ships to executors as plan literals)."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    centroids = sample[rng.choice(n, size=min(nlist, n), replace=False)].copy()
    ssq = (sample * sample).sum(1)[:, None]
    for _ in range(n_iter):
        # GEMM distance form: the 3-D broadcast (n × nlist × d) would
        # allocate ~n·nlist·d·8 bytes PER ITERATION (4.6 GB at the
        # 20k-sample/447-cell default) — this is O(n·nlist)
        d2 = ssq + (centroids * centroids).sum(1)[None, :] - 2.0 * sample @ centroids.T
        assign = d2.argmin(1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(0)
    return centroids


def ivf_topk(
    query: DataFrame, index: DataFrame, k: int = 50,
    nlist: int = 64, nprobe: int = 8, sample_rows: int = 20_000,
    shuffle_dtype: str | None = "float32",
) -> DataFrame:
    """IVF approximate top-k (the 1e9-row scale path): a k-means coarse
    quantizer partitions the index into ``nlist`` cells; each query
    probes its ``nprobe`` nearest cells only — candidate work drops by
    ~nlist/nprobe vs exact, recall controlled by nprobe (FAISS IVFFlat
    semantics; each cell is scored by the same cell kernel as knn_topk).

    Centroids are trained on a deterministic driver-side sample
    (smallest xxhash64(id) rows — reproducible at any parallelism).

    Query embeddings ship ×nprobe through the cell cogroup shuffle —
    the dominant IVF data movement — so ``shuffle_dtype='float32'``
    (default) halves it for float64 inputs; scoring still accumulates
    in float64 executor-side."""
    query = _cast_shuffle_dtype(query, "emb", shuffle_dtype)
    index = _cast_shuffle_dtype(index, "emb", shuffle_dtype)
    samp_pdf = (
        index.select(F.col("id"), F.col("emb"))
        .orderBy(F.xxhash64(F.col("id")))
        .limit(sample_rows)
        .toPandas()
    )
    samp = _to_matrix(samp_pdf["emb"])
    samp /= np.maximum(np.linalg.norm(samp, axis=1, keepdims=True), 1e-12)
    centroids = _kmeans_lite(samp, nlist)

    def assign(role: str):
        # role "x" (index): one cell per row; role "q" (query): its
        # nprobe nearest cells, one row each
        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if len(pdf) == 0:
                    continue
                m = _to_matrix(pdf["emb"])
                m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
                d2 = (
                    (m * m).sum(1)[:, None]
                    + (centroids * centroids).sum(1)[None, :]
                    - 2.0 * m @ centroids.T
                )
                if role == "x":
                    cells, reps = d2.argmin(1), 1
                else:
                    cells, reps = np.argsort(d2, axis=1)[:, :nprobe].ravel(), nprobe
                yield pd.DataFrame({
                    f"{role}id": np.repeat(pdf["id"].to_numpy(), reps),
                    "cell": cells,
                    f"{role}emb": pdf["emb"].repeat(reps).reset_index(drop=True),
                })

        return fn

    elem = "double" if "double" in dict(index.dtypes)["emb"] else "float"
    xa = widen_if_narrow(index).mapInPandas(
        assign("x"), schema=f"xid long, cell int, xemb array<{elem}>")
    qa = widen_if_narrow(query).mapInPandas(
        assign("q"), schema=f"qid long, cell int, qemb array<{elem}>")
    # no (src,dst) dedup needed — every index row is assigned to
    # exactly ONE cell (d2.argmin), so a query probing nprobe cells
    # sees each dst at most once (a dedup would re-shuffle all
    # nprobe·k candidate rows per query, SCALE.md "IVF economics")
    return topk_per_row(_cogroup(qa, xa, ["cell"], k, "l2sim"), k, SRC)
