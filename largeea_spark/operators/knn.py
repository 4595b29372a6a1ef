"""Blocked exact k-NN join over embedding DataFrames (SURVEY.md J9/T2).

Reference: FAISS IndexFlat (squared-L2) over normalized embeddings,
double-batched 50k queries × 500k index rows, similarity = ``1 − d²``
(`text_utils.py:291-333`). For unit vectors that equals ``2·cos − 1``.

Engine: block-nested-loop as a cogrouped Arrow job —
  index side → B hash blocks; queries replicated to every block
  (explode over block ids); per (block) cogroup: one numpy matmul +
  argpartition top-k; then a global window top-k merges block results.
Each block is bounded (≤ block_rows) so executor memory is bounded at
any index size; query replication cost is B·|Q| rows — the same
work/shape as the reference's index batching, but distributed.

The approximate path is IVF (`ivf_topk`, the reference's FAISS IVF
option): a k-means coarse quantizer assigns each index row to one cell
and each query probes its nearest cells, trading recall for a cell
join instead of full replication when B grows large.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .simops import DST, SIM, SRC
from ..session import session_shuffle_width


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


def _shuffle_width(df: DataFrame) -> int:
    """The engine's canonical shuffle width (``spark.sql.shuffle.partitions``).

    Used instead of ``defaultParallelism`` so blocking grids and pinned
    repartitions are a function of the SESSION CONFIG, not the worker
    count — results stay bit-identical across parallelism levels (the
    xpar determinism contract). Falls back to ``defaultParallelism`` on
    platforms where the conf is non-numeric (e.g. ``auto``)."""
    return session_shuffle_width(df.sparkSession)


def _pin_partitions(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition on ``cols`` with an EXPLICIT partition count.

    The GEMM cogroup stages downstream are compute-bound per row but
    tiny in bytes (embedding arrays compress well), so AQE's byte-based
    partition coalescing can legally squeeze their exchange to 1-2
    partitions and serialize hundreds of GFLOPs onto one core. A
    user-specified ``repartition(n, cols)`` both satisfies the
    cogroup's ClusteredDistribution (no second exchange) and is exempt
    from AQE coalescing (REPARTITION_BY_NUM shuffle origin), pinning
    the stage at full width. PLANS.md "compute-dense Arrow stages"."""
    return df.repartition(_shuffle_width(df), *[F.col(c) for c in cols])


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
    max(256, ...) floor could override an explicitly smaller gemm_chunk
    AND exceed the budget on a >195k-row skewed IVF cell, re-opening the
    per-task memory blow-up the budget exists to fix."""
    budget_rows = max(_GEMM_BUDGET_ELEMS // max(n_index_rows, 1), 1)
    return max(1, min(requested, budget_rows))


def _widen_if_narrow(df: DataFrame) -> DataFrame:
    """Widen-only round-robin repartition to the session shuffle width
    before a compute-dense mapInPandas pass (same starvation family as
    blocking.widen_if_narrow): checkpointed embedding tables arrive
    AQE-coalesced to 1-2 partitions (a 200k×128 table is ~10 MB of
    compressed bytes — below one advisory partition), so the IVF
    ASSIGN kernels (m @ centroids GEMM + per-row argsort) ran 2-wide on
    a 32-core session (94 s/task observed at 200k). Inputs already at
    width pass through untouched; row-level kernels are partition-
    agnostic, so results are unchanged."""
    width = session_shuffle_width(df.sparkSession)
    if df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width)


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
    id_col: str = "id", emb_col: str = "emb",
    block_rows: int = 100_000, query_block_rows: int = 25_000,
    normalize: bool = True,
    n_blocks: int | None = None, n_query_blocks: int | None = None,
    gemm_chunk: int = 4096, metric: str = "l2sim",
    shuffle_dtype: str | None = "float32",
) -> DataFrame:
    """Exact top-k: returns (src=query id, dst=index id, sim).

    ``metric``: 'l2sim' (default, 1−L2² — faiss parity) or 'dot'
    (raw inner product, used by the low-rank reconstruction path L5).

    2-D grid block-nested-loop: index hashed into ``n_blocks`` blocks,
    queries into ``n_query_blocks``; each (query-block × index-block)
    cell is one Arrow cogroup task whose GEMM is chunked to at most
    ``min(gemm_chunk, 50M elems / cell_rows)`` query rows — per-task
    transient memory is bounded by a FIXED element budget independent
    of total size AND cell size, so the same plan runs at 1e9 rows on
    4 GB/core executors. Replication cost: queries ×n_blocks,
    index ×n_query_blocks (the FAISS double-batching shape,
    `text_utils.py:291-333`, distributed)."""
    query = _cast_shuffle_dtype(query, emb_col, shuffle_dtype)
    index = _cast_shuffle_dtype(index, emb_col, shuffle_dtype)
    auto = n_blocks is None and n_query_blocks is None
    if n_blocks is None:
        n_idx = index.count()
        n_blocks = max(1, -(-n_idx // block_rows))
    if n_query_blocks is None:
        n_q = query.count()
        n_query_blocks = max(1, -(-n_q // query_block_rows))
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
                -(-_shuffle_width(query) // n_blocks), max(1, n_q // 1024)
            ))
    if auto:
        # widen the grid to the session's shuffle width so the GEMM
        # stage fans out even when the memory caps would allow 1×1
        # (explicit n_blocks/n_query_blocks are honored as-is)
        n_query_blocks, n_blocks = _auto_grid(
            n_q, n_idx, n_query_blocks, n_blocks, _shuffle_width(query)
        )

    q = query.select(
        F.col(id_col).alias("qid"), F.col(emb_col).alias("qemb"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_query_blocks)).cast("int").alias("qb"),
    )
    x = index.select(
        F.col(id_col).alias("xid"), F.col(emb_col).alias("xemb"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("b"),
    )
    qrep = q.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    ).withColumn("b", F.col("b").cast("int"))
    xrep = x.withColumn(
        "qb", F.explode(F.sequence(F.lit(0), F.lit(n_query_blocks - 1)))
    ).withColumn("qb", F.col("qb").cast("int"))

    def score(left_it: pd.DataFrame, right_it: pd.DataFrame) -> pd.DataFrame:
        if len(left_it) == 0 or len(right_it) == 0:
            return pd.DataFrame({SRC: [], DST: [], SIM: []}).astype(
                {SRC: "int64", DST: "int64", SIM: "float64"}
            )
        xm = _to_matrix(right_it["xemb"])
        if normalize:
            xm /= np.maximum(np.linalg.norm(xm, axis=1, keepdims=True), 1e-12)
        xsq = (xm * xm).sum(axis=1)[None, :]
        xid = right_it["xid"].to_numpy()
        frames = []
        step = _bounded_chunk(gemm_chunk, len(xm))
        for lo in range(0, len(left_it), step):
            chunk = left_it.iloc[lo : lo + step]
            qm = _to_matrix(chunk["qemb"])
            if normalize:
                qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
            if metric == "dot":
                sims = qm @ xm.T
            else:
                # sim = 1 − ||q−x||² = 1 − (|q|² + |x|² − 2 q·x)  (faiss parity)
                sims = 1.0 - (
                    (qm * qm).sum(axis=1)[:, None] + xsq - 2.0 * (qm @ xm.T)
                )
            kk = min(k, sims.shape[1])
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            frames.append(pd.DataFrame({
                SRC: np.repeat(chunk["qid"].to_numpy(), kk),
                DST: xid[part.ravel()],
                SIM: np.take_along_axis(sims, part, axis=1).ravel(),
            }))
        return pd.concat(frames, ignore_index=True)

    per_cell = (
        _pin_partitions(qrep, "qb", "b").groupBy("qb", "b")
        .cogroup(_pin_partitions(xrep, "qb", "b").groupBy("qb", "b"))
        .applyInPandas(score, schema=f"{SRC} long, {DST} long, {SIM} double")
    )
    if n_blocks == 1:
        return per_cell
    from .simops import topk_per_row

    return topk_per_row(per_cell, k, SRC)


def knn_topk_grouped(
    query: DataFrame, index: DataFrame, k: int = 50,
    group_col: str = "batch", id_col: str = "id", emb_col: str = "emb",
    block_rows: int = 100_000, query_block_rows: int = 25_000,
    normalize: bool = True, gemm_chunk: int = 4096,
    shuffle_dtype: str | None = "float32",
) -> DataFrame:
    """Exact per-group top-k in ONE cogrouped stage: queries only match
    index rows sharing ``group_col`` (the batch id). Replaces a
    driver-side loop of per-batch knn_topk calls — B batches become one
    wide stage whose (group × query-block × index-block) cells all run
    CONCURRENTLY on the cluster instead of as B sequential jobs, with
    the same bounded per-task memory. Returns (src, dst, sim=1−L2²)
    with src scored only against its own group's index side.

    Per-pair sims are computed identically to knn_topk, and the final
    per-src top-k uses the deterministic (sim desc, dst asc) tie-break —
    results match a per-group loop of knn_topk up to exact-tie selection
    at the k boundary (the loop's single-block path keeps argpartition
    order there)."""
    query = _cast_shuffle_dtype(query, emb_col, shuffle_dtype)
    index = _cast_shuffle_dtype(index, emb_col, shuffle_dtype)
    mx_i = index.groupBy(group_col).count().agg(F.max("count")).first()
    mx_q = query.groupBy(group_col).count().agg(F.max("count")).first()
    if mx_i is None or mx_i[0] is None or mx_q is None or mx_q[0] is None:
        return query.sparkSession.createDataFrame(
            [], f"{SRC} long, {DST} long, {SIM} double"
        )
    n_blocks = max(1, -(-int(mx_i[0]) // block_rows))
    n_query_blocks = max(1, -(-int(mx_q[0]) // query_block_rows))

    q = query.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("qid"), F.col(emb_col).alias("qemb"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_query_blocks)).cast("int").alias("qb"),
    ).withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    ).withColumn("b", F.col("b").cast("int"))
    x = index.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("xid"), F.col(emb_col).alias("xemb"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("b"),
    ).withColumn(
        "qb", F.explode(F.sequence(F.lit(0), F.lit(n_query_blocks - 1)))
    ).withColumn("qb", F.col("qb").cast("int"))

    def score(left_it: pd.DataFrame, right_it: pd.DataFrame) -> pd.DataFrame:
        if len(left_it) == 0 or len(right_it) == 0:
            return pd.DataFrame({SRC: [], DST: [], SIM: []}).astype(
                {SRC: "int64", DST: "int64", SIM: "float64"}
            )
        xm = _to_matrix(right_it["xemb"])
        if normalize:
            xm /= np.maximum(np.linalg.norm(xm, axis=1, keepdims=True), 1e-12)
        xsq = (xm * xm).sum(axis=1)[None, :]
        xid = right_it["xid"].to_numpy()
        frames = []
        step = _bounded_chunk(gemm_chunk, len(xm))
        for lo in range(0, len(left_it), step):
            chunk = left_it.iloc[lo : lo + step]
            qm = _to_matrix(chunk["qemb"])
            if normalize:
                qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
            sims = 1.0 - (
                (qm * qm).sum(axis=1)[:, None] + xsq - 2.0 * (qm @ xm.T)
            )
            kk = min(k, sims.shape[1])
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            frames.append(pd.DataFrame({
                SRC: np.repeat(chunk["qid"].to_numpy(), kk),
                DST: xid[part.ravel()],
                SIM: np.take_along_axis(sims, part, axis=1).ravel(),
            }))
        return pd.concat(frames, ignore_index=True)

    per_cell = (
        _pin_partitions(q, "g", "qb", "b").groupBy("g", "qb", "b")
        .cogroup(_pin_partitions(x, "g", "qb", "b").groupBy("g", "qb", "b"))
        .applyInPandas(score, schema=f"{SRC} long, {DST} long, {SIM} double")
    )
    from .simops import topk_per_row

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
    id_col: str = "id", emb_col: str = "emb",
    nlist: int = 64, nprobe: int = 8, sample_rows: int = 20_000,
    normalize: bool = True, seed: int = 11,
    shuffle_dtype: str | None = "float32",
) -> DataFrame:
    """IVF approximate top-k (the 1e9-row scale path): a k-means coarse
    quantizer partitions the index into ``nlist`` cells; each query
    probes its ``nprobe`` nearest cells only — candidate work drops by
    ~nlist/nprobe vs exact, recall controlled by nprobe (FAISS IVFFlat
    semantics; same sim = 1−L2² scoring as knn_topk).

    Centroids are trained on a deterministic driver-side sample
    (smallest xxhash64(id) rows — reproducible at any parallelism).

    Query embeddings ship ×nprobe through the cell cogroup shuffle —
    the dominant IVF data movement — so ``shuffle_dtype='float32'``
    (default) halves it for float64 inputs; scoring still accumulates
    in float64 executor-side."""
    query = _cast_shuffle_dtype(query, emb_col, shuffle_dtype)
    index = _cast_shuffle_dtype(index, emb_col, shuffle_dtype)
    samp_pdf = (
        index.select(F.col(id_col), F.col(emb_col))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_rows)
        .toPandas()
    )
    samp = _to_matrix(samp_pdf[emb_col])
    if normalize:
        samp /= np.maximum(np.linalg.norm(samp, axis=1, keepdims=True), 1e-12)
    centroids = _kmeans_lite(samp, nlist, seed=seed)

    def assign(role: str):
        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if len(pdf) == 0:
                    continue
                m = _to_matrix(pdf[emb_col])
                if normalize:
                    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
                d2 = (
                    (m * m).sum(1)[:, None]
                    + (centroids * centroids).sum(1)[None, :]
                    - 2.0 * m @ centroids.T
                )
                if role == "x":
                    yield pd.DataFrame({
                        "id": pdf[id_col].to_numpy(), "cell": d2.argmin(1),
                        "emb": pdf[emb_col],
                    })
                else:
                    order = np.argsort(d2, axis=1)[:, :nprobe]
                    yield pd.DataFrame({
                        "id": np.repeat(pdf[id_col].to_numpy(), nprobe),
                        "cell": order.ravel(),
                        "emb": pdf[emb_col].repeat(nprobe).reset_index(drop=True),
                    })

        return fn

    schema = f"id long, cell int, emb array<{_elem_type(index, emb_col)}>"
    xa = _widen_if_narrow(index).mapInPandas(assign("x"), schema=schema)
    qa = _widen_if_narrow(query).mapInPandas(assign("q"), schema=schema)

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({SRC: [], DST: [], SIM: []}).astype(
                {SRC: "int64", DST: "int64", SIM: "float64"}
            )
        xm = _to_matrix(right["emb"])
        if normalize:
            xm /= np.maximum(np.linalg.norm(xm, axis=1, keepdims=True), 1e-12)
        xsq = (xm * xm).sum(1)[None, :]
        xid = right["id"].to_numpy()
        frames = []
        step = _bounded_chunk(4096, len(xm))
        for lo in range(0, len(left), step):
            chunk = left.iloc[lo: lo + step]
            qm = _to_matrix(chunk["emb"])
            if normalize:
                qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
            sims = 1.0 - ((qm * qm).sum(1)[:, None] + xsq - 2.0 * qm @ xm.T)
            kk = min(k, sims.shape[1])
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            frames.append(pd.DataFrame({
                SRC: np.repeat(chunk["id"].to_numpy(), kk),
                DST: xid[part.ravel()],
                SIM: np.take_along_axis(sims, part, axis=1).ravel(),
            }))
        return pd.concat(frames, ignore_index=True)

    per_cell = (
        _pin_partitions(qa, "cell").groupBy("cell")
        .cogroup(_pin_partitions(xa, "cell").groupBy("cell"))
        .applyInPandas(score, schema=f"{SRC} long, {DST} long, {SIM} double")
    )
    from .simops import topk_per_row

    # no (src,dst) dedup needed — every index row is assigned to
    # exactly ONE cell (d2.argmin), so a query probing nprobe cells
    # sees each dst at most once (a dedup would re-shuffle all
    # nprobe·k candidate rows per query, SCALE.md "IVF economics")
    return topk_per_row(per_cell, k, SRC)


def _elem_type(df: DataFrame, emb_col: str) -> str:
    t = dict(df.dtypes)[emb_col]
    return "double" if "double" in t else "float"
