"""MinHash-LSH candidate blocking (SURVEY.md J7/F14/O2).

Reference: datasketch MinHashLSH at Jaccard 0.5, 128 perms, redis store,
queried per-entity (`text_sim.py:181-224`). Engine: both KGs' token
sets are tagged with their side and run through ONE band-key plan
(signatures + band keys computed JVM-side, functions.hashing);
candidates come from a sort-merge equi-join of side 1 to side 2 on
``(band, key)`` — broadcast-free by design (the north star names this
join shape explicitly). No server, no driver loop. The id may be any
groupable column: the string channel blocks on ``struct(id, name)``,
so its candidates carry the names its Levenshtein stage verifies
(filter-then-verify, no join back to the entity dims).

Scale: band-bucket join cost is Σ_bucket |e1_bucket|·|e2_bucket|. Hot
buckets (stop-token-heavy names) are handled by ``max_bucket`` — buckets
larger than the cap on either side are dropped (they carry near-zero
signal and quadratic cost); the dropped buckets and rows per side are
logged as the alignment pipeline's ``sim_string_blocking`` metrics row.
AQE skew-join splits the survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import explode_band_keys
from ..session import session_shuffle_width


def widen_if_narrow(df: DataFrame, *cols: str) -> DataFrame:
    """Widen-ONLY repartition to the session's shuffle width.

    Compute-dense per-row stages (MinHash signatures are num_perm
    JVM hash-min expressions per row; shingling/posting joins
    likewise) inherit the input's partitioning — a small table arrives
    as 1-2 parquet splits or a narrow checkpoint and the stage runs on
    1-2 cores at any cluster size (measured 5× on the sf0.1
    ngram-Jaccard path). Inputs already at least shuffle-width wide
    (any real corpus) pass through untouched, so parallelism is never
    SHRUNK at scale. PLANS.md "compute-dense Arrow stages"."""
    width = session_shuffle_width(df.sparkSession)
    if df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width, *[F.col(c) for c in cols]) if cols else (
        df.repartition(width)
    )


# the string channel's LSH shape (num_perm, bands, rows): banding fires
# at Jaccard ≈ (1/32)^(1/4) ≈ 0.42, over-generating vs the reference's
# 0.5 (`text_sim.py:194-196`), SURVEY.md §7.4.6
NAME_LSH = (128, 32, 4)


def minhash_candidates(
    df1: DataFrame, df2: DataFrame, id_col: str, token_col: str,
    max_bucket: int = 10000, stats: dict | None = None,
) -> DataFrame:
    """Candidate pairs (src=id from df1, dst=id from df2) whose MinHash
    band keys collide in ≥1 band. Distinct pairs, long-format; ``id_col``
    may be any groupable column, a struct included.

    Both sides are tagged ``sid = struct(side, id)`` and go through ONE
    band-key plan; one window over (side, band, key) drops each side's
    buckets holding more than ``max_bucket`` of that side's rows.

    ``stats``: pass a dict to receive hot-bucket drop counts
    (``dropped_buckets_{1,2}``, ``dropped_rows_{1,2}``) — the no-silent-
    caps observability hook (wired into StageStore metrics by the
    pipeline's string-channel stage)."""
    def tag(df, side):
        return df.select(F.struct(F.lit(side).alias("side"), F.col(id_col).alias("id"))
                         .alias("sid"), F.col(token_col).alias("toks"))

    keys = explode_band_keys(
        widen_if_narrow(tag(df1, 1).unionByName(tag(df2, 2)), "sid"), "sid", "toks",
        *NAME_LSH)
    counted = keys.withColumn("n", F.count("*").over(
        Window.partitionBy("sid.side", "band", "key")))
    if stats is not None:
        # materialize the counted band keys ONCE (localCheckpoint) so the
        # stats action and the keep filter share one band-key pass
        # instead of paying it twice for observability
        counted = counted.localCheckpoint(eager=True)
        hot = {r["side"]: r for r in (
            counted.where(F.col("n") > max_bucket)
            .groupBy(F.col("sid.side").alias("side"))
            .agg(F.countDistinct("band", "key").alias("nb"),
                 F.count("*").alias("nr"))
            .collect()
        )}
        for side in (1, 2):
            r = hot.get(side)
            stats[f"dropped_buckets_{side}"] = int(r["nb"]) if r else 0
            stats[f"dropped_rows_{side}"] = int(r["nr"]) if r else 0
    keep = counted.where(F.col("n") <= max_bucket)

    def kept(side, name):
        return keep.where(F.col("sid.side") == side).select(
            F.col("sid.id").alias(name), "band", "key")

    return kept(1, "src").join(kept(2, "dst"), ["band", "key"]).select(
        "src", "dst").distinct()


# rows per block of jaccard_selfjoin_blocked's grid: cells of at most
# _BLOCK_ROWS² pairs keep the kernel's pair keys in int32 radix-sort
# territory and its per-task arrays bounded at any corpus size
_BLOCK_ROWS = 30_000


def jaccard_selfjoin_blocked(
    df: DataFrame, id_col: str, token_col: str, threshold: float,
    pair_budget: int = 8_000_000, n_rows: int | None = None,
) -> DataFrame:
    """EXACT self-join Jaccard ≥ threshold via a blocked numpy kernel —
    identical result set to the posting join (`exact_jaccard_pairs` on
    itself + ``src < dst``), at a fraction of the shuffle volume.

    Why (round-6 measurement, guide §8): the posting self-join on the
    sf1.0 documents corpus generates Σ_token df² ≈ 257M join rows that
    are then hash-aggregated into (src, dst) intersection counts — a
    multi-GB shuffle for a ~2.5k-pair result. But each record's token
    set is tiny (~52 shingles ≈ 420 B hashed), so the whole decision
    fits the knn_topk grid shape: hash records into B blocks, ship each
    block's hashed-token arrays to the B(B+1)/2 upper-triangle block
    pairs, and count intersections per cell with vectorized numpy
    run-length expansion. The only shuffle is the block replication —
    n_rows × ~0.5 KB × (B+1)/2 bytes — instead of the posting join's
    Σ df² rows; the quadratic candidate work still happens, but at
    numpy speed inside the cell with zero shuffle bytes.

    Exactness: intersection counts are exact integers (tokens compared
    by xxhash64 — the same 2⁻⁶⁴ collision odds every hash-keyed join in
    the engine accepts); jaccard = n_int/(na+nb−n_int) is the same
    float64 division of exactly-representable integers the posting path
    computes, so outputs are bitwise identical (equivalence-tested in
    test_round6 and against the DuckDB oracle). Results are partition-
    independent (exact counts, no per-partition state).

    Memory: per-cell expansion is chunked so at most ``pair_budget``
    candidate pairs are materialized at once (~6 int64 arrays ≈ 1 GB at
    the default) — bounded at any corpus size. B grows with the session
    shuffle width (≥ width cells) so the stage fans out on any cluster.
    """
    width = session_shuffle_width(df.sparkSession)
    import math

    # size the upper-triangle grid to ~2× the session width so the
    # (ci,cj)→partition assignment stays balanced (at exactly `width`
    # cells, hash collisions leave ~1/3 of partitions empty and give
    # others 2-3 cells — a built-in straggler; guide §2.5 "synthetic
    # partitioning keys with too few distinct values")
    n_blocks = max(2, math.ceil((math.sqrt(16 * width + 1) - 1) / 2))
    if n_rows is not None:
        # keep cells ≤ _BLOCK_ROWS² (blocking is purely physical —
        # results are identical at any B)
        n_blocks = max(n_blocks, math.ceil(n_rows / _BLOCK_ROWS))
    n_cells = n_blocks * (n_blocks + 1) // 2

    toks = F.array_distinct(F.col(token_col))
    th = df.select(
        F.col(id_col).alias("rid"),
        F.size(toks).alias("n"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("hg"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    ).where(F.col("n").isNotNull())
    # one tokenize+hash pass feeds both cogroup sides (lazy checkpoint —
    # materialized by the cogroup's own action, ~0.5 KB/row cached)
    th = th.localCheckpoint(eager=False)
    # upper-triangle replication: block b serves as the LEFT side of
    # cells (b, j≥b) and the RIGHT side of cells (i≤b, b)
    left = th.withColumn(
        "cj", F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1)))
    ).select(F.col("blk").alias("ci"), F.col("cj").cast("int").alias("cj"),
             "rid", "n", "hg")
    # fresh aliases on every column: left and right share the checkpointed
    # plan, and a self-cogroup with identical attribute ids gets its right
    # side's non-key columns deduplicated away by the analyzer
    right = th.withColumn(
        "ci", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select(F.col("ci").cast("int").alias("ci"), F.col("blk").alias("cj"),
             F.col("rid").alias("rid"), F.col("n").alias("n"),
             F.col("hg").alias("hg"))

    kernel = _make_jaccard_cell_kernel(float(threshold), int(pair_budget))
    return (
        left.repartition(n_cells, F.col("ci"), F.col("cj")).groupBy("ci", "cj")
        .cogroup(
            right.repartition(n_cells, F.col("ci"), F.col("cj"))
            .groupBy("ci", "cj")
        )
        .applyInPandas(kernel, schema="src long, dst long, jaccard double")
    )


def _make_jaccard_cell_kernel(threshold: float, pair_budget: int):
    """Cell kernel factory for jaccard_selfjoin_blocked: exact
    intersection counting over two blocks of hashed-token arrays."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"src": [], "dst": [], "jaccard": []}).astype(
        {"src": "int64", "dst": "int64", "jaccard": "float64"}
    )

    def postings(pdf):
        lens = np.fromiter((len(a) for a in pdf["hg"]), dtype=np.int64,
                           count=len(pdf))
        g = (np.concatenate(list(pdf["hg"])) if lens.sum() else
             np.array([], dtype=np.int64)).astype(np.int64, copy=False)
        d = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
        order = np.argsort(g, kind="stable")
        return g[order], d[order]

    def count_keys(keys):
        """sorted-run counting: (unique keys, counts). np.sort on int32
        takes numpy's radix path — 38× faster than int64 np.unique on
        the measured cells."""
        sk = np.sort(keys)
        if len(sk) == 0:
            return sk, sk.astype(np.int64)
        starts = np.concatenate(
            ([0], np.flatnonzero(sk[1:] != sk[:-1]) + 1))
        cnts = np.diff(np.concatenate((starts, [len(sk)])))
        return sk[starts], cnts

    def sorted_unique(g):
        """np.unique(g, return_index+return_counts) for an ALREADY
        sorted g — two linear passes instead of a second sort (postings
        sorts g to group the doc lists; re-sorting in np.unique was the
        second-hottest in-situ pass after the pair expansion)."""
        if len(g) == 0:
            return g, np.array([], dtype=np.int64), np.array([], dtype=np.int64)
        starts = np.concatenate(
            ([0], np.flatnonzero(g[1:] != g[:-1]) + 1))
        cnts = np.diff(np.concatenate((starts, [len(g)])))
        return g[starts], starts, cnts

    def kernel(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if len(left) == 0 or len(right) == 0:
            return empty
        gl, dl = postings(left)
        gr, dr = postings(right)
        ug_l, st_l, ct_l = sorted_unique(gl)
        ug_r, st_r, ct_r = sorted_unique(gr)
        common, il, ir = np.intersect1d(ug_l, ug_r, assume_unique=True,
                                        return_indices=True)
        if len(common) == 0:
            return empty
        ci, cj = ct_l[il], ct_r[ir]
        si, sj = st_l[il], st_r[ir]
        reps = ci * cj
        nr = np.int64(len(right))
        # int32 pair keys when the cell's key space fits (radix sort);
        # int64 only for >2³¹-cell blocks
        kdt = np.int32 if len(left) * len(right) < 2**31 else np.int64
        # narrow index dtype when every posting position fits — halves
        # the memory traffic of the expansion passes below, which are
        # bandwidth-bound (round-6 follow-up: 1.5-2x on measured cells)
        idt = np.int32 if max(len(gl), len(gr)) < 2**31 else np.int64
        dl = dl.astype(idt, copy=False)
        dr = dr.astype(idt, copy=False)
        ci_n = ci.astype(idt, copy=False)
        cj_n = cj.astype(idt, copy=False)
        si_n = si.astype(idt, copy=False)
        sj_n = sj.astype(idt, copy=False)
        # chunk the run-length expansion so ≤ pair_budget pairs live at once
        cum = np.cumsum(reps)
        bounds = [0]
        while bounds[-1] < len(reps):
            base = cum[bounds[-1]] - reps[bounds[-1]]
            nxt = int(np.searchsorted(cum, base + pair_budget)) + 1
            bounds.append(min(max(nxt, bounds[-1] + 1), len(reps)))
        keys_parts, cnts_parts = [], []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            cic, cjc = ci_n[lo:hi], cj_n[lo:hi]
            sic, sjc = si_n[lo:hi], sj_n[lo:hi]
            npost = int(cic.sum())
            # Division-free two-level expansion. Level 1 (posting-sized,
            # ~df·docs rows): one entry per (token, left-element) run.
            tok_of = np.repeat(np.arange(hi - lo, dtype=idt), cic)
            offs_l = (np.cumsum(cic, dtype=np.int64) - cic).astype(idt)
            pos_l = sic[tok_of] + (
                np.arange(npost, dtype=idt) - offs_l[tok_of])
            lid_small = dl[pos_l]          # left doc of each run
            rep_elem = cjc[tok_of]         # run length = token's right count
            sj_small = sjc[tok_of]         # right-postings start of the run
            tot = int(rep_elem.sum(dtype=np.int64))
            # Level 2 (pair-sized): expand runs; within-run offset comes
            # from one subtract instead of the old int64 divmod pair.
            # wdt: positions inside one chunk fit int32 whenever the
            # chunk does (tot ≤ pair_budget in the non-pathological
            # case) — the arange and subtract then move half the bytes.
            wdt = np.int32 if tot < 2**31 else np.int64
            run_id = np.repeat(np.arange(npost, dtype=idt), rep_elem)
            run_offs = ((np.cumsum(rep_elem, dtype=np.int64)
                         - rep_elem)).astype(wdt)
            within = np.arange(tot, dtype=wdt) - run_offs[run_id]
            lidx = lid_small[run_id]
            ridx = dr[sj_small[run_id] + within]
            # same key values as lidx*nr+ridx in int64: kdt=int32 is only
            # chosen when nl*nr < 2^31, so the narrow product cannot wrap
            k2, c2 = count_keys(
                lidx.astype(kdt, copy=False) * kdt(nr)
                + ridx.astype(kdt, copy=False))
            keys_parts.append(k2)
            cnts_parts.append(c2.astype(np.int64))
        keys = np.concatenate(keys_parts)
        cnts = np.concatenate(cnts_parts)
        if len(keys_parts) > 1:
            ukeys, inv = np.unique(keys, return_inverse=True)
            cnts = np.bincount(inv, weights=cnts).astype(np.int64)
            keys = ukeys
        keys = keys.astype(np.int64, copy=False)
        li = keys // nr
        rj = keys - li * nr
        src_id = left["rid"].to_numpy()[li]
        dst_id = right["rid"].to_numpy()[rj]
        na = left["n"].to_numpy()[li].astype(np.float64)
        nb = right["n"].to_numpy()[rj].astype(np.float64)
        n_int = cnts.astype(np.float64)
        jacc = n_int / (na + nb - n_int)
        diagonal = int(left["ci"].iloc[0]) == int(left["cj"].iloc[0])
        if diagonal:
            # both orientations of each pair are generated — keep one
            mask = (src_id < dst_id) & (jacc >= threshold)
            a, b = src_id[mask], dst_id[mask]
        else:
            # blocks are disjoint: every pair appears exactly once, in
            # whichever orientation the cell imposes — canonicalize
            mask = jacc >= threshold
            a = np.minimum(src_id[mask], dst_id[mask])
            b = np.maximum(src_id[mask], dst_id[mask])
        return pd.DataFrame({"src": a, "dst": b, "jaccard": jacc[mask]})

    return kernel


def exact_jaccard_pairs(
    df1: DataFrame, df2: DataFrame, id_col: str, token_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram/token Jaccard join via posting-list self-join —
    the oracle-checkable counterpart of MinHash blocking (and the exact
    dedup path for `documents`). Returns (src, dst, jaccard).

    Pattern: explode tokens → join on token → count shared → sizes via
    two small aggs → |A∩B| / (|A|+|B|−|A∩B|). One shuffle on token,
    one on the pair.

    Skew: a token appearing in f docs contributes f² join rows, so this
    is the small-input path; above ``dedup._BLOCKED_MIN_DOCS`` the
    self-join runs ``jaccard_selfjoin_blocked`` instead."""
    t1 = df1.select(F.col(id_col).alias("src"), F.explode(F.array_distinct(F.col(token_col))).alias("tok"))
    t2 = df2.select(F.col(id_col).alias("dst"), F.explode(F.array_distinct(F.col(token_col))).alias("tok"))
    # set sizes come straight off the array column — a narrow projection
    # per doc row, not a groupBy over the exploded postings (saves two
    # full shuffles of the posting table)
    n1 = df1.select(
        F.col(id_col).alias("src"),
        F.size(F.array_distinct(F.col(token_col))).alias("n_src"),
    )
    n2 = df2.select(
        F.col(id_col).alias("dst"),
        F.size(F.array_distinct(F.col(token_col))).alias("n_dst"),
    )
    inter = t1.join(t2, "tok").groupBy("src", "dst").agg(F.count("*").alias("n_int"))
    return (
        inter.join(n1, "src").join(n2, "dst")
        .withColumn(
            "jaccard",
            F.col("n_int") / (F.col("n_src") + F.col("n_dst") - F.col("n_int")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )
