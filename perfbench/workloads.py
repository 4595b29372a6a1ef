"""The two workloads: inputs, one operation, and its output check.

A workload's ``setup`` loads seeded inputs into the session; ``op`` runs
one operation on a fresh ``StageStore`` and returns what the check
needs, fully materialized; ``check`` verifies that result in plain
Python against the generator's gold data and returns
``(ok, quality, detail)``. The engine never sees the gold data.
"""

from __future__ import annotations

import random

import numpy as np

from largeea_spark.operators import dedup as D
from largeea_spark.plans import pipeline

from . import inputs

# Input sizes. Every op is dominated by Spark job overhead rather than by
# data volume. With these, on a 4-core host, a construct_dedup run takes
# 50-70 s and an align run 60-90 s, depending on host load. align runs
# one round: a second semi-supervision round adds 30-50 % to the op.
SIZES = {
    "construct": {"pages": 2000},
    "align": {"ents": 300, "it_rounds": 1},
    "dedup": {"docs": 4000, "vecs": 4000},
}


class Construct:
    """construct_kg_from_pages over seeded pages; quality = triple F1.
    The first part of ``ConstructDedup``."""

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed

    def setup(self):
        self.inp = inputs.make_pages(SIZES["construct"]["pages"], self.seed)
        self.pages = self.spark.createDataFrame(self.inp.pages,
                                                inputs.PAGE_SCHEMA).cache()
        self.pages.count()

    def teardown_inputs(self):
        self.pages.unpersist()

    def op(self, store):
        out = pipeline.construct_kg_from_pages(self.spark, self.pages, store)
        # collected inside the timed region: the caller's result
        return {"surface": [tuple(r) for r in out["surface"].collect()]}

    def check(self, res):
        pred = set(res["surface"])
        tp = len(pred & self.inp.gold)
        p = tp / len(pred) if pred else 0.0
        r = tp / len(self.inp.gold)
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        return f1 >= 0.95, f1, {"precision": p, "recall": r}

    def trace_extras(self, store, res) -> dict:
        return {}


class Align:
    """align_kg_pair on a seeded two-KG pair; quality = fused CSLS Hits@1
    recomputed on the driver from the collected fused sim."""

    name = "align"

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed

    def setup(self):
        self.inp = inputs.make_kg_pair(SIZES["align"]["ents"], self.seed)
        self.pair, self.cached = inputs.load_kg_pair(self.spark, self.inp)
        for df in self.cached:
            df.cache().count()
        lk = self.inp.links
        test = lk[lk.split == "test"]
        self.test = dict(zip(test.e1, test.e2))

    def teardown_inputs(self):
        for df in self.cached:
            df.unpersist()

    def op(self, store):
        out = pipeline.align_kg_pair(
            self.spark, self.pair, store,
            it_rounds=SIZES["align"]["it_rounds"])
        return {"metrics": out["metrics"], "fused": out["fused"]}

    def collect_fused(self, res):
        rows = res["fused"].select("src", "dst", "sim").collect()
        return (np.array([r[0] for r in rows], dtype=np.int64),
                np.array([r[1] for r in rows], dtype=np.int64),
                np.array([r[2] for r in rows], dtype=np.float64))

    def check(self, res):
        src, dst, sim = self.collect_fused(res)
        h1 = csls_hits1(src, dst, sim, self.test)
        engine = res["metrics"]["fused_csls"]["hits@1"]
        n = len(self.test)
        same = round(engine * n) == round(h1 * n)
        return same and h1 >= 0.8, h1, {"engine_hits1": engine,
                                         "mrr": res["metrics"]["fused_csls"]["MRR"]}

    def trace_extras(self, store, res) -> dict:
        """Final CSLS MRR, precision of the mined semi-supervision pairs
        against the generator's correspondence (0 without a second
        round), and the string-blocking band-key row count (one key per
        entity per band, 32 bands)."""
        out = {"mrr": res["metrics"]["fused_csls"]["MRR"],
               "band_rows": 32 * (len(self.inp.ent1) + len(self.inp.ent2)),
               "mined_precision": 0.0}
        rounds = SIZES["align"]["it_rounds"]
        if rounds >= 2:
            mined = [(r.e1, r.e2) for r in
                     store.read(f"semi_mined_r{rounds}").collect()]
            if mined:
                out["mined_precision"] = (sum(p in self.inp.truth for p in mined)
                                          / len(mined))
        return out


def csls_hits1(src, dst, sim, test: dict, k: int = 10) -> float:
    """CSLS (2·sim − mean top-k of its row − mean top-k of its column),
    then row argmax (ties → smaller dst), then Hits@1 over ``test``."""

    def topk_mean(keys):
        order = np.lexsort((-sim, keys))
        ks, sv = keys[order], sim[order]
        uniq, first = np.unique(ks, return_index=True)
        rank = np.arange(len(ks)) - np.repeat(first, np.diff(np.append(first, len(ks))))
        keep = rank < k
        sums = np.bincount(np.searchsorted(uniq, ks[keep]), weights=sv[keep])
        cnts = np.bincount(np.searchsorted(uniq, ks[keep]))
        return dict(zip(uniq.tolist(), (sums / cnts).tolist()))

    r_src, r_dst = topk_mean(src), topk_mean(dst)
    best: dict[int, tuple] = {}
    for s, d, v in zip(src.tolist(), dst.tolist(), sim.tolist()):
        c = 2 * v - r_src[s] - r_dst[d]
        b = best.get(s)
        if b is None or c > b[0] or (c == b[0] and d < b[1]):
            best[s] = (c, d)
    hits = sum(1 for e1, e2 in test.items() if e1 in best and best[e1][1] == e2)
    return hits / len(test)


class Dedup:
    """n-gram Jaccard keep, MinHash-LSH pairs and embedding near-dups over
    a seeded corpus with planted near-duplicates; quality = min of every
    planted recall and every re-verified precision. The second part of
    ``ConstructDedup``."""

    NGRAM_T, MINHASH_T, COS_T = 0.4, 0.5, 0.95
    SAMPLE = 200

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed

    def setup(self):
        s = SIZES["dedup"]
        self.inp = inputs.make_dedup(s["docs"], s["vecs"], self.seed)
        self.docs, self.embs = inputs.load_dedup(self.spark, self.inp)
        for df in (self.docs, self.embs):
            df.cache().count()
        self.shingles = {i: inputs.word_shingles(t)
                         for i, t in zip(self.inp.docs.doc_id, self.inp.docs.text)}
        self.vecs = dict(zip(self.inp.embs.vec_id, self.inp.embs.embedding))
        self.base_of = {b: a for a, b in self.inp.doc_pairs}

    def teardown_inputs(self):
        self.docs.unpersist()
        self.embs.unpersist()

    def op(self, store):
        return {"kept": self.ngram_keep(), "minhash": self.minhash(),
                "near_dup": self.near_dup()}

    # One method per layer call, each with the collect that runs it, so a
    # traced run times the lazy call together with its jobs.
    def ngram_keep(self) -> set:
        pairs = D.ngram_jaccard_pairs(self.docs, threshold=self.NGRAM_T,
                                      method="blocked")
        return {r[0] for r in D.dedup_keep_from_pairs(self.docs, pairs)
                .select("doc_id").collect()}

    def minhash(self) -> list:
        return [tuple(r) for r in D.minhash_lsh_pairs(
            self.docs, num_perm=64, bands=16, rows=4,
            verify_threshold=self.MINHASH_T).collect()]

    def near_dup(self) -> list:
        return [tuple(r) for r in D.embedding_near_dups(
            self.embs, threshold=self.COS_T).collect()]

    def check(self, res):
        rng = random.Random(self.seed)
        sh, inp = self.shingles, self.inp
        removed = set(sh) - res["kept"]
        planted_copies = {b for _, b in inp.doc_pairs}
        ngram_recall = len(removed & planted_copies) / len(planted_copies)
        # a removed doc must have a near-dup (≥ θ) among the kept ones
        ngram_prec = (sum(1 for b in removed if b in planted_copies and
                          inputs.jaccard(sh[b], sh[self.base_of[b]]) >= self.NGRAM_T)
                      / len(removed)) if removed else 0.0

        mh = {(a, b): j for a, b, j in res["minhash"]}
        mh_recall = len(inp.doc_pairs & set(mh)) / len(inp.doc_pairs)
        sample = rng.sample(sorted(mh), min(self.SAMPLE, len(mh)))
        mh_prec = (sum(1 for p in sample
                       if abs(inputs.jaccard(sh[p[0]], sh[p[1]]) - mh[p]) < 1e-9
                       and mh[p] >= self.MINHASH_T) / len(sample)) if sample else 0.0

        nd = {(a, b): c for a, b, c in res["near_dup"]}
        nd_recall = len(inp.emb_pairs & set(nd)) / len(inp.emb_pairs)
        sample = rng.sample(sorted(nd), min(self.SAMPLE, len(nd)))
        nd_prec = (sum(1 for p in sample
                       if abs(_cos(self.vecs[p[0]], self.vecs[p[1]]) - nd[p]) < 1e-4
                       and nd[p] >= self.COS_T) / len(sample)) if sample else 0.0

        parts = {"ngram_recall": ngram_recall, "ngram_precision": ngram_prec,
                 "minhash_recall": mh_recall, "minhash_precision": mh_prec,
                 "near_dup_recall": nd_recall, "near_dup_precision": nd_prec}
        q = min(parts.values())
        ok = (ngram_recall == 1.0 and ngram_prec == 1.0 and nd_recall == 1.0
              and mh_prec == 1.0 and nd_prec == 1.0 and mh_recall >= 0.9)
        return ok, q, parts

    def trace_extras(self, store, res) -> dict:
        """Share of MinHash-LSH candidate pairs that pass verification."""
        cand = D.minhash_lsh_pairs(self.docs, num_perm=64, bands=16, rows=4,
                                   verify_threshold=None).count()
        return {"minhash_verified_ratio": len(res["minhash"]) / cand if cand else 0.0}


def _cos(u, v) -> float:
    u, v = np.asarray(u), np.asarray(v)
    return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))


class ConstructDedup:
    """Corpus work in one session: construct_kg_from_pages over seeded
    pages, then the near-dup calls over a seeded doc corpus (``Dedup``).
    Both run in one op so that one session start and one cold start pay
    for both; quality = min(triple F1, dedup quality)."""

    name = "construct_dedup"

    def __init__(self, spark, seed: int):
        self.parts = (Construct(spark, seed), Dedup(spark, seed))

    def setup(self):
        for p in self.parts:
            p.setup()

    def teardown_inputs(self):
        for p in self.parts:
            p.teardown_inputs()

    def op(self, store):
        return [p.op(store) for p in self.parts]

    def check(self, res):
        (ok_c, q_c, d_c), (ok_d, q_d, d_d) = (
            p.check(r) for p, r in zip(self.parts, res))
        return ok_c and ok_d, min(q_c, q_d), {"triple_f1": q_c, **d_c, **d_d}

    def trace_extras(self, store, res) -> dict:
        out = {}
        for p, r in zip(self.parts, res):
            out.update(p.trace_extras(store, r))
        return out


WORKLOADS = {w.name: w for w in (ConstructDedup, Align)}
