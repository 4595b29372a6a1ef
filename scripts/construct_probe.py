"""Construct-stage scaling probe (VERDICT r3 #2): decompose the 0.575
construct-stage efficiency the way the encoder number was defended.

Two experiments:

A. PURE-KERNEL probe (no Spark, no JVM): the exact per-row compute of
   the construct stage's extraction step — ``extract_text_bytes`` +
   the predicate-template regex — in pinned ``multiprocessing`` at 2 vs
   8 procs, fixed pages PER PROC. If this scales ~1.0 the kernel is not
   the residual (cf. ``scripts/lev_hw_probe.py`` for the DP kernel).

B. SUB-STEP decomposition (Spark, pinned subprocess, bench.py's exact
   session confs + persisted inputs): the construct timer split into
     extract   — emit_triples_verified + localCheckpoint (Arrow kernel)
     ids       — distinct → assign_dense_ids materialization (shuffle +
                 range-partition + per-partition-count collect)
     join      — surface ⋈ dict ×2 (AQE broadcast) + count
   each timed at local[2] and local[8] in interleaved pairs, plus a
   measured per-action FIXED cost (empty-job latency at each level).

Writes the findings to BENCH.md's audience via SCALE.md section
"Construct-stage decomposition". Usage:
  python scripts/construct_probe.py            # both experiments
  python scripts/construct_probe.py --worker N # internal (pinned run)
"""

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SCALE_TMP = "/tmp/largeea_bench_kg"


# ---------------------------------------------------------------------------
# A. pure kernel
# ---------------------------------------------------------------------------

def _kernel_worker(args):
    cpu, pages, reps = args
    os.sched_setaffinity(0, {cpu})
    import re

    from largeea_spark.plans.extract import PREDICATES, extract_text_bytes

    pat = re.compile(
        r"(?m)([^.\n]+?)\s+(" + "|".join(re.escape(p) for p in PREDICATES) + r")\s+([^.\n]+?)\."
    )
    t0 = time.time()
    n_out = 0
    for _ in range(reps):
        for html, golden in pages:
            text = extract_text_bytes(html)
            if text != golden:
                raise ValueError("extraction mismatch")
            body = text.split("\n", 1)[-1]
            n_out += sum(1 for _ in pat.finditer(body))
    return time.time() - t0, n_out


def kernel_probe(n_pages: int = 40_000, reps: int = 4):
    import multiprocessing as mp

    from largeea_spark.sources import fixtures

    rows, _, _ = fixtures.page_rows(n_pages, mentions_per_page=6)
    pages = [(r["html"], r["text"]) for r in rows]
    _kernel_worker((0, pages[:1000], 1))  # warmup
    out = {}
    for procs in (2, 8):
        times = []
        for _ in range(2):
            with mp.get_context("spawn").Pool(procs) as pool:
                ts = pool.map(_kernel_worker,
                              [(c, pages, reps) for c in range(procs)])
            times.append(max(t for t, _ in ts))
        out[procs] = min(times)
    thr2 = 2 * n_pages * reps / out[2]
    thr8 = 8 * n_pages * reps / out[8]
    eff = (thr8 / thr2) / 4
    return {"t2": round(out[2], 2), "t8": round(out[8], 2),
            "pages_per_sec_2": round(thr2), "pages_per_sec_8": round(thr8),
            "kernel_eff_2to8": round(eff, 3)}


# ---------------------------------------------------------------------------
# C. pure string-sort/hash probe (no Spark): the ids sub-step's
# dominant kernel — range-sort + hash-partition of entity-name strings
# is DRAM-streaming/pointer-chasing work, the worst case for shared
# memory controllers. Fixed work PER CORE, pinned procs.
# ---------------------------------------------------------------------------

def _sort_worker(args):
    cpu, names, reps = args
    os.sched_setaffinity(0, {cpu})
    t0 = time.time()
    for _ in range(reps):
        s = sorted(names)
        _ = [hash(x) % 1024 for x in s]
    return time.time() - t0


def sort_probe(n_names: int = 800_000, reps: int = 4):
    import multiprocessing as mp

    from largeea_spark.sources.fixtures import _base_name

    names = [_base_name(i) + f"_{i % 997}" for i in range(n_names)]
    _sort_worker((0, names[:20000], 1))  # warmup

    def run(p):
        with mp.get_context("spawn").Pool(p) as pool:
            return max(pool.map(_sort_worker,
                                [(c, names, reps) for c in range(p)]))

    t2 = min(run(2) for _ in range(2))
    t8 = min(run(8) for _ in range(2))
    eff = (8 / t8) / (2 / t2) / 4
    return {"t2": round(t2, 2), "t8": round(t8, 2),
            "sort_hash_eff_2to8": round(eff, 3)}


# ---------------------------------------------------------------------------
# B. sub-step decomposition (pinned Spark worker)
# ---------------------------------------------------------------------------

def _construct_substeps(cores: int) -> dict:
    from pyspark.sql import functions as F

    from largeea_spark.operators.ids import assign_dense_ids
    from largeea_spark.plans import extract
    from largeea_spark.session import get_spark

    spark = get_spark(f"construct_probe_{cores}", master=f"local[{cores}]",
                      shuffle_partitions=32, extra_conf={
                          "spark.sql.files.maxPartitionBytes": "2097152",
                          "spark.sql.files.openCostInBytes": "524288",
                          "spark.sql.autoBroadcastJoinThreshold": "67108864",
                      })
    pages = spark.read.parquet(f"{SCALE_TMP}/pages")
    n_pages = pages.count()
    # warmup (same as bench.py — steady-state workers)
    extract.emit_triples_verified(pages.sample(0.02, seed=1)).count()

    # measured fixed cost per action at this level: empty-job latency
    t0 = time.time()
    for _ in range(5):
        spark.range(1).count()
    fixed_per_action = (time.time() - t0) / 5

    t0 = time.time()
    surface = extract.emit_triples_verified(pages).select(
        F.regexp_replace("subj", " ", "_").alias("subj"), "pred",
        F.regexp_replace("obj", " ", "_").alias("obj"),
    ).localCheckpoint(eager=True)
    t_extract = time.time() - t0

    t0 = time.time()
    ents = assign_dense_ids(
        surface.select(F.col("subj").alias("name"))
        .unionByName(surface.select(F.col("obj").alias("name"))).distinct(),
        "name",
    ).localCheckpoint(eager=True)
    n_ents = ents.count()
    t_ids = time.time() - t0

    t0 = time.time()
    es = ents.select(F.col("name").alias("subj"), F.col("id").alias("src"))
    eo = ents.select(F.col("name").alias("obj"), F.col("id").alias("dst"))
    n_triples = (
        surface.join(es, "subj").join(eo, "obj").select("src", "pred", "dst").count()
    )
    t_join = time.time() - t0
    spark.stop()
    return {
        "cores": cores, "n_pages": n_pages, "n_ents": n_ents,
        "n_triples": n_triples,
        "fixed_per_action_sec": round(fixed_per_action, 3),
        "extract_sec": round(t_extract, 2),
        "ids_sec": round(t_ids, 2),
        "join_sec": round(t_join, 2),
        "total_sec": round(t_extract + t_ids + t_join, 2),
    }


def _pinned(cores: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", str(cores)],
        capture_output=True, text=True, timeout=1800,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker failed: {out.stdout[-2000:]} {out.stderr[-2000:]}")


def main():
    sys.path.insert(0, REPO)
    import bench

    bench._materialize_scaling_input()

    print("== A. pure extraction kernel (no Spark) ==", flush=True)
    k = kernel_probe()
    print(k, flush=True)

    print("== C. pure string-sort/hash kernel (no Spark) ==", flush=True)
    sp = sort_probe()
    print(sp, flush=True)

    print("== B. construct sub-steps, pinned local[2] vs local[8] ==", flush=True)
    pairs = []
    for _ in range(2):
        lo = _pinned(2)
        hi = _pinned(8)
        pairs.append((lo, hi))
        print({"lo": lo, "hi": hi}, flush=True)

    def eff(key):
        es = sorted((lo[key] / hi[key]) / 4 for lo, hi in pairs)
        return round(es[len(es) // 2], 3)

    effs = {k2: eff(k2) for k2 in ("extract_sec", "ids_sec", "join_sec", "total_sec")}
    print({"substep_efficiency_2to8": effs}, flush=True)

    md = open(f"{REPO}/SCALE.md").read()
    with open(f"{REPO}/SCALE.md", "a") as f:
        if "## Construct-stage decomposition" not in md:
            f.write("\n## Construct-stage decomposition (`scripts/construct_probe.py`)\n\n")
        f.write(
            f"- pure extraction kernel (no Spark, pinned multiprocessing,"
            f" fixed pages/proc): 2→8 procs efficiency"
            f" **{k['kernel_eff_2to8']}** ({k['pages_per_sec_2']}"
            f" → {k['pages_per_sec_8']} pages/sec)\n"
            f"- Spark sub-steps (median of {len(pairs)} interleaved pinned"
            f" pairs, {pairs[0][0]['n_pages']} pages): extract"
            f" {effs['extract_sec']}, ids {effs['ids_sec']}, join"
            f" {effs['join_sec']}, total {effs['total_sec']}\n"
            f"- pure string-sort/hash kernel (the ids sub-step's dominant"
            f" work, no Spark, pinned): 2→8 procs efficiency"
            f" **{sp['sort_hash_eff_2to8']}**\n"
            f"- measured fixed cost per action: lo"
            f" {pairs[0][0]['fixed_per_action_sec']}s / hi"
            f" {pairs[0][1]['fixed_per_action_sec']}s; sub-step timings lo"
            f" {[ (p[0]['extract_sec'], p[0]['ids_sec'], p[0]['join_sec']) for p in pairs ]}"
            f" hi {[ (p[1]['extract_sec'], p[1]['ids_sec'], p[1]['join_sec']) for p in pairs ]}\n"
        )


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        cores = int(sys.argv[2])
        os.sched_setaffinity(0, set(range(cores)))
        print(json.dumps(_construct_substeps(cores)))
    else:
        main()
