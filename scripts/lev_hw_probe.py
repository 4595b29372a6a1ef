"""Hardware counter-experiment for the score-stage scaling number
(VERDICT r2 #2): run the EXACT Levenshtein-ratio kernel the engine's
score stage runs (`functions.levenshtein.batch_ratio`, pair-axis
vectorized LCS DP) in plain ``multiprocessing`` — no Spark, no JVM,
no shuffle — pinned to N vs 4N cores, same pair workload per core.

If plain multiprocessing shows the same sub-linear 2→8 scaling as the
Spark stage, the ceiling is the silicon (shared DRAM bandwidth of the
memory-streaming DP), not the engine. Usage:
  python scripts/lev_hw_probe.py [pairs_per_proc] [reps]
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def make_pairs(n, seed=13):
    import random

    from largeea_spark.sources.fixtures import _base_name, _variant_name

    rng = random.Random(seed)
    pairs = []
    for i in range(n):
        a = _base_name(rng.randrange(100000))
        kind = ("accent", "reorder", "exact")[i % 3]
        pairs.append((a, _variant_name(a, kind, rng)))
    return pairs


def worker(args):
    cpu, pairs, reps = args
    os.sched_setaffinity(0, {cpu})
    from largeea_spark.functions.levenshtein import batch_ratio

    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    t0 = time.time()
    for _ in range(reps):
        batch_ratio(a, b)
    return time.time() - t0


def run(n_procs, pairs, reps):
    import multiprocessing as mp

    with mp.get_context("spawn").Pool(n_procs) as pool:
        # one task per process, each pinned to its own core — fixed
        # work PER CORE, so perfect scaling = identical wall time
        times = pool.map(worker, [(c, pairs, reps) for c in range(n_procs)])
    return max(times)


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 40000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    pairs = make_pairs(n)
    # warmup (page in numpy, JIT-free but allocator-steady)
    worker((0, pairs[:2000], 1))
    t2 = min(run(2, pairs, reps) for _ in range(2))
    t8 = min(run(8, pairs, reps) for _ in range(2))
    n_pairs = n * reps
    thr2 = 2 * n_pairs / t2
    thr8 = 8 * n_pairs / t8
    eff = (thr8 / thr2) / 4
    print(f"pairs/proc={n_pairs}  t2={t2:.2f}s  t8={t8:.2f}s  "
          f"thr2={thr2:,.0f}/s  thr8={thr8:,.0f}/s  eff_2to8={eff:.3f}")


if __name__ == "__main__":
    main()
