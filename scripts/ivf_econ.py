"""IVF-vs-brute economics at the auto-selection trigger scale
(VERDICT r3 #1 done-criterion): paired wall-clocks of the DEFAULT
name-channel kNN parameters at ≥200k index rows, recall@50 of IVF vs
brute on a query sample, and the measured shuffle-byte cut from the
float32 ANN wire format (knn.`_cast_shuffle_dtype`).

Interleaved brute/IVF pairs (same estimator lesson as bench.py's
scaling block: both sides of a ratio must sample the same host-noise
window). Appends a row per size to SCALE.md section "IVF economics".

Usage: python scripts/ivf_econ.py [n_ents ...]   (default: 200000 500000)
"""

import json
import os
import sys
import time
import urllib.request
from math import isqrt

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from largeea_spark.functions.vectors import encode_names  # noqa: E402
from largeea_spark.operators.knn import ivf_topk, knn_topk  # noqa: E402
from largeea_spark.plans import name_channel  # noqa: E402
from largeea_spark.session import get_spark  # noqa: E402
from largeea_spark.sources import fixtures  # noqa: E402
from largeea_spark.sources.kg import KGPair, encode_graph, encode_links  # noqa: E402


def shuffle_write_bytes(ui_port: int = 4040) -> int:
    """Total shuffle-write bytes across all completed stages, from the
    Spark UI REST API (deltas around a job = that job's shuffle)."""
    base = f"http://localhost:{ui_port}/api/v1"
    apps = json.load(urllib.request.urlopen(f"{base}/applications", timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{base}/applications/{app_id}/stages?status=complete", timeout=10))
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def build_embeddings(spark, n_ents: int, dim: int):
    """Fixture pair → hashed-encoder name embeddings (the channel's
    real inputs: float32, clustered like entity names)."""
    t1, t2, links, _ = fixtures.two_kg_fixture(
        spark, n_ents=n_ents, n_triples=n_ents + 2, n_links=1000
    )
    kg1, kg2 = encode_graph(t1), encode_graph(t2)
    lk = encode_links(links, kg1.ent, kg2.ent, 0.2)
    pair = KGPair(kg1=kg1, kg2=kg2, links=lk)
    n1 = name_channel.entity_names(pair.kg1.ent, punct_to_space=False)
    n2 = name_channel.entity_names(pair.kg2.ent, punct_to_space=False)
    e1 = encode_names(n1, "name", dim=dim).select("id", "emb").localCheckpoint(eager=True)
    e2 = encode_names(n2, "name", dim=dim).select("id", "emb").localCheckpoint(eager=True)
    e1.count(), e2.count()
    return e1, e2


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [200_000, 500_000]
    # dim=128 = the default above 60k total entities (align_kg_pair
    # emb_dim='auto'); UI on for the REST shuffle-byte counters
    dim = 128
    spark = get_spark("ivf_econ", master="local[32]", shuffle_partitions=32,
                      extra_conf={"spark.ui.enabled": "true"})
    results = []
    for n in sizes:
        e1, e2 = build_embeddings(spark, n, dim)
        # name_channel's auto-derived IVF params at this size
        nlist = max(16, min(4096, isqrt(n)))
        nprobe = max(4, min(32, nlist // 4))

        def run_brute():
            return knn_topk(e1, e2, k=50).count()

        def run_ivf():
            return ivf_topk(e1, e2, k=50, nlist=nlist, nprobe=nprobe).count()

        # interleaved pairs: (brute, ivf), per-pair ratio, median; one
        # pair above 200k (a single 500k brute is ~25 min of GEMM)
        reps = 2 if n <= 200_000 else 1
        times = {"brute": [], "ivf": []}
        for _ in range(reps):
            t0 = time.time(); run_brute(); times["brute"].append(time.time() - t0)
            t0 = time.time(); run_ivf(); times["ivf"].append(time.time() - t0)
        ratios = sorted(b / i for b, i in zip(times["brute"], times["ivf"]))
        speedup = ratios[len(ratios) // 2]

        # recall@50 of IVF vs brute ground truth on 2000 sampled queries
        sample = e1.orderBy(F.xxhash64("id")).limit(2000).localCheckpoint(eager=True)
        exact = knn_topk(sample, e2, k=50).select("src", "dst").localCheckpoint(eager=True)
        approx = (
            ivf_topk(e1, e2, k=50, nlist=nlist, nprobe=nprobe)
            .join(sample.select(F.col("id").alias("src")), "src", "left_semi")
            .select("src", "dst")
        )
        n_exact = exact.count()
        recall = exact.join(approx, ["src", "dst"], "left_semi").count() / max(n_exact, 1)

        # shuffle-byte cut from the float32 wire format, measured on
        # DENSE random float64 embeddings (the transformer-encoder /
        # trainer-output shape — incompressible, unlike the hashed
        # encoder's sparse-ish arrays which LZ4 collapses either way):
        # same IVF job with the cast OFF vs ON, REST counter deltas
        dense = F.array(*[F.randn(seed=i) for i in range(dim)])
        e1d = e1.select("id", dense.alias("emb")).localCheckpoint(eager=True)
        e2d = e2.select("id", dense.alias("emb")).localCheckpoint(eager=True)
        e1d.count(), e2d.count()
        b0 = shuffle_write_bytes()
        ivf_topk(e1d, e2d, k=50, nlist=nlist, nprobe=nprobe, shuffle_dtype=None).count()
        b1 = shuffle_write_bytes()
        ivf_topk(e1d, e2d, k=50, nlist=nlist, nprobe=nprobe).count()
        b2 = shuffle_write_bytes()
        bytes_f64, bytes_f32 = b1 - b0, b2 - b1

        row = {
            "n": n, "dim": dim, "nlist": nlist, "nprobe": nprobe,
            "brute_sec": [round(t, 1) for t in times["brute"]],
            "ivf_sec": [round(t, 1) for t in times["ivf"]],
            "speedup_median_pair": round(speedup, 2),
            "recall@50": round(recall, 4),
            "ivf_shuffle_mb_f64wire": round(bytes_f64 / 1e6, 1),
            "ivf_shuffle_mb_f32wire": round(bytes_f32 / 1e6, 1),
            "wire_cut": round(1 - bytes_f32 / max(bytes_f64, 1), 3),
        }
        print(row, flush=True)
        results.append(row)
        _append_row(row)  # per size, so a timeout can't lose finished work
        for df in (e1, e2, e1d, e2d, sample, exact):
            df.unpersist()
    spark.stop()


def _append_row(r: dict):
    md = open(os.path.join(REPO, "SCALE.md")).read()
    with open(os.path.join(REPO, "SCALE.md"), "a") as f:
        if "## IVF economics" not in md:
            f.write(
                "\n## IVF economics at the auto-trigger scale"
                " (`scripts/ivf_econ.py`)\n\n"
                "Paired interleaved brute-vs-IVF wall-clocks of the kNN\n"
                "stage alone (default channel params, dim=128 hashed\n"
                "encoder, local[32]); recall@50 of IVF vs brute on 2000\n"
                "sampled queries; shuffle-byte cut = the same IVF job on\n"
                "DENSE random float64 inputs (transformer/trainer shape)\n"
                "with the float32 wire cast off vs on.\n\n"
                "| index rows | nlist/nprobe | brute sec | ivf sec |"
                " speedup (median pair) | recall@50 | ivf shuffle MB f64 wire |"
                " f32 wire | cut |\n"
                "|---|---|---|---|---|---|---|---|---|\n"
            )
        f.write(
            f"| {r['n']} | {r['nlist']}/{r['nprobe']} |"
            f" {r['brute_sec']} | {r['ivf_sec']} |"
            f" {r['speedup_median_pair']}× | {r['recall@50']} |"
            f" {r['ivf_shuffle_mb_f64wire']} |"
            f" {r['ivf_shuffle_mb_f32wire']} | {r['wire_cut']} |\n"
        )


if __name__ == "__main__":
    main()
