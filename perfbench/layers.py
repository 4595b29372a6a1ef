"""Per-layer table of a traced run: spans + event-log digest → metrics.

Each metric is ``<module>.<metric>``, taken per traced op and reported
as the median over the run's traced ops. Layers a workload does not
reach read 0.
"""

from __future__ import annotations

import glob
import os
import statistics

from perfbench.trace import self_times

MB = 1024.0 * 1024.0

#: metric → unit; the order is the table's order
UNITS = {
    "extract.self_s": "s", "extract.jobs": "count",
    "ids.self_s": "s", "ids.shuffle_mb": "MB",
    "canonical.self_s": "s", "canonical.jobs": "count",
    "stage.write_s": "s", "stage.bytes_mb": "MB",
    "stage.log_metrics_s": "s", "stage.log_metrics_jobs": "count",
    "name_channel.string_s": "s", "name_channel.embed_s": "s",
    "name_channel.seeds_s": "s", "name_channel.jobs": "count",
    "blocking.kept_ratio": "ratio",
    "structure_channel.self_s": "s", "structure_channel.jobs": "count",
    "structure_channel.tasks": "count",
    "simops.fuse_s": "s", "simops.mine_s": "s",
    "simops.mined_precision": "ratio",
    "evalx.self_s": "s", "evalx.jobs": "count", "evalx.mrr": "score",
    "dedup.ngram_keep_s": "s", "dedup.minhash_s": "s",
    "dedup.shuffle_mb": "MB", "dedup.minhash_verified_ratio": "ratio",
    "knn.near_dup_s": "s", "knn.shuffle_mb": "MB", "knn.spill_mb": "MB",
    "driver.unspanned_s": "s", "driver.gc_s": "s", "driver.jobs": "count",
    "driver.peak_rss_mb": "MB",
    "setup.session_s": "s", "setup.inputs_s": "s",
    "trace.overhead_ratio": "ratio",
}


def event_log_file(work: str) -> str:
    files = [f for f in glob.glob(os.path.join(work, "eventlog", "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    return files[0]


def op_layers(spans: list[dict], digest: dict, rec: dict) -> dict:
    """Layer values of one traced op from its spans and job groups."""
    st = self_times(spans)

    def secs(*layers):
        return sum(st[s["id"]] for s in spans if s["layer"] in layers)

    def total(key, *layers):
        return sum(digest.get(s["group"], {}).get(key, 0.0)
                   for s in spans if not layers or s["layer"] in layers)

    structure = ("structure_channel",)
    names = ("name_channel.string", "name_channel.embed", "name_channel.seeds")
    dedup_l = ("dedup.ngram_keep", "dedup.minhash")
    kept = 0.0
    blk = rec.get("logged", {}).get("sim_string_blocking")
    if blk is not None:
        dropped = blk.get("dropped_rows_1", 0) + blk.get("dropped_rows_2", 0)
        kept = 1.0 - dropped / rec["band_rows"]
    return {
        "extract.self_s": secs("extract"),
        "extract.jobs": total("jobs", "extract"),
        "ids.self_s": secs("ids"),
        "ids.shuffle_mb": total("shuffle_write_bytes", "ids") / MB,
        "canonical.self_s": secs("canonical"),
        "canonical.jobs": total("jobs", "canonical"),
        "stage.write_s": secs("stage.write"),
        "stage.bytes_mb": rec.get("store_bytes", 0) / MB,
        "stage.log_metrics_s": secs("stage.log_metrics"),
        "stage.log_metrics_jobs": total("jobs", "stage.log_metrics"),
        "name_channel.string_s": secs("name_channel.string"),
        "name_channel.embed_s": secs("name_channel.embed"),
        "name_channel.seeds_s": secs("name_channel.seeds"),
        "name_channel.jobs": total("jobs", *names),
        "blocking.kept_ratio": kept,
        "structure_channel.self_s": secs(*structure),
        "structure_channel.jobs": total("jobs", *structure),
        "structure_channel.tasks": total("tasks", *structure),
        "simops.fuse_s": secs("simops.fuse"),
        "simops.mine_s": secs("simops.mine"),
        "simops.mined_precision": rec.get("mined_precision", 0.0),
        "evalx.self_s": secs("evalx"),
        "evalx.jobs": total("jobs", "evalx"),
        "evalx.mrr": rec.get("mrr", 0.0),
        "dedup.ngram_keep_s": secs("dedup.ngram_keep"),
        "dedup.minhash_s": secs("dedup.minhash"),
        "dedup.shuffle_mb": total("shuffle_write_bytes", *dedup_l) / MB,
        "dedup.minhash_verified_ratio": rec.get("minhash_verified_ratio", 0.0),
        "knn.near_dup_s": secs("knn.near_dup"),
        "knn.shuffle_mb": total("shuffle_write_bytes", "knn.near_dup") / MB,
        "knn.spill_mb": total("spill_bytes", "knn.near_dup") / MB,
        "driver.unspanned_s": secs("driver"),
        "driver.gc_s": rec.get("gc_s", 0.0),
        "driver.jobs": total("jobs"),
    }


def layer_metrics(out: dict, tracer, digest: dict) -> dict:
    recs = out["recs"]
    per_op = [op_layers(tracer.op_spans(r["op"]), digest, r) for r in recs]
    vals = {k: statistics.median(p[k] for p in per_op) for k in per_op[0]}
    s = out["setup"]
    vals.update({
        "driver.peak_rss_mb": out["peak_rss_mb"],
        "setup.session_s": s["session_s"],
        "setup.inputs_s": s["inputs_s"],
        # traced ÷ untraced op time, the untraced time being the traced
        # one less the tracing's own cost (span bookkeeping plus the CPU
        # time of the thread that writes the event log)
        "trace.overhead_ratio": statistics.median(
            r["seconds"] / (r["seconds"] - r["trace_s"]) for r in recs),
    })
    return {k: {"value": vals[k], "unit": UNITS[k]} for k in UNITS}
