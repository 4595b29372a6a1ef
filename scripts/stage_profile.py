"""Event-log stage profile of one perfbench op.

    python scripts/stage_profile.py construct_dedup 42
    python scripts/stage_profile.py align 42 --json profile.json

Runs the first op of one perfbench workload (``perfbench.workloads``)
on a session started as a traced perfbench run starts it (event log
on), with one ``spark.jobGroup.id`` per ``StageStore.checkpoint``
(``checkpoint:<stage>``; jobs outside any checkpoint fall in ``op``).
Then it reads the event log and prints, per group: its first job's
start and last job's end (seconds from the op's start), jobs, tasks,
and per job its wall time, tasks and the operator scopes of its RDDs
(``BroadcastExchange``, ``parallelize``, ``Exchange``, ...). A last
``total`` line sums the op's jobs and tasks over all groups.

Unlike perfbench's tracer, the groups are per thread: each checkpoint
sets its group on the thread that runs it, so stages that
``_checkpoint_graph`` builds concurrently keep their own jobs. The
script imports perfbench and changes none of it. Everything it writes
goes to a temporary directory that it removes at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from largeea_spark.sources.stage import StageStore  # noqa: E402

GROUP_PROP = "spark.jobGroup.id"


class GroupStageStore(StageStore):
    """StageStore whose every checkpoint runs its jobs in the job group
    ``checkpoint:<name>`` of the calling thread."""

    def checkpoint(self, name, build, partition_by=None):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(GROUP_PROP)
        sc.setLocalProperty(GROUP_PROP, f"checkpoint:{name}")
        try:
            return super().checkpoint(name, build, partition_by)
        finally:
            sc.setLocalProperty(GROUP_PROP, prev)


def read_jobs(path: str) -> list[dict]:
    """One record per job of the event log: group, start/end (epoch ms),
    tasks and the sorted operator scope names of its stages' RDDs."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                scopes = set()
                for st in ev.get("Stage Infos", []):
                    for rdd in st.get("RDD Info", []):
                        if rdd.get("Scope"):
                            scopes.add(json.loads(rdd["Scope"])["name"])
                jobs[ev["Job ID"]] = {
                    "job": ev["Job ID"],
                    "group": (ev.get("Properties") or {}).get(GROUP_PROP) or "",
                    "start": ev["Submission Time"], "end": None,
                    "tasks": 0, "scopes": sorted(scopes),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is not None:
                    jobs[job]["tasks"] += 1
    return sorted(jobs.values(), key=lambda j: j["start"])


def profile(jobs: list[dict], t0_ms: float) -> dict[str, dict]:
    """Per group: first start and last end (s from ``t0_ms``), jobs,
    tasks and the job list, in order of first start."""
    groups: dict[str, list] = defaultdict(list)
    for j in jobs:
        if j["start"] >= t0_ms:
            groups[j["group"]].append(j)
    out = {}
    for g, js in sorted(groups.items(), key=lambda kv: kv[1][0]["start"]):
        out[g] = {
            "start_s": (js[0]["start"] - t0_ms) / 1e3,
            "end_s": (max(j["end"] for j in js) - t0_ms) / 1e3,
            "jobs": len(js), "tasks": sum(j["tasks"] for j in js),
            "job_list": [{"wall_s": (j["end"] - j["start"]) / 1e3,
                          "start_s": (j["start"] - t0_ms) / 1e3,
                          "tasks": j["tasks"], "scopes": j["scopes"]}
                         for j in js],
        }
    return out


def print_profile(prof: dict, op_s: float) -> None:
    print(f"op {op_s:.2f} s")
    print(f"{'group':<28} {'start':>7} {'end':>7} {'jobs':>5} {'tasks':>6}")
    for g, p in prof.items():
        print(f"{g or '(none)':<28} {p['start_s']:>7.2f} {p['end_s']:>7.2f} "
              f"{p['jobs']:>5} {p['tasks']:>6}")
        for j in p["job_list"]:
            print(f"    +{j['start_s']:6.2f} {j['wall_s']:6.2f} s "
                  f"{j['tasks']:>4} tasks  {','.join(j['scopes'])}")
    print(f"{'total':<28} {'':>7} {op_s:>7.2f} "
          f"{sum(p['jobs'] for p in prof.values()):>5} "
          f"{sum(p['tasks'] for p in prof.values()):>6}")


def main(argv=None) -> int:
    from perfbench import layers, run as R
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", choices=sorted(WORKLOADS))
    ap.add_argument("seed", type=int)
    ap.add_argument("--json", help="also write the profile to this file")
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="stage_profile-")
    spark = None
    try:
        spark = R.start_session(work, trace=True)
        wl = WORKLOADS[args.workload](spark, args.seed)
        wl.setup()
        store = GroupStageStore(spark, os.path.join(work, "store"))
        sc = spark.sparkContext
        sc.setLocalProperty(GROUP_PROP, "op")
        t0_ms = time.time() * 1e3
        t0 = time.perf_counter()
        res = wl.op(store)
        op_s = time.perf_counter() - t0
        sc.setLocalProperty(GROUP_PROP, None)
        ok, quality, _ = wl.check(res)
        R.stop_spark(spark)
        spark = None
        prof = profile(read_jobs(layers.event_log_file(work)), t0_ms)
        print_profile(prof, op_s)
        print(f"check ok={ok} quality={quality}")
        if args.json:
            with open(args.json, "w") as fh:
                json.dump({"op_s": op_s, "ok": ok, "quality": quality,
                           "groups": prof}, fh, indent=1)
        return 0 if ok else 1
    finally:
        try:
            R.stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
