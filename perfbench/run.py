"""Benchmark driver: one seeded workload on local[nproc].

    python3 perfbench/run.py --workload align --seed 1 --seconds 10 --trace 0

``--workload all`` runs the two workloads one after another, each in a
fresh child process.

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` traces every op and reports the
per-layer table. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything the run writes stays under ``.perfbench_work/`` in the
current directory and is removed at exit, except the span file of a
traced run (``.perfbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {"op_s": "s", "quality": "score", "setup_s": "s"}

WORKLOADS = ("construct_dedup", "align")

#: input builds per run; setup's inputs_s is their median
INPUT_BUILDS = 3

#: the listener-bus thread that writes the event log of a traced run
EVENT_LOG_THREAD = "spark-listener-group-eventLog"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    from largeea_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = cpus()
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                     extra_conf=conf)


class Jvm:
    """Driver-JVM probes through py4j: GC time, thread CPU time and peak
    resident set."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def thread_cpu_s(self, name: str) -> float:
        """CPU time of the driver JVM's thread called ``name`` (0 if none)."""
        mx = self.jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        for t in self.jvm.java.lang.Thread.getAllStackTraces().keySet().toArray():
            if t.getName() == name:
                return max(0, mx.getThreadCpuTime(t.getId())) / 1e9
        return 0.0

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")


def become_subreaper() -> None:
    """Have orphaned descendants (Python workers that outlive the JVM)
    re-parented to this process, so ``reap_children`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended meanwhile
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until this process has no children left; after ``grace_s``
    terminate those still running, and kill them after twice that."""
    deadline = time.monotonic() + grace_s
    signalled = None
    while kids := child_pids():
        for pid in kids:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        now = time.monotonic()
        if now > deadline and signalled != signal.SIGKILL:
            signalled = signal.SIGTERM if signalled is None else signal.SIGKILL
            deadline = now + grace_s
            for pid in child_pids():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signalled)
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (which outlives
    ``spark.stop()`` and otherwise ends only after this process does),
    then wait for every process either left behind."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_children()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Runner:
    """Runs ops of one workload, each on a fresh stage store; with a
    ``tracer`` every op is traced."""

    def __init__(self, spark, wl, work: str, tracer=None):
        self.spark, self.wl, self.work = spark, wl, work
        self.tracer = tracer
        self.jvm = Jvm(spark)
        self.n = 0
        self.attempted = self.failed = 0
        self.quality: list[float] = []

    def run_op(self) -> dict:
        """One checked op; returns its record (seconds, ok, ...)."""
        from largeea_spark.sources.stage import StageStore

        from perfbench import trace as T

        self.n += 1
        root = os.path.join(self.work, f"store-{self.n}")
        if os.path.exists(root):
            raise RuntimeError(f"stage store {root} already exists")
        tr = self.tracer
        rec = {"op": f"{self.wl.name}-op{self.n}"}
        if tr is not None:
            tr.op = rec["op"]
            store = T.TracingStageStore(self.spark, root, tr)
            gc0 = self.jvm.gc_s()
            cost0 = tr.overhead_s + self.jvm.thread_cpu_s(EVENT_LOG_THREAD)
        else:
            store = StageStore(self.spark, root)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tr is not None:
                with layer_patches(tr), tr.span("op", "driver"):
                    res = self.wl.op(store)
                # store reads after the op are not part of it
                tr.op = f"{rec['op']}-after"
            else:
                res = self.wl.op(store)
            rec["seconds"] = time.perf_counter() - t0
            if tr is not None:
                rec["gc_s"] = self.jvm.gc_s() - gc0
                rec["trace_s"] = (tr.overhead_s - cost0
                                  + self.jvm.thread_cpu_s(EVENT_LOG_THREAD))
                rec["store_bytes"] = dir_bytes(root)
                rec["logged"] = dict(store.logged)
                rec.update(self.wl.trace_extras(store, res))
            ok, q, detail = self.wl.check(res)
        except Exception as exc:  # an op that raises counts as failed
            rec.setdefault("seconds", time.perf_counter() - t0)
            traceback.print_exc()
            ok, q, detail = False, None, {"error": repr(exc)}
        rec.update(ok=ok, quality=q, detail=detail)
        if not ok:
            self.failed += 1
            print(f"# {self.wl.name} {rec['op']} FAILED: {detail}",
                  file=sys.stderr)
        elif q is not None:
            self.quality.append(q)
        shutil.rmtree(root, ignore_errors=True)
        if os.path.exists(root):
            raise RuntimeError(f"could not remove stage store {root}")
        return rec


def layer_patches(tr):
    """Span wrappers around the public layer calls the workloads reach."""
    from largeea_spark.operators import dedup, evalx
    from largeea_spark.plans import pipeline

    from perfbench import trace as T
    from perfbench.workloads import Dedup

    return T.patch_layers(tr, [
        (evalx, "hits_and_mrr", "evalx"),
        (pipeline, "canonical_ids", "canonical"),
        (dedup, "canonical_ids", "canonical"),
        (dedup, "ngram_jaccard_pairs", "dedup.ngram_keep"),
        (dedup, "dedup_keep_from_pairs", "dedup.ngram_keep"),
        (dedup, "minhash_lsh_pairs", "dedup.minhash"),
        (dedup, "embedding_near_dups", "knn.near_dup"),
        # each call with its collect
        (Dedup, "ngram_keep", "dedup.ngram_keep"),
        (Dedup, "minhash", "dedup.minhash"),
        (Dedup, "near_dup", "knn.near_dup"),
    ])


def run_workload(spark, name: str, seed: int, seconds: float, work: str,
                 session_s: float, tracer=None) -> dict:
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, seed)
    builds = []
    for i in range(INPUT_BUILDS):
        if i:
            wl.teardown_inputs()
        t0 = time.perf_counter()
        wl.setup()
        builds.append(time.perf_counter() - t0)
    runner = Runner(spark, wl, os.path.join(work, name), tracer)
    setup = {"session_s": session_s, "inputs_s": statistics.median(builds)}
    # Measured ops: always one, the first op of the session, which is what
    # a spark-submit user pays. Another starts only while it is expected to
    # end within ``seconds``. At the sizes in ``workloads.SIZES`` every op
    # takes over 10 s, so ``--seconds 10`` measures one op; a second needs
    # ``--seconds`` of at least twice the op time. A traced run traces every
    # op, so its first op is the one ``op_s`` times, with tracing on.
    recs = []
    t0 = time.perf_counter()
    while not recs or (time.perf_counter() - t0
                       + statistics.median(r["seconds"] for r in recs)
                       <= seconds):
        recs.append(runner.run_op())
    wl.teardown_inputs()
    return {"setup": setup, "recs": recs, "runner": runner,
            "peak_rss_mb": runner.jvm.peak_rss_mb()}


def e2e_metrics(out: dict) -> dict:
    s = out["setup"]
    times = [r["seconds"] for r in out["recs"]]
    q = out["runner"].quality
    vals = {
        "op_s": statistics.median(times),
        "quality": statistics.median(q) if q else 0.0,
        "setup_s": s["session_s"] + s["inputs_s"],
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def result_line(out: dict, metrics: dict) -> str:
    r = out["runner"]
    return json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                       "failed": r.failed, "metrics": metrics})


def print_table(name: str, metrics: dict, out: dict) -> None:
    r = out["runner"]
    n_meas = len(out["recs"])
    print(f"== {name}: {n_meas} measured ops, {r.attempted} attempted, "
          f"{r.failed} failed (failed share {r.failed / r.attempted:.3f})")
    s = out["setup"]
    print(f"   setup: session {s['session_s']:.2f} s, inputs {s['inputs_s']:.2f} s "
          f"(median of {INPUT_BUILDS}); "
          f"driver JVM peak RSS {out['peak_rss_mb']:.0f} MB; ops: "
          + ", ".join(f"{r['seconds']:.2f}" for r in out["recs"]))
    for k, m in metrics.items():
        print(f"   {name}/{k:<34} {m['value']:>14.6g} {m['unit']}")


def run_all(args) -> int:
    """``--workload all``: each workload in a fresh child process, so each
    one measures the first op of its own session, as a one-workload run
    does. Prints the children's tables, then one JSON line that merges
    their results, with metrics named ``<workload>/<metric>``."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as child:
            try:
                out, _ = child.communicate()
            except BaseException:  # SIGTERM: let the child clean up too
                child.terminate()
                child.wait()
                raise
        lines = out.strip().splitlines()
        if child.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {child.returncode}",
                  file=sys.stderr)
            return child.returncode or 1
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        merged["correct"] = merged["correct"] and res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}/{k}": v
                                  for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds through the finally below: session stopped, run dir gone
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    if not os.path.isdir(os.path.join(REPO, "largeea_spark")):
        print("perfbench: largeea_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        try:
            return run_all(args)
        finally:  # a killed child's JVM is re-parented to this process
            reap_children()
    sys.path.insert(0, REPO)
    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python-side temp files (driver and forked workers) stay in the run dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from perfbench import layers, trace as T

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = T.Tracer(spark.sparkContext) if args.trace else None
        out = run_workload(spark, args.workload, args.seed, args.seconds,
                           work, session_s, tracer)
        stop_spark(spark)
        spark = None
        if args.trace:
            digest = T.digest_event_log(layers.event_log_file(work))
            spans_dir = os.path.join(work_root, "traces")
            os.makedirs(spans_dir, exist_ok=True)
            with open(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"),
                      "w") as fh:
                json.dump({"spans": tracer.spans, "groups": digest}, fh)
            metrics = layers.layer_metrics(out, tracer, digest)
        else:
            metrics = e2e_metrics(out)
        print_table(args.workload, metrics, out)
        print(result_line(out, metrics))
        return 0
    finally:
        try:
            stop_spark(spark)
        finally:  # the run dir goes even if stopping the session fails
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # kept when it holds traces
                os.rmdir(work_root)


if __name__ == "__main__":
    sys.exit(main())
