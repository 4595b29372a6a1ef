"""Tracing from outside the engine.

- ``Tracer`` records spans (name, layer, start, end, parent, op) in
  memory and tags every Spark job started inside a span with a job
  group unique to that span, so the event log can attribute jobs,
  tasks and bytes to it.
- ``TracingStageStore`` is a ``StageStore`` whose ``checkpoint``,
  lineage write and ``log_metrics`` run inside spans.
- ``patch_layers`` wraps public layer functions (module attributes) and
  workload methods in spans for the duration of a ``with`` block.
- ``digest_event_log`` folds an uncompressed Spark event log into
  per-job-group totals.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from largeea_spark.sources.stage import StageStore

GROUP_PROP = "spark.jobGroup.id"

#: stage name → layer that builds it (the stage's write runs its build)
STAGE_LAYER = {
    "triples_surface": "extract",
    "entities": "ids",
    "triples": "ids",
    "canonical": "canonical",
    "kg_canonical": "canonical",
    "sim_string": "name_channel.string",
    "sim_embed": "name_channel.embed",
    "semi_seeds": "name_channel.seeds",
    "sim_structure": "structure_channel",
    "sim_fused": "simops.fuse",
}


def stage_layer(name: str) -> str:
    if name in STAGE_LAYER:
        return STAGE_LAYER[name]
    for prefix, layer in (("sim_structure_r", "structure_channel"),
                          ("sim_fused_r", "simops.fuse"),
                          ("semi_mined_r", "simops.mine")):
        if name.startswith(prefix):
            return layer
    return "stage.other"


class Tracer:
    """In-memory span recorder; ``sc`` is the SparkContext whose jobs it
    tags with job groups."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op = "setup"
        #: seconds spent in span bookkeeping (py4j job-group calls included)
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "op": self.op, "name": name,
               "layer": layer,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"{self.op}#{len(self.spans)}"}
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, rec["group"])
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)
            self.overhead_s += time.perf_counter() - rec["end"]

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the time its direct children cover
    (children of one span run one after another on the driver thread)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


class TracingStageStore(StageStore):
    """StageStore whose stage builds, lineage writes and metrics rows run
    inside spans. ``logged`` keeps every metrics row it was asked to log."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.logged: dict[str, dict] = {}

    def checkpoint(self, name, build, partition_by=None):
        with self.tracer.span(f"checkpoint:{name}", stage_layer(name)):
            return super().checkpoint(name, build, partition_by)

    def _write_lineage(self, name, out, wall_sec):
        with self.tracer.span(f"lineage:{name}", "stage.write"):
            super()._write_lineage(name, out, wall_sec)

    def read(self, name):
        # the re-read after each write lists the files just written
        with self.tracer.span(f"read:{name}", "stage.write"):
            return super().read(name)

    def log_metrics(self, stage, metrics):
        self.logged[stage] = dict(metrics)
        with self.tracer.span(f"log_metrics:{stage}", "stage.log_metrics"):
            super().log_metrics(stage, metrics)


@contextlib.contextmanager
def patch_layers(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``module.attr`` (or ``Class.method``) in a span of ``layer``
    for every ``(module, attr, layer)``; restore the originals on exit."""
    saved = []
    try:
        for mod, attr, layer in targets:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            key = f"{mod.__name__.rsplit('.', 1)[-1]}.{attr}"

            def wrapped(*a, __fn=fn, __key=key, __layer=layer, **kw):
                with tracer.span(__key, __layer):
                    return __fn(*a, **kw)

            setattr(mod, attr, wrapped)
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def digest_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, run/CPU/GC ms, shuffle
    read/write bytes and spill bytes, from an uncompressed event log.
    Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_PROP) or ""
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "")
                out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                d = out[stage_group.get(ev["Stage ID"], "")]
                d["tasks"] += 1
                d["run_ms"] += m.get("Executor Run Time", 0)
                d["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                d["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                d["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics", {})
                d["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                d["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    return {g: dict(v) for g, v in out.items()}
