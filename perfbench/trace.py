"""Spans recorded around layer calls, and the Spark event-log reader
that turns a traced run into a layer tree with per-layer metrics.

A span is ``(name, layer, start, end, parent)``.  Every Spark stage and
job is attributed to the innermost span whose interval contains its
submission time, so jobs submitted from helper threads inside a layer
(which carry no job label) land in the layer that submitted them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: Layers, named after the modules whose public functions the workloads
#: call.  ``pipeline`` is ``run_pipeline``'s own orchestration between
#: stages; ``spark`` is the whole traced iteration.
LAYERS = ["sources", "pipeline", "preprocess", "mustlinks", "blocking",
          "pairs", "model_fit", "model_score", "cluster", "checkpoint",
          "dedup", "textstats", "similarity", "spark"]
#: The seven metrics every layer reports, with their units.
LAYER_METRICS = {"wall_s": "s", "cpu_s": "s", "idle_frac": "fraction",
                 "shuffle_mb": "MB", "spill_mb": "MB", "jobs": "count",
                 "rows_out": "count"}

_MB = 1024.0 * 1024.0


class Tracer:
    """Records spans in memory; nothing is written until the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        """Open a span; yields its record, which the caller may relabel."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "layer": layer,
                           "start": time.time(), "end": None,
                           "parent": self._stack[-1] if self._stack
                           else None})
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()


class NullTracer(Tracer):
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, layer: str):
        yield {}


def read_event_log(path: str) -> tuple[list[dict], list[float]]:
    """Completed stages (submission time in seconds plus their summed
    task metrics) and job submission times, from a Spark JSON event log."""
    stages, jobs = [], []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a["Name"]: a.get("Value", 0)
                       for a in info.get("Accumulables", [])}

                def num(key: str) -> float:
                    return float(acc.get(f"internal.metrics.{key}", 0) or 0)

                stages.append({
                    "stage_id": info["Stage ID"],
                    "submitted": info.get("Submission Time", 0) / 1000.0,
                    "completed": info.get("Completion Time", 0) / 1000.0,
                    "run_s": num("executorRunTime") / 1000.0,
                    "cpu_s": num("executorCpuTime") / 1e9,
                    "gc_s": num("jvmGCTime") / 1000.0,
                    "shuffle_mb": num("shuffle.write.bytesWritten") / _MB,
                    "spill_mb": num("diskBytesSpilled") / _MB,
                })
    return stages, jobs


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t < s["end"] and (
                best is None or s["start"] >= best["start"]):
            best = s
    return best


def layer_tree(spans: list[dict], stages: list[dict], jobs: list[float],
               cores: int) -> dict:
    """Span tree with attributed Spark stages, and self time per span
    (duration minus the part its child spans cover)."""
    nodes = {s["id"]: {**s, "children": [], "stages": [], "jobs": 0,
                       "self_s": s["end"] - s["start"]} for s in spans}
    roots = []
    for n in nodes.values():
        if n["parent"] is None:
            roots.append(n)
        else:
            parent = nodes[n["parent"]]
            parent["children"].append(n)
            parent["self_s"] -= n["end"] - n["start"]
    unattributed = {"stages": [], "jobs": 0}
    for st in stages:
        s = _innermost(spans, st["submitted"])
        (nodes[s["id"]] if s else unattributed)["stages"].append(st)
    for t in jobs:
        s = _innermost(spans, t)
        if s:
            nodes[s["id"]]["jobs"] += 1
        else:
            unattributed["jobs"] += 1

    def strip(n: dict) -> dict:
        return {"name": n["name"], "layer": n["layer"],
                "start": n["start"], "end": n["end"],
                "self_s": n["self_s"], "jobs": n["jobs"],
                "stages": n["stages"],
                "children": [strip(c) for c in n["children"]]}

    return {"cores": cores, "spans": [strip(r) for r in roots],
            "unattributed": unattributed}


def layer_metrics(spans: list[dict], stages: list[dict], jobs: list[float],
                  rows: dict[str, int], wall_s: float,
                  cores: int) -> tuple[dict, dict]:
    """The seven metrics per layer; layers a workload never enters read 0.
    Self times are summed over a layer's spans; ``spark`` covers the
    whole traced interval."""
    tree = layer_tree(spans, stages, jobs, cores)
    acc = {name: {"wall_s": 0.0, "run_s": 0.0, "cpu_s": 0.0,
                  "shuffle_mb": 0.0, "spill_mb": 0.0, "jobs": 0}
           for name in LAYERS}

    def walk(n: dict) -> None:
        a = acc[n["layer"]]
        a["wall_s"] += n["self_s"]
        a["jobs"] += n["jobs"]
        for st in n["stages"]:
            for k in ("run_s", "cpu_s", "shuffle_mb", "spill_mb"):
                a[k] += st[k]
        for c in n["children"]:
            walk(c)

    for r in tree["spans"]:
        walk(r)
    whole = acc["spark"]
    whole["wall_s"] = wall_s
    whole["jobs"] = len(jobs)
    for k in ("run_s", "cpu_s", "shuffle_mb", "spill_mb"):
        whole[k] = sum(st[k] for st in stages)
    out = {}
    for name, a in acc.items():
        busy = a["wall_s"] * cores
        out[f"{name}.wall_s"] = a["wall_s"]
        out[f"{name}.cpu_s"] = a["cpu_s"]
        out[f"{name}.idle_frac"] = (max(0.0, 1.0 - a["run_s"] / busy)
                                    if busy > 0 else 0.0)
        out[f"{name}.shuffle_mb"] = a["shuffle_mb"]
        out[f"{name}.spill_mb"] = a["spill_mb"]
        out[f"{name}.jobs"] = a["jobs"]
        out[f"{name}.rows_out"] = rows.get(name, 0)
    out["spark.gc_s"] = sum(st["gc_s"] for st in stages)
    covered = sum(s["end"] - s["start"] for s in spans
                  if s["parent"] is None)
    out["trace.coverage"] = covered / wall_s if wall_s > 0 else 0.0
    return out, tree

