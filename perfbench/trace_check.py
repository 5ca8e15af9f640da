"""Tracing overhead and span cross-check from the benchmark's run records.

    python3 perfbench/trace_check.py

Runs from the repository root and reads the records ``run.py`` leaves in
``.perfbench_runs/``.  For each workload, seed and input size that has
both a traced run and untraced runs it prints:

* ``overhead_s``: the traced iteration's wall time minus the median of
  the untraced runs' first iterations (each is the first after set-up);
* ``stage_gap_s`` (``link_pages``): the largest difference between a
  pipeline stage's spans in the traced iteration's resumed invocation
  and that stage's ``metrics["stage_seconds"]`` in the untraced runs'
  first iterations (median per stage), the program's own timing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _walk(nodes: list[dict]):
    for n in nodes:
        yield n
        yield from _walk(n["children"])


def stage_gap(tree: dict, untraced: list[dict]) -> float:
    (resume,) = [n for n in _walk(tree["spans"])
                 if n["name"] == "invocation:resume"]
    inside = list(_walk(resume["children"]))
    gap = 0.0
    for stage in untraced[0]["stage_seconds"]:
        secs = statistics.median(it["stage_seconds"][stage]
                                 for it in untraced)
        names = ({"train_model_set"} if stage == "match_model" else
                 {stage, f"load:{stage}"})
        mine = sum(n["end"] - n["start"] for n in inside
                   if n["name"] in names)
        gap = max(gap, abs(mine - secs))
    return gap


def main() -> int:
    runs: dict[tuple, dict] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, ".perfbench_runs",
                                              "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if not r.get("iterations") or r.get("failed"):
            continue
        key = (r["workload"], r["seed"], r["size"])
        runs.setdefault(key, {"traced": [], "untraced": []})[
            "traced" if r["trace"] else "untraced"].append(r)
    for key, kinds in sorted(runs.items()):
        if not kinds["traced"] or not kinds["untraced"]:
            continue
        firsts = [r["iterations"][0] for r in kinds["untraced"]]
        base = statistics.median(it["wall_s"] for it in firsts)
        for t in kinds["traced"]:
            row = {"workload": key[0], "seed": key[1], "size": key[2],
                   "untraced_runs": len(firsts),
                   "overhead_s": t["iterations"][0]["wall_s"] - base}
            timed = [it for it in firsts if "stage_seconds" in it]
            if timed:
                row["stage_gap_s"] = stage_gap(t["layer_tree"], timed)
            print(json.dumps(row))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
