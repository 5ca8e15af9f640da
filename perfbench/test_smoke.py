"""Harness self-test: every workload once at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that each run prints every metric ``BENCHMARK.json`` names, with
its unit; that every output check runs (some only on a run's first
iteration) and passes; and that the
checkpoint and event-log directories a run creates live under its
scratch directory and are gone when it ends; and that no process the run
started is still running once it has exited.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

CHECKS = {
    "link_pages": {"records_read", "cluster_rows_eq_records",
                   "pairwise_f1_ge_0.99", "pairs_scored"},
    "dedup_docs": {"outputs_repeat_exactly", "profile_rows_eq_docs",
                   "knn_at_most_5_per_vector", "pairwise_f1_ge_0.99"},
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_smoke(workload: str, trace: int) -> None:
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    stdout, stderr = proc.communicate(timeout=900)
    assert proc.returncode == 0, stderr[-3000:]

    out = json.loads(stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float))
               for v in out["metrics"].values())

    runs = os.path.join(ROOT, ".perfbench_runs")
    (name,) = [n for n in os.listdir(runs)
               if n.endswith(f"-{proc.pid}.json")]
    with open(os.path.join(runs, name)) as f:
        record = json.load(f)
    assert len(record["iterations"]) == out["attempted"]
    seen = set()
    for it in record["iterations"]:
        assert it["checks"] and all(it["checks"].values())
        seen |= set(it["checks"])
    assert seen == CHECKS[workload]

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    made = record["scratch_dirs"]
    if workload == "link_pages" or trace:
        assert made
    for d in made:
        assert d.startswith(scratch + os.sep)
        assert not os.path.exists(d)
    assert not os.path.exists(scratch) or not os.listdir(scratch)
    assert not leftover_processes(scratch)


def leftover_processes(scratch: str) -> list[int]:
    """Processes still running whose command line or environment names
    the run's scratch root: its JVM (``java.io.tmpdir``) and the python
    workers that inherit its ``TMPDIR``."""
    left = []
    for d in filter(str.isdigit, os.listdir("/proc")):
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{d}/{part}", "rb") as f:
                    if scratch.encode() in f.read():
                        left.append(int(d))
                        break
            except OSError:
                pass
    return left
