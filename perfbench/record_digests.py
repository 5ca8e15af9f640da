"""Record the ``dedup_docs`` output digests that the benchmark's repeat
check compares against.

    python3 perfbench/record_digests.py --size full --seeds 0 39

Runs from the repository root, in one Spark session set up as the
benchmark sets it up.  For each seed it stages the input, runs the
workload once, runs its output checks and stores every operator's row
count and all-column hash under ``<size>/<seed>`` in
``perfbench/dedup_digests.json``.  A seed already in the file is checked
against it, not overwritten: delete its entry to record it again, for
instance after a change that is meant to alter an operator's output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as R  # noqa: E402
from perfbench import trace as T  # noqa: E402
from perfbench.workloads import RECORDED_DIGESTS, DedupDocs  # noqa: E402


def dumps(recorded: dict) -> str:
    """The digests file, one line per seed."""
    sizes = []
    for size, seeds in sorted(recorded.items()):
        lines = ",\n".join(
            f"  {json.dumps(seed)}: {json.dumps(d, sort_keys=True)}"
            for seed, d in sorted(seeds.items(), key=lambda kv: int(kv[0])))
        sizes.append(f" {json.dumps(size)}: {{\n{lines}\n }}")
    return "{\n" + ",\n".join(sizes) + "\n}\n"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--size", choices=sorted(DedupDocs.sizes),
                    default="full")
    ap.add_argument("--seeds", type=int, nargs=2, required=True,
                    metavar=("FIRST", "LAST"))
    args = ap.parse_args(argv)
    if not os.path.exists(RECORDED_DIGESTS):
        with open(RECORDED_DIGESTS, "w") as f:
            json.dump({}, f)
    wl = DedupDocs(args.size)
    R.adopt_orphans()
    try:
        return record(args, wl)
    finally:
        R.end_descendants()


def record(args, wl) -> int:
    with R.scratch_dir("record-") as tmp:
        spark = R.session(tmp, None)
        try:
            for seed in range(args.seeds[0], args.seeds[1] + 1):
                inputs = wl.stage(spark, seed, tmp)
                out = wl.run(spark, inputs, tmp, T.NullTracer(), 0)
                chk = wl.check(spark, inputs, out)
                if not all(chk["checks"].values()):
                    R.log(f"seed {seed}: checks failed {chk['checks']}")
                    return 1
                wl.recorded.setdefault(str(seed), chk["digests"])
                with open(RECORDED_DIGESTS) as f:
                    recorded = json.load(f)
                recorded[args.size] = wl.recorded
                with open(RECORDED_DIGESTS, "w") as f:
                    f.write(dumps(recorded))
                R.log(f"seed {seed}: {out['wall_s']:.1f}s {chk['checks']}")
        finally:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
