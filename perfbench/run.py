"""Repository benchmark: seeded record-linkage and dedup workloads.

    python3 perfbench/run.py --workload link_pages --seed 0 --seconds 10 --trace 0

Runs from the repository root.  One driver process, ``local[4]``, the
engine's own ``session.get_spark`` defaults, and one client: each
iteration of the closed loop starts only after the previous one has
finished and been checked.  The loop repeats the workload until
``--seconds`` have passed, and always completes at least one iteration.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns the
Spark event log on, times one traced iteration (the first after set-up,
like the untraced runs' only one) and prints the per-layer metrics (see
``trace.py``).  ``trace_check.py`` computes the tracing overhead and
the span-versus-``stage_seconds`` cross-check from the run records of a
traced and an untraced run of the same workload and seed.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Everything else
(per-iteration samples, host-noise probes, the layer tree) goes to
standard error and to ``.perfbench_runs/`` in the repository root.
Every file the run writes stays under the repository root, and its
scratch directory is removed when it ends.  Before it exits, the run
stops the Spark JVM and every other process it started and waits for
each to end, on every way out.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  host-noise probes, shared with bench.py
from perfbench import trace as T  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

CORES = 4
#: set-up is repeated this many times per run and its median reported
SETUP_REPS = 3

END_TO_END = {"wall_s": "s", "pairs_per_s": "1/s", "setup_s": "s",
              "cpu_s": "s", "pairwise_f1": "ratio"}
#: per-layer ratios and counts on top of the seven per-layer metrics
LAYER_EXTRAS = {
    "blocking.match_yield": "ratio", "blocking.pair_completeness": "ratio",
    "model_fit.rows": "count", "model_score.edge_yield": "ratio",
    "cluster.max_size": "count", "checkpoint.write_mb": "MB",
    "pipeline.resume_s": "s",
    "spark.gc_s": "s", "spark.peak_rss_mb": "MB",
    "trace.coverage": "fraction",
}
PER_LAYER = {f"{layer}.{m}": unit
             for layer in T.LAYERS for m, unit in T.LAYER_METRICS.items()}
PER_LAYER.update(LAYER_EXTRAS)


# ---------------------------------------------------------------------------
# the process tree: python driver, its JVM and the JVM's python workers
# ---------------------------------------------------------------------------

def _tree_stats() -> list[tuple[int, list[str]]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this
    process and every descendant."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU of the live tree, including reaped children."""
    ticks = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in f[11:15])
               for _, f in _tree_stats()) / ticks


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    total = 0
    for pid, _ in _tree_stats():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree, so a process
    whose parent dies (the JVM's python workers, say) is re-parented to
    this one rather than to init, and :func:`end_descendants` still
    finds and waits for it."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def end_descendants(grace_s: float = 30.0) -> None:
    """Stop the Spark gateway JVM and every other process this run
    started, and wait until each has exited.

    ``spark.stop()`` leaves the gateway JVM running until the python
    process exits; closing its stdin asks it to exit.  Whatever is still
    alive after that gets SIGTERM, and SIGKILL after ``grace_s``."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline, sig = time.time() + grace_s, signal.SIGTERM
    while time.time() < deadline + grace_s:
        while True:                       # reap what has exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        rest = [(pid, f[0]) for pid, f in _tree_stats() if pid != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid, state in rest:
            if state != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
    raise RuntimeError(f"processes still running: {rest}")


def host_noise() -> dict:
    steal, total = bench._cpu_ticks()
    return {**bench._host_canary(), "steal_jiffies": steal,
            "total_jiffies": total}


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def session(tmp: str, event_log: str | None):
    from namematch_spark.session import get_spark
    conf = {
        # bench.py's rule for a local[N] session: 2N shuffle partitions
        "spark.sql.shuffle.partitions": str(2 * CORES),
        # keep shuffle files, JVM temp files and any warehouse under
        # the run's scratch directory
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'os')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def scratch_dir(prefix: str):
    """A scratch directory under ``.perfbench_tmp/`` in the repository
    root for Spark's and Python's temporary files; it is removed on exit,
    and so is ``.perfbench_tmp/`` once empty."""
    root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=prefix, dir=root)
    os.makedirs(os.path.join(tmp, "os"))
    os.environ["TMPDIR"] = os.path.join(tmp, "os")
    tempfile.tempdir = None
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(root)
        except OSError:
            pass


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def iterate(wl, spark, inputs, tmp, tracer, it, record) -> dict | None:
    """One timed iteration plus its output checks; ``None`` on failure."""
    cpu0 = tree_cpu_s()
    try:
        out = wl.run(spark, inputs, tmp, tracer, it)
        cpu = tree_cpu_s() - cpu0
        out["spans"] = tracer.spans
        chk = wl.check(spark, inputs, out)
    except Exception:  # a failed iteration is counted, not fatal
        log(traceback.format_exc())
        record["failures"].append(traceback.format_exc(limit=3))
        return None
    ok = all(chk["checks"].values())
    sample = {"wall_s": out["wall_s"], "cpu_s": cpu,
              "pairs": chk["pairs"], "pairwise_f1": chk["pairwise_f1"],
              "checks": chk["checks"], "ok": ok,
              **{k: chk[k] for k in ("digests", "stage_seconds") if k in chk}}
    if "checkpoint_dir" in out:
        record["scratch_dirs"].append(out["checkpoint_dir"])
    log(f"[perfbench] {wl.name} it={it} wall={out['wall_s']:.3f}s "
        f"cpu={cpu:.1f}s pairs={chk['pairs']} f1={chk['pairwise_f1']:.4f} "
        f"checks={'ok' if ok else chk['checks']}")
    record["iterations"].append(sample)
    return {**out, **chk, "sample": sample} if ok else None


def measure(args, wl, tmp, record) -> dict:
    event_log = None
    if args.trace:
        event_log = os.path.join(tmp, "eventlog")
        os.makedirs(event_log)
        record["scratch_dirs"].append(event_log)
    setup, spark = [], None
    try:
        # setup_s is an end-to-end metric, so a traced run sets up once
        for _ in range(1 if args.trace else SETUP_REPS):
            t0 = time.time()
            if spark is not None:
                spark.stop()
            spark = session(tmp, event_log)
            inputs = wl.stage(spark, args.seed, tmp)
            setup.append(time.time() - t0)
        record["setup_s"] = setup
        if args.trace:
            return measure_traced(wl, spark, inputs, tmp, record,
                                  event_log)
        loop0, it, good = time.time(), 0, []
        while it == 0 or time.time() - loop0 < args.seconds:
            res = iterate(wl, spark, inputs, tmp, T.NullTracer(), it, record)
            if res is not None:
                good.append(res["sample"])
            it += 1
        record["attempted"], record["failed"] = it, it - len(good)
        if not good:
            raise RuntimeError("no iteration passed its output checks")
        med = lambda k: statistics.median(s[k] for s in good)  # noqa: E731
        return {
            "wall_s": med("wall_s"),
            "pairs_per_s": statistics.median(
                s["pairs"] / s["wall_s"] for s in good),
            "setup_s": statistics.median(setup),
            "cpu_s": med("cpu_s"),
            "pairwise_f1": med("pairwise_f1"),
        }
    finally:
        if spark is not None:
            spark.stop()


def measure_traced(wl, spark, inputs, tmp, record, event_log) -> dict:
    """Per-layer metrics from one traced iteration, the first after
    set-up as in the untraced runs."""
    from perfbench.workloads import instrument_pipeline
    tr = T.Tracer()
    with instrument_pipeline(tr):
        traced = iterate(wl, spark, inputs, tmp, tr, 0, record)
    peak_rss = tree_peak_rss_mb()
    if traced is None:
        raise RuntimeError("traced iteration failed")
    extras = wl.layer_extras(spark, traced)
    record["attempted"], record["failed"] = 1, 0
    spark.stop()                   # flushes the event log
    # one log per set-up session; the last one holds the iterations
    log_file = max((os.path.join(event_log, f) for f in os.listdir(event_log)),
                   key=os.path.getmtime)
    t_start = min(s["start"] for s in tr.spans)
    t_end = t_start + traced["wall_s"]
    stages, jobs = T.read_event_log(log_file)
    stages = [s for s in stages if t_start <= s["submitted"] < t_end]
    jobs = [j for j in jobs if t_start <= j < t_end]
    metrics, tree = T.layer_metrics(tr.spans, stages, jobs,
                                    traced["rows"],
                                    traced["wall_s"], CORES)
    metrics.update(extras)
    metrics["spark.peak_rss_mb"] = peak_rss
    record["layer_tree"] = tree
    return {name: metrics.get(name, 0.0) for name in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs for the harness self-test")
    args = ap.parse_args(argv)
    adopt_orphans()
    # a SIGTERM unwinds through the finally below like an error does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    finally:
        end_descendants()


def run(args) -> int:
    wl = WORKLOADS[args.workload](args.size)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "size": args.size, "cores": CORES, "iterations": [],
              "failures": [], "scratch_dirs": [],
              "host": {"start": host_noise()}}
    with scratch_dir(f"{args.workload}-") as tmp:
        metrics = measure(args, wl, tmp, record)
    record["host"]["end"] = host_noise()
    record["metrics"] = metrics
    units = PER_LAYER if args.trace else END_TO_END
    out = {"correct": record["failed"] == 0,
           "attempted": record["attempted"], "failed": record["failed"],
           "metrics": {k: {"value": metrics[k], "unit": units[k]}
                       for k in units}}
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    name = (f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-"
            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(f"[perfbench] host start={record['host']['start']} "
        f"end={record['host']['end']}")
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
