"""Benchmark entry point: one workload, one seed, one fresh process.

Usage (from the repository root):

    python3 perfbench/run.py --workload query|lake --seed N --seconds S --trace 0|1

Starts ``perfbench/worker.py`` as a child process (a fresh interpreter
and JVM), gives it a private run root under ``.perfbench/`` for every
file it writes (inputs, the lake table, index artifacts, ``TMPDIR``,
Spark local dirs), waits for it, reads the peak RSS of the child and its
JVM from ``RUSAGE_CHILDREN`` and removes the run root. Prints one human
line with every number the run produced, then, last, one JSON object:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics. Exits non-zero when an op failed or served wrong
rows, when the child failed, or when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "spark_iceberg_jobs_spark"
CHILD_TIMEOUT_S = 170


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far. Steal is time the host
    ran something else while this machine's CPUs wanted to run; a run
    with a high share of it is slow for reasons outside the program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("query", "lake"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2

    run_root = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_root, "result.json")
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        TMPDIR=tmp,
        # every JVM (launcher and driver) keeps its temp files in the run
        # root and writes no hsperfdata under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY="2g",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    steal0, total0 = cpu_ticks()
    spawn = time.time()
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), args.workload, str(args.seed),
         str(args.seconds), str(args.trace), run_root, repr(spawn), out],
        env=env, stdout=sys.stderr, start_new_session=True,
    )

    # the child runs in a session of its own, so a signal sent to this
    # process's group does not reach it: pass termination on, clean up
    def stop(signum, _frame):
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    # the JVM and Python workers share the child's process group
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    if code is None:
        code = child.wait()
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
    peak_rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0
    steal1, total1 = cpu_ticks()
    steal_share = (steal1 - steal0) / max(total1 - total0, 1)
    try:
        with open(out) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = None
    shutil.rmtree(run_root, ignore_errors=True)
    if code != 0 or res is None:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1

    e2e = res["end_to_end"]
    per_layer = dict(res.get("per_layer", {}), **{"process.peak_rss_mb": (peak_rss_mb, "MB")})
    shown = {**e2e, **res["lake"], **per_layer}
    print(
        f"perfbench {args.workload} seed={args.seed}: {res['attempted']} ops "
        f"({res['reads']} reads, {res['writes']} writes) in {res['measured_s']:.2f}s "
        f"({res['steady_s']:.2f}s after the warm-up pass), "
        f"fail_ratio={res['failed'] / res['attempted']:.4f}, tail=p{res['tail_percentile']:g} "
        f"(rule at n={res['steady_reads']} steady-state reads: {res['tail_rule_percentile']}), "
        f"host CPU steal {steal_share:.1%}; "
        + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in shown.items())
    )
    metrics = per_layer if args.trace else e2e
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
