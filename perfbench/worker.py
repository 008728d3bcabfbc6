"""One benchmark run in a fresh process; ``run.py`` starts it.

Usage: python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE RUN_ROOT SPAWN_TIME OUT

Runs from the checkout root. Everything the run writes (inputs, table,
artifacts, temp files, Spark local dirs) lives under RUN_ROOT, which
``run.py`` removes afterwards. Writes its result as JSON to OUT.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

from spark_iceberg_jobs_spark.functions import artifacts  # noqa: E402
from spark_iceberg_jobs_spark.queries import registry  # noqa: E402
from spark_iceberg_jobs_spark.session import get_spark  # noqa: E402

import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

#: Scale factor of the generated inputs (lineitem = 6M x SF rows).
SF = 0.01
#: Staging runs this many times per run; ``setup_s`` uses the median.
STAGE_REPS = 3
#: Percentile reported as ``read_tail_s`` and ``lake.write_tail_s``.
TAIL_PERCENTILE = 75.0


@dataclass(frozen=True)
class Args:
    workload: str
    seed: int
    seconds: float
    trace: bool
    run_root: str
    spawn: float  # time.time() when run.py started this process
    out: str

    @classmethod
    def parse(cls, argv: list[str]) -> "Args":
        w, seed, seconds, trace, root, spawn, out = argv
        return cls(w, int(seed), float(seconds), trace == "1", root, float(spawn), out)

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.workload} +{time.time() - self.spawn:.1f}s] {msg}",
              file=sys.stderr, flush=True)


def start_session(args: Args):
    t = time.time()
    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(args.run_root, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t


def stage(spark, args: Args):
    """Stage the inputs STAGE_REPS times (each rep replaces the previous
    one) and return the workload plus the median staging seconds."""
    reps = []
    for i in range(STAGE_REPS):
        t = time.time()
        if args.workload == "lake":
            wl = workloads.LakeWorkload(spark, args.seed, SF, args.run_root)
            wl.stage(os.path.join(args.run_root, f"table{i}"))
        else:
            in_dir = os.path.join(args.run_root, f"in{i}")
            workloads.QueryWorkload.stage(args.seed, SF, in_dir)
            wl = workloads.QueryWorkload(spark, registry(), in_dir)
        reps.append(time.time() - t)
    return wl, statistics.median(reps)


def main(args: Args) -> int:
    artifacts.ARTIFACT_ROOT = os.path.join(args.run_root, "artifacts")
    os.makedirs(artifacts.ARTIFACT_ROOT, exist_ok=True)
    log, lake_run = args.log, args.workload == "lake"
    spark, session_s = start_session(args)
    t_ready = time.time()
    wl, stage_s = stage(spark, args)
    setup_s = (t_ready - args.spawn) + stage_s
    log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, staging median {stage_s:.2f}s)")

    tracer = layers.Tracer(f"{args.workload}-{args.seed}", spark if args.trace else None)
    samples: list[tuple[str, str, float, int]] = []  # (op, kind, latency, pass)
    bad: list[bool] = []  # per sample: the call raised or served wrong rows
    cold: dict[str, float] = {}
    measured = 0.0
    steady_s = 0.0  # op time after the warm-up
    result_rows = 0
    amp = None
    warmup = wl.WARMUP_PASSES
    for n_pass, ops in enumerate(wl.passes()):
        # whole passes only, so every run makes the same ops in the same
        # order; at least one pass after the warm-up, then passes until
        # the steady state has had --seconds of op time
        if n_pass > warmup and steady_s >= args.seconds:
            break
        for op in ops:
            call = op.prepare()
            with tracer.span("op", op.name, leaf=False):
                t = time.perf_counter()
                try:
                    got, err = call(tracer), None
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    got, err = None, f"{type(e).__name__}: {e}"[:300]
                lat = time.perf_counter() - t
            measured += lat
            if n_pass >= warmup:
                steady_s += lat
            samples.append((op.name, op.kind, lat, n_pass))
            cold.setdefault(op.name, lat)
            if err is None and op.finish is not None:
                err = op.finish(got)
            log(f"{op.name} {lat:.3f}s")
            if err is not None:
                log(f"FAIL {op.name}: {err}")
            elif got is not None:
                result_rows += len(got)
            bad.append(err is not None)
        if lake_run:
            amp = wl.amplification()  # a full cycle ends right after expire

    log("ops done; checking outputs")
    # untimed output checks that need the whole run
    if lake_run:
        why = wl.check_final()
        if why:
            log(f"FAIL final table: {why}")
            bad[-1] = True
    else:
        for name, why in wl.check().items():
            log(f"FAIL {name}: oracle: {why}")
            bad = [b or s[0] == name for b, s in zip(bad, samples)]

    steady = [s for s in samples if s[3] >= warmup]
    reads = [s[2] for s in steady if s[1] == "read"]
    writes = [s[2] for s in samples if s[1] == "write"]
    tail_p = TAIL_PERCENTILE
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(steady) / steady_s, "1/s"),
        "read_p50_s": (stats.hd_quantile(reads, 50), "s"),
        "read_tail_s": (stats.hd_quantile(reads, tail_p), "s"),
        "cold_pass_s": (sum(cold.values()), "s"),
    }
    lake = {}
    if lake_run:
        lake = {
            "lake.write_p50_s": (stats.hd_quantile(writes, 50), "s"),
            "lake.write_tail_s": (stats.hd_quantile(writes, tail_p), "s"),
            "lake.write_amp": (amp[0], "ratio"),
            "lake.space_amp": (amp[1], "ratio"),
        }
    out = {
        "attempted": len(samples),
        "failed": sum(bad),
        "measured_s": measured,
        "steady_s": steady_s,
        "reads": sum(1 for s in samples if s[1] == "read"),
        "steady_reads": len(reads),
        "writes": len(writes),
        "tail_rule_percentile": stats.tail_percentile(len(reads)),
        "tail_percentile": tail_p,
        "end_to_end": e2e,
        "lake": lake,
    }
    if args.trace:
        per = layer_metrics(spark, wl, tracer, samples, result_rows)
        per.update(lake)
        per["session.start_s"] = (session_s, "s")
        out["per_layer"] = per
        tracer.write(os.path.join(os.path.dirname(args.run_root),
                                  f"spans-{args.workload}-{args.seed}.jsonl"))
    with open(args.out, "w") as f:
        json.dump(out, f)
    log("stopping")
    stop_session(spark)
    log("stopped")
    return 0


def layer_metrics(spark, wl, tracer, samples, result_rows) -> dict:
    """Every metric of ``layers.LAYER_UNITS`` (0 where the workload does
    not reach the layer) from the status stores and the tracer."""
    t = time.perf_counter()
    store = layers.readout(spark)
    n_query = sum(1 for sp in tracer.spans if sp.layer == "queries.serve")
    per = layers.rollup(
        tracer.spans, store, n_ops=len(samples), n_query_ops=n_query,
        result_rows=result_rows,
    )
    per = {k: (v, layers.LAYER_UNITS[k]) for k, v in per.items()}
    per["cache.peak_bytes"] = (float(tracer.cache_peak_bytes), "B")
    published, nbytes = 0, 0
    for entry in os.scandir(artifacts.ARTIFACT_ROOT):
        if entry.is_dir() and ".staging" not in entry.name:
            published += 1
            nbytes += artifacts.dir_bytes(entry.path)
    per["artifacts.published"] = (float(published), "count")
    per["artifacts.bytes"] = (float(nbytes), "B")
    if isinstance(wl, workloads.LakeWorkload):
        for k, v in wl.table_stats().items():
            per[k] = (v, layers.LAYER_UNITS[k])
        n_writes = max(sum(1 for s in samples if s[1] == "write"), 1)
        per["filetable.bytes_written"] = (wl.state.written_bytes / n_writes, "B")
        per["filetable.skip_ratio"] = (tracer.skip[0] / max(tracer.skip[1], 1), "ratio")
        per["filetable.bloom_fp_ratio"] = (tracer.bloom[0] / max(tracer.bloom[1], 1), "ratio")
    tracer.overhead_s += time.perf_counter() - t
    per["trace.overhead_s"] = (tracer.overhead_s, "s")
    per["trace.overhead_share"] = (tracer.overhead_s / max(sum(s[2] for s in samples), 1e-9), "ratio")
    return {k: per.get(k, (0.0, u)) for k, u in layers.LAYER_UNITS.items()}


def stop_session(spark) -> None:
    """Stop Spark and reap its JVM, so the parent's RUSAGE_CHILDREN
    covers the JVM's peak RSS."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - best effort; the wait below decides
            pass
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main(Args.parse(sys.argv[1:])))
