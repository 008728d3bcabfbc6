"""Spans, Spark status-store readout and the per-layer roll-up.

A traced run tags every call the harness makes into a layer with a span
and points Spark's job group at it, so every job, stage and SQL
execution Spark records can be attributed to the span that launched it.
Spark keeps those records whether or not anyone reads them (the status
stores work with ``spark.ui.enabled=false``), so the only wall time
tracing adds is the harness's own tagging and the readout at run end;
both are timed and reported as ``trace.overhead_s``.

``readout`` turns the JVM objects into plain dicts and ``rollup`` maps
them onto the layer metrics, so the roll-up can be checked against a
canned execution without a Spark session.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# -- SQL metric strings -----------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "PiB": 1024.0 ** 5, "EiB": 1024.0 ** 6,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric in base units (seconds, bytes or
    a count). Spark prints either a bare value (``"10.3 MiB"``,
    ``"1,497"``, ``"18 ms"``) or, for per-task metrics, a header line and
    ``"<total> (<min>, <med>, <max> (stage ...))"``; the total is used."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    number, unit = m.groups()
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return float(number.replace(",", "")) * _UNITS.get(unit, 1.0)


# -- spans ------------------------------------------------------------------


@dataclass
class Span:
    id: str
    name: str
    layer: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Tracer:
    """In-memory spans. Leaf spans set Spark's job group to their id when
    ``spark`` is given (the traced run); timing is identical either way."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.overhead_s = 0.0
        self.cache_peak_bytes = 0
        self.skip = [0, 0]  # files skipped, files in the snapshot
        self.bloom = [0, 0]  # false-positive files, files without the keys

    @contextmanager
    def span(self, layer: str, name: str = "", *, leaf: bool = True):
        sid = f"{self.run_id}/{len(self.spans)}"
        sp = Span(sid, name or layer, layer, 0.0, 0.0,
                  self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(sp)
        if self.spark is not None and leaf:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup(sid, sid)
            self.overhead_s += time.perf_counter() - t
        self._stack.append(sid)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.spark is not None and leaf:
                t = time.perf_counter()
                self.spark.sparkContext.setJobGroup("harness", "harness")
                self.overhead_s += time.perf_counter() - t

    # Samplers: untimed probes made only in a traced run; their time is
    # tracing overhead.
    @contextmanager
    def _probe(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def sample_cache(self) -> None:
        """Persisted RDD storage right now (inside an op's cache scope)."""
        if self.spark is None:
            return
        with self._probe():
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            held = sum(i.memSize() + i.diskSize() for i in infos)
            self.cache_peak_bytes = max(self.cache_peak_bytes, held)

    def sample_skip(self, table_dir: str, col: str, lo, hi) -> None:
        """Files pruned by the zone-map plan a range scan is about to use."""
        if self.spark is None:
            return
        from spark_iceberg_jobs_spark.sources import filetable as ft

        with self._probe():
            plan = ft.plan_scan(table_dir, col, lo, hi)
            self.skip[0] += plan["files_skipped"]
            self.skip[1] += plan["files_total"]

    def sample_bloom(self, table_dir: str, col: str, values) -> None:
        """Bloom-kept files that hold none of ``values``, against all files
        that hold none of them."""
        if self.spark is None:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from spark_iceberg_jobs_spark.sources import filetable as ft

        with self._probe():
            plan = ft.plan_bloom_lookup(table_dir, col, values)
            kept = set(plan["paths"])
            probe = pa.array(values, pa.int64())
            holders = {
                p for p in kept
                if pc.any(pc.is_in(pq.read_table(p, columns=[col])[col], value_set=probe)).as_py()
            }
            self.bloom[0] += len(kept - holders)
            self.bloom[1] += plan["files_total"] - len(holders)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


# -- status-store readout ---------------------------------------------------


_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.+?),(\d+),[A-Za-z]+\)")


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def readout(spark) -> dict:
    """Jobs, stages and SQL executions from Spark's status stores, as
    plain data: ``{"jobs": [...], "stages": {...}, "executions": [...]}``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    jobs = []
    for j in _scala_iter(store.jobsList(None)):
        group = j.jobGroup()
        jobs.append({
            "id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "submit": _ms(j.submissionTime()),
            "complete": _ms(j.completionTime()),
            "stage_ids": list(_scala_iter(j.stageIds())),
        })
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages: dict[int, dict] = defaultdict(lambda: {"tasks": 0, "cpu_s": 0.0, "gc_s": 0.0})
    for s in _scala_iter(store.stageList(None, False, False, no_quantiles, None)):
        st = stages[s.stageId()]
        st["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        st["cpu_s"] += s.executorCpuTime() / 1e9
        st["gc_s"] += s.jvmGcTime() / 1e3
    sql = spark._jsparkSession.sharedState().statusStore()
    executions = []
    for e in _scala_iter(sql.executionsList()):
        eid = e.executionId()
        values = sql.executionMetrics(eid)
        nodes = []
        for n in _scala_iter(sql.planGraph(eid).allNodes()):
            # one py4j call for the node's whole metric list; values are
            # fetched only for the metrics the roll-up reads
            metrics = {}
            for name, acc in _PLAN_METRIC.findall(n.metrics().toString()):
                acc = int(acc)
                if name in WANTED_METRICS and values.contains(acc):
                    metrics[name] = (acc, values.apply(acc))
            nodes.append({"name": n.name().strip(), "metrics": metrics})
        executions.append({
            "id": eid,
            "description": e.description(),
            "job_ids": [int(k) for k in _scala_iter(e.jobs().keys())],
            "nodes": nodes,
        })
    return {"jobs": jobs, "stages": dict(stages), "executions": executions}


# -- roll-up ----------------------------------------------------------------

#: (metric key, node-name predicate, SQL metric name)
_NODE_METRICS = (
    ("sources.scan_s", lambda n: n.startswith("Scan"), "scan time"),
    ("sources.bytes_read", lambda n: n.startswith("Scan"), "size of files read"),
    ("sources.rows_scanned", lambda n: n.startswith("Scan"), "number of output rows"),
    ("operators.shuffle_bytes", lambda n: n == "Exchange", "shuffle bytes written"),
    ("operators.shuffle_write_s", lambda n: n == "Exchange", "shuffle write time"),
    ("operators.broadcast_bytes", lambda n: n == "BroadcastExchange", "data size"),
    ("operators.broadcast_collect_s", lambda n: n == "BroadcastExchange", "time to collect"),
    ("operators.agg_s", lambda n: n.endswith("Aggregate"), "time in aggregation build"),
    ("operators.agg_s", lambda n: n == "Sort", "sort time"),
    ("operators.spill_bytes", lambda n: True, "spill size"),
    ("operators.python_start_s", lambda n: True, "time to start Python workers"),
    ("operators.python_init_s", lambda n: True, "time to initialize Python workers"),
    ("operators.python_run_s", lambda n: True, "time to run Python workers"),
    ("operators.python_bytes_sent", lambda n: True, "data sent to Python workers"),
)

WANTED_METRICS = frozenset(m for _, _, m in _NODE_METRICS)

QUERY_LAYERS = ("queries.build", "queries.serve")
FILETABLE_VERBS = (
    "append", "merge", "delete", "compact", "expire", "bloom_build",
    "scan_range", "point_lookup", "time_travel",
)


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def rollup(spans: list[Span], store: dict, *, n_ops: int, n_query_ops: int,
           result_rows: int) -> dict[str, float]:
    """Per-layer metrics of one run. Query-layer values are per query op,
    Spark-node values per op, ``filetable.<verb>_s`` per call of the
    verb. Node metrics are summed task time, not wall time; an
    accumulator that shows up in several plan graphs (a persisted
    relation's plan is repeated under every scan of it) counts once."""
    by_id = {s.id: s for s in spans}
    jobs_by_span: dict[str, list[dict]] = defaultdict(list)
    for j in store["jobs"]:
        if j["group"] in by_id:
            jobs_by_span[j["group"]].append(j)

    def intervals(span_id: str) -> list[tuple[float, float]]:
        return [(j["submit"], j["complete"]) for j in jobs_by_span[span_id]
                if j["submit"] is not None and j["complete"] is not None]

    out: dict[str, float] = defaultdict(float)
    q_div = max(n_query_ops, 1)
    for sp in spans:
        wall = sp.end - sp.start
        if sp.layer in QUERY_LAYERS:
            kind = sp.layer.split(".")[1]
            out[f"queries.{kind}_s"] += wall / q_div
            out[f"queries.{kind}_jobs"] += len(jobs_by_span[sp.id]) / q_div
            out["queries.driver_s"] += (wall - _covered(sp.start, sp.end, intervals(sp.id))) / q_div
            for j in jobs_by_span[sp.id]:
                for sid in j["stage_ids"]:
                    st = store["stages"].get(sid)
                    if st:
                        out["queries.tasks"] += st["tasks"] / q_div
                        out["queries.executor_cpu_s"] += st["cpu_s"] / q_div
                        out["queries.gc_s"] += st["gc_s"] / q_div
    verb_calls: dict[str, int] = defaultdict(int)
    ft_spans = [sp for sp in spans if sp.layer.startswith("filetable.")]
    for sp in ft_spans:
        verb = sp.layer.split(".", 1)[1]
        verb_calls[verb] += 1
        out[f"filetable.{verb}_s"] += sp.end - sp.start
        out["filetable.driver_s"] += (sp.end - sp.start) - _covered(sp.start, sp.end, intervals(sp.id))
    for verb, n in verb_calls.items():
        out[f"filetable.{verb}_s"] /= n
    if ft_spans:
        out["filetable.driver_s"] /= len(ft_spans)

    # SQL node metrics of every execution launched by one of this run's spans
    group_of_job = {j["id"]: j["group"] for j in store["jobs"]}
    seen: set[int] = set()
    exchanges = 0
    for ex in store["executions"]:
        owners = {group_of_job.get(j) for j in ex["job_ids"]} | {ex["description"]}
        if not owners & by_id.keys():
            continue
        for node in ex["nodes"]:
            name, metrics = node["name"], node["metrics"]
            for key, pred, metric in _NODE_METRICS:
                if metric in metrics and pred(name):
                    acc, text = metrics[metric]
                    if acc in seen:
                        continue
                    seen.add(acc)
                    out[key] += parse_metric(text) / max(n_ops, 1)
                    if key == "operators.shuffle_bytes":
                        exchanges += 1
    out["operators.exchanges"] = exchanges / max(n_ops, 1)
    out["sources.rows_per_result"] = (
        out["sources.rows_scanned"] * max(n_ops, 1) / max(result_rows, 1)
    )
    return dict(out)


#: Every per-layer metric and its unit. Seconds from Spark metrics are
#: task time summed over cores; query-layer values are per query op,
#: node values per op, ``filetable.<verb>_s`` per call of that verb.
LAYER_UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.serve_s": "s", "queries.serve_jobs": "count",
    "queries.driver_s": "s", "queries.tasks": "count",
    "queries.executor_cpu_s": "s", "queries.gc_s": "s",
    "sources.scan_s": "s", "sources.bytes_read": "B",
    "sources.rows_scanned": "count", "sources.rows_per_result": "ratio",
    "operators.shuffle_bytes": "B", "operators.shuffle_write_s": "s",
    "operators.exchanges": "count", "operators.broadcast_bytes": "B",
    "operators.broadcast_collect_s": "s", "operators.agg_s": "s",
    "operators.spill_bytes": "B",
    "operators.python_start_s": "s", "operators.python_init_s": "s",
    "operators.python_run_s": "s", "operators.python_bytes_sent": "B",
    "artifacts.published": "count", "artifacts.bytes": "B",
    "cache.peak_bytes": "B",
    **{f"filetable.{v}_s": "s" for v in FILETABLE_VERBS},
    "filetable.driver_s": "s",
    "filetable.bytes_written": "B", "filetable.files_rewritten": "count",
    "filetable.manifest_bytes": "B", "filetable.live_files": "count",
    "filetable.skip_ratio": "ratio", "filetable.bloom_fp_ratio": "ratio",
    "lake.write_p50_s": "s", "lake.write_tail_s": "s",
    "lake.write_amp": "ratio", "lake.space_amp": "ratio",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
    "process.peak_rss_mb": "MB",
}
